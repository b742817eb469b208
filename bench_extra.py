"""Decomposed bench harness for optimization work (guide §1.4/§1.5).

NOT the official bench: bench.py is frozen for measurement. This file runs
the same bench queries but split into phases, each labeled with
setJobDescription, with the Spark UI enabled so per-stage task metrics can
be dumped over REST. Timings use the noop sink where full-column evaluation
matters.

Usage:
  python bench_extra.py [phase ...]      # default: all
Phases: block score dedup prefix pipeline topk textstats winnow
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     ERCS_TRIALS (default 2), ERCS_STAGE_DUMP=1 -> dump REST stage table.
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

UI_PORT = int(os.environ.get("ERCS_UI_PORT", "4055"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    phases = sys.argv[1:] or [
        "block", "score", "dedup", "prefix", "pipeline", "topk", "textstats", "winnow"
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    trials = int(os.environ.get("ERCS_TRIALS", "2"))

    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="ercs-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    from entityresolution_capstone_spark.functions.similarity import (
        make_weighted_char_sim_udf,
    )
    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators import dedup as D
    from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
    from entityresolution_capstone_spark.operators.scoring import (
        precompute_dense_tfidf,
        score_pairs,
    )
    from entityresolution_capstone_spark.plans import driver_queries as DQ

    BENCH_BLOCKING = DQ.B.BlockingConfig(
        use_token_keys=False,
        use_minhash=True,
        minhash_rows=4,
        minhash_bands=4,
        seed=7,
        max_block_size=5000,
        salt_block_size=400,
        salt_factor=8,
    )
    BENCH_PREFIX = 128
    out: dict[str, dict] = {}

    def timed(name, fn, teardown=None):
        ts, n = [], None
        for i in range(trials):
            if i and teardown is not None:
                teardown()
            sc.setJobDescription(name)
            t0 = time.time()
            n = fn()
            ts.append(round(time.time() - t0, 3))
            sc.setJobDescription(None)
        out[name] = {"min_s": min(ts), "trials": ts, "rows": n}
        print(json.dumps({name: out[name]}), flush=True)
        return n

    state: dict = {}

    def build_block_state():
        """q_block split into its phases, each timed separately."""
        def p_canon():
            t = DQ.derive_transcripts(spark, sf_dir)
            docs = canonical_docs(t, prefix_len=BENCH_PREFIX).persist()
            n = docs.count()
            state["docs"] = docs
            return n

        def p_dft():
            dft = doc_frequencies(state["docs"]).persist()
            n = dft.count()
            state["dft"] = dft
            return n

        def p_blocks():
            tdict = DQ.B.token_dictionary(state["dft"])
            blocks = DQ.B.build_blocks(state["docs"], tdict, BENCH_BLOCKING)
            noop(blocks)
            state["blocks"] = blocks
            return None

        def p_pairs():
            n_part = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", "128"))
            pairs = (
                DQ.B.candidate_pairs(state["blocks"], BENCH_BLOCKING)
                .repartition(n_part)
                .persist()
            )
            n = pairs.count()
            state["pairs"] = pairs
            return n

        def p_dense():
            n_docs = state["docs"].count()
            state["n_docs"] = n_docs
            dense = precompute_dense_tfidf(state["docs"], state["dft"], n_docs)
            if dense is not None:
                dense = dense.persist()
                dense.count()
            state["dense"] = dense
            return None

        def p_warm():
            warm_udf = make_weighted_char_sim_udf(
                {"jw": 0.6, "lev": 0.4}, max_len=BENCH_PREFIX
            )
            tiny = spark.range(1000).select(
                F.concat(F.lit("warmup text "), F.col("id").cast("string")).alias("a"),
                F.concat(F.lit("warmup test "), F.col("id").cast("string")).alias("b"),
            )
            tiny.select(warm_udf("a", "b").alias("s")).agg(F.sum("s")).collect()
            return None

        for nm, fn in [
            ("block.canon", p_canon),
            ("block.dft", p_dft),
            ("block.blocks", p_blocks),
            ("block.pairs", p_pairs),
            ("block.dense", p_dense),
            ("block.warm", p_warm),
        ]:
            sc.setJobDescription(nm)
            t0 = time.time()
            n = fn()
            out[nm] = {"min_s": round(time.time() - t0, 3), "trials": None, "rows": n}
            sc.setJobDescription(None)
            print(json.dumps({nm: out[nm]}), flush=True)

    if any(p in phases for p in ("block", "score")):
        build_block_state()

    if "score" in phases:
        def score_only():
            scored = score_pairs(
                state["pairs"],
                state["docs"],
                DQ.ScoringConfig(
                    weights={"jw": 0.3, "lev": 0.2, "tfidf": 0.5},
                    prefix_len=BENCH_PREFIX,
                ),
                df_table=state["dft"],
                corpus_size=state["n_docs"],
                dense_table=state["dense"],
            )
            row = scored.agg(
                F.count("*").alias("n"), F.sum("attr_sim").alias("chk")
            ).collect()[0]
            return int(row["n"])

        timed("score", score_only)

    if "dedup" in phases:
        docs = D.prepare_docs(DQ.load(spark, sf_dir, "documents"))
        _MH = DQ._MH

        def d_dict():
            td = D.dedup_token_dict(docs).persist()
            n = td.count()
            state["tdict"] = td
            return n

        def d_enum():
            cand = D.minhash_candidate_pairs(docs, state["tdict"], _MH).persist()
            n = cand.count()
            state["cand"] = cand
            return n

        def d_verify():
            return D.token_jaccard_verify(
                state["cand"], docs, _MH.jaccard_threshold, token_dict=state["tdict"]
            ).count()

        for nm, fn in [
            ("dedup.dict", d_dict),
            ("dedup.enum", d_enum),
            ("dedup.verify", d_verify),
        ]:
            sc.setJobDescription(nm)
            t0 = time.time()
            n = fn()
            out[nm] = {"min_s": round(time.time() - t0, 3), "trials": None, "rows": n}
            sc.setJobDescription(None)
            print(json.dumps({nm: out[nm]}), flush=True)

        timed("dedup.full", lambda: DQ.q_dedup_minhash(spark, sf_dir).count())

    if "prefix" in phases:
        timed("prefix.full", lambda: DQ.q_dedup_prefix(spark, sf_dir).count())

    if "pipeline" in phases:
        def clear():
            for st in DQ._FRONTIER_CACHE.values():
                for v in st.values():
                    if hasattr(v, "unpersist"):
                        try:
                            v.unpersist()
                        except Exception:
                            pass
            DQ._FRONTIER_CACHE.clear()

        timed("pipeline.full", lambda: DQ.q_er_clusters(spark, sf_dir).count(), teardown=clear)

    if "topk" in phases:
        timed("topk.full", lambda: DQ.q_sim_topk(spark, sf_dir).count())

    if "textstats" in phases:
        def textstats():
            a = DQ.q_lang_id(spark, sf_dir).count()
            b = DQ.q_quality(spark, sf_dir).count()
            c = DQ.q_token_count(spark, sf_dir).count()
            d = DQ.q_fingerprint(spark, sf_dir).count()
            return a + b + c + d

        timed("textstats.full", textstats)

    if "winnow" in phases:
        timed("winnow.full", lambda: DQ.q_fingerprint_winnow(spark, sf_dir).count())

    if os.environ.get("ERCS_STAGE_DUMP", "") == "1":
        app_id = sc.applicationId
        url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/stages?status=complete"
        try:
            stages = json.load(urllib.request.urlopen(url))
            rows = []
            for s in stages:
                rows.append(
                    {
                        "stage": s["stageId"],
                        "desc": (s.get("description") or s["name"])[:70],
                        "tasks": s["numCompleteTasks"],
                        "exec_cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 1),
                        "exec_run_s": round(s.get("executorRunTime", 0) / 1e3, 1),
                        "in_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                        "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                        "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                        "gc_s": round(s.get("jvmGcTime", 0) / 1e3, 1),
                    }
                )
            with open("/tmp/ercs_stage_dump.json", "w") as f:
                json.dump(rows, f, indent=1)
            print(f"stage dump -> /tmp/ercs_stage_dump.json ({len(rows)} stages)")
        except Exception as e:  # UI may be off
            print(f"stage dump failed: {e}")

    print(json.dumps({"summary": {k: v["min_s"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
