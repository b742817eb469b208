"""Steady-state q_score wall vs consumed CPU at one pinned core count.

Replicates bench.py's NEW-protocol q_block exactly (128 round-robin pair
partitions, 32 shuffle partitions, dense tf-idf precomputed + persisted,
Arrow workers warmed), then times k fresh-plan steady q_score runs. Around
each run it samples the cumulative utime+stime of the ENTIRE process tree
(JVM + pyspark daemons/workers) from /proc, so each run reports:

    wall_s, cpu_s (consumed core-seconds), cpu/wall (mean busy cores)

Comparing levels separates three stories the wall alone can't:
  - cpu_s equal across levels, busy < cores  -> idle gaps (scheduling/serial)
  - cpu_s inflated at the high level         -> per-core contention
  - cpu_s equal, busy ~= cores               -> genuine scaling

Usage: taskset -c 0-{n-1} python tools/score_decomp_probe4.py N /root/testdata/sf0.1 [k]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_seconds() -> float:
    """Sum utime+stime of this process and every live descendant."""
    me = os.getpid()
    procs: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            # after comm: state ppid ... utime(11) stime(12) (0-indexed here)
            ppid = int(parts[1])
            cpu = (int(parts[11]) + int(parts[12])) / CLK
            procs[int(d)] = (ppid, cpu)
        except (OSError, ValueError, IndexError):
            continue
    total = 0.0
    for pid, (ppid, cpu) in procs.items():
        p = pid
        while p > 1:
            if p == me:
                total += cpu
                break
            p = procs.get(p, (0, 0.0))[0]
    return total


def main():
    n = int(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="score-decomp4",
        master=f"local[{n}]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from entityresolution_capstone_spark.functions.similarity import (
        make_weighted_char_sim_udf,
    )
    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
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
    PREFIX = 128

    t0 = time.time()
    t = DQ.derive_transcripts(spark, sf_dir)
    docs = canonical_docs(t, prefix_len=PREFIX).persist()
    dft = doc_frequencies(docs).persist()
    tdict = DQ.B.token_dictionary(dft)
    blocks = DQ.B.build_blocks(docs, tdict, BENCH_BLOCKING)
    pairs = DQ.B.candidate_pairs(blocks, BENCH_BLOCKING).repartition(128).persist()
    n_pairs = pairs.count()
    n_docs = docs.count()
    dense = precompute_dense_tfidf(docs, dft, n_docs)
    if dense is not None:
        dense = dense.persist()
        dense.count()
    warm_udf = make_weighted_char_sim_udf({"jw": 0.6, "lev": 0.4}, max_len=PREFIX)
    tiny = spark.range(1000).select(
        F.concat(F.lit("w "), F.col("id").cast("string")).alias("a"),
        F.concat(F.lit("x "), F.col("id").cast("string")).alias("b"),
    )
    tiny.select(warm_udf("a", "b").alias("s")).agg(F.sum("s")).collect()
    prep_s = time.time() - t0

    def score_run():
        scored = score_pairs(
            pairs,
            docs,
            DQ.ScoringConfig(
                weights={"jw": 0.3, "lev": 0.2, "tfidf": 0.5}, prefix_len=PREFIX
            ),
            df_table=dft,
            corpus_size=n_docs,
            dense_table=dense,
        )
        agg_df = scored.agg(F.count("*").alias("n"), F.sum("attr_sim").alias("chk"))
        # plan-only timing: force analysis+optimization+physical planning on
        # THE SAME DataFrame object the timed collect uses (Spark caches the
        # QueryExecution per object), so wall_s below is pure execution
        tp = time.time()
        agg_df.explain(mode="formatted")
        plan_s = time.time() - tp
        cpu0 = _tree_cpu_seconds()
        tw = time.time()
        agg_df.collect()
        wall = time.time() - tw
        cpu = _tree_cpu_seconds() - cpu0
        return {
            "plan_s": round(plan_s, 2),
            "wall_s": round(wall, 2),
            "cpu_s": round(cpu, 1),
            "busy_cores": round(cpu / wall, 2),
        }

    runs = [score_run() for _ in range(k)]
    print(
        json.dumps(
            {
                "cpus": n,
                "sf": sf_dir,
                "n_pairs": n_pairs,
                "prep_s": round(prep_s, 1),
                "runs": runs,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()


# NOTE: explain() on a fresh identical aggregate also warms nothing the timed
# collect() could reuse — Spark plans each DataFrame object independently;
# the timed run below builds its jobs from the same (already-planned) object,
# so plan_s is measured once and excluded from wall_s, mirroring what a
# long-lived pipeline pays (one plan, many hours of execution).
