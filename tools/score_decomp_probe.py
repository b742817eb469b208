"""Decompose bench.py q_score wall at one core count.

Reproduces bench.py's q_block state exactly, then times FRESH plans (new
DataFrame objects each run, so no physical-plan / shuffle reuse):

  scan        : count over the persisted pair cache alone
  char1/char2 : char-kernel-only scoring (Arrow UDF), cold then warm
  tfidf1/2    : dense-TF-IDF-only scoring (broadcast builds + static dot)
  full1/2/3   : the exact bench q_score plan, cold then warm

warm - cold isolates once-per-process costs (codegen compile, python worker
imports, broadcast build); the warm numbers are the steady-state kernel wall.
Per-run JVM GC delta is reported too.

Usage: taskset -c 0-7 python tools/score_decomp_probe.py 8 /root/testdata/sf0.1
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def gc_ms(spark):
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    total = 0
    it = mgmt.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return total


def main():
    cpus = sys.argv[1]
    sf_dir = sys.argv[2]
    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="score-decomp",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
    from entityresolution_capstone_spark.operators.scoring import score_pairs
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

    t0 = time.time()
    t = DQ.derive_transcripts(spark, sf_dir)
    docs = canonical_docs(t, prefix_len=BENCH_PREFIX).persist()
    dft = doc_frequencies(docs).persist()
    tdict = DQ.B.token_dictionary(dft)
    blocks = DQ.B.build_blocks(docs, tdict, BENCH_BLOCKING)
    cpus_n = spark.sparkContext.defaultParallelism
    pairs = DQ.B.candidate_pairs(blocks, BENCH_BLOCKING).repartition(4 * cpus_n).persist()
    n_pairs = pairs.count()
    n_docs = docs.count()
    out = {"cpus": int(cpus), "q_block_s": round(time.time() - t0, 2), "n_pairs": n_pairs}

    def timed(name, df_factory):
        g0 = gc_ms(spark)
        t0 = time.time()
        scored = df_factory()
        row = scored.agg(F.count("*").alias("n"), F.sum("attr_sim").alias("chk")).collect()[0]
        out[name + "_s"] = round(time.time() - t0, 2)
        out[name + "_gc_s"] = round((gc_ms(spark) - g0) / 1000.0, 2)
        return int(row["n"])

    def plan(weights):
        return lambda: score_pairs(
            pairs,
            docs,
            DQ.ScoringConfig(weights=weights, prefix_len=BENCH_PREFIX),
            df_table=dft,
            corpus_size=n_docs,
        )

    timed("scan", lambda: pairs.select("id1", "id2", F.lit(0.0).alias("attr_sim")))
    # component plans use weights summing to 1 (ScoringConfig invariant);
    # weights are scalar multipliers so kernel COST is unchanged
    timed("char1", plan({"jw": 0.6, "lev": 0.4}))
    timed("char2", plan({"jw": 0.6, "lev": 0.4}))
    timed("tfidf1", plan({"tfidf": 1.0}))
    timed("tfidf2", plan({"tfidf": 1.0}))
    full = {"jw": 0.3, "lev": 0.2, "tfidf": 0.5}
    out["n_scored"] = timed("full1", plan(full))
    timed("full2", plan(full))
    timed("full3", plan(full))
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
