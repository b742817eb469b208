"""Stage-2 decomposition of bench q_score at one core count.

Splits the per-run tf-idf cost (probe 1: ~31s/run at 8 cores, warm) into:
  udfwarm    : the weighted char UDF on 1k in-memory rows (python worker boot)
  dense_prep : _dense_tfidf_docs materialization, O(docs) (then persisted)
  bjoin      : pairs x broadcast(dv1) x broadcast(dv2) + count/sum (broadcast
               build + probe, NO dot product)
  tfidf_pre1/2 : tfidf-only scoring with the persisted dense table
  full_pre1/2  : the full fused plan with the persisted dense table

Usage: taskset -c 0-7 python tools/score_decomp_probe2.py 8 /root/testdata/sf0.1
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cpus = sys.argv[1]
    sf_dir = sys.argv[2]
    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="score-decomp2",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from entityresolution_capstone_spark.functions.similarity import make_weighted_char_sim_udf
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

    def clock(name, fn):
        t0 = time.time()
        r = fn()
        out[name + "_s"] = round(time.time() - t0, 2)
        return r

    # python worker boot: the exact bench UDF over 1k trivial rows
    udf = make_weighted_char_sim_udf({"jw": 0.6, "lev": 0.4}, max_len=BENCH_PREFIX)
    tiny = spark.range(1000).select(
        F.concat(F.lit("warmup text "), F.col("id").cast("string")).alias("a"),
        F.concat(F.lit("warmup test "), F.col("id").cast("string")).alias("b"),
    )
    clock("udfwarm", lambda: tiny.select(udf("a", "b").alias("s")).agg(F.sum("s")).collect())

    dense = clock(
        "dense_prep",
        lambda: precompute_dense_tfidf(docs, dft, n_docs).persist(),
    )
    clock("dense_count", lambda: dense.count())
    out["vocab"] = int(dense.select(F.size("v")).first()[0])
    out["n_dense_docs"] = dense.count()

    dv1 = dense.select(F.col("conv_id").alias("id1"), F.col("v").alias("_v1"), F.col("nrm").alias("_n1"))
    dv2 = dense.select(F.col("conv_id").alias("id2"), F.col("v").alias("_v2"), F.col("nrm").alias("_n2"))

    def bjoin():
        j = pairs.join(F.broadcast(dv1), "id1", "left").join(F.broadcast(dv2), "id2", "left")
        return j.agg(F.count("*"), F.sum("_n1"), F.sum("_n2")).collect()

    clock("bjoin1", bjoin)
    clock("bjoin2", bjoin)

    def plan(weights):
        return lambda: score_pairs(
            pairs,
            docs,
            DQ.ScoringConfig(weights=weights, prefix_len=BENCH_PREFIX),
            df_table=dft,
            corpus_size=n_docs,
            dense_table=dense,
        ).agg(F.count("*").alias("n"), F.sum("attr_sim").alias("chk")).collect()

    clock("tfidf_pre1", plan({"tfidf": 1.0}))
    clock("tfidf_pre2", plan({"tfidf": 1.0}))
    full = {"jw": 0.3, "lev": 0.2, "tfidf": 0.5}
    clock("full_pre1", plan(full))
    clock("full_pre2", plan(full))
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
