"""Interleaved A/B: fused q_score with inline vs precomputed dense tf-idf.

Runs in ONE process with nothing else on the box: udf warm-up, then
A (inline dense), B (persisted dense_table), A, B, A, B — drift lands on
both variants equally. Also dumps both formatted plans to files.

Usage: taskset -c 0-7 python tools/score_decomp_probe3.py 8 /root/testdata/sf0.1
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
        app_name="score-decomp3",
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

    udf = make_weighted_char_sim_udf({"jw": 0.6, "lev": 0.4}, max_len=BENCH_PREFIX)
    tiny = spark.range(1000).select(
        F.concat(F.lit("warmup text "), F.col("id").cast("string")).alias("a"),
        F.concat(F.lit("warmup test "), F.col("id").cast("string")).alias("b"),
    )
    t0 = time.time()
    tiny.select(udf("a", "b").alias("s")).agg(F.sum("s")).collect()
    out["udfwarm_s"] = round(time.time() - t0, 2)

    dense = precompute_dense_tfidf(docs, dft, n_docs).persist()
    dense.count()

    full = {"jw": 0.3, "lev": 0.2, "tfidf": 0.5}

    def make(dt):
        return score_pairs(
            pairs,
            docs,
            DQ.ScoringConfig(weights=full, prefix_len=BENCH_PREFIX),
            df_table=dft,
            corpus_size=n_docs,
            dense_table=dt,
        )

    psu = spark.sparkContext._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    with open("/tmp/plan_inline.txt", "w") as f:
        f.write(psu.explainString(make(None)._jdf.queryExecution(), "formatted"))
    with open("/tmp/plan_pre.txt", "w") as f:
        f.write(psu.explainString(make(dense)._jdf.queryExecution(), "formatted"))

    for i in range(1, 4):
        for tag, dt in (("inline", None), ("pre", dense)):
            t0 = time.time()
            make(dt).agg(F.count("*").alias("n"), F.sum("attr_sim").alias("chk")).collect()
            out[f"{tag}{i}_s"] = round(time.time() - t0, 2)
            print(json.dumps({tag: i, "s": out[f"{tag}{i}_s"]}), flush=True)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
