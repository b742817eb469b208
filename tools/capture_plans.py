"""Capture .explain('formatted') for the bench-relevant query plans.

Usage: python tools/capture_plans.py <repo_root> <out_dir> [suffix]
Writes <out_dir>/<name>_<suffix>.txt for each captured plan. Run once from
the round-start worktree (suffix=before) and once from HEAD (suffix=after).
Uses local[4] and sf0.01 — plan SHAPE is what matters, not timings.
"""
from __future__ import annotations

import os
import sys

root = os.path.abspath(sys.argv[1])
out_dir = os.path.abspath(sys.argv[2])
suffix = sys.argv[3] if len(sys.argv) > 3 else "after"
sys.path.insert(0, root)
os.makedirs(out_dir, exist_ok=True)

SF = "/root/testdata/sf0.01"


def main():
    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="plan-capture", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")

    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
    from entityresolution_capstone_spark.operators.scoring import (
        precompute_dense_tfidf,
        score_pairs,
    )
    from entityresolution_capstone_spark.plans import driver_queries as DQ

    def cap(name, df):
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")

    # q_dedup / q_prefix / q_topk / q_winnow / textstats members: plain queries
    for name, q in [
        ("q_dedup", "dedup_minhash"),
        ("q_prefix", "dedup_prefix"),
        ("q_topk", "sim_topk"),
        ("q_winnow", "fingerprint_winnow"),
        ("q_textstats_langid", "lang_id"),
    ]:
        try:
            cap(name, DQ.QUERIES[q](spark, SF))
        except Exception as e:
            print(f"{name}: capture failed: {e}")

    # q_score: the bench scoring plan over materialized pairs
    try:
        BENCH_BLOCKING = DQ.B.BlockingConfig(
            use_token_keys=False, use_minhash=True, minhash_rows=4,
            minhash_bands=4, seed=7, max_block_size=5000,
            salt_block_size=400, salt_factor=8,
        )
        t = DQ.derive_transcripts(spark, SF)
        docs = canonical_docs(t, prefix_len=128).persist()
        dft = doc_frequencies(docs).persist()
        tdict = DQ.B.token_dictionary(dft)
        blocks = DQ.B.build_blocks(docs, tdict, BENCH_BLOCKING)
        pairs = DQ.B.candidate_pairs(blocks, BENCH_BLOCKING).repartition(16)
        cap("q_block_pairs", pairs)
        n_docs = docs.count()
        dense = precompute_dense_tfidf(docs, dft, n_docs)
        scored = score_pairs(
            pairs, docs,
            DQ.ScoringConfig(weights={"jw": 0.3, "lev": 0.2, "tfidf": 0.5},
                             prefix_len=128),
            df_table=dft, corpus_size=n_docs, dense_table=dense,
        )
        cap("q_score", scored)
    except Exception as e:
        print(f"q_score: capture failed: {e}")

    # q_pipeline: final assignment plan (CC loop runs eagerly; the round
    # plans are not visible here — round behavior documented in cc.py)
    try:
        cap("q_pipeline_assign", DQ.q_er_clusters(spark, SF))
    except Exception as e:
        print(f"q_pipeline: capture failed: {e}")

    spark.stop()


if __name__ == "__main__":
    main()
