"""Distributed soft-TF-IDF (functions/tfidf.py:soft_tfidf_pairs) parity.

Pins the fully-distributed plan (no driver DF-dict collect, no vocab cap —
VERDICT r2 item 5) against:
1. the reference's own golden fixture (tests/test_kernels.py REF_GOLDEN,
   derived from /root/reference/tests/test_core.py:151-167);
2. the broadcast-dict pandas-UDF kernel on a randomized corpus — same values
   up to float summation order.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark.functions.tfidf import (
    make_soft_tfidf_udf,
    soft_tfidf_pairs,
)

REF_CORPUS = [["a", "aa"], ["b", "ab"], ["a", "ba"], ["b", "bb"]]
REF_DF = {"a": 2, "aa": 1, "b": 2, "ab": 1, "ba": 1, "bb": 1}
REF_GOLDEN = {
    (0, 1): 0.90,
    (0, 2): 0.73,
    (0, 3): 0.00,
    (1, 2): 0.68,
    (1, 3): 0.73,
    (2, 3): 0.90,
}


def _inputs(spark, corpus):
    docs = spark.createDataFrame(
        [(f"c{i:03d}", toks) for i, toks in enumerate(corpus)],
        ["conv_id", "tokens"],
    )
    dft = docs.select(
        "conv_id", F.explode(F.array_distinct("tokens")).alias("token")
    ).groupBy("token").agg(F.count("*").alias("df"))
    pairs = spark.createDataFrame(
        [
            (f"c{i:03d}", f"c{j:03d}")
            for i in range(len(corpus))
            for j in range(i + 1, len(corpus))
        ],
        ["id1", "id2"],
    )
    return docs, dft, pairs


def test_distributed_matches_reference_golden(spark):
    docs, dft, pairs = _inputs(spark, REF_CORPUS)
    out = soft_tfidf_pairs(pairs, docs, dft, len(REF_CORPUS), threshold=0.5)
    got = {(r["id1"], r["id2"]): r["stfidf"] for r in out.collect()}
    for (i, j), want in REF_GOLDEN.items():
        assert round(got[(f"c{i:03d}", f"c{j:03d}")], 2) == want, (i, j)


def test_distributed_matches_udf_kernel(spark):
    rng = random.Random(17)
    words = ["alpha", "alpah", "beta", "betta", "gamma", "gama", "delta", "dleta"]
    corpus = [
        [rng.choice(words) for _ in range(rng.randint(1, 6))] for _ in range(30)
    ]
    docs, dft, pairs = _inputs(spark, corpus)
    n = len(corpus)
    out = soft_tfidf_pairs(pairs, docs, dft, n, threshold=0.5)
    got = {(r["id1"], r["id2"]): r["stfidf"] for r in out.collect()}

    df_map = {r["token"]: r["df"] for r in dft.collect()}
    bc = spark.sparkContext.broadcast(df_map)
    udf = make_soft_tfidf_udf(bc, n, threshold=0.5)
    d1 = docs.select(F.col("conv_id").alias("id1"), F.col("tokens").alias("t1"))
    d2 = docs.select(F.col("conv_id").alias("id2"), F.col("tokens").alias("t2"))
    ref = {
        (r["id1"], r["id2"]): r["s"]
        for r in pairs.join(d1, "id1").join(d2, "id2")
        .select("id1", "id2", udf("t1", "t2").alias("s"))
        .collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == pytest.approx(ref[k], rel=1e-9, abs=1e-12), k


def test_empty_token_side_scores_zero(spark):
    docs = spark.createDataFrame(
        [("c000", ["a", "b"]), ("c001", [])], ["conv_id", "tokens"]
    )
    dft = docs.select(
        "conv_id", F.explode(F.array_distinct("tokens")).alias("token")
    ).groupBy("token").agg(F.count("*").alias("df"))
    pairs = spark.createDataFrame([("c000", "c001")], ["id1", "id2"])
    out = soft_tfidf_pairs(pairs, docs, dft, 2).collect()
    assert len(out) == 1 and out[0]["stfidf"] == 0.0


def test_score_pairs_over_cap_uses_distributed(spark, monkeypatch):
    """score_pairs with a vocab cap below the corpus vocabulary must fall back
    to the distributed plan (r3: no refusal) and produce the same stfidf
    score as the UDF path."""
    from entityresolution_capstone_spark.operators import scoring as SC

    rng = random.Random(5)
    words = ["alpha", "alpah", "beta", "betta", "gamma", "gama"]
    corpus = [[rng.choice(words) for _ in range(rng.randint(1, 5))] for _ in range(12)]
    docs, dft, pairs = _inputs(spark, corpus)
    docs = docs.withColumn("doc_prefix", F.array_join("tokens", " "))
    n = len(corpus)

    def run(cap):
        monkeypatch.setattr(SC, "STFIDF_MAX_VOCAB", cap)
        cfg = SC.ScoringConfig(weights={"stfidf": 1.0}, stfidf_threshold=0.5)
        out = SC.score_pairs(pairs, docs, cfg, df_table=dft, corpus_size=n)
        # single-kernel weights: attr_sim IS the stfidf score
        return {(r["id1"], r["id2"]): r["attr_sim"] for r in out.collect()}

    udf_path = run(10_000)   # under cap -> broadcast-dict UDF kernel
    dist_path = run(1)       # over cap -> distributed soft_tfidf_pairs
    assert set(udf_path) == set(dist_path)
    for k in udf_path:
        assert dist_path[k] == pytest.approx(udf_path[k], rel=1e-9, abs=1e-12), k


def test_distributed_leaves_no_cached_frames(spark):
    """The joined cross stream both directions read is pinned with
    localCheckpoint, never a CacheManager entry, so a call leaves nothing
    to release."""
    docs, dft, pairs = _inputs(spark, REF_CORPUS)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    out = soft_tfidf_pairs(pairs, docs, dft, len(REF_CORPUS), threshold=0.5)
    assert cm.isEmpty()
    assert out.count() == len(REF_GOLDEN)
    assert cm.isEmpty()
