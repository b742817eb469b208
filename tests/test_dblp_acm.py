"""Cross-source record linkage on DBLP-ACM (reference-bundled benchmark).

The reference ships the classic DBLP-ACM bibliographic benchmark (2,616 +
2,294 records, 2,224 true matches) but never reads it (BASELINE.md: "no code
in the reference reads them — available for extra quality checks"). This test
links the two sources with this engine's own operators — rare-token blocking,
Levenshtein + TF-IDF scoring, mutual-best one-to-one matching — and scores
against the shipped perfect mapping. A second real dataset (after citeseer)
exercising a DIFFERENT shape: two heterogeneous tables instead of one
self-dedup table.
"""

import os

import pytest
from pyspark.sql import functions as F

DATA = "/root/reference/data/DBLP-ACM"


@pytest.fixture(scope="module")
def matches(spark):
    if not os.path.exists(os.path.join(DATA, "ACM.csv")):
        pytest.skip("DBLP-ACM data not available")
    from entityresolution_capstone_spark.functions.text import tokenize
    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators.blocking import (
        BlockingConfig,
        build_blocks,
        candidate_pairs,
        token_dictionary,
    )
    from entityresolution_capstone_spark.operators.scoring import (
        ScoringConfig,
        score_pairs,
    )

    def side(path, prefix):
        df = spark.read.csv(path, header=True, quote='"', escape='"')
        return df.select(
            F.concat(F.lit(prefix), F.col("id")).alias("conv_id"),
            F.lower(F.coalesce("title", F.lit(""))).alias("doc"),
        )

    docs = (
        side(os.path.join(DATA, "ACM.csv"), "a:")
        .unionByName(side(os.path.join(DATA, "DBLP2.csv"), "d:"))
        .select(
            "conv_id",
            "doc",
            F.substring("doc", 1, 128).alias("doc_prefix"),
            tokenize(F.col("doc")).alias("tokens"),
        )
        .persist()
    )
    n = docs.count()
    dft = doc_frequencies(docs).persist()
    cfg = BlockingConfig(
        use_token_keys=True, use_minhash=False, min_token_len=3, max_token_df=40,
        max_block_size=400, salt_block_size=100, salt_factor=8,
    )
    pairs = candidate_pairs(build_blocks(docs, token_dictionary(dft), cfg), cfg)
    # 'a:...' < 'd:...' lexically, so cross-source candidate pairs are exactly
    # (id1 from ACM, id2 from DBLP)
    cross = pairs.filter(
        F.col("id1").startswith("a:") & F.col("id2").startswith("d:")
    )
    scored = score_pairs(
        cross, docs,
        ScoringConfig(weights={"lev": 0.3, "tfidf": 0.7}, prefix_len=128),
        df_table=dft, corpus_size=n,
    ).filter(F.col("attr_sim") >= 0.5).persist()
    # one-to-one: keep mutual-best pairs only (each side's argmax)
    best_a = scored.groupBy("id1").agg(
        F.max_by("id2", F.struct(F.col("attr_sim"), F.col("id2"))).alias("id2")
    )
    best_d = scored.groupBy("id2").agg(
        F.max_by("id1", F.struct(F.col("attr_sim"), F.col("id1"))).alias("id1")
    )
    pred = best_a.join(best_d, ["id1", "id2"]).persist()

    truth = spark.read.csv(
        os.path.join(DATA, "DBLP-ACM_perfectMapping.csv"), header=True, quote='"'
    ).select(
        F.concat(F.lit("a:"), F.col("idACM")).alias("id1"),
        F.concat(F.lit("d:"), F.col("idDBLP")).alias("id2"),
    ).persist()
    yield pred, truth
    for df in (docs, dft, scored, pred, truth):
        df.unpersist()


def test_dblp_acm_linkage_quality(spark, matches):
    pred, truth = matches
    tp = pred.join(truth, ["id1", "id2"]).count()
    n_pred, n_truth = pred.count(), truth.count()
    p, r = tp / n_pred, tp / n_truth
    f1 = 2 * p * r / (p + r)
    # classic TF-IDF baselines report ~0.95 on DBLP-ACM; floor below measured
    assert f1 >= 0.9, (p, r, f1, tp, n_pred, n_truth)


def test_dblp_acm_one_to_one(spark, matches):
    pred, _ = matches
    assert pred.groupBy("id1").count().agg(F.max("count")).collect()[0][0] == 1
    assert pred.groupBy("id2").count().agg(F.max("count")).collect()[0][0] == 1
