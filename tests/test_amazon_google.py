"""Cross-source product matching on Amazon-GoogleProducts (bundled benchmark).

Fourth real dataset shipped with the reference (1,363 Amazon + 3,226 Google
product records, 1,300 true matches) and the noisiest: retailer-written
titles vs merchant-feed names, heavy accessory near-matches. Same operator
composition as Abt-Buy/DBLP-ACM (rare-token blocking, Jaro-Winkler + TF-IDF
scoring over title+manufacturer, mutual-best one-to-one).

Measured at the pinned config: blocking recall 0.993, P 0.673 / R 0.471 /
F1 0.554. Published non-learning baselines on this benchmark are ~0.49 F1
(early deep matchers ~0.69). Floors set below measured values.
"""

import os

import pytest
from pyspark.sql import functions as F

DATA = "/root/reference/data/Amazon-GoogleProducts"


@pytest.fixture(scope="module")
def matches(spark):
    if not os.path.exists(os.path.join(DATA, "Amazon.csv")):
        pytest.skip("Amazon-GoogleProducts data not available")
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

    def side(path, prefix, name_col):
        df = spark.read.csv(path, header=True, quote='"', escape='"', multiLine=True)
        doc = F.lower(
            F.concat_ws(
                " ",
                F.coalesce(F.col(name_col), F.lit("")),
                F.coalesce("manufacturer", F.lit("")),
            )
        )
        return df.select(
            F.concat(F.lit(prefix), F.col("id")).alias("conv_id"), doc.alias("doc")
        )

    docs = (
        side(os.path.join(DATA, "Amazon.csv"), "a:", "title")
        .unionByName(side(os.path.join(DATA, "GoogleProducts.csv"), "g:", "name"))
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
        use_token_keys=True, use_minhash=False, min_token_len=2, max_token_df=200,
        max_block_size=4000, salt_block_size=150, salt_factor=8,
    )
    pairs = candidate_pairs(build_blocks(docs, token_dictionary(dft), cfg), cfg)
    cross = pairs.filter(
        F.col("id1").startswith("a:") & F.col("id2").startswith("g:")
    )
    scored = score_pairs(
        cross, docs,
        ScoringConfig(weights={"jw": 0.2, "tfidf": 0.8}, prefix_len=128),
        df_table=dft, corpus_size=n,
    ).filter(F.col("attr_sim") >= 0.3).persist()
    best_a = scored.groupBy("id1").agg(
        F.max_by("id2", F.struct(F.col("attr_sim"), F.col("id2"))).alias("id2")
    )
    best_g = scored.groupBy("id2").agg(
        F.max_by("id1", F.struct(F.col("attr_sim"), F.col("id1"))).alias("id1")
    )
    pred = best_a.join(best_g, ["id1", "id2"]).persist()

    truth = spark.read.csv(
        os.path.join(DATA, "Amzon_GoogleProducts_perfectMapping.csv"),
        header=True, quote='"',
    ).select(
        F.concat(F.lit("a:"), F.col("idAmazon")).alias("id1"),
        F.concat(F.lit("g:"), F.col("idGoogleBase")).alias("id2"),
    ).persist()
    yield cross, pred, truth
    for df in (docs, dft, scored, pred, truth):
        df.unpersist()


def test_amazon_google_blocking_recall(spark, matches):
    cross, _, truth = matches
    br = cross.join(truth, ["id1", "id2"]).count() / truth.count()
    assert br >= 0.97, br  # measured 0.993


def test_amazon_google_linkage_quality(spark, matches):
    _, pred, truth = matches
    tp = pred.join(truth, ["id1", "id2"]).count()
    n_pred, n_truth = pred.count(), truth.count()
    p, r = tp / n_pred, tp / n_truth
    f1 = 2 * p * r / (p + r)
    assert f1 >= 0.5, (p, r, f1, tp, n_pred, n_truth)  # measured 0.554
