"""dense_rank_ids must be bit-identical to the single-task global-sort
row_number it replaces (the DuckDB oracles keep the row_number form)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from entityresolution_capstone_spark.functions.ids import dense_rank_ids


@pytest.mark.parametrize("n_rows,n_parts", [(1, 4), (37, 4), (500, 8), (500, 3)])
def test_matches_global_sort(spark, n_rows, n_parts):
    # deterministic synthetic vocabulary with heavy df ties (the realistic
    # case: many tokens share a document frequency; (df, token) stays unique)
    df = spark.range(n_rows).select(
        F.concat(F.lit("tok"), F.col("id")).alias("token"),
        (F.col("id") % 7 + 1).alias("df"),
    )
    got = {
        r["token"]: r["token_id"]
        for r in dense_rank_ids(df, ["df", "token"], num_partitions=n_parts).collect()
    }
    w = Window.orderBy("df", "token")
    want = {
        r["token"]: r["token_id"]
        for r in df.select(
            "token", F.row_number().over(w).cast("long").alias("token_id")
        ).collect()
    }
    assert got == want


def test_no_single_partition_global_sort(spark):
    """The physical plan must not contain a partition-less global Sort feeding
    a Window (the straggler this helper exists to remove). Inspected with
    pin=False: the shipped pin=True path localCheckpoints the identical plan,
    which truncates lineage and hides the exchange from executedPlan()."""
    df = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id")).alias("token"),
        (F.col("id") % 5).alias("df"),
    )
    plan = (
        dense_rank_ids(df, ["df", "token"], pin=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the vocabulary goes through rangepartitioning and a _pid-partitioned
    # window; the per-partition offsets are a literal lookup on _pid
    assert "rangepartitioning(df" in plan
    assert "windowspecdefinition(_pid" in plan


def test_no_cachemanager_entry(spark):
    """Lifecycle (ADVICE r4 medium): the internal materialization must NOT be
    a CacheManager entry — cached plans hold a strong JVM reference for the
    session lifetime, so repeated calls (sorted-neighborhood over corpus-
    cardinality inputs, per-query token dictionaries in long gate sessions)
    would grow storage unboundedly. localCheckpoint blocks are ContextCleaner-
    reclaimed once no live plan references them."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    for i in range(3):
        df = spark.range(50 + i).select(
            F.concat(F.lit("t"), F.col("id")).alias("token"),
            (F.col("id") % 5).alias("df"),
        )
        out = dense_rank_ids(df, ["df", "token"], num_partitions=4)
        assert out.count() == 50 + i
        assert cm.isEmpty(), (
            "dense_rank_ids registered a CacheManager entry — the persist "
            "leak ADVICE r4 flagged; the pin must be a localCheckpoint"
        )


def test_multi_consumer_branches_agree(spark):
    """Regression: dense_rank_ids feeds its range-partitioned relation to BOTH
    a counts branch and the final join. Without the internal persist, each
    branch re-evaluates the repartitionByRange exchange and RangePartitioner
    re-SAMPLES its boundaries (the seed incorporates the runtime RDD id), so
    the offset join composed ranks from mismatched boundary sets — silently
    corrupted ids (Abt-Buy blocking recall 0.99 -> 0.46 via
    _attach_key_payload's cur/keys branches disagreeing). This test mirrors
    that consumer shape: one branch reads the ids row-wise, another aggregates
    them per group, and the two must live in ONE id space."""
    import pandas as pd

    # messy, realistic key distribution: shared tokens across groups
    rows = []
    for d in range(400):
        for t in (d % 97, d % 31, 400 + d):
            rows.append((f"doc{d}", f"tok:{t:05d}"))
    df = spark.createDataFrame(rows, ["conv_id", "block_key"]).dropDuplicates()
    kids = dense_rank_ids(
        df.select("block_key").distinct(), ["block_key"], "_kid", num_partitions=8
    )
    joined = df.join(kids, "block_key")
    per_doc = joined.groupBy("conv_id").agg(
        F.array_sort(F.collect_list("_kid")).alias("_keys")
    )
    out = joined.join(per_doc, "conv_id").select("conv_id", "_kid", "_keys").collect()
    for r in out:
        assert r["_kid"] in r["_keys"], (
            f"cur id {r['_kid']} of {r['conv_id']} missing from its own key "
            f"array {r['_keys']} — branches disagree on the id space"
        )
    # and the id space is the true sorted rank
    got = {r["block_key"]: r["_kid"] for r in kids.collect()}
    for rank, key in enumerate(sorted(got), start=1):
        assert got[key] == rank
