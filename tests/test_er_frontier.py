"""The driver queries' ER frontier is one committed ``Pipeline.run``.

The ER queries read the stage tables of that run (``plans/driver_queries.py:
_frontier``); these tests pin that they leave no cached frame behind, that one
session and sf dir cost one run, and that clearing the frontier the way the
frozen ``bench.py`` does between trials makes the next query run afresh.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from entityresolution_capstone_spark.plans import driver_queries as DQ

VOCAB = [f"w{i}" for i in range(40)]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A documents table of 12 entities x 5 near-duplicate members."""
    rng = random.Random(3)
    texts = []
    for _ in range(12):
        base = [rng.choice(VOCAB) for _ in range(24)]
        for _ in range(5):
            doc = list(base)
            doc[rng.randrange(len(doc))] = rng.choice(VOCAB)
            texts.append(" ".join(doc))
    d = tmp_path_factory.mktemp("er_frontier")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        str(d / "documents.parquet"),
    )
    return str(d)


def _clear_like_bench():
    # the frozen bench.py q_pipeline teardown
    for st in DQ._FRONTIER_CACHE.values():
        for v in st.values():
            if hasattr(v, "unpersist"):
                v.unpersist()
    DQ._FRONTIER_CACHE.clear()


def test_frontier_queries_leave_no_cached_frames(spark, sf_dir):
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    assert DQ.q_er_clusters(spark, sf_dir).count() > 0
    assert DQ.q_er_candidate_pairs(spark, sf_dir).count() > 0
    assert DQ.q_er_block_metrics(spark, sf_dir).count() > 0
    for q in (
        DQ.q_er_rel_jaccard,
        DQ.q_er_rel_adar,
        DQ.q_er_rel_adar_attr,
        DQ.q_er_cluster_neighbors,
    ):
        q(spark, sf_dir).count()
    assert cache.isEmpty()


def test_one_pipeline_run_per_session_and_sf_dir(spark, sf_dir):
    for q in (DQ.q_er_clusters, DQ.q_er_candidate_pairs, DQ.q_er_block_metrics):
        q(spark, sf_dir).count()
    st = DQ._frontier(spark, sf_dir)
    metrics = spark.read.parquet(f"{st['base_dir']}/_metrics")
    assert metrics.select("run_id").distinct().count() == 1
    assert st["n_docs"] == 60


def test_bench_clear_reruns_in_a_fresh_dir(spark, sf_dir):
    first = DQ._frontier(spark, sf_dir)["base_dir"]
    rows = DQ.q_er_clusters(spark, sf_dir).collect()
    _clear_like_bench()
    second = DQ._frontier(spark, sf_dir)["base_dir"]
    assert second != first
    # the cleared frontier's stage tables are removed on the miss
    assert not os.path.exists(first)
    assert sorted(DQ.q_er_clusters(spark, sf_dir).collect()) == sorted(rows)
    metrics = spark.read.parquet(f"{second}/_metrics")
    assert metrics.select("run_id").distinct().count() == 1
