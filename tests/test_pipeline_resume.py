"""Checkpoint/resume + lineage metrics tests (north rule: resumable runs)."""

import json
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark import datagen
from entityresolution_capstone_spark.operators.blocking import BlockingConfig
from entityresolution_capstone_spark.plans.pipeline import Pipeline, PipelineConfig
from entityresolution_capstone_spark.sources import tables as TBL

# every committed stage of the default (max-linkage, no edges) graph
STAGES = (
    "docs", "df_table", "blocks", "block_metrics", "pairs", "scores",
    "bootstrap_edges", "clusters",
)


@pytest.fixture(scope="module")
def small_corpus(spark):
    spec = datagen.CorpusSpec(n_entities=12, convs_per_entity=3, seed=3)
    return datagen.corpus_dataframes(spark, spec)


def test_resume_skips_committed_stages_and_matches(spark, small_corpus):
    transcripts, labels = small_corpus
    base = tempfile.mkdtemp(prefix="ercs_resume_")
    cfg = PipelineConfig(base_dir=base, similarity_threshold=0.8)
    p1 = Pipeline(spark, cfg)
    r1 = p1.run(transcripts)
    first = sorted(
        (r["conv_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{base}/clusters").collect()
    )

    # simulate a crash after 'scores': wipe every later stage
    for stage in ("bootstrap_edges", "clusters"):
        shutil.rmtree(os.path.join(base, stage), ignore_errors=True)
    assert TBL.is_committed(os.path.join(base, "scores"))
    assert not TBL.is_committed(os.path.join(base, "clusters"))

    p2 = Pipeline(spark, cfg)
    r2 = p2.run(transcripts)
    second = sorted(
        (r["conv_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{base}/clusters").collect()
    )
    assert first == second
    shutil.rmtree(base, ignore_errors=True)


def test_uncommitted_partial_write_is_ignored(spark, small_corpus):
    """A directory without the manifest is not 'committed' — resume redoes it."""
    transcripts, _ = small_corpus
    base = tempfile.mkdtemp(prefix="ercs_partial_")
    cfg = PipelineConfig(base_dir=base, similarity_threshold=0.8)
    Pipeline(spark, cfg).run(transcripts)
    # corrupt: delete the manifest of 'clusters' (simulates a torn write)
    os.remove(os.path.join(base, "clusters", TBL.MANIFEST))
    assert not TBL.is_committed(os.path.join(base, "clusters"))
    Pipeline(spark, cfg).run(transcripts)
    assert TBL.is_committed(os.path.join(base, "clusters"))
    shutil.rmtree(base, ignore_errors=True)


def test_lineage_metrics_written(spark, small_corpus):
    transcripts, _ = small_corpus
    base = tempfile.mkdtemp(prefix="ercs_metrics_")
    cfg = PipelineConfig(base_dir=base, similarity_threshold=0.8)
    p = Pipeline(spark, cfg)
    p.run(transcripts)
    m = spark.read.parquet(f"{base}/_metrics")
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    for expected in ("docs", "blocks", "pairs", "scores", "clusters"):
        assert expected in stages, stages
    # per-partition lineage rows present with row counts
    docs_rows = m.filter(
        (F.col("stage") == "docs") & F.col("partition_id").isNotNull()
    )
    total = docs_rows.agg(F.sum("rows_out")).collect()[0][0]
    assert total == spark.read.parquet(f"{base}/docs").count()
    assert m.filter(F.col("run_id") == p.run_id).count() > 0
    shutil.rmtree(base, ignore_errors=True)


@contextmanager
def _job_ids(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"ercs-test-{uuid.uuid4().hex}"
    ids = []
    sc.setJobGroup(group, "job count")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _stage_rows(spark, base, run_id):
    m = spark.read.parquet(f"{base}/_metrics").filter(F.col("run_id") == run_id)
    return {
        r["stage"]: r["n"]
        for r in m.groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    }


@pytest.fixture(scope="module")
def fresh_and_resumed(spark, small_corpus):
    """A fresh run, the table counts it left, then a resumed run that
    rebuilds every stage from 'pairs' on."""
    transcripts, _ = small_corpus
    base = tempfile.mkdtemp(prefix="ercs_lineage_")
    cfg = PipelineConfig(base_dir=base, similarity_threshold=0.8)
    p1 = Pipeline(spark, cfg)
    r1 = p1.run(transcripts)
    counts1 = {s: spark.read.parquet(f"{base}/{s}").count() for s in STAGES}
    for stage in STAGES[STAGES.index("pairs"):]:
        shutil.rmtree(os.path.join(base, stage))
    p2 = Pipeline(spark, cfg)
    r2 = p2.run(transcripts)
    counts2 = {s: spark.read.parquet(f"{base}/{s}").count() for s in STAGES}
    yield base, (p1, r1, counts1), (p2, r2, counts2)
    shutil.rmtree(base, ignore_errors=True)


def test_rows_out_match_table_counts_fresh_and_resumed(spark, fresh_and_resumed):
    base, (p1, r1, counts1), (p2, r2, counts2) = fresh_and_resumed
    assert _stage_rows(spark, base, p1.run_id) == counts1
    # the resumed run commits (and accounts for) only the stages it rebuilt
    rebuilt = STAGES[STAGES.index("pairs"):]
    assert _stage_rows(spark, base, p2.run_id) == {s: counts2[s] for s in rebuilt}
    for r, counts in ((r1, counts1), (r2, counts2)):
        assert r["n_docs"] == counts["docs"]
        assert r["n_pairs"] == counts["pairs"]


def test_read_table_schema_matches_inferred(spark, fresh_and_resumed):
    base = fresh_and_resumed[0]
    for stage in STAGES:
        path = f"{base}/{stage}"
        assert "schema" in TBL.read_manifest(path), stage
        assert TBL.read_table(spark, path).schema == spark.read.parquet(path).schema, stage


def test_bookkeeping_starts_no_spark_jobs(spark, fresh_and_resumed):
    base, (p1, _, counts1), _ = fresh_and_resumed
    path = f"{base}/docs"
    with _job_ids(spark) as inferring:
        spark.read.parquet(path).schema
    # control: the job count sees the inferring read's footer job
    assert inferring
    with _job_ids(spark) as ids:
        p1._append_metrics(
            [{"run_id": "probe", "stage": "docs", "partition_id": 0, "rows_out": 1}]
        )
        TBL.read_table(spark, path).schema
        n = TBL.num_rows(spark, path)
    assert ids == []
    assert n == counts1["docs"]
    assert _stage_rows(spark, base, "probe") == {"docs": 1}


def test_committed_rerun_starts_only_cluster_count_jobs(spark, small_corpus, fresh_and_resumed):
    """Every stage committed: a rerun reads tables and counts from manifests;
    only n_clusters (a distinct count, not a row count) runs jobs."""
    base, _, (_, r2, _) = fresh_and_resumed
    with _job_ids(spark) as ids:
        r3 = Pipeline(spark, PipelineConfig(base_dir=base, similarity_threshold=0.8)).run(
            small_corpus[0]
        )
    assert len(ids) <= 3, ids
    assert {k: r3[k] for k in ("n_docs", "n_pairs", "n_clusters")} == {
        k: r2[k] for k in ("n_docs", "n_pairs", "n_clusters")
    }


def test_empty_stage_records_zero_rows(spark, tmp_path):
    p = Pipeline(spark, PipelineConfig(base_dir=str(tmp_path)))
    out = p._run_stage("empty", lambda: spark.createDataFrame([], "conv_id string"))
    assert out.count() == 0
    assert _stage_rows(spark, str(tmp_path), p.run_id) == {"empty": 0}
    assert TBL.num_rows(spark, str(tmp_path / "empty")) == 0


def test_manifest_without_schema_or_row_counts_still_reads(spark, tmp_path):
    """Tables committed before the manifest recorded schema and row counts."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    TBL.write_table(df.repartition(2), path)
    mpath = os.path.join(path, TBL.MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    assert sum(TBL.partition_rows(manifest).values()) == 3
    del manifest["schema"], manifest["file_rows"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    back = TBL.read_table(spark, path)
    assert back.schema == spark.read.parquet(path).schema
    assert sorted(back.collect()) == sorted(df.collect())
    assert TBL.num_rows(spark, path) == 3


@pytest.mark.parametrize(
    "blocking",
    [
        BlockingConfig(),
        # minhash-only: the banded band-join path, with salted blocks
        BlockingConfig(
            use_token_keys=False, minhash_rows=1, minhash_bands=6,
            max_block_size=80, salt_block_size=4,
        ),
    ],
    ids=["generic", "banded"],
)
def test_pipeline_leaves_no_cached_frames(spark, small_corpus, tmp_path, blocking):
    # the cache manager is shared by every session of the context: start
    # from an empty one, as a fresh session would
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    cfg = PipelineConfig(base_dir=str(tmp_path), similarity_threshold=0.8, blocking=blocking)
    r = Pipeline(spark, cfg).run(small_corpus[0])
    assert r["n_pairs"] > 0
    assert cache.isEmpty()
