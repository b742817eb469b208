"""Streaming ingest: availableNow backfill + incremental canonicalization."""

import os
import shutil
import tempfile

import pytest

from entityresolution_capstone_spark import datagen, schemas
from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
from entityresolution_capstone_spark.streaming.ingest import start_ingest


def test_stream_backfill_matches_batch(spark):
    spec = datagen.CorpusSpec(n_entities=6, convs_per_entity=2, seed=17)
    transcripts, _ = datagen.corpus_dataframes(spark, spec)

    base = tempfile.mkdtemp(prefix="ercs_stream_")
    input_dir = os.path.join(base, "in")
    transcripts.write.mode("overwrite").parquet(input_dir)

    q = start_ingest(
        spark,
        input_dir=input_dir,
        staging_dir=os.path.join(base, "staging"),
        docs_dir=os.path.join(base, "docs"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)

    got = sorted(
        (r["conv_id"], r["doc"])
        for r in spark.read.parquet(os.path.join(base, "docs"))
        .select("conv_id", "doc")
        .collect()
    )
    want = sorted(
        (r["conv_id"], r["doc"])
        for r in canonical_docs(transcripts).select("conv_id", "doc").collect()
    )
    assert got == want
    shutil.rmtree(base, ignore_errors=True)


def test_incremental_upsert_rewrites_only_touched_buckets(spark):
    """A second ingest run that touches one conversation must rewrite only
    that conversation's bucket partition of the docs table — the other bucket
    directories' files stay byte-identical (incremental maintenance, not an
    O(corpus) rewrite per micro-batch)."""
    import glob

    from pyspark.sql import functions as F

    spec = datagen.CorpusSpec(n_entities=6, convs_per_entity=2, seed=23)
    transcripts, _ = datagen.corpus_dataframes(spark, spec)
    base = tempfile.mkdtemp(prefix="ercs_incr_")
    input_dir = os.path.join(base, "in")
    dirs = dict(
        staging_dir=os.path.join(base, "staging"),
        docs_dir=os.path.join(base, "docs"),
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    transcripts.write.mode("overwrite").parquet(input_dir)
    q = start_ingest(spark, input_dir=input_dir, available_now=True, n_buckets=8, **dirs)
    q.awaitTermination(180)

    def snapshot():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(dirs["docs_dir"], "bucket=*", "*.parquet"))
        }

    before = snapshot()
    # second run: one new turn for ONE conversation
    one = transcripts.orderBy("conv_id").limit(1).select(
        "conv_id",
        (F.lit(10_000)).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("extra turn text").alias("text"),
        F.lit("").alias("tool"),
        (F.col("ts") + F.expr("interval 1 hour")).alias("ts"),
    )
    conv_id = one.collect()[0]["conv_id"]
    touched_bucket = one.select(
        F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    one.write.mode("append").parquet(input_dir)
    q = start_ingest(spark, input_dir=input_dir, available_now=True, n_buckets=8, **dirs)
    q.awaitTermination(180)

    after = snapshot()
    untouched_before = {p: m for p, m in before.items() if f"bucket={touched_bucket}/" not in p}
    untouched_after = {p: m for p, m in after.items() if f"bucket={touched_bucket}/" not in p}
    assert untouched_before == untouched_after  # other buckets not rewritten
    # and the touched conversation's doc now includes the extra turn
    doc = (
        spark.read.parquet(dirs["docs_dir"])
        .filter(F.col("conv_id") == conv_id)
        .collect()[0]["doc"]
    )
    assert doc.endswith("extra turn text")
    shutil.rmtree(base, ignore_errors=True)


def test_upsert_batch_replay_is_idempotent(spark):
    """Re-running the same input through a FRESH checkpoint (the worst-case
    replay: every batch re-executes) must leave the docs table identical —
    per-batch staging overwrite + deterministic rebuild, no duplicate docs."""
    spec = datagen.CorpusSpec(n_entities=5, convs_per_entity=2, seed=29)
    transcripts, _ = datagen.corpus_dataframes(spark, spec)
    base = tempfile.mkdtemp(prefix="ercs_replay_")
    input_dir = os.path.join(base, "in")
    transcripts.write.mode("overwrite").parquet(input_dir)

    def run(ckpt):
        q = start_ingest(
            spark,
            input_dir=input_dir,
            staging_dir=os.path.join(base, "staging"),
            docs_dir=os.path.join(base, "docs"),
            checkpoint_dir=os.path.join(base, ckpt),
            available_now=True,
            n_buckets=4,
        )
        q.awaitTermination(180)

    run("ckpt1")
    first = sorted(
        (r["conv_id"], r["doc"])
        for r in spark.read.parquet(os.path.join(base, "docs")).collect()
    )
    run("ckpt2")  # replays batch 0 over the same staging/docs tables
    second = sorted(
        (r["conv_id"], r["doc"])
        for r in spark.read.parquet(os.path.join(base, "docs")).collect()
    )
    assert first == second
    assert len(first) == len({c for c, _ in first})  # no duplicated conv docs
    shutil.rmtree(base, ignore_errors=True)


def test_stateful_turn_counts_across_restarts(spark):
    """State survives a query restart (checkpointed) and final counts match
    the batch aggregation."""
    import os, shutil, tempfile
    from pyspark.sql import functions as F

    from entityresolution_capstone_spark import schemas
    from entityresolution_capstone_spark.streaming.ingest import stateful_turn_counts

    spec = datagen.CorpusSpec(n_entities=4, convs_per_entity=2, seed=19)
    t_pd, _ = datagen.generate_corpus(spec)
    half = len(t_pd) // 2
    base = tempfile.mkdtemp(prefix="ercs_state_")
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)

    def run_once():
        stream = spark.readStream.schema(schemas.TRANSCRIPTS).parquet(in_dir)
        q = (
            stateful_turn_counts(stream)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(t_pd.iloc[:half], schema=schemas.TRANSCRIPTS).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()
    spark.createDataFrame(t_pd.iloc[half:], schema=schemas.TRANSCRIPTS).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    out = spark.read.parquet(out_dir)
    # latest emitted row per conv = final state
    latest = (
        out.groupBy("conv_id").agg(F.max("n_turns").alias("n_turns"))
    )
    got = {r["conv_id"]: r["n_turns"] for r in latest.collect()}
    want = t_pd.groupby("conv_id").size().to_dict()
    assert got == want
    shutil.rmtree(base, ignore_errors=True)


def test_driver_streaming_query_leaves_no_workspace(spark, tmp_path, monkeypatch):
    """The driver's streaming canonicalization returns the batch docs and
    removes its stream workspace (input, staging, docs, checkpoint) before
    it returns: no directory of the call is left."""
    from entityresolution_capstone_spark.plans import driver_queries as DQ

    sf_dir = str(tmp_path / "sf")
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    spark.createDataFrame(
        [(i, " ".join(words[(i + k) % 8] for k in range(5 + 3 * i))) for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    work = tmp_path / "tmp"
    work.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(work))
    got = DQ.q_streaming_canonicalize(spark, sf_dir)
    assert os.listdir(work) == []
    want = DQ.q_er_canonicalize(spark, sf_dir)
    rows = sorted(map(tuple, got.collect()))
    assert len(rows) == 12 and rows == sorted(map(tuple, want.collect()))
