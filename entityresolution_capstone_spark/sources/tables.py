"""Committed-table writer/reader with Iceberg-style atomic semantics.

The north rule asks for Iceberg tables with resume-from-last-committed-
checkpoint semantics. This sandbox has no Iceberg jars, so the same contract is
implemented over parquet + a manifest: a stage output is *committed* iff its
directory contains both Spark's ``_SUCCESS`` marker and our ``_ercs_manifest
.json`` (written strictly after the data). Readers ignore uncommitted
directories, so a killed run resumes from the last committed stage exactly as
an Iceberg snapshot would. If Iceberg jars are present (``spark.sql.catalog.*``
configured), :func:`write_table` transparently uses ``saveAsTable`` instead.

Why not plain ``parquet.write``: a job killed mid-write leaves a partial
directory that a naive reader would treat as complete — the manifest is the
commit point.

The parquet manifest also records what the table's readers would otherwise
pay Spark jobs for: the written frame's schema (``schema``, so
:func:`read_table` skips schema inference) and every data file's row count
read from its parquet footer on the driver (``file_rows``, relative file name
-> rows). Spark names a data file ``part-NNNNN-...`` after the partition of
the task that wrote it, so ``file_rows`` is per-writing-task lineage
(:func:`partition_rows`). Like the commit's ``os.rename``, the footer read
assumes the table lives on a filesystem the driver can open directly.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_ercs_manifest.json"
_PART_ID = re.compile(r"part-(\d+)-")


def _iceberg_available(spark: SparkSession) -> str | None:
    cat = spark.conf.get("spark.sql.catalog.ercs", None)
    return "ercs" if cat else None


def is_committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, MANIFEST)) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    )


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    extra_manifest: dict | None = None,
) -> dict:
    """Write + commit a stage output; returns the manifest dict."""
    spark = df.sparkSession
    catalog = _iceberg_available(spark)
    t0 = time.time()
    if catalog:
        name = f"{catalog}.{os.path.basename(path)}"
        w = df.writeTo(name)
        if mode == "overwrite":
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            w.append()
    else:
        tmp = path + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
    manifest = {
        "path": path,
        "committed_wall_s": round(time.time() - t0, 3),
        "format": "iceberg" if catalog else "parquet",
        **(extra_manifest or {}),
    }
    if not catalog:
        # partition columns are read back from directory names, typed and
        # ordered by inference, so only an unpartitioned schema is recorded
        if not partition_by:
            manifest["schema"] = df.schema.jsonValue()
        manifest["file_rows"] = _file_rows(path)
        with open(os.path.join(path, MANIFEST), "w") as f:
            json.dump(manifest, f)
    return manifest


def _file_rows(path: str) -> dict[str, int]:
    """Row count of every data file under ``path``, from the parquet footers."""
    import pyarrow.parquet as pq

    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                full = os.path.join(root, name)
                out[os.path.relpath(full, path)] = pq.ParquetFile(full).metadata.num_rows
    return out


def read_manifest(path: str) -> dict:
    if not is_committed(path):
        raise FileNotFoundError(f"no committed table at {path}")
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """A committed table; read with its recorded schema when the manifest has
    one (no inference job), else with the schema inferred from the files."""
    schema = read_manifest(path).get("schema")
    reader = spark.read
    if schema:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


def partition_rows(manifest: dict) -> dict[int, int]:
    """Rows per writing-task partition id (summed over that task's files)."""
    out: dict[int, int] = {}
    for name, n in manifest["file_rows"].items():
        pid = int(_PART_ID.match(os.path.basename(name)).group(1))
        out[pid] = out.get(pid, 0) + n
    return out


def num_rows(spark: SparkSession, path: str) -> int:
    """A committed table's row count: from the manifest, or a ``count()`` for
    a table committed without file row counts."""
    manifest = read_manifest(path)
    if "file_rows" in manifest:
        return sum(manifest["file_rows"].values())
    return read_table(spark, path).count()


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 64,
    sort: bool = True,
) -> None:
    """Persist a stage output bucketed (and sorted) by its join key.

    At cluster scale the pair table and the docs table meet on conv_id in
    every scoring stage; bucketing both sides by the key lets Catalyst plan
    the join with NO exchange (bucket-local sort-merge) — the co-located-join
    strategy the north rule's partitioning requirement points at. Uses the
    session catalog (works without Hive for parquet source tables).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(name)
