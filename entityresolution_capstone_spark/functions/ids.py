"""Deterministic dense ids without a single-task global sort.

``row_number() over (order by ...)`` with no partition clause is a one-task
global sort — the serialization point the token-dictionary family (MinHash /
SimHash / fingerprint / dense TF-IDF) used to sit on. At 10^8-10^9 distinct
tokens that one straggler dominates the stage.

:func:`dense_rank_ids` produces **bit-identical ids** with no single task:

1. ``repartitionByRange`` on the order columns — each partition holds one
   contiguous slice of the total order (Spark's RangePartitioner; boundary
   sampling may vary between runs, but ids depend only on the total order, so
   the output is deterministic regardless of where boundaries land);
2. per-partition ``row_number`` (parallel: one window task per range slice);
3. per-partition row counts, collected once right after the pin (numPartitions
   rows), become cumulative offsets inlined as a literal lookup on the
   partition id — every consumer reads the ids as a narrow projection of the
   pinned relation.

The DuckDB oracles keep the plain ``row_number() over (order by df, token)``
form: same values, different physical plan.

Requires a TOTAL order (order columns must be a unique key overall — for the
token dictionary, ``(df, token)`` is unique because ``token`` is). Ties across
a range boundary would otherwise make ids boundary-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_rank_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "token_id",
    num_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Add ``id_name`` = 1..n by the total order over ``order_cols``.

    Bit-identical to ``F.row_number().over(Window.orderBy(*order_cols))`` but
    with no single-partition sort (see module docstring). Returns the input
    columns plus the id column, cast to long.

    ``pin=False`` skips the internal eager localCheckpoint and returns the
    raw lazy plan — FOR PLAN INSPECTION ONLY (tests asserting the
    range-partitioned shape). With ``pin=False`` the offsets are counted on
    one evaluation of the range exchange and applied to another, whose
    boundaries may differ; every production caller must leave ``pin=True``.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    # MATERIALIZATION is load-bearing, not an optimization. `local` feeds
    # BOTH the per-partition counts and the id projection; without it each
    # would re-evaluate the repartitionByRange exchange, and
    # RangePartitioner re-SAMPLES its boundaries per evaluation (the sampling
    # seed incorporates the runtime RDD id, so two evaluations of the same
    # plan land different boundaries whenever Catalyst doesn't reuse the
    # exchange — column pruning on the counts branch is enough to break
    # reuse). `_pid` then names DIFFERENT range slices in the two
    # evaluations and the offsets compose ranks from mismatched boundaries —
    # observed as silently corrupted ids (Abt-Buy blocking recall 0.99 ->
    # 0.46 when _attach_key_payload's cur/keys branches disagreed).
    #
    # localCheckpoint (NOT .persist) is the lifecycle-correct pin: boundaries
    # are sampled exactly once (eager), lineage is truncated so every
    # consumer reads the same blocks, and — unlike a CacheManager entry,
    # which holds a strong JVM reference forever — the blocks are reclaimed
    # by the ContextCleaner as soon as no live plan references the RDD. A
    # long gate/bench session that builds hundreds of rank relations keeps
    # only the ones still reachable from a live DataFrame (the relation is
    # one row per DISTINCT key; blocks spill to disk under pressure). The
    # trade documented here: a lost block is a LOUD job failure (no lineage
    # to recompute), never a silent id-space corruption; production clusters
    # that need fault tolerance should use a reliable checkpoint dir.
    ranked = parted.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy("_pid"))
    )
    local = ranked.localCheckpoint(eager=True) if pin else ranked
    # per-partition counts -> exclusive prefix sums, collected ONCE here (one
    # row per partition, no shuffle) and inlined as a literal array indexed
    # by `_pid`: consumers of the ids re-run no counts aggregate, window or
    # broadcast join
    counts = dict(local.filter(F.col("_rn") == 1).select("_pid", "_cnt").collect())
    offsets, acc = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(F.lit(acc).cast("long"))
        acc += counts.get(pid, 0)
    off = F.element_at(F.array(*offsets), F.col("_pid") + 1) if offsets else F.lit(0)
    return local.withColumn(id_name, (off + F.col("_rn")).cast("long")).drop(
        "_pid", "_rn", "_cnt"
    )
