"""G2 — min / average / max linkage agglomerative clustering, distributed.

The reference supports ``linkage='min'|'average'|'max'`` on its sequential
priority-queue merge loop (/root/reference/src/entity_resolver/core/
resolver.py:988-1015; docs/source/advanced_guide.rst:316-320): the similarity
of two CLUSTERS is the min / mean / max of the pairwise similarities of their
members, recomputed as merging proceeds.

Distributed re-expression (no priority queue, no driver-side loop over pairs):
**round-synchronous reciprocal-best merging.** Each round

1. aggregates the fixed node-pair score table to cluster-pair linkage scores
   (one groupBy per round — min / sum+product-count / max);
2. keeps cluster pairs with linkage >= threshold;
3. merges every *mutual best* pair (A's best partner is B and B's is A —
   mutual-best pairs form a matching, so merges are conflict-free);
4. relabels and repeats until no merge happens.

min / average / max are *reducible* linkage functions (merging two clusters
cannot raise the linkage of any other pair above a former mutual-best), so
reciprocal-nearest-neighbor rounds produce the same final partition as the
reference's sequential best-first pops — pinned by tests/test_linkage.py
against a sequential emulator on randomized inputs.

Contract: node pairs ABSENT from ``scored_pairs`` count as similarity 0.0
(the candidate-pair universe is the blocking output; the reference instead
scores every member product on demand — feed a complete pair table for exact
reference parity, as the tests do). Under that convention:

- ``average`` = sum(present scores) / (|C1| * |C2|)
- ``min``     = 0.0 whenever any member pair is missing, else min(scores)
- ``max``     = max(present scores)   (missing pairs can never win)

``max`` linkage with alpha=0 stays equivalent to thresholded connected
components (operators/cc.py docstring) — this module exists for the other two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cc import observe_count, pin, round_step

LINKAGES = ("min", "average", "max")


def cluster_pair_linkage(
    scored_pairs: DataFrame,
    assignment: DataFrame,
    linkage: str = "average",
    sim_col: str = "sim",
) -> DataFrame:
    """(c1, c2, link): linkage score per cluster pair with >= 1 scored pair.

    ``scored_pairs``: (id1, id2, sim) node-level scores (unordered pairs).
    ``assignment``: (conv_id, cluster_id) current cluster labels.
    """
    if linkage not in LINKAGES:
        raise ValueError(f"linkage must be one of {LINKAGES}, got {linkage!r}")
    a1 = assignment.select(
        F.col("conv_id").alias("id1"), F.col("cluster_id").alias("_c1")
    )
    a2 = assignment.select(
        F.col("conv_id").alias("id2"), F.col("cluster_id").alias("_c2")
    )
    cp = (
        scored_pairs.join(a1, "id1")
        .join(a2, "id2")
        .filter(F.col("_c1") != F.col("_c2"))
        .select(
            F.least("_c1", "_c2").alias("c1"),
            F.greatest("_c1", "_c2").alias("c2"),
            F.col(sim_col).alias("_s"),
        )
    )
    agg = cp.groupBy("c1", "c2").agg(
        F.sum("_s").alias("_sum"),
        F.min("_s").alias("_min"),
        F.max("_s").alias("_max"),
        F.count("*").alias("_n"),
    )
    if linkage == "max":
        return agg.select("c1", "c2", F.col("_max").alias("link"))
    sizes = assignment.groupBy("cluster_id").agg(F.count("*").alias("_z"))
    s1 = sizes.select(F.col("cluster_id").alias("c1"), F.col("_z").alias("_z1"))
    s2 = sizes.select(F.col("cluster_id").alias("c2"), F.col("_z").alias("_z2"))
    # cluster count ~ corpus/dup-rate but the sizes table is 2 skinny columns;
    # no broadcast hint — AQE broadcasts when it fits
    agg = agg.join(s1, "c1").join(s2, "c2")
    denom = (F.col("_z1") * F.col("_z2")).cast("double")
    if linkage == "average":
        link = F.col("_sum") / denom
    else:  # min: any missing member pair scores 0.0
        link = F.when(
            F.col("_n") < (F.col("_z1") * F.col("_z2")),
            F.least("_min", F.lit(0.0)),
        ).otherwise(F.col("_min"))
    return agg.select("c1", "c2", link.alias("link"))


def relabel(
    assignment: DataFrame, mapping: DataFrame, *spent: DataFrame
) -> tuple[DataFrame, int]:
    """Apply ``mapping`` (cluster_id, _new) to the pinned ``assignment`` as one
    round of :func:`.cc.round_step` -> (new pinned assignment, labels changed).

    The change count is observed in the pinning job; ``assignment`` and the
    ``spent`` pins are released once the new assignment is pinned.
    """
    moved, changed = observe_count(
        assignment.join(mapping, "cluster_id", "left"), F.col("_new").isNotNull()
    )
    new = F.coalesce("_new", F.col("cluster_id")).alias("cluster_id")
    return round_step(moved.select("conv_id", new), changed, assignment, *spent)


def linkage_clustering(
    scored_pairs: DataFrame,
    all_ids: DataFrame,
    threshold: float,
    linkage: str = "average",
    max_rounds: int = 50,
    sim_col: str = "sim",
    initial_assignment: DataFrame | None = None,
) -> DataFrame:
    """Agglomerative clustering under the chosen linkage -> (conv_id, cluster_id).

    Labels are the min conv_id of each cluster (deterministic). Each round's
    assignment is pinned by :func:`relabel` — it is re-read by every branch
    of the next round's joins, and an un-truncated lineage would nest one
    plan per round.

    ``initial_assignment``: optional (conv_id, cluster_id) pre-clusters (e.g.
    exact-match bootstrap groups, the reference's pre-clustering step) —
    defaults to singletons.
    """
    assignment = pin(
        all_ids.select("conv_id", F.col("conv_id").alias("cluster_id"))
        if initial_assignment is None
        else initial_assignment.select("conv_id", "cluster_id")
    )
    for _ in range(max_rounds):
        cand = cluster_pair_linkage(scored_pairs, assignment, linkage, sim_col).filter(
            F.col("link") >= F.lit(float(threshold))
        )
        sym = cand.select(
            F.col("c1").alias("a"), F.col("c2").alias("b"), "link"
        ).unionByName(cand.select(F.col("c2").alias("a"), F.col("c1").alias("b"), "link"))
        # best partner per cluster as ONE aggregation (min_by over the
        # (-link, partner) struct == highest link, ties to the smaller label).
        # Deliberately not a row_number window: the aggregation map-side
        # combines instead of sorting each partition, and the window +
        # aliased self-join shape degrades pathologically in iterative loops
        # (measured: rounds went 1.5s -> 10s -> 100s; this shape stays flat).
        best = sym.groupBy("a").agg(
            F.min_by(
                "b", F.struct((F.lit(0.0) - F.col("link")).alias("nl"), F.col("b"))
            ).alias("b")
        )
        bx = best.select(F.col("a").alias("_pa"), F.col("b").alias("_pb"))
        by = best.select(F.col("a").alias("_pb"), F.col("b").alias("_pa"))
        # mutual-best pairs form a matching -> conflict-free parallel merges
        mutual = bx.join(by, ["_pa", "_pb"]).filter(F.col("_pa") < F.col("_pb"))
        mapping = mutual.select(
            F.col("_pb").alias("cluster_id"), F.col("_pa").alias("_new")
        )
        assignment, merged = relabel(assignment, mapping)
        if merged == 0:
            break
    return assignment.orderBy("conv_id")
