"""min / average / max linkage clustering vs a sequential reference-style
emulator (best-first merging, the reference's priority-queue semantics —
resolver.py:506-555 + 988-1015) on complete pair tables."""

import itertools
import random

import pyspark.sql.functions as F
import pytest

from entityresolution_capstone_spark.operators.linkage import (
    cluster_pair_linkage,
    linkage_clustering,
)
from tests.test_cc import persistent_rdd_ids


def seq_linkage(ids, sims, threshold, linkage):
    """Sequential best-first agglomerative merging (reference semantics).

    ``sims``: {(i, j): sim} over unordered node pairs (missing -> 0.0).
    Returns the partition as a set of frozensets.
    """
    clusters = {i: {i} for i in ids}

    def node_sim(a, b):
        return sims.get((min(a, b), max(a, b)), 0.0)

    def link(ca, cb):
        vals = [node_sim(a, b) for a in clusters[ca] for b in clusters[cb]]
        if linkage == "min":
            return min(vals)
        if linkage == "max":
            return max(vals)
        return sum(vals) / len(vals)

    while True:
        best = None
        for ca, cb in itertools.combinations(sorted(clusters), 2):
            s = link(ca, cb)
            # deterministic tie-break mirroring the distributed orderBy:
            # higher link first, then smaller labels
            key = (-s, ca, cb)
            if s >= threshold and (best is None or key < best[0]):
                best = (key, ca, cb)
        if best is None:
            return {frozenset(m) for m in clusters.values()}
        _, ca, cb = best
        keep, drop = min(ca, cb), max(ca, cb)
        clusters[keep] = clusters[keep] | clusters[drop]
        del clusters[drop]


def _spark_partition(spark, ids, sims, threshold, linkage):
    pairs = spark.createDataFrame(
        [(f"n{a:03d}", f"n{b:03d}", s) for (a, b), s in sims.items()],
        "id1 string, id2 string, sim double",
    )
    all_ids = spark.createDataFrame([(f"n{i:03d}",) for i in ids], "conv_id string")
    out = linkage_clustering(pairs, all_ids, threshold, linkage).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["cluster_id"], set()).add(int(r["conv_id"][1:]))
    return {frozenset(m) for m in groups.values()}


@pytest.mark.parametrize("linkage", ["min", "average", "max"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_matches_sequential_reference(spark, linkage, seed):
    rng = random.Random(seed)
    ids = list(range(10))
    # complete pair table (the reference scores every member product on
    # demand; completeness makes the missing-pairs-are-zero convention moot)
    sims = {
        (a, b): round(rng.random(), 6) for a, b in itertools.combinations(ids, 2)
    }
    threshold = 0.6
    want = seq_linkage(ids, sims, threshold, linkage)
    got = _spark_partition(spark, ids, sims, threshold, linkage)
    assert got == want


def test_average_linkage_golden(spark):
    """Hand-checked: avg(0.9, 0.1) = 0.5 < 0.6 keeps c from joining {a,b};
    max linkage would merge all three."""
    sims = {(0, 1): 0.95, (0, 2): 0.9, (1, 2): 0.1}
    assert _spark_partition(spark, [0, 1, 2], sims, 0.6, "average") == {
        frozenset({0, 1}),
        frozenset({2}),
    }
    assert _spark_partition(spark, [0, 1, 2], sims, 0.6, "max") == {
        frozenset({0, 1, 2})
    }


def test_min_linkage_missing_pair_is_zero(spark):
    """Incomplete pair table: the missing (1,2) pair scores 0.0, so min
    linkage of {0,1} x {2} is 0 and c2 stays out even though (0,2) = 0.9."""
    sims = {(0, 1): 0.95, (0, 2): 0.9}
    assert _spark_partition(spark, [0, 1, 2], sims, 0.6, "min") == {
        frozenset({0, 1}),
        frozenset({2}),
    }


def test_cluster_pair_linkage_average_denominator(spark):
    """average divides by |C1|*|C2| (product), not by the scored-pair count."""
    pairs = spark.createDataFrame(
        [("a", "c", 0.8)], "id1 string, id2 string, sim double"
    )
    asg = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "conv_id string, cluster_id string"
    )
    row = cluster_pair_linkage(pairs, asg, "average").collect()[0]
    assert row["link"] == pytest.approx(0.8 / 2)


def test_linkage_leaves_one_persistent_rdd(spark):
    rng = random.Random(4)
    ids = list(range(10))
    sims = {(a, b): round(rng.random(), 6) for a, b in itertools.combinations(ids, 2)}
    pairs = spark.createDataFrame(
        [(f"n{a:03d}", f"n{b:03d}", s) for (a, b), s in sims.items()],
        "id1 string, id2 string, sim double",
    )
    all_ids = spark.createDataFrame([(f"n{i:03d}",) for i in ids], "conv_id string")
    before = persistent_rdd_ids(spark)
    out = linkage_clustering(pairs, all_ids, 0.5, "average")
    assert out.count() == len(ids)
    assert out.select("cluster_id").distinct().count() < len(ids)  # merges ran
    assert len(persistent_rdd_ids(spark) - before) <= 1
