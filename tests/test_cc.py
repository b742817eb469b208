"""Connected-components (large-star/small-star) correctness tests.

Oracle: a tiny in-test union-find (pure Python) — independent of the Spark
implementation. Random graphs via hypothesis-style seeds (deterministic numpy).
"""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from entityresolution_capstone_spark.operators import cc as CC
from entityresolution_capstone_spark.operators.cc import (
    assign_clusters,
    connected_components,
)


def uf_components(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # label by min member id
    groups = {}
    for i in range(n_nodes):
        groups.setdefault(find(i), []).append(i)
    out = {}
    for members in groups.values():
        root = min(members)
        for m in members:
            out[m] = root
    return out


def _ids(i):
    return f"n{i:05d}"


@pytest.mark.parametrize("seed,n,m", [(0, 30, 20), (1, 200, 150), (2, 100, 300)])
def test_cc_matches_union_find(spark, seed, n, m):
    rng = np.random.Generator(np.random.PCG64(seed))
    edges = [(int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    want = uf_components(n, edges)

    edf = spark.createDataFrame(
        [(_ids(min(a, b)), _ids(max(a, b))) for a, b in edges], ["id1", "id2"]
    )
    all_ids = spark.createDataFrame([(_ids(i),) for i in range(n)], ["conv_id"])
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in assign_clusters(all_ids, connected_components(edf)).collect()
    }
    for i in range(n):
        assert got[_ids(i)] == _ids(want[i]), f"node {i}"


def test_cc_chain_and_singletons(spark):
    # a long path (worst case for naive propagation) + isolated nodes
    n = 64
    edf = spark.createDataFrame(
        [(_ids(i), _ids(i + 1)) for i in range(n - 1)], ["id1", "id2"]
    )
    all_ids = spark.createDataFrame(
        [(_ids(i),) for i in range(n + 5)], ["conv_id"]
    )
    got = assign_clusters(all_ids, connected_components(edf))
    rows = got.collect()
    labels = {r["conv_id"]: r["cluster_id"] for r in rows}
    for i in range(n):
        assert labels[_ids(i)] == _ids(0)
    for i in range(n, n + 5):
        assert labels[_ids(i)] == _ids(i)  # singletons keep their own id


def test_cc_deterministic(spark):
    rng = np.random.Generator(np.random.PCG64(9))
    edges = [
        (int(rng.integers(0, 50)), int(rng.integers(0, 50))) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(
        [(_ids(a), _ids(b)) for a, b in edges], ["id1", "id2"]
    )
    r1 = sorted(connected_components(edf).collect())
    r2 = sorted(connected_components(edf.repartition(7)).collect())
    assert r1 == r2


def persistent_rdd_ids(spark):
    """Ids of the RDDs the SparkContext holds persisted. Tests compare sets,
    not sizes: the ContextCleaner may drop older entries mid-call."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _check_against_union_find(spark, edge_list):
    """connected_components == union-find over the nodes of the non-loop
    edges: every non-root node once, labelled with its component's min id."""
    nodes = sorted({x for a, b in edge_list if a != b for x in (a, b)})
    index = {x: i for i, x in enumerate(nodes)}
    want = uf_components(
        len(nodes), [(index[a], index[b]) for a, b in edge_list if a != b]
    )
    edf = spark.createDataFrame(edge_list, "id1 long, id2 long")
    rows = connected_components(edf).collect()
    got = {r["conv_id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows)  # each node once
    assert got == {
        x: nodes[want[i]] for i, x in enumerate(nodes) if nodes[want[i]] != x
    }


def test_cc_long_chain_shuffled_ids(spark):
    ids = list(range(10_000, 10_600))
    random.Random(5).shuffle(ids)
    _check_against_union_find(spark, [(ids[i], ids[i + 1]) for i in range(599)])


def test_cc_star_centre_not_min(spark):
    # 20k leaves around a centre in the middle of the id range: the label
    # is the smallest leaf, not the centre
    centre = 10_000
    _check_against_union_find(
        spark, [(centre, i) for i in range(20_001) if i != centre]
    )


def test_cc_duplicates_reversed_and_self_loops(spark):
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (4, 3), (9, 9), (5, 6),
             (6, 7), (7, 5), (7, 5), (8, 6)]
    _check_against_union_find(spark, edges)
    assert {r["conv_id"] for r in connected_components(
        spark.createDataFrame(edges, "id1 long, id2 long")).collect()} == {
        2, 4, 6, 7, 8}  # self-loop-only node 9 is not returned


def test_cc_empty_edge_list(spark):
    edf = spark.createDataFrame([], "id1 long, id2 long")
    assert connected_components(edf).collect() == []


def test_cc_converged_star_forest(spark, monkeypatch):
    # already the fixpoint: one round settles it, so a bound of 1 suffices
    monkeypatch.setattr(CC, "MAX_ROUNDS", 1)
    _check_against_union_find(
        spark, [(1, 2), (3, 1), (1, 4), (10, 11), (12, 10), (20, 21)]
    )


def test_cc_round_bound_raises(spark, monkeypatch):
    monkeypatch.setattr(CC, "MAX_ROUNDS", 1)
    edf = spark.createDataFrame([(i, i + 1) for i in range(16)], "id1 long, id2 long")
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edf)
    assert persistent_rdd_ids(spark) <= before


def test_cc_sets_no_session_conf(spark, monkeypatch):
    calls = []
    real_set = RuntimeConfig.set

    def spy(self, key, value=None):
        calls.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    edf = spark.createDataFrame([(i, i + 1) for i in range(40)], "id1 long, id2 long")
    assert connected_components(edf).count() == 40
    assert calls == []


def test_cc_leaves_one_persistent_rdd(spark):
    rng = np.random.Generator(np.random.PCG64(3))
    edf = spark.createDataFrame(
        [(int(rng.integers(0, 300)), int(rng.integers(0, 300))) for _ in range(400)],
        "id1 long, id2 long",
    )
    before = persistent_rdd_ids(spark)
    comps = connected_components(edf)
    assert comps.count() > 0
    assert len(persistent_rdd_ids(spark) - before) <= 1
