"""Iterative alpha>0 re-scoring (C5) vs the reference emulator's alpha
extension: per-round recomputation of cluster neighborhoods, uniqueness and
relational similarity must change merge outcomes across rounds."""

import itertools
import random

import pytest

from entityresolution_capstone_spark.operators.iterative import resolve_iterative
from tests.reference_emulator import resolve_alpha_rounds
from tests.test_cc import persistent_rdd_ids


def _run_spark(spark, ids, node_scores, edges, alpha, threshold, strategy):
    scores = spark.createDataFrame(
        [(f"n{a:02d}", f"n{b:02d}", s) for (a, b), s in node_scores.items()],
        "id1 string, id2 string, attr_sim double",
    )
    all_ids = spark.createDataFrame([(f"n{i:02d}",) for i in ids], "conv_id string")
    edge_df = spark.createDataFrame(
        [(f"n{i:02d}", int(e)) for i, e in edges.items()], "conv_id string, edge_id long"
    )
    out = resolve_iterative(
        scores, all_ids, edge_df, alpha=alpha, threshold=threshold,
        rel_strategy=strategy,
    ).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["cluster_id"], set()).add(int(r["conv_id"][1:]))
    return {frozenset(g) for g in groups.values()}


def _emu(ids, node_scores, edges, alpha, threshold, strategy):
    assign = resolve_alpha_rounds(
        [f"n{i:02d}" for i in ids],
        {(f"n{a:02d}", f"n{b:02d}"): s for (a, b), s in node_scores.items()},
        {f"n{i:02d}": e for i, e in edges.items()},
        alpha, threshold, strategy=strategy,
    )
    groups = {}
    for n, c in assign.items():
        groups.setdefault(c, set()).add(int(n[1:]))
    return {frozenset(g) for g in groups.values()}


@pytest.mark.parametrize(
    "strategy", ["jaccard_coef", "jaccard_coef_fr", "adar_neighbor", "adar_neighbor_fr"]
)
@pytest.mark.parametrize("seed", [11, 12])
def test_matches_emulator_random(spark, strategy, seed):
    rng = random.Random(seed)
    ids = list(range(8))
    node_scores = {
        (a, b): round(rng.random(), 4) for a, b in itertools.combinations(ids, 2)
    }
    edges = {i: i % 3 for i in ids}
    alpha, threshold = 0.4, 0.62
    want = _emu(ids, node_scores, edges, alpha, threshold, strategy)
    got = _run_spark(spark, ids, node_scores, edges, alpha, threshold, strategy)
    assert got == want


def test_rescoring_changes_round_two(spark):
    """A merge in round 1 must RAISE the relational similarity of a second
    pair above threshold in round 2 — the defining behavior of C5 (a single
    scoring pass would leave that pair unmerged).

    Construction: edges {0:(a,c), 1:(b,c), 2:(a,b)} as hyper-edges shared by
    (a,c), (b,c), (a,b). Initially a and b share neighbor c... tuned so that
    jaccard(a,b) crosses the bar only after a's and b's neighborhoods collapse.
    """
    # nodes: 0,1 have high attr sim (merge round 1); 2 is attr-similar to the
    # merged {0,1} only via rel boost after the merge
    ids = [0, 1, 2, 3]
    node_scores = {
        (0, 1): 0.99,   # merges immediately
        (0, 2): 0.55, (1, 2): 0.55,   # below (1-a)*attr alone
        (0, 3): 0.0, (1, 3): 0.0, (2, 3): 0.0,
    }
    # same hyper-edge for 0 and 2; another for 1 and 2: after {0,1} merge,
    # 2's neighborhood = {{0,1}, 2} and {0,1}'s contains 2 and itself ->
    # jaccard jumps
    edges = {0: 10, 1: 11, 2: 10, 3: 12}
    alpha, threshold = 0.4, 0.55
    want = _emu(ids, node_scores, edges, alpha, threshold, "jaccard_coef")
    got = _run_spark(spark, ids, node_scores, edges, alpha, threshold, "jaccard_coef")
    assert got == want
    # and it actually took re-scoring: 2 ends up with {0,1}
    assert frozenset({0, 1, 2}) in got


def test_adar_attr_strategy(spark):
    """adar_attr[_fr]: ambiguity-based uniqueness table recomputed per round."""
    from pyspark.sql import functions as F

    ids = [0, 1, 2, 3]
    node_scores = {(0, 1): 0.9, (2, 3): 0.9, (0, 2): 0.3}
    edges = {0: 5, 1: 5, 2: 6, 3: 6}
    scores = spark.createDataFrame(
        [(f"n{a:02d}", f"n{b:02d}", s) for (a, b), s in node_scores.items()],
        "id1 string, id2 string, attr_sim double",
    )
    all_ids = spark.createDataFrame([(f"n{i:02d}",) for i in ids], "conv_id string")
    edge_df = spark.createDataFrame(
        [(f"n{i:02d}", e) for i, e in edges.items()], "conv_id string, edge_id long"
    )
    attr_docs = spark.createDataFrame(
        [(f"n{i:02d}", f"a{i % 2}", f"b{i}") for i in ids],
        "conv_id string, a1 string, a2 string",
    )
    out = resolve_iterative(
        scores, all_ids, edge_df, alpha=0.3, threshold=0.6,
        rel_strategy="adar_attr", attr_docs=attr_docs, a1="a1", a2="a2",
    ).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    got = {frozenset(g) for g in groups.values()}
    assert got == {frozenset({"n00", "n01"}), frozenset({"n02", "n03"})}


def test_alpha_zero_rejected(spark):
    import pyspark.sql.functions as F  # noqa

    scores = spark.createDataFrame([("a", "b", 1.0)], "id1 string, id2 string, attr_sim double")
    ids = spark.createDataFrame([("a",), ("b",)], "conv_id string")
    edges = spark.createDataFrame([("a", 0), ("b", 0)], "conv_id string, edge_id long")
    with pytest.raises(ValueError, match="alpha"):
        resolve_iterative(scores, ids, edges, alpha=0.0, threshold=0.5)


def test_driver_query_er_iterative_smoke(spark):
    """The C5 driver query returns one assignment row per conversation."""
    from entityresolution_capstone_spark.plans import driver_queries as DQ

    out = DQ.q_er_iterative(spark, "/root/testdata/sf0.001")
    assert out.columns == ["conv_id", "cluster_id"]
    rows = out.collect()
    assert len(rows) == 500
    # cluster ids are member conv_ids (least-id representative convention)
    ids = {r["conv_id"] for r in rows}
    assert all(r["cluster_id"] in ids for r in rows)


def test_iterative_leaves_one_persistent_rdd(spark):
    rng = random.Random(11)
    ids = list(range(8))
    node_scores = {
        (a, b): round(rng.random(), 4) for a, b in itertools.combinations(ids, 2)
    }
    edges = {i: i % 3 for i in ids}
    before = persistent_rdd_ids(spark)
    got = _run_spark(spark, ids, node_scores, edges, 0.4, 0.62, "jaccard_coef")
    assert len(got) < len(ids)  # merges ran
    assert len(persistent_rdd_ids(spark) - before) <= 1
