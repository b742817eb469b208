"""EntityResolver facade (resolver_api.py) — reference-UX parity.

Builds a small author-graph JSON + ground truth (the reference's citeseer
shape: entities appear as noisy name variants across papers), then drives
resolve / evaluate / resolve_and_eval exactly as a reference user would.
"""

import json
import math

import pytest

from entityresolution_capstone_spark.resolver_api import EntityResolver


@pytest.fixture(scope="module")
def graph_files(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("er-facade")
    graph, gt = str(base / "graph.json"), str(base / "gt.json")
    # 12 entities x 4 mentions; every 4th mention abbreviates the first name
    # to its initial (the classic author-name variant)
    rows, truth = [], []
    people = [
        ("garcia", "maria"), ("smith", "john"), ("chen", "wei"),
        ("kumar", "anil"), ("ivanov", "dmitri"), ("tanaka", "yuki"),
        ("miller", "frank"), ("rossi", "paolo"), ("silva", "ana"),
        ("dubois", "claire"), ("novak", "petr"), ("haddad", "samir"),
    ]
    nid = 0
    for ent, (sn, fn) in enumerate(people):
        for m in range(4):
            name = f"{sn} {fn}" if m % 4 else f"{sn} {fn[0]}"
            rows.append(
                {"node_id": nid, "edge_id": ent * 4 + m, "attr_dict": {"name": name}}
            )
            truth.append({"node_id": nid, "cluster_id": ent})
            nid += 1
    with open(graph, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    with open(gt, "w") as f:
        f.write("\n".join(json.dumps(r) for r in truth))
    return graph, gt


def _resolver(spark, **kw):
    kw.setdefault("attr_types", {"name": "person_entity"})
    kw.setdefault("similarity_threshold", 0.85)
    return EntityResolver(spark=spark, **kw)


def test_resolve_returns_sorted_mapping(spark, graph_files):
    graph, _ = graph_files
    r = _resolver(spark)
    out = r.resolve(graph)
    assert list(out) == sorted(out) and len(out) == 48
    # the no-initial variant of each surname must land with its full variants
    clusters = {}
    for nid, cid in out.items():
        clusters.setdefault(cid, []).append(nid)
    assert max(len(v) for v in clusters.values()) >= 4


def test_resolve_and_eval_f1(spark, graph_files):
    graph, gt = graph_files
    r = _resolver(spark)
    p, rec, f1 = r.resolve_and_eval(gt, graph)
    assert f1 > 0.9, (p, rec, f1)


def test_evaluate_strategies(spark, graph_files):
    graph, gt = graph_files
    r = _resolver(spark)
    resolved = r.resolve(graph)
    r.evaluator_strategy = "v_measure"
    v = r.evaluate(gt, resolved)
    assert 0.9 < v <= 1.0 + 1e-6
    r.evaluator_strategy = "ami"
    assert 0.8 < r.evaluate(gt, resolved) <= 1.0 + 1e-6

    def my_metric(labels, preds):
        assert len(labels) == len(preds) == 48
        return ("custom", len(labels))

    r.evaluator_strategy = my_metric
    assert r.evaluate(gt, resolved) == ("custom", 48)


def test_plot_prc_contract(spark, graph_files):
    graph, gt = graph_files
    r = _resolver(spark, plot_prc=True)
    with pytest.raises(ValueError, match="resolve_and_eval"):
        r.resolve(graph)
    score, prc = r.resolve_and_eval(gt, graph)
    assert len(score) == 3 and len(prc) >= 4
    assert all(0 <= p <= 1 and 0 <= rec <= 1 for p, rec in prc)


def test_linkage_average_runs(spark, graph_files):
    graph, gt = graph_files
    r = _resolver(spark, linkage="average", similarity_threshold=0.75)
    p, rec, f1 = r.resolve_and_eval(gt, graph)
    assert not math.isnan(f1) and f1 > 0.5


def test_property_validation(spark):
    r = _resolver(spark)
    with pytest.raises(ValueError, match="alpha"):
        r.alpha = 1.5
    with pytest.raises(ValueError, match="linkage"):
        r.linkage = "median"
    with pytest.raises(ValueError, match="similarity_threshold"):
        r.similarity_threshold = 2
    with pytest.raises(ValueError, match="rel_strategy"):
        r.rel_strategy = "cosine"
    with pytest.raises(ValueError, match="weights"):
        r.weights = {"other": 1.0}
    with pytest.raises(ValueError, match="evaluator_strategy"):
        r.evaluator_strategy = "accuracy"


def test_second_sim_other_than_jaro_winkler_raises(spark):
    """Soft-TF-IDF's secondary similarity is Jaro-Winkler only: another
    ``second_sim`` is refused instead of being accepted and ignored."""
    assert _resolver(spark, second_sim="jaro_winkler")._kwargs["second_sim"] == "jaro_winkler"
    for other in ("jaro", "scaled_lev"):
        with pytest.raises(ValueError, match="second_sim"):
            _resolver(spark, second_sim=other)


def test_custom_blocking_key_generator(spark, graph_files):
    from pyspark.sql import functions as F

    graph, gt = graph_files

    def keygen(docs):
        # block on the first token (the surname) — a user-supplied key source
        return docs.select(
            "conv_id",
            F.concat(F.lit("sn:"), F.element_at("tokens", 1)).alias("block_key"),
        )

    r = _resolver(spark, blocking_strategy=keygen)
    p, rec, f1 = r.resolve_and_eval(gt, graph)
    assert f1 > 0.9


# ---------------------------------------------------------------------------
# reference-faithful sequential canopy blocking (r3: VERDICT item 6)
# ---------------------------------------------------------------------------

def _tutorial_edit_distance(attrs1, attrs2):
    """The tutorial's example blocking_strategy (docs/tutorial.rst:142-148):
    raw Levenshtein distance of the LAST NAMES (person_entity attr values are
    (last, first) tuples)."""
    a, b = attrs1["name"][0], attrs2["name"][0]
    # plain DP Levenshtein — independent of the package kernels on purpose
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _reference_canopy(node_list, strategy, threshold, seed):
    """Independent transcription of the reference's _blocking loop
    (/root/reference/src/entity_resolver/core/resolver.py:347-376)."""
    import random

    rng = random.Random(seed)
    order = rng.sample(node_list, k=len(node_list))
    buckets = []
    for node in order:
        assigned = False
        for bucket in buckets:
            if strategy(bucket[0][1], node[1]) < threshold:
                bucket.append(node)
                assigned = True
        if not assigned:
            buckets.append([node])
    return buckets


def test_canopy_blocking_replays_tutorial_example(spark, graph_files):
    graph, _ = graph_files
    r = _resolver(
        spark, blocking_strategy=_tutorial_edit_distance, blocking_threshold=3,
        seed=11,
    )
    nodes, edges, attrs = r._parse_graph(graph)
    got_pairs, _ = r._block(nodes, attrs)
    got = {(x["id1"], x["id2"]) for x in got_pairs.collect()}

    # independent expected pairs: same attr shapes, same loop, same seed
    rows = (
        nodes.select("conv_id", "name__pe")
        .dropDuplicates(["conv_id"]).orderBy("conv_id").collect()
    )
    node_list = [
        (x["conv_id"], {"name": (x["name__pe"]["last"], x["name__pe"]["first"])})
        for x in rows
    ]
    buckets = _reference_canopy(node_list, _tutorial_edit_distance, 3, 11)
    want = set()
    for bucket in buckets:
        ids = [nid for nid, _ in bucket]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                want.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    assert got == want and len(want) > 0
    nodes.unpersist()


def test_canopy_end_to_end_resolves(spark, graph_files):
    """The tutorial ctor shape (pairwise distance callable) must run the whole
    resolve() and still cluster the name variants together."""
    graph, _ = graph_files
    r = _resolver(
        spark, blocking_strategy=_tutorial_edit_distance, blocking_threshold=3,
        seed=7,
    )
    out = r.resolve(graph)
    clusters = {}
    for nid, cid in out.items():
        clusters.setdefault(cid, []).append(nid)
    assert max(len(v) for v in clusters.values()) >= 4


def test_canopy_gate_raises_above_limit(spark, graph_files):
    graph, _ = graph_files
    r = _resolver(
        spark, blocking_strategy=_tutorial_edit_distance, blocking_threshold=3,
        seed=7, canopy_max_records=10,
    )
    with pytest.raises(ValueError, match="canopy_max_records"):
        r.resolve(graph)
