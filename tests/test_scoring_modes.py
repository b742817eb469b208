"""Scoring configurations beyond the default path: soft-TF-IDF kernel weights,
relational mix-in (alpha > 0), and the jaccard kernel."""

import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark import datagen
from entityresolution_capstone_spark.functions import relational as R
from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
from entityresolution_capstone_spark.operators import blocking as B
from entityresolution_capstone_spark.operators import scoring as SC
from entityresolution_capstone_spark.operators.canonicalize import canonical_docs


@pytest.fixture(scope="module")
def small(spark):
    spec = datagen.CorpusSpec(n_entities=8, convs_per_entity=3, seed=41)
    transcripts, labels = datagen.corpus_dataframes(spark, spec)
    docs = canonical_docs(transcripts).persist()
    dft = doc_frequencies(docs).persist()
    tdict = B.token_dictionary(dft)
    cfg = B.BlockingConfig()
    pairs = B.candidate_pairs(B.build_blocks(docs, tdict, cfg), cfg).persist()
    return docs, dft, pairs, labels


def test_stfidf_scoring_path(spark, small):
    docs, dft, pairs, _ = small
    scored = SC.score_pairs(
        pairs.limit(50),
        docs,
        SC.ScoringConfig(weights={"stfidf": 1.0}),
        df_table=dft,
        corpus_size=docs.count(),
    )
    rows = scored.collect()
    assert rows
    # soft-TF-IDF is NOT bounded by 1: the similarity map may pair a token
    # with a different, higher-idf token, exceeding the plain-cosine bound
    # (py_stringmatching behaves the same way). Identical docs score ~1.
    # Single-kernel weights: attr_sim IS the stfidf score.
    assert all(0.0 <= r["attr_sim"] < 2.0 for r in rows)
    assert all(r["sim"] == r["attr_sim"] for r in rows)


def test_jaccard_kernel_path(spark, small):
    docs, dft, pairs, _ = small
    scored = SC.score_pairs(
        pairs.limit(50), docs, SC.ScoringConfig(weights={"jaccard": 1.0})
    )
    rows = scored.collect()
    assert rows
    assert all(0.0 <= r["attr_sim"] <= 1.0 for r in rows)
    # single-kernel weights: attr_sim IS the token-set Jaccard
    toks = {r["conv_id"]: set(r["tokens"]) for r in docs.select("conv_id", "tokens").collect()}
    for r in rows:
        a, b = toks[r["id1"]], toks[r["id2"]]
        want = len(a & b) / len(a | b) if a | b else 1.0
        assert r["attr_sim"] == pytest.approx(want, abs=1e-12)


def test_alpha_relational_mix(spark, small):
    """sim = (1-α)·attr + α·rel (resolver.py:970-986)."""
    docs, dft, pairs, _ = small
    # co-occurrence edges: consecutive convs share a hyper-edge
    ids = [r["conv_id"] for r in docs.select("conv_id").orderBy("conv_id").collect()]
    edges = spark.createDataFrame(
        [(cid, i // 2) for i, cid in enumerate(ids)], ["conv_id", "edge_id"]
    )
    clusters = docs.select("conv_id", F.col("conv_id").alias("cluster_id"))
    nbrs = R.cluster_neighbors(clusters, edges)
    p = pairs.limit(30)
    rel = R.rel_sim_pairs(
        p.select(F.col("id1").alias("c1"), F.col("id2").alias("c2")),
        nbrs,
        "jaccard_coef",
    )
    scored = SC.score_pairs(
        p,
        docs,
        SC.ScoringConfig(weights={"lev": 1.0}, alpha=0.5),
        rel_scores=rel,
    )
    rel_map = {
        (r["c1"], r["c2"]): r["rel_sim"] for r in rel.collect()
    }
    rows = scored.collect()
    assert rows
    for r in rows:
        expected = 0.5 * r["attr_sim"] + 0.5 * rel_map.get((r["id1"], r["id2"]), 0.0)
        assert r["sim"] == pytest.approx(expected, abs=1e-9)


def test_weights_must_sum_to_one():
    with pytest.raises(ValueError):
        SC.ScoringConfig(weights={"jw": 0.5, "lev": 0.2})


def _driver_reference(docs, dft, pairs, n_docs, weights, prefix_len):
    """attr_sim computed independently of score_pairs, on the driver: the
    char kernels by jaro_winkler_batch / scaled_levenshtein_batch over the
    collected prefixes, the TF-IDF cosine in plain Python from the collected
    tokens and DF table."""
    import numpy as np

    from entityresolution_capstone_spark.functions.similarity import (
        jaro_winkler_batch,
        scaled_levenshtein_batch,
    )
    from reference_emulator import tfidf_cosine

    rows = docs.select("conv_id", "doc_prefix", "tokens").collect()
    prefix = {r["conv_id"]: r["doc_prefix"] for r in rows}
    tokens = {r["conv_id"]: list(r["tokens"]) for r in rows}
    df = {r["token"]: r["df"] for r in dft.collect()}
    keys = [(r["id1"], r["id2"]) for r in pairs.collect()]
    x = np.array([prefix[a] for a, _ in keys], dtype=object)
    y = np.array([prefix[b] for _, b in keys], dtype=object)
    kernels = {
        "jw": jaro_winkler_batch(x, y, max_len=prefix_len),
        "lev": scaled_levenshtein_batch(x, y, max_len=prefix_len),
        "tfidf": np.array([tfidf_cosine(tokens[a], tokens[b], df, n_docs) for a, b in keys]),
    }
    total = sum(w * kernels[k] for k, w in weights.items())
    return dict(zip(keys, total))


@pytest.mark.parametrize("weights", ["default", "tfidf_only"])
@pytest.mark.parametrize("route", ["dense", "sparse", "sparse_shuffled"])
def test_score_pairs_matches_driver_references(spark, small, monkeypatch, route, weights):
    """Both TF-IDF routes (the sparse one with and without the broadcast of
    its weight table) give the weighted sum of independently computed
    kernels, and keep every input pair (a pair sharing no token scores a
    tfidf term of 0, it is not dropped)."""
    docs, dft, pairs, _ = small
    monkeypatch.setattr(SC, "DENSE_TFIDF_MAX_VOCAB", 10**6 if route == "dense" else 0)
    if route == "sparse_shuffled":
        monkeypatch.setattr(SC, "SPARSE_TFIDF_BROADCAST_MAX_ROWS", -1)
    # candidate pairs plus every pair among a few docs, so some pairs share
    # no candidate block
    ids = sorted(r["conv_id"] for r in docs.select("conv_id").collect())[:6]
    cross = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id1 string, id2 string"
    )
    p = pairs.select("id1", "id2").unionByName(cross).distinct()
    cfg = SC.ScoringConfig() if weights == "default" else SC.ScoringConfig(weights={"tfidf": 1.0})
    n = docs.count()
    got = {
        (r["id1"], r["id2"]): (r["attr_sim"], r["sim"])
        for r in SC.score_pairs(p, docs, cfg, df_table=dft, corpus_size=n).collect()
    }
    want = _driver_reference(docs, dft, p, n, cfg.weights, cfg.prefix_len)
    assert set(got) == set(want) and len(want) > len(ids)
    for k, (attr, sim) in got.items():
        assert abs(attr - want[k]) < 1e-9, k
        assert sim == attr


def test_jw_prefix_weight_takes_effect(spark):
    """ScoringConfig.jw_prefix_weight reaches the fused kernel, on both its
    uniform-length (shared tensor) and general chunk paths."""
    import numpy as np

    from entityresolution_capstone_spark.functions.similarity import jaro_winkler_batch

    # 300 equal-length pairs take the modal-length fused path; the mixed
    # lengths take the general one. Every pair shares a prefix and jaro < 1.
    rows = [("martha%03d" % i, "marhta%03d" % i) for i in range(300)]
    rows += [("dwayne", "duane"), ("dixon", "dicksonx"), ("jellyfish", "jellyfishes")]
    docs = spark.createDataFrame(
        [(f"a{i}", a) for i, (a, _) in enumerate(rows)]
        + [(f"b{i}", b) for i, (_, b) in enumerate(rows)],
        "conv_id string, doc_prefix string",
    )
    # one partition, so a single Arrow batch holds all 300 modal-length pairs
    pairs = spark.createDataFrame(
        [(f"a{i}", f"b{i}") for i in range(len(rows))], "id1 string, id2 string"
    ).coalesce(1)
    x = np.array([a for a, _ in rows], dtype=object)
    y = np.array([b for _, b in rows], dtype=object)

    def scores(pw):
        cfg = SC.ScoringConfig(weights={"jw": 1.0}, jw_prefix_weight=pw)
        out = SC.score_pairs(pairs, docs, cfg).collect()
        by_id = {r["id1"]: r["attr_sim"] for r in out}
        return np.array([by_id[f"a{i}"] for i in range(len(rows))])

    at_02 = scores(0.2)
    want = jaro_winkler_batch(x, y, prefix_weight=0.2, max_len=64)
    assert np.array_equal(at_02, want)
    at_01 = scores(0.1)
    assert np.all(at_02 > at_01)


def test_scoring_leaves_no_cached_frames(spark, small, monkeypatch, tmp_path):
    """score_pairs returns a lazy frame, so it must persist nothing it could
    never release: scoring plus a write adds no cache-manager entries, on
    either TF-IDF route."""
    docs, dft, pairs, _ = small
    cm = spark._jsparkSession.sharedState().cacheManager()
    n = docs.count()
    for route, cap in (("dense", 10**6), ("sparse", 0)):
        monkeypatch.setattr(SC, "DENSE_TFIDF_MAX_VOCAB", cap)
        before = cm.numCachedEntries()
        SC.score_pairs(pairs, docs, SC.ScoringConfig(), df_table=dft, corpus_size=n).write.parquet(
            str(tmp_path / route)
        )
        assert cm.numCachedEntries() == before, route


def test_slim_tfidf_only_keeps_all_pairs(spark, monkeypatch):
    """tfidf-only weights: pairs with NO shared token (cosine 0) must still
    appear in score_pairs output with attr_sim 0.0, on both TF-IDF routes
    (ADVICE fix: the sparse dot-product inner join used to drop them)."""
    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies

    docs = spark.createDataFrame(
        [
            ("c1", "alpha beta", ["alpha", "beta"]),
            ("c2", "alpha gamma", ["alpha", "gamma"]),
            ("c3", "delta", ["delta"]),
            ("c4", "", []),  # token-less doc
        ],
        "conv_id string, doc_prefix string, tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("c1", "c2"), ("c1", "c3"), ("c3", "c4")], "id1 string, id2 string"
    )
    dft = doc_frequencies(docs)
    for cap in (10**6, 0):  # dense route, then sparse route
        monkeypatch.setattr(SC, "DENSE_TFIDF_MAX_VOCAB", cap)
        out = SC.score_pairs(
            pairs, docs, SC.ScoringConfig(weights={"tfidf": 1.0}),
            df_table=dft, corpus_size=4,
        )
        rows = {(r["id1"], r["id2"]): r["attr_sim"] for r in out.collect()}
        assert set(rows) == {("c1", "c2"), ("c1", "c3"), ("c3", "c4")}, cap
        assert rows[("c1", "c3")] == 0.0 and rows[("c3", "c4")] == 0.0, cap
        assert rows[("c1", "c2")] > 0.0, cap


def test_stfidf_vocab_cap_falls_back_to_distributed(spark, monkeypatch):
    """Above STFIDF_MAX_VOCAB, score_pairs switches to the fully distributed
    soft-TF-IDF plan (functions/tfidf.py:soft_tfidf_pairs) instead of the
    driver-broadcast dict — scores must be identical either way (r3: the cap
    no longer refuses, it reroutes)."""
    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators.scoring import (
        ScoringConfig,
        score_pairs,
    )

    docs = spark.createDataFrame(
        [
            ("c%d" % i, "tok%d sharedx" % i, ["tok%d" % i, "sharedx"])
            for i in range(30)
        ],
        "conv_id string, doc_prefix string, tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("c%d" % i, "c%d" % (i + 1)) for i in range(29)], "id1 string, id2 string"
    )
    dft = doc_frequencies(docs)

    def scores(cap):
        monkeypatch.setattr(SC, "STFIDF_MAX_VOCAB", cap)
        cfg = ScoringConfig(weights={"stfidf": 1.0})
        out = score_pairs(pairs, docs, cfg, df_table=dft, corpus_size=30)
        return {(r["id1"], r["id2"]): r["attr_sim"] for r in out.collect()}

    broadcast_path = scores(10_000)  # vocab (31 tokens) fits → dict broadcast
    distributed_path = scores(10)  # vocab exceeds cap → distributed fallback
    assert set(broadcast_path) == set(distributed_path) and broadcast_path
    for k in broadcast_path:
        assert abs(broadcast_path[k] - distributed_path[k]) < 1e-12, k


def test_stfidf_byte_cap_falls_back_to_distributed(spark, monkeypatch):
    """VERDICT r4 item 6: the driver dict is also capped in BYTES, not just
    rows — a small row count of long tokens must reroute to the distributed
    soft_tfidf_pairs plan, with identical scores."""
    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators.scoring import (
        ScoringConfig,
        score_pairs,
    )

    # ~30 distinct tokens of ~40 chars: far under any row cap, ~5 KB of chars
    docs = spark.createDataFrame(
        [
            ("c%d" % i, "t", ["longtoken%04d" % i + "x" * 30, "shared" + "y" * 30])
            for i in range(30)
        ],
        "conv_id string, doc_prefix string, tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("c%d" % i, "c%d" % (i + 1)) for i in range(29)], "id1 string, id2 string"
    )
    dft = doc_frequencies(docs)

    def scores(byte_cap):
        monkeypatch.setattr(SC, "STFIDF_MAX_VOCAB_BYTES", byte_cap)
        cfg = ScoringConfig(weights={"stfidf": 1.0})
        out = score_pairs(pairs, docs, cfg, df_table=dft, corpus_size=30)
        return {(r["id1"], r["id2"]): r["attr_sim"] for r in out.collect()}

    # 64 MB default: dict path. 1 KB: 31 entries × (104 B + ~42 chars) ≈ 4.5 KB
    # estimate exceeds the cap → must reroute to the distributed plan.
    dict_path = scores(64 << 20)
    rerouted = scores(1 << 10)
    assert set(dict_path) == set(rerouted) and dict_path
    for k in dict_path:
        assert abs(dict_path[k] - rerouted[k]) < 1e-12, k


def test_dense_table_precompute_parity(spark, small, monkeypatch):
    """score_pairs with a caller-precomputed dense_table must be
    bit-identical to the inline dense path (bench.py materializes the
    per-doc featurization once in q_block and reuses it across scoring
    passes — the output may not depend on who derived the table)."""
    docs, dft, pairs, _ = small
    # the fixture's vocabulary is above the default gate; lift it
    monkeypatch.setattr(SC, "DENSE_TFIDF_MAX_VOCAB", 10**6)
    n_docs = docs.count()
    cfg = SC.ScoringConfig(weights={"jw": 0.3, "lev": 0.2, "tfidf": 0.5})

    inline = SC.score_pairs(
        pairs, docs, cfg, df_table=dft, corpus_size=n_docs
    )
    dense = SC.precompute_dense_tfidf(docs, dft, n_docs)
    assert dense is not None  # tiny corpus must take the dense path
    pre = SC.score_pairs(
        pairs, docs, cfg, df_table=dft, corpus_size=n_docs,
        dense_table=dense.persist(),
    )
    a = {(r["id1"], r["id2"]): r["attr_sim"] for r in inline.collect()}
    b = {(r["id1"], r["id2"]): r["attr_sim"] for r in pre.collect()}
    assert a == b and a
