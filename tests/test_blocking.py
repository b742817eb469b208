"""Blocking: key generation, MinHash-LSH banding, hot-block capping, pair gen."""

import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark import datagen
from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
from entityresolution_capstone_spark.operators import blocking as B
from entityresolution_capstone_spark.operators.canonicalize import canonical_docs


@pytest.fixture(scope="module")
def docs_and_dict(spark):
    spec = datagen.CorpusSpec(n_entities=20, convs_per_entity=3, seed=5)
    transcripts, labels = datagen.corpus_dataframes(spark, spec)
    docs = canonical_docs(transcripts).cache()
    dft = doc_frequencies(docs)
    tdict = B.token_dictionary(dft).cache()
    return docs, tdict, labels


def test_pairs_are_canonical_and_distinct(docs_and_dict):
    docs, tdict, _ = docs_and_dict
    cfg = B.BlockingConfig()
    blocks = B.build_blocks(docs, tdict, cfg)
    pairs = B.candidate_pairs(blocks, cfg)
    assert pairs.filter(F.col("id1") >= F.col("id2")).count() == 0
    assert pairs.count() == pairs.distinct().count()


def test_same_entity_convs_share_block(docs_and_dict):
    """Recall check: nearly all same-entity conv pairs must be candidates."""
    docs, tdict, labels = docs_and_dict
    cfg = B.BlockingConfig()
    pairs = B.candidate_pairs(B.build_blocks(docs, tdict, cfg), cfg)
    l1 = labels.selectExpr("conv_id as id1", "entity_id as e1")
    l2 = labels.selectExpr("conv_id as id2", "entity_id as e2")
    true_pairs = (
        l1.crossJoin(l2)
        .filter((F.col("id1") < F.col("id2")) & (F.col("e1") == F.col("e2")))
        .select("id1", "id2")
    )
    n_true = true_pairs.count()
    n_found = true_pairs.join(pairs, ["id1", "id2"]).count()
    assert n_found / n_true >= 0.98, f"blocking recall {n_found}/{n_true}"


def test_hot_block_capped(spark, docs_and_dict):
    """The seeded hot token must produce a block that gets capped + reported."""
    docs, tdict, _ = docs_and_dict
    cfg = B.BlockingConfig(max_block_size=5, use_minhash=False)
    blocks = B.build_blocks(docs, tdict, cfg)
    metrics = B.block_size_metrics(blocks, cfg)
    dropped = metrics.filter(F.col("dropped"))
    assert dropped.count() > 0
    # no pair may come from a dropped block alone
    pairs = B.candidate_pairs(blocks, cfg)
    biggest = metrics.orderBy(F.desc("size")).first()
    assert biggest["size"] > cfg.max_block_size


def test_minhash_bands_deterministic(docs_and_dict):
    docs, tdict, _ = docs_and_dict
    cfg = B.BlockingConfig()
    s1 = sorted(B.minhash_signatures(docs, tdict, cfg).collect())
    s2 = sorted(B.minhash_signatures(docs.repartition(3), tdict, cfg).collect())
    assert s1 == s2


def test_minhash_identical_docs_collide(spark, docs_and_dict):
    _, tdict, _ = docs_and_dict
    docs, _ = docs_and_dict[:2]
    cfg = B.BlockingConfig()
    two = docs.limit(1).union(docs.limit(1).withColumn("conv_id", F.lit("zz_copy")))
    sigs = B.minhash_signatures(two, tdict, cfg)
    # identical token sets -> identical band keys -> all keys shared
    per_key = sigs.groupBy("block_key").count()
    assert per_key.filter(F.col("count") != 2).count() == 0


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking
# ---------------------------------------------------------------------------

def _snm_brute(rows, window):
    """Scalar SNM oracle: sort by (key, id), pair ranks within window."""
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + window, len(order))):
            a, b = order[i][0], order[j][0]
            out.add((min(a, b), max(a, b)))
    return out


def test_snm_matches_brute_force(spark):
    import random

    from entityresolution_capstone_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    rng = random.Random(41)
    rows = [
        (f"r{i:03d}", "".join(rng.choice("abc") for _ in range(3)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "conv_id string, key string")
    for window in (2, 5, 9):
        got = {
            (r.id1, r.id2)
            for r in sorted_neighborhood_pairs(df, "key", window).collect()
        }
        assert got == _snm_brute(rows, window), f"window={window}"


def test_snm_identical_keys_stay_linear(spark):
    """A degenerate key (every record identical) must still produce exactly
    the window pairs — the property equality blocking lacks (one quadratic
    hot block); ties broken by id keep the output deterministic."""
    from entityresolution_capstone_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    n, w = 200, 6
    rows = [(f"r{i:03d}", "same") for i in range(n)]
    df = spark.createDataFrame(rows, "conv_id string, key string")
    pairs = sorted_neighborhood_pairs(df, "key", w).collect()
    # linear pair count: sum over ranks of min(w-1, n-1-rank)
    expected = sum(min(w - 1, n - 1 - i) for i in range(n))
    assert len(pairs) == expected == len({(p.id1, p.id2) for p in pairs})
    assert all(p.id1 < p.id2 for p in pairs)


def test_snm_window_validation(spark):
    import pytest as _pytest

    from entityresolution_capstone_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame([("a", "x")], "conv_id string, key string")
    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "key", 1)


# ---------------------------------------------------------------------------
# the band join: banded vs generic dispatch, kept-band mask, materialization
# ---------------------------------------------------------------------------

_BAND_CFG = B.BlockingConfig(
    use_token_keys=False,
    use_minhash=True,
    minhash_rows=2,
    minhash_bands=4,
    max_block_size=20,
    salt_block_size=5,
    salt_factor=3,
)


def _band_blocks():
    """(conv_id, block_key) rows in the ``mh:<band>:<h>_<h>`` format: band 0
    puts 30 docs into one block (capped at 20), bands 1-3 draw from a few
    keys so several blocks land in the salted range (5, 20]."""
    import random

    rng = random.Random(17)
    rows = []
    for d in range(60):
        cid = f"c{d:02d}"
        rows.append((cid, "mh:0:1_1" if d < 30 else f"mh:0:{d}_{d}"))
        for band in (1, 2, 3):
            h = rng.randrange(6 if band < 3 else 40)
            rows.append((cid, f"mh:{band}:{h}_{h + band}"))
    return rows


def _brute_force_pairs(rows, max_block_size):
    members = {}
    for cid, key in rows:
        members.setdefault(key, set()).add(cid)
    weight = {}
    for ids in members.values():
        if len(ids) > max_block_size:
            continue
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                weight[(a, b)] = weight.get((a, b), 0) + 1
    return weight


def _is_banded(df):
    return "ArrowEvalPython" not in df._jdf.queryExecution().executedPlan().toString()


def test_band_join_paths_agree_with_brute_force(spark):
    """The banded path (packed keys, first_band_match) and the generic path
    (dense-id payload, Arrow kernel) give the same pairs and CBS weights as a
    driver-side brute force over the kept blocks — with one capped block and
    several salted ones."""
    import dataclasses

    rows = _band_blocks()
    want = _brute_force_pairs(rows, _BAND_CFG.max_block_size)
    sizes = {}
    for _, key in rows:
        sizes[key] = sizes.get(key, 0) + 1
    assert max(sizes.values()) > _BAND_CFG.max_block_size
    assert sum(
        _BAND_CFG.salt_block_size < n <= _BAND_CFG.max_block_size
        for n in sizes.values()
    ) >= 3
    blocks = spark.createDataFrame(rows, "conv_id string, block_key string")
    generic_cfg = dataclasses.replace(_BAND_CFG, custom_key_fn=lambda d: d)
    banded = B.candidate_pairs(blocks, _BAND_CFG, with_weight=True)
    generic = B.candidate_pairs(blocks, generic_cfg, with_weight=True)
    assert _is_banded(banded) and not _is_banded(generic)
    for out in (banded, generic):
        got = [(r["id1"], r["id2"], r["weight"]) for r in out.collect()]
        assert len(got) == len({(a, b) for a, b, _ in got})
        assert {(a, b): w for a, b, w in got} == want
    unweighted = B.candidate_pairs(blocks, _BAND_CFG)
    assert {(r["id1"], r["id2"]) for r in unweighted.collect()} == set(want)


def test_banded_pair_in_dropped_and_kept_band_emitted_once(spark):
    """Two docs share a DROPPED band-0 block and a kept band-2 block: the
    dropped band must not suppress the pair, and it is emitted exactly once
    (under band 2), with weight 1."""
    rows = [("a", "mh:0:5_5"), ("b", "mh:0:5_5"), ("c", "mh:0:5_5")]
    rows += [("a", "mh:1:1_1"), ("b", "mh:1:2_2"), ("c", "mh:1:3_3")]
    rows += [("a", "mh:2:7_7"), ("b", "mh:2:7_7"), ("c", "mh:2:8_8")]
    rows += [("a", "mh:3:1_1"), ("b", "mh:3:2_2"), ("c", "mh:3:3_3")]
    blocks = spark.createDataFrame(rows, "conv_id string, block_key string")
    cfg = B.BlockingConfig(
        use_token_keys=False, minhash_rows=2, minhash_bands=4, max_block_size=2
    )
    got = B.candidate_pairs(blocks, cfg, with_weight=True).collect()
    assert [(r["id1"], r["id2"], r["weight"]) for r in got] == [("a", "b", 1)]


def test_candidate_pairs_leaves_no_cached_frames(spark):
    """Both candidate_pairs paths pin their intermediates with
    localCheckpoint: nothing lands in the CacheManager, and no caller has
    frames to release."""
    import dataclasses

    blocks = spark.createDataFrame(_band_blocks(), "conv_id string, block_key string")
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for cfg in (_BAND_CFG, dataclasses.replace(_BAND_CFG, custom_key_fn=lambda d: d)):
        assert B.candidate_pairs(blocks, cfg).count() > 0
        assert cm.isEmpty()
