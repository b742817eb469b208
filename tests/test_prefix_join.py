"""Prefix-filtering exact Jaccard join vs brute force; MinHash error audit."""

import itertools

from entityresolution_capstone_spark.operators import dedup
from entityresolution_capstone_spark.operators.dedup import (
    MinHashConfig,
    dedup_token_dict,
    minhash_jaccard_error,
    prefix_jaccard_join,
    prepare_docs,
)

DOCS = [
    (1, "apple banana cherry date elderberry fig"),
    (2, "apple banana cherry date elderberry grape"),      # J(1,2)=5/7
    (3, "apple banana cherry"),                            # subset of 1
    (4, "zebra yak xylophone walrus vulture"),
    (5, "zebra yak xylophone walrus vulture"),             # exact dup of 4
    (6, "apple zebra mango nectarine orange papaya"),
    (7, "one two three four five six seven eight nine ten"),
]


def _brute(threshold):
    sets = {i: set(t.split()) for i, t in DOCS}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 1_000_000 >= int(threshold * 1_000_000) * union:
            out[(a, b)] = (inter, union)
    return out


def test_prefix_join_equals_bruteforce(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    for t in (0.5, 0.7, 0.99):
        tn = int(t * 1_000_000)
        got = {
            (r["id1"], r["id2"]): (r["inter"], r["union"])
            for r in prefix_jaccard_join(docs, threshold_num=tn).collect()
        }
        assert got == _brute(t), f"threshold {t}"


def test_prefix_join_threshold_boundary(spark):
    # J = 3/5 exactly: must be INCLUDED at t=0.6 (>=, not >)
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"]
    )
    rows = prefix_jaccard_join(docs, threshold_num=600_000).collect()
    assert len(rows) == 1
    assert rows[0]["inter"] == 3 and rows[0]["union"] == 5
    assert rows[0]["jaccard"] == 0.6


def test_minhash_error_identical_docs(spark):
    docs = prepare_docs(
        spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "alpha beta gamma delta epsilon"),
                (3, "alpha beta gamma delta zeta"),
            ],
            ["doc_id", "text"],
        )
    )
    tdict = dedup_token_dict(docs)
    rows = {
        (r["id1"], r["id2"]): r
        for r in minhash_jaccard_error(docs, tdict, MinHashConfig()).collect()
    }
    r12 = rows[(1, 2)]
    assert r12["est"] == 1.0 and r12["jaccard"] == 1.0 and r12["abs_err"] == 0.0
    for r in rows.values():
        assert 0.0 <= r["est"] <= 1.0
        assert 0.0 <= r["jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est"] - r["jaccard"])) < 1e-9


def _rows(df):
    return sorted(
        (r["id1"], r["id2"], r["inter"], r["union"], r["jaccard"]) for r in df.collect()
    )


def _force_pair_distinct_explode(monkeypatch):
    """The generic plan: pair-distinct emit-once and the explode overlap."""
    monkeypatch.setattr(dedup, "EMIT_ONCE_MAX_WORDS", 0)
    monkeypatch.setattr(dedup, "VERIFY_BITSET_MAX_WORDS", 0)


def test_prefix_join_bitset_matches_groupby_plan(spark, monkeypatch):
    """The emit-once bitset plan == the generic pair-distinct plan with the
    explode overlap, row for row (forced through the module constants on
    the same input)."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    for t in (0.5, 0.7):
        tn = int(t * 1_000_000)
        fast = _rows(prefix_jaccard_join(docs, threshold_num=tn))
        with monkeypatch.context() as m:
            _force_pair_distinct_explode(m)
            slow = _rows(prefix_jaccard_join(docs, threshold_num=tn))
        assert fast == slow and len(fast) > 0, f"threshold {t}"


def test_prefix_join_bitset_multiword_vocab(spark, monkeypatch):
    """Vocabulary spanning >64 dense ids exercises the multi-word masks and
    the bit-63 low-mask edge (shiftleft(1,63)-1 overflows under ANSI —
    regression for the emit-once plan). Compare against the forced generic
    plan on the same input."""
    rows = []
    # 90-token vocabulary; overlapping windows give pairs across word 0/1
    toks = [f"tok{i:03d}" for i in range(90)]
    for d in range(25):
        rows.append((d, " ".join(toks[d * 2 : d * 2 + 40])))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fast = _rows(prefix_jaccard_join(docs, threshold_num=500_000))
    _force_pair_distinct_explode(monkeypatch)
    slow = _rows(prefix_jaccard_join(docs, threshold_num=500_000))
    assert fast == slow and len(fast) > 0


def test_prefix_join_leaves_no_cached_frames(spark):
    """The per-doc id lists are pinned with localCheckpoint, never a
    CacheManager entry, so a call leaves nothing to release."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        assert prefix_jaccard_join(docs, threshold_num=600_000).count() > 0
        assert cm.isEmpty()


def test_prefix_join_long_documents_no_int_overflow(spark):
    """Prefix length and length filter multiply the threshold numerator by
    a token count: 600,000 x 4,000 exceeds an int, so they run in longs
    (ANSI raises on int overflow)."""
    a = [f"t{i}" for i in range(4000)]
    b = a[:3600] + [f"u{i}" for i in range(400)]
    docs = spark.createDataFrame([(1, " ".join(a)), (2, " ".join(b))], ["doc_id", "text"])
    rows = prefix_jaccard_join(docs, threshold_num=600_000).collect()
    assert [(r["id1"], r["id2"], r["inter"], r["union"]) for r in rows] == [(1, 2, 3600, 4400)]
