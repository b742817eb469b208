"""String-similarity kernel golden tests.

Pins the NumPy batch kernels to:
1. classic published Jaro/JW values,
2. DuckDB's independent implementations (property-ish, random strings),
3. the REFERENCE's own soft-TF-IDF golden fixture
   (/root/reference/tests/test_core.py:100-114,151-167): corpus
   ['a aa','b ab','a ba','b bb'], pairwise sims 0.90/0.73/0.00/0.68/0.73/0.90.
"""

from unittest import mock

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from entityresolution_capstone_spark.functions import similarity as S
from entityresolution_capstone_spark.functions.similarity import (
    char_sim_batch,
    jaro_batch,
    jaro_winkler_batch,
    levenshtein_batch,
    make_weighted_char_sim_udf,
    scaled_levenshtein_batch,
)
from entityresolution_capstone_spark.functions.tfidf import soft_tfidf_raw


def k(f, a, b, **kw):
    return float(f(np.array([a], dtype=object), np.array([b], dtype=object), **kw)[0])


def test_jaro_known_values():
    assert round(k(jaro_batch, "martha", "marhta"), 6) == 0.944444
    assert round(k(jaro_batch, "dwayne", "duane"), 6) == 0.822222
    assert round(k(jaro_batch, "dixon", "dicksonx"), 6) == 0.766667
    assert k(jaro_batch, "", "") == 1.0
    assert k(jaro_batch, "", "a") == 0.0
    assert k(jaro_batch, "abc", "abc") == 1.0


def test_jaro_winkler_unconditional_boost():
    # py_stringmatching applies the prefix boost with no 0.7 threshold;
    # jaro('aa','ab')=2/3 < 0.7 yet JW must be 0.7 (required by the reference's
    # soft-tfidf golden score 0.90 for 'a aa' vs 'b ab').
    assert round(k(jaro_winkler_batch, "aa", "ab"), 6) == 0.7
    assert round(k(jaro_winkler_batch, "martha", "marhta"), 6) == 0.961111


def test_levenshtein_known_values():
    assert k(levenshtein_batch, "kitten", "sitting") == 3
    assert k(levenshtein_batch, "", "abc") == 3
    assert k(levenshtein_batch, "abc", "") == 3
    assert k(scaled_levenshtein_batch, "", "") == 1.0
    assert round(k(scaled_levenshtein_batch, "kitten", "sitting"), 6) == round(
        1 - 3 / 7, 6
    )


def _jaro_scalar(s1: str, s2: str) -> float:
    """Textbook greedy Jaro (the py_stringmatching algorithm), scalar form.

    Used as an independent in-test oracle for the batch kernel. NOTE: DuckDB's
    jaro_similarity uses a different matching variant that diverges on some
    unequal-length inputs, so it is NOT a valid oracle for Jaro — only for
    Levenshtein.
    """
    l1, l2 = len(s1), len(s2)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    w = max(max(l1, l2) // 2 - 1, 0)
    f1, f2 = [False] * l1, [False] * l2
    m = 0
    for i in range(l1):
        for j in range(max(0, i - w), min(l2 - 1, i + w) + 1):
            if not f2[j] and s2[j] == s1[i]:
                f1[i] = f2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    a = [c for i, c in enumerate(s1) if f1[i]]
    b = [c for j, c in enumerate(s2) if f2[j]]
    t = sum(1 for x, y in zip(a, b) if x != y) / 2
    return (m / l1 + m / l2 + (m - t) / m) / 3


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcdez ", max_size=12),
    st.text(alphabet="abcdez ", max_size=12),
)
def test_jaro_matches_scalar_and_lev_matches_duckdb(s1, s2):
    got_j = k(jaro_batch, s1, s2)
    got_l = k(levenshtein_batch, s1, s2)
    assert abs(got_j - _jaro_scalar(s1, s2)) < 1e-12, (s1, s2)
    (dl,) = duckdb.execute("select levenshtein(?, ?)", [s1, s2]).fetchone()
    assert got_l == dl, (s1, s2)


REF_CORPUS = [["a", "aa"], ["b", "ab"], ["a", "ba"], ["b", "bb"]]
REF_DF = {"a": 2, "aa": 1, "b": 2, "ab": 1, "ba": 1, "bb": 1}
REF_GOLDEN = {
    (0, 1): 0.90,
    (0, 2): 0.73,
    (0, 3): 0.00,
    (1, 2): 0.68,
    (1, 3): 0.73,
    (2, 3): 0.90,
}


def test_soft_tfidf_reference_golden():
    for (i, j), want in REF_GOLDEN.items():
        s1 = soft_tfidf_raw(REF_CORPUS[i], REF_CORPUS[j], REF_DF, 4)
        s2 = soft_tfidf_raw(REF_CORPUS[j], REF_CORPUS[i], REF_DF, 4)
        assert round(max(s1, s2), 2) == want, (i, j)


def test_soft_tfidf_udf_matches_raw(spark):
    from entityresolution_capstone_spark.functions.tfidf import make_soft_tfidf_udf

    bc = spark.sparkContext.broadcast(REF_DF)
    udf = make_soft_tfidf_udf(bc, 4)
    rows = [(REF_CORPUS[i], REF_CORPUS[j]) for (i, j) in REF_GOLDEN]
    df = spark.createDataFrame(rows, ["t1", "t2"])
    got = [r["s"] for r in df.select(udf("t1", "t2").alias("s")).collect()]
    for g, (pair, want) in zip(got, REF_GOLDEN.items()):
        assert round(g, 2) == want, pair


def test_pair_sim_udf_on_spark(spark):
    udf = make_weighted_char_sim_udf({"jw": 1.0})
    df = spark.createDataFrame(
        [("martha", "marhta"), ("aa", "ab"), (None, "x")], ["a", "b"]
    )
    got = [r["s"] for r in df.select(udf("a", "b").alias("s")).collect()]
    assert round(got[0], 6) == 0.961111
    assert round(got[1], 6) == 0.7
    assert got[2] is None


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcdez ", max_size=140),
    st.text(alphabet="abcdez ", max_size=140),
)
def test_bitparallel_lev_matches_duckdb_and_dp(s1, s2):
    """Myers bit-vector scaled Levenshtein == the DP kernel's == DuckDB's
    builtin distance, scaled the same way, including strings that span
    multiple 64-bit words (>64 chars)."""
    for ml in (64, 128):
        got = k(scaled_levenshtein_batch, s1, s2, max_len=ml)
        want = _scaled(k(levenshtein_batch, s1, s2, max_len=ml), s1[:ml], s2[:ml])
        assert got == want, (s1, s2, ml)
    (dl,) = duckdb.execute(
        "select levenshtein(?, ?)", [s1[:128], s2[:128]]
    ).fetchone()
    got128 = k(scaled_levenshtein_batch, s1, s2, max_len=128)
    assert got128 == _scaled(dl, s1[:128], s2[:128]), (s1, s2)


def _scaled(dist, s1: str, s2: str) -> float:
    """py_stringmatching's scaled Levenshtein from a distance."""
    mx = max(len(s1), len(s2))
    return 1.0 if mx == 0 else 1.0 - dist / mx


def _ref_weighted(xs, ys, weights: dict, ml: int) -> list[float]:
    """``Σ w_k · kernel_k`` from the independent references — the scalar
    greedy Jaro above and the DP Levenshtein — summed in weight order from
    0.0, as the batch scorer sums."""
    dists = levenshtein_batch(np.array(xs, dtype=object), np.array(ys, dtype=object), ml)
    out = []
    for x, y, d in zip(xs, ys, dists):
        x, y = (x or "")[:ml], (y or "")[:ml]
        j = _jaro_scalar(x, y)
        upto = min(4, len(x), len(y))
        pre = next((i for i in range(upto) if x[i] != y[i]), upto)
        sims = {"jaro": j, "jw": j + pre * S.JW_PREFIX_WEIGHT * (1.0 - j), "lev": _scaled(d, x, y)}
        acc = 0.0
        for key, w in weights.items():
            acc += w * sims[key]
        out.append(acc)
    return out


class _RouteCalls:
    """Counts the calls of the kernels' route-specific matchers."""

    NAMES = (
        "_jaro_match_bitparallel_uniform", "_lev_myers_uniform_swapped",
        "_jaro_match_bitparallel", "_lev_myers_coded",
        "_jaro_match_masked", "_lev_dp_coded",
    )

    def __enter__(self):
        self.patches = {
            n: mock.patch.object(S, n, wraps=getattr(S, n)) for n in self.NAMES
        }
        self.mocks = {n: p.start() for n, p in self.patches.items()}
        return self

    def __exit__(self, *exc):
        for p in self.patches.values():
            p.stop()

    def __getitem__(self, name):
        return self.mocks[name].call_count


BATCH_WEIGHTS = {"jaro": 0.2, "jw": 0.5, "lev": 0.3}


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 80),
    st.integers(1, 80),
    st.integers(0, 2**32 - 1),
    st.lists(
        st.tuples(
            st.text(alphabet="abcdez ", max_size=140),
            st.text(alphabet="abcdez ", max_size=140),
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_char_sim_batch_routes_bit_exact(la_s, lb_s, seed, mixed):
    """One batch of FUSED_MIN_ROWS rows sharing one (la, lb), mixed-length
    rows, byte-equal rows and a row of another shape: the batch scorer
    reaches BOTH the shared-tensor route and the general route, and every
    score equals the scalar Jaro / DP Levenshtein reference bit for bit."""
    import random

    rnd = random.Random(seed)

    def word(n):
        return "".join(rnd.choice("abcdez ") for _ in range(n))

    rows = []
    for _ in range(S.FUSED_MIN_ROWS):
        x, y = word(la_s), word(lb_s)
        rows.append((x, "q" + y[1:] if x == y else y))  # never byte-equal
    mixed = mixed + [(word(rnd.randint(0, 140)), word(rnd.randint(0, 140))) for _ in range(30)]
    rows += mixed + [(x, x) for x, _ in mixed[:3]] + [("abc", "")]
    xs, ys = [r[0] for r in rows], [r[1] for r in rows]
    with _RouteCalls() as calls:
        got = char_sim_batch(
            np.array(xs, dtype=object), np.array(ys, dtype=object), BATCH_WEIGHTS, 128
        )
    assert calls["_jaro_match_bitparallel_uniform"] == 1
    assert calls["_lev_myers_uniform_swapped"] == 1
    assert calls["_jaro_match_bitparallel"] == 1
    assert calls["_lev_myers_coded"] == 1
    assert list(got) == _ref_weighted(xs, ys, BATCH_WEIGHTS, 128)


def test_char_sim_batch_wide_alphabet_falls_back():
    """A chunk over 255 symbols cannot compact to uint8: it takes the
    masked-loop Jaro and the DP Levenshtein, with the same scores."""
    import random

    rng = random.Random(3)
    alpha = [chr(0x100 + i) for i in range(300)]
    xs = ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 70))) for _ in range(300)]
    ys = [x[:30] + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40))) for x in xs]
    with _RouteCalls() as calls:
        got = char_sim_batch(
            np.array(xs, dtype=object), np.array(ys, dtype=object), BATCH_WEIGHTS, 64
        )
    assert calls["_jaro_match_masked"] == 1 and calls["_lev_dp_coded"] == 1
    assert calls["_jaro_match_bitparallel_uniform"] == calls["_jaro_match_bitparallel"] == 0
    assert list(got) == _ref_weighted(xs, ys, BATCH_WEIGHTS, 64)


def test_weighted_char_udf_matches_split_kernels(spark):
    """The fused char-kernel UDF == w_jw*JW + w_lev*scaled-lev computed
    separately (the score_pairs numerical-identity contract)."""
    import numpy as np

    from entityresolution_capstone_spark.functions.similarity import (
        jaro_winkler_batch,
        make_weighted_char_sim_udf,
        scaled_levenshtein_batch,
    )

    rows = [
        ("kitten", "sitting"),
        ("entity resolution at scale", "entity resolutoin at scale"),
        ("", ""),
        ("abc", ""),
        ("x" * 128, "x" * 127 + "y"),
    ]
    df = spark.createDataFrame(rows, "p1 string, p2 string")
    udf = make_weighted_char_sim_udf({"jw": 0.6, "lev": 0.4}, max_len=128)
    got = [r["s"] for r in df.select(udf("p1", "p2").alias("s")).collect()]
    x = np.array([r[0] for r in rows], dtype=object)
    y = np.array([r[1] for r in rows], dtype=object)
    want = 0.6 * jaro_winkler_batch(x, y, max_len=128) + 0.4 * scaled_levenshtein_batch(
        x, y, max_len=128
    )
    assert np.allclose(got, want, atol=0)


@settings(max_examples=150, deadline=None)
@given(
    st.text(alphabet="abcdez ", max_size=140),
    st.text(alphabet="abcdez ", max_size=140),
)
def test_bitparallel_jaro_matches_scalar_long_strings(s1, s2):
    """The bit-parallel greedy matcher == the scalar reference across word
    boundaries (patterns > 64 chars use 2 uint64 words)."""
    got = k(lambda a, b: jaro_batch(a, b, max_len=128), s1, s2)
    assert abs(got - _jaro_scalar(s1[:128], s2[:128])) < 1e-12, (s1, s2)


def test_jw_sql_oracle_matches_kernel_bit_exact():
    """The er_pairs_jw DuckDB oracle re-implements the kernel's greedy
    matcher as a recursive CTE (driver_queries.SQL_ER_PAIRS_JW). Pin the
    matcher SQL bit-exactly (pre-round) against jaro_winkler_batch on
    adversarial small-alphabet fuzz pairs + word-ish docs + edge cases."""
    import random

    from entityresolution_capstone_spark.functions.similarity import (
        jaro_winkler_batch,
    )

    rng = random.Random(11)
    alpha = "ab c01"
    pairs = []
    for _ in range(1500):
        la, lb = rng.randint(0, 12), rng.randint(0, 12)
        pairs.append(
            ("".join(rng.choice(alpha) for _ in range(la)).strip(),
             "".join(rng.choice(alpha) for _ in range(lb)).strip())
        )
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for _ in range(300):
        pairs.append(
            (" ".join(rng.choices(words, k=rng.randint(1, 10)))[:64],
             " ".join(rng.choices(words, k=rng.randint(1, 10)))[:64])
        )
    pairs += [("", ""), ("abc", ""), ("abc", "abc"), ("ba", "ab")]

    con = duckdb.connect()
    con.execute(
        "create table p as select * from (values "
        + ",".join(f"({i}, ?, ?)" for i in range(len(pairs)))
        + ") t(pid, s1, s2)",
        [x for pr in pairs for x in pr],
    )
    sql = """
with recursive jlen as (
    select pid, s1, s2, length(s1) as la, length(s2) as lb,
           greatest(greatest(length(s1), length(s2)) // 2 - 1, 0) as win
    from p
),
gm as (
    select pid, s1, s2, la, lb, win, 0 as i,
           cast([] as integer[]) as mb, '' as ca
    from jlen
  union all
    select pid, s1, s2, la, lb, win, i + 1 as i,
           case when j is not null then list_append(mb, j) else mb end as mb,
           case when j is not null then ca || s1[i+1] else ca end as ca
    from (
        select g.*,
               list_aggregate(list_filter(
                   range(greatest(1, i + 1 - win), least(lb, i + 1 + win) + 1),
                   j -> s2[j] = s1[i+1] and not list_contains(mb, j)
               ), 'min') as j
        from gm g
        where i < la
    )
),
fin as (
    select pid, s1, s2, la, lb, len(mb) as m,
           ca, list_transform(list_sort(mb), j -> s2[j]) as cb
    from gm where i = la
),
tcs as (
    select pid, s1, s2, la, lb, m,
           len(list_filter(range(1, m + 1), k -> ca[k] <> cb[k])) as tc
    from fin
),
sim as (
    select pid,
           case when la = 0 and lb = 0 then 1.0
                when m = 0 then 0.0
                else (m / cast(la as double) + m / cast(lb as double)
                      + (m - tc / 2.0) / m) / 3.0
           end as jaro,
           coalesce(
             list_aggregate(list_filter(range(1, least(4, la, lb) + 1),
                                        k -> s1[k] <> s2[k]), 'min') - 1,
             least(4, la, lb)) as l
    from tcs
)
select pid, jaro + l * cast(0.1 as double) * (1.0 - jaro) as jw
from sim order by pid
"""
    got = np.array([r[1] for r in con.execute(sql).fetchall()])
    exp = jaro_winkler_batch(
        np.array([p[0] for p in pairs], dtype=object),
        np.array([p[1] for p in pairs], dtype=object),
    )
    assert len(got) == len(pairs)
    assert (got == exp).all(), np.nonzero(got != exp)[0][:5]


def test_weighted_char_udf_uniform_fused_path(spark):
    """r6 shared-tensor fused route: a chunk whose rows share one (la, lb) —
    the bench/pipeline shape — scores through one Peq + gather shared by
    the jaro matcher and a side-swapped Myers. FUSED_MIN_ROWS uniform rows
    (near-dups, byte-equal pairs, all-mismatch and degenerate repeats) plus
    a few rows of other lengths in ONE Arrow batch reach both routes; the
    UDF's scores equal the scalar Jaro / DP Levenshtein references bit for
    bit, and NULLs score NULL."""
    import random

    base = "entity resolution at scale needs fast kernels and careful tests!"
    assert len(base) == 64
    rng = random.Random(5)

    def mutate(s: str) -> str:
        cs = list(s)
        for _ in range(rng.randint(1, 12)):
            cs[rng.randrange(64)] = rng.choice("abcxyz ?!")
        return "".join(cs)

    rows = [
        (base, base[:-1] + "?"),            # near-dup
        (base, base),                        # byte-equal fast path
        (base.upper(), base),                # all mismatch case
        ("z" * 64, base),                    # degenerate repeat
        (base, "q" * 64),
    ]
    rows += [(mutate(base), mutate(base)) for _ in range(S.FUSED_MIN_ROWS)]
    rows += [(base[:40], base), (base[:40], base[:10] + "x" * 54), ("", base)]
    x = np.array([r[0] for r in rows], dtype=object)
    y = np.array([r[1] for r in rows], dtype=object)
    weights = {"jw": 0.6, "lev": 0.4}
    want = _ref_weighted(list(x), list(y), weights, 64)
    udf = make_weighted_char_sim_udf(weights, max_len=64)
    with _RouteCalls() as calls:  # the UDF body, in this process
        assert list(udf.func(pd.Series(x), pd.Series(y))) == want
    assert calls["_lev_myers_uniform_swapped"] == 1 and calls["_lev_myers_coded"] == 1
    df = spark.createDataFrame(rows + [(None, base)], "p1 string, p2 string").coalesce(1)
    got = [r["s"] for r in df.select(udf("p1", "p2").alias("s")).collect()]
    assert got[:-1] == want  # bit-exact, not allclose
    assert got[-1] is None
