"""Codegen-safe dense-vector primitives over ``array<double>`` columns.

Why this module exists (round-3 measured law, docs/SCALE.md): Spark's
higher-order array expressions — ``zip_with``, ``aggregate``, ``exists``,
``transform``, ``array_intersect`` — are *interpreted* (codegen-fallback)
and allocate per row. On wide streams (the quadratic candidate-pair stream,
a corpus×queries score stream) they anti-scale at high in-JVM concurrency:
identical output measured 627.6s (array HOFs) vs 40.3s (static expressions)
at sf0.1 / local[32]. The fix is always the same: when the vector dimension
is a PLAN-TIME CONSTANT, unroll the loop into a static scalar expression —
``element_at`` ordinal access + multiply-adds stay inside whole-stage
codegen with zero per-row allocation.

Numeric contract: all folds are STRICT LEFT-TO-RIGHT (``((t1+t2)+t3)+…``),
the same association order as ``zip_with``+``aggregate`` and as DuckDB's
``list_dot_product`` — so swapping an interpreted dot for a static one is
bit-identical, and the DuckDB correctness oracles keep matching without
re-rounding.

Dim ceiling: each dot is ~2·dim expression nodes. Past a few hundred dims
the generated projection risks the JVM 64 KB method limit / codegen split
thresholds and can silently fall back to interpreted evaluation — the exact
failure mode this module exists to avoid — so :data:`MAX_STATIC_DIM` is
enforced. For wider embeddings use :func:`pandas_dot` (Arrow-batched NumPy,
the other scale-safe path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Hard ceiling for one unrolled static dot (the expression still PLANS and
# evaluates correctly up to here). Wider vectors must take the Arrow path.
MAX_STATIC_DIM = 256

# Measured ceiling at which the static unroll still runs FAST (r6,
# BENCH/CROSSOVER_PLANSHAPE.json: on the bucketed SMJ pair stream, static
# beats Arrow at dim 64 — 4.25 vs 5.87 s on a ~4M-pair stream — but by
# dim 128 the generated projection no longer compiles into effective
# whole-stage codegen and runs interpreted: 29.1 vs 8.5 s. The same cliff
# gates the dense TF-IDF route of operators/scoring.py at 64 slots).
# kernel="auto" dispatch uses THIS bound; explicit kernel="static" callers
# may still go up to MAX_STATIC_DIM (correct, just slow past the cliff).
AUTO_STATIC_MAX_DIM = 64


_HUGE_JIT_CACHE: dict[str, bool] = {}


def huge_methods_jit_enabled(spark) -> bool:
    """True iff this driver JVM was started with ``-XX:-DontCompileHugeMethods``.

    The static kernels' crossover vs the Arrow kernels was measured WITH the
    flag (session.py sets it via spark.driver.defaultJavaOptions) — without
    it, HotSpot refuses to JIT the large generated whole-stage-codegen
    methods and the static form silently runs in the bytecode interpreter,
    the slow regime the r4 numbers measured (ADVICE r5). Sessions created
    through an already-running JVM (spark-submit without the flag, an
    existing py4j gateway/notebook) never see defaultJavaOptions, so
    ``kernel="auto"`` dispatch probes the ACTUAL JVM arguments and falls
    back to Arrow when the flag is absent. Numerics are identical either
    way; this is purely a plan-speed decision. Probed once per application.
    """
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _HUGE_JIT_CACHE:
            return _HUGE_JIT_CACHE[app_id]
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        args = mx.getRuntimeMXBean().getInputArguments()
        found = any(
            "-XX:-DontCompileHugeMethods" in str(args.get(i))
            for i in range(args.size())
        )
        _HUGE_JIT_CACHE[app_id] = found
        return found
    except Exception:
        # no py4j access (e.g. Spark Connect): assume the session factory's
        # defaults applied
        return True


def _check_dim(dim: int) -> None:
    if not isinstance(dim, int) or dim <= 0:
        raise ValueError(f"dim must be a positive int, got {dim!r}")
    if dim > MAX_STATIC_DIM:
        raise ValueError(
            f"static vector expressions support dim <= {MAX_STATIC_DIM} "
            f"(got {dim}); use functions.vector.pandas_dot (Arrow-batched "
            "NumPy) for wider embeddings"
        )


def static_dot(a, b, dim: int) -> Column:
    """Σ_i a[i]·b[i] as a static whole-stage-codegen expression.

    Strict left-to-right summation — bit-identical to the
    ``aggregate(zip_with(a, b, *))`` interpreted form it replaces and to
    DuckDB ``list_dot_product``.
    """
    _check_dim(dim)
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    dot = None
    for i in range(dim):
        term = F.element_at(a, i + 1) * F.element_at(b, i + 1)
        dot = term if dot is None else dot + term
    return dot


def static_sq_norm(a, dim: int) -> Column:
    """Σ_i a[i]² (left-to-right), static."""
    _check_dim(dim)
    a = F.col(a) if isinstance(a, str) else a
    out = None
    for i in range(dim):
        x = F.element_at(a, i + 1)
        term = x * x
        out = term if out is None else out + term
    return out


def static_norm(a, dim: int) -> Column:
    """√(Σ a[i]²), static — matches ``sqrt(aggregate(v, 0.0, acc + x·x))``."""
    return F.sqrt(static_sq_norm(a, dim))


def static_weighted_sum(a, weights, dim: int) -> Column:
    """Σ_i a[i]·w_i for PLAN-TIME-CONSTANT scalar weights (e.g. LSH plane
    coefficients): each weight is folded as a literal, so the whole dot is
    constant-foldable scalar algebra. Left-to-right over ALL dims (zero
    weights included) to preserve bit-parity with full-sum oracles."""
    _check_dim(dim)
    if len(weights) != dim:
        raise ValueError(f"got {len(weights)} weights for dim={dim}")
    a = F.col(a) if isinstance(a, str) else a
    out = None
    for i, w in enumerate(weights):
        term = F.element_at(a, i + 1) * F.lit(w)
        out = term if out is None else out + term
    return out


def assert_dim(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Fail LOUDLY (not silently-NULL) when any vector's length ≠ dim.

    Under non-ANSI Spark, ``element_at`` past the array end returns NULL and
    a static dot silently degrades to NULL → downstream ``cosine`` becomes
    0.0 — for a decontamination operator that reads as "everything clean",
    a safety-critical false negative. This guard turns a dim mismatch into
    a raised error at scan time (no extra aggregate job; the check rides the
    existing scan).

    PLAN-SHAPE CONTRACT: the guard is a ``filter(assert_true(...) IS NULL)``
    — an all-pass predicate that raises per offending row — NOT a
    ``withColumn`` that wraps the vector in a conditional. The wrap form
    replaces the column with a ``WHEN(..RAISE_ERROR..)`` expression that
    Catalyst's collapse-projects inlines into EVERY downstream reference;
    on the LSH plane projections (planes × dim ``element_at`` refs, each
    inlining a dim-sized guard) the expression tree grows multiplicatively
    and the driver OOMs during codegen/explain. The filter form leaves the
    column a plain attribute, so downstream static expressions stay linear
    in dim."""
    v = F.col(vec_col)
    ok = v.isNotNull() & (F.size(v) == dim)
    msg = F.concat(
        F.lit(f"vector column '{vec_col}': expected dim {dim}, got "),
        F.coalesce(F.size(v).cast("string"), F.lit("NULL")),
    )
    return df.filter(F.assert_true(ok, msg).isNull())


def assert_nonzero_norm(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Fail LOUDLY when any vector has zero (or non-finite) norm.

    Why this exists (VERDICT/ADVICE r4): the Arrow cosine kernel is raw IEEE —
    a zero-norm side yields NaN → Spark NULL → the pair silently fails any
    ``>= threshold`` filter. For a DEDUP/DECONTAMINATION operator that reads
    as "no duplicate found": a silent false negative from degenerate input,
    the same failure class :func:`assert_dim` closes for wrong dims. The
    check is Σv[i]² > 0 computed on the O(docs) stream (static codegen at
    dim ≤ MAX_STATIC_DIM, one Arrow pass above), riding the existing scan —
    never on the O(pairs) stream. NULL elements make the sum NULL, which
    also routes to the raise. Same ``filter(assert_true)`` plan-shape
    contract as :func:`assert_dim` (see there): the sq-norm expression is
    evaluated ONCE in the filter predicate instead of being inlined into
    every downstream reference of the vector column."""
    sq = (
        static_sq_norm(vec_col, dim)
        if dim <= MAX_STATIC_DIM
        else pandas_dot(vec_col, vec_col)
    )
    v = F.col(vec_col)
    # finite check must bound ABOVE too (ADVICE r5): an overflowed sq_norm
    # is +inf, not NaN — it passed the old isnan-only guard, and downstream
    # the static cosine scored such pairs NaN, which Spark orders ABOVE all
    # doubles, i.e. a false-positive `>= threshold` match (while the arrow
    # kernel NULL-dropped the same pair as a false negative). inf fails
    # `sq < lit(inf)`; NaN fails every comparison; both now raise here.
    ok = (
        v.isNotNull()
        & (sq > 0)
        & ~F.isnan(sq)
        & (sq < F.lit(float("inf")))
    )
    msg = F.concat(
        F.lit(
            f"vector column '{vec_col}': zero/NULL/non-finite norm (sq_norm="
        ),
        F.coalesce(sq.cast("string"), F.lit("NULL")),
        F.lit(
            ") — degenerate embeddings would silently drop from "
            "thresholded cosine streams; clean or quarantine them upstream"
        ),
    )
    return df.filter(F.assert_true(ok, msg).isNull())


def _as_matrix(s: pd.Series, side: str) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list column, with a CLEAR error
    on NULL rows or ragged lengths. Bare ``np.asarray(s.tolist())`` raises an
    opaque 'inhomogeneous shape' ValueError inside the executor (ADVICE r4);
    the conversion try is identical on the happy path — diagnosis runs only
    on failure. NULLs are pre-checked because a batch of ONLY NULLs converts
    'successfully' to a 1-D nan vector instead of raising."""
    if s.isna().any():
        raise ValueError(
            f"vector kernel input '{side}': {int(s.isna().sum())} NULL "
            "row(s) — the arrow kernels require non-null fixed-dim vectors; "
            "run functions.vector.assert_dim / assert_nonzero_norm upstream"
        )
    try:
        m = np.asarray(s.tolist(), dtype="float64")
    except (ValueError, TypeError):
        lens = sorted({len(v) for v in s if v is not None})
        if len(lens) <= 1:
            # uniform lengths but the conversion still failed: the culprit
            # is an element inside a vector, not raggedness (ADVICE r5 —
            # e.g. [1.0, None] raises TypeError and was misreported as
            # 'ragged vector lengths [2]')
            raise ValueError(
                f"vector kernel input '{side}': NULL/non-numeric element "
                "inside a vector (lengths are uniform) — the arrow kernels "
                "require non-null fixed-dim numeric vectors; run "
                "functions.vector.assert_dim / assert_nonzero_norm upstream"
            ) from None
        raise ValueError(
            f"vector kernel input '{side}': ragged vector lengths "
            f"{lens[:8]}{'...' if len(lens) > 8 else ''} — the arrow "
            "kernels require non-null fixed-dim vectors; run "
            "functions.vector.assert_dim upstream"
        ) from None
    if m.ndim != 2:
        raise ValueError(
            f"vector kernel input '{side}': expected a list column of "
            f"fixed-dim vectors, got array of shape {m.shape}"
        )
    return m


def _check_sides(mx: np.ndarray, my: np.ndarray) -> None:
    """Left/right width agreement. Arrow batches can be a single row, so a
    ragged COLUMN arrives as two internally-consistent matrices of different
    widths — caught here, not by :func:`_as_matrix`."""
    if mx.shape[1] != my.shape[1]:
        raise ValueError(
            f"vector kernel: left dim {mx.shape[1]} != right dim "
            f"{my.shape[1]} — run functions.vector.assert_dim upstream"
        )


def _ordered_rowwise_dot(mx: np.ndarray, my: np.ndarray) -> np.ndarray:
    """Rowwise Σ_i x[i]·y[i], accumulated STRICTLY LEFT-TO-RIGHT across dims
    (vectorized across rows): ``((t1+t2)+t3)+…`` — the same association order
    as :func:`static_dot`, ``aggregate(zip_with(...))`` and DuckDB
    ``list_dot_product``, so results are bit-identical, not merely close.
    ``np.einsum``/``np.dot`` use pairwise/SIMD summation and are NOT; a dim-
    length loop of vectorized adds costs ~dim batch-ops, which the Arrow
    transfer already dwarfs."""
    acc = mx[:, 0] * my[:, 0]
    for k in range(1, mx.shape[1]):
        acc = acc + mx[:, k] * my[:, k]
    return acc


def pandas_dot(a, b, dim: int | None = None) -> Column:
    """Arrow-batched NumPy dot — the scale path for wide vectors and for
    large pair streams (measured at sf-agnostic 2.44M pairs × dim 64,
    local[32]: 5.0s vs 9.1s for the static unroll; the gap widens with dim).

    Per batch: stack the two list columns into (n, dim) float64 matrices and
    left-fold across dims (:func:`_ordered_rowwise_dot`) — bit-identical to
    :func:`static_dot` and to DuckDB ``list_dot_product``, so oracles keep
    matching without re-rounding.
    """
    @pandas_udf("double")
    def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        mx = _as_matrix(x, "left")
        my = _as_matrix(y, "right")
        _check_sides(mx, my)
        return pd.Series(_ordered_rowwise_dot(mx, my))

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot(a, b)


def pandas_cosine(a, b) -> Column:
    """Arrow-batched cosine: dot(a,b) / (‖a‖·‖b‖) in ONE UDF (one Arrow
    transfer for all three folds). Each fold is the ordered left-fold and the
    norms are √(left-fold of squares) — bit-identical to the static
    composition ``static_dot / (static_norm · static_norm)`` on every
    nonzero-norm pair (verified mismatch-free over a 2.44M-pair stream).
    Non-finite divergence: NumPy division is raw IEEE, so a zero-norm side
    (0/0) or an overflowed norm (inf/inf) yields NaN, which the Arrow
    serializer surfaces as Spark NULL — the pair then fails any
    ``>= threshold`` filter, i.e. is dropped. The static composition under
    ANSI Spark (the session default) instead raises divideByZero on a
    zero norm and yields NaN (not NULL) on overflow."""
    @pandas_udf("double")
    def _cos(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        mx = _as_matrix(x, "left")
        my = _as_matrix(y, "right")
        _check_sides(mx, my)
        num = _ordered_rowwise_dot(mx, my)
        with np.errstate(divide="ignore", invalid="ignore"):
            den = np.sqrt(_ordered_rowwise_dot(mx, mx)) * np.sqrt(
                _ordered_rowwise_dot(my, my)
            )
            return pd.Series(num / den)

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cos(a, b)


def pandas_cosine_guarded(a, b) -> Column:
    """:func:`pandas_cosine` with the zero-norm guard used by similarity
    search: a zero-norm side yields cosine 0.0 (not NULL/NaN/raise) —
    bit-identical to the static composition
    ``when((n1 > 0) & (n2 > 0), dot/(n1·n2)).otherwise(0.0)`` on nonzero
    norms and to its guard on zero norms. (Sole divergence: if both norms
    are so small their PRODUCT underflows to 0 while each is > 0, the static
    form divides by zero — ANSI raise — where this returns 0.0.)"""
    @pandas_udf("double")
    def _cos(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        mx = _as_matrix(x, "left")
        my = _as_matrix(y, "right")
        _check_sides(mx, my)
        num = _ordered_rowwise_dot(mx, my)
        den = np.sqrt(_ordered_rowwise_dot(mx, mx)) * np.sqrt(
            _ordered_rowwise_dot(my, my)
        )
        return pd.Series(np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0))

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cos(a, b)


def dot(a, b, dim: int) -> Column:
    """Dim-dispatching dot product: static unroll when it fits codegen,
    Arrow/NumPy beyond."""
    if dim <= MAX_STATIC_DIM:
        return static_dot(a, b, dim)
    return pandas_dot(a, b, dim)
