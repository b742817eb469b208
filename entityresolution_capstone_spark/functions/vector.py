"""Dense-vector primitives over ``array<double>`` columns.

Two kinds of kernel, with one job each:

- :func:`cosine` — the one embedding cosine. Every embedding operator
  (embedding and semantic dedup, brute-force / LSH / IVF top-k, semantic
  decontamination) scores its pair stream through this Arrow-batched NumPy
  UDF: one Arrow transfer per batch carries both vectors, and the dot and
  both norms are computed in the same batch. It has no dim ceiling and needs
  no codegen, so it runs at the same speed under a broadcast nested-loop
  join (which gets no whole-stage codegen) as under a hash or sort-merge
  join.
- :func:`static_dot` — Σ a[i]·b[i] unrolled into a static scalar
  expression over a PLAN-TIME-CONSTANT dim (``element_at`` + multiply-adds,
  no array higher-order functions). Its one library caller is the dense
  TF-IDF route of ``operators/scoring.score_pairs``, which gates it on the
  vocabulary with its own measured bound.

Numeric contract: every fold is STRICT LEFT-TO-RIGHT (``((t1+t2)+t3)+…``),
the association order of ``aggregate(zip_with(...))`` and DuckDB
``list_dot_product``, so the Arrow fold is bit-identical to the static
expression and the DuckDB oracles match without re-rounding.

Dim ceiling: each static dot is ~2·dim expression nodes, and past a few
hundred dims the generated method risks the JVM 64 KB limit, where Spark
silently falls back to interpreted evaluation. :data:`MAX_STATIC_DIM` is
enforced.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Hard ceiling for one unrolled static dot (the expression still PLANS and
# evaluates correctly up to here).
MAX_STATIC_DIM = 256


def static_dot(a, b, dim: int) -> Column:
    """Σ_i a[i]·b[i] as a static whole-stage-codegen expression.

    Strict left-to-right summation — bit-identical to the
    ``aggregate(zip_with(a, b, *))`` interpreted form it replaces, to DuckDB
    ``list_dot_product`` and to :func:`pandas_dot`.
    """
    if not isinstance(dim, int) or dim <= 0:
        raise ValueError(f"dim must be a positive int, got {dim!r}")
    if dim > MAX_STATIC_DIM:
        raise ValueError(
            f"static vector expressions support dim <= {MAX_STATIC_DIM} "
            f"(got {dim}); use functions.vector.pandas_dot (Arrow-batched "
            "NumPy) for wider vectors"
        )
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    dot = None
    for i in range(dim):
        term = F.element_at(a, i + 1) * F.element_at(b, i + 1)
        dot = term if dot is None else dot + term
    return dot


def assert_dim(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Fail LOUDLY when any vector is NULL or its length ≠ dim.

    A wrong-dim vector otherwise surfaces deep inside an executor as a
    ragged Arrow batch (or, under non-ANSI Spark, as a NULL ``element_at``
    that degrades a static expression to NULL → a cosine of 0.0 — for a
    decontamination operator that reads as "everything clean"). This guard
    raises at scan time instead (no extra job; the check rides the scan).

    PLAN-SHAPE CONTRACT: the guard is a ``filter(assert_true(...) IS NULL)``
    — an all-pass predicate that raises per offending row — NOT a
    ``withColumn`` that wraps the vector in a conditional. The wrap form
    replaces the column with a ``WHEN(..RAISE_ERROR..)`` expression that
    Catalyst's collapse-projects inlines into EVERY downstream reference of
    the vector, so a static expression over ``dim`` element refs grows by a
    dim-sized guard per ref. The filter form leaves the column a plain
    attribute."""
    v = F.col(vec_col)
    ok = v.isNotNull() & (F.size(v) == dim)
    msg = F.concat(
        F.lit(f"vector column '{vec_col}': expected dim {dim}, got "),
        F.coalesce(F.size(v).cast("string"), F.lit("NULL")),
    )
    return df.filter(F.assert_true(ok, msg).isNull())


def assert_nonzero_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Fail LOUDLY when any vector has a zero, NULL or non-finite norm.

    :func:`cosine` scores a zero-norm side 0.0, so a degenerate vector in a
    DEDUP operator would silently fail every ``>= threshold`` filter — a
    false "no duplicate found", the failure class :func:`assert_dim` closes
    for wrong dims. The check is ``0 < Σv[i]² < inf`` on the O(docs) stream,
    never the O(pairs) one. Σv[i]² is the same Arrow ordered fold as the
    cosine's norms (:func:`pandas_dot`), so the guard accepts exactly the
    vectors the kernel divides by. Spark orders NaN above every double, so
    ``< inf`` rejects NaN as well as an overflowed +inf; NULL rejects by
    ``assert_true``. Same ``filter(assert_true)`` plan shape as
    :func:`assert_dim`; Spark evaluates that (UDF-free) guard first.

    The fold is Arrow rather than a static unroll: at dim 64 the unrolled
    Σv² re-casts the vector column in every ``element_at`` once the filter
    is pushed below the cast projection, and the guard stage's generated
    method grows past the JVM's 64 KB limit (Spark then disables
    whole-stage codegen for the stage)."""
    sq = pandas_dot(vec_col, vec_col)
    ok = (sq > 0) & (sq < F.lit(float("inf")))
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


def pandas_dot(a, b) -> Column:
    """Arrow-batched NumPy dot: per batch, stack the two list columns into
    (n, dim) float64 matrices and left-fold across dims
    (:func:`_ordered_rowwise_dot`) — bit-identical to :func:`static_dot` and
    to DuckDB ``list_dot_product``."""
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


def cosine(a, b) -> Column:
    """The embedding cosine: dot(a,b) / (‖a‖·‖b‖) in ONE Arrow-batched UDF
    (one transfer for all three folds). Each fold is the ordered left-fold
    and the norms are √(left-fold of squares), so on nonzero norms the
    result is bit-identical to the static composition
    ``static_dot(a, b) / (√static_dot(a, a) · √static_dot(b, b))`` and to
    DuckDB's ``list_dot_product`` form.

    A zero-norm side scores 0.0 (not NULL/NaN/raise); operators for which
    0.0 would read as a silent "no duplicate" reject such vectors upstream
    with :func:`assert_nonzero_norm`. (If both norms are > 0 but their
    product underflows to 0, this also returns 0.0.)"""
    @pandas_udf("double")
    def _cosine(x: pd.Series, y: pd.Series) -> pd.Series:
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
    return _cosine(a, b)
