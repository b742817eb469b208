"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline; broadcast the (small) query
  set, score every (corpus, query) pair with the Arrow ordered-fold cosine
  (functions/vector.cosine, the one embedding cosine), then window top-k.
  Zero-norm vectors score cosine 0.0 by contract.
- LSH-bucketed ANN: deterministic random-hyperplane signatures with *integer*
  plane vectors (derived from index arithmetic, no RNG) so the bucketing is
  exactly reproducible in ANSI SQL for the correctness oracle. Candidates are
  restricted to query-bucket collisions; recall vs brute force is measured in
  tests, not assumed.

At cluster scale: corpus embeddings stay partitioned; only queries broadcast.
A 100-TB corpus with 1e9 vectors × 8 bucket bits shards into ~256 buckets per
plane-set; bucket skew is handled the same way as blocking skew (cap + report).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import vector as V


def probe_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from the first row (one tiny job). The dim guards and the
    IVF quantizer's static unrolls need it as a plan-time constant."""
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return 1  # empty input: any positive constant yields an empty result
    return int(first["d"])


def vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id: long, v: array<double>) — the one projection every embedding
    operator reads its input through."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k), exact. Queries are broadcast,
    so the pair stream is a broadcast nested-loop join."""
    q = vectors(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        vectors(corpus, id_col, vec_col)
        .crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            V.cosine("qv", "v").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _score_candidates(
    cand: DataFrame, corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, neighbor_id, cosine) for candidate (query_id, neighbor_id)
    pairs: the corpus vectors join on the neighbor, the broadcast query
    vectors on the query."""
    c = vectors(corpus, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "v"
    )
    q = vectors(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    return (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", V.cosine("qv", "v").alias("cosine"))
    )


def _plane_coeff(p: int, d: int) -> int:
    """Deterministic integer plane coefficient in [-8, 8]: pure index algebra,
    reproducible in any SQL dialect."""
    return ((p * 131 + d * 137 + 41) % 17) - 8


def lsh_bucket_keys(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """(id, bucket) — sign bits of integer-plane dot products, concatenated.

    ``n_tables`` > 1 emits one bucket key per independent plane set
    (OR-amplification: candidates collide in ANY table, the standard
    recall/candidate-count dial). dim is taken from the data (first row);
    planes are fixed functions of (table, plane, dim) index so SQL oracles
    regenerate them identically.

    Implementation (round 4): ONE Arrow-batched NumPy matmul per batch —
    inputs are fixed-point quantized (x → floor(1000·x + 0.5), int64) so
    every plane dot is EXACT integer arithmetic, association-independent,
    bit-reproducible in the DuckDB oracle regardless of summation order.
    The earlier per-plane static Column unroll was correct but hit the JVM
    64 KB method limit at 8 planes × dim 64 inside whole-stage codegen
    (Generate stages can't split oversized expression code) and silently
    fell back to interpreted evaluation; n_tables·n_planes·dim multiply-adds
    per row is exactly the shape a vectorized C kernel should own. No
    per-row Python anywhere (north rule).
    """
    from functools import reduce

    dim = probe_dim(embeddings, vec_col)
    coeffs = np.array(
        [
            [_plane_coeff(t * n_planes + p, d) for d in range(dim)]
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )  # (n_tables * n_planes, dim)
    prefixes = [f"{t}:" for t in range(n_tables)]

    @pandas_udf("array<string>")
    def _bucket_keys(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        m = np.asarray(vs.tolist(), dtype="float64")  # (n, dim)
        q = np.floor(m * 1000.0 + 0.5).astype(np.int64)  # exact fixed-point
        bits = (q @ coeffs.T) > 0  # (n, n_tables * n_planes), exact int64
        sbits = np.where(bits, "1", "0")  # (n, T*P) of '<U1'
        per_table = []
        for t in range(n_tables):  # vectorized column-wise string concat
            s = reduce(np.char.add, [sbits[:, t * n_planes + p] for p in range(n_planes)])
            per_table.append(np.char.add(prefixes[t], s))
        return pd.Series(np.stack(per_table, axis=1).tolist())

    return vectors(embeddings, id_col, vec_col).select(
        "id", F.explode(_bucket_keys("v")).alias("bucket")
    )


def bucket_size_metrics(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """(bucket, size, dropped): the blocking-style cap+report accounting for
    ANN buckets — a degenerate embedding cluster (e.g. all-zero vectors) lands
    in ONE bucket and would turn the bucket join into an O(s*q) straggler."""
    return buckets.groupBy("bucket").agg(F.count("*").alias("size")).select(
        "bucket",
        F.col("size").cast("long").alias("size"),
        (F.col("size") > max_bucket_size).alias("dropped"),
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share any LSH table bucket with the query.

    ``max_bucket_size``: corpus buckets larger than this are EXCLUDED from the
    candidate join (skew cap, same policy as blocking.candidate_pairs; use
    :func:`bucket_size_metrics` on :func:`lsh_bucket_keys` output to report
    what was dropped). With multi-table OR-amplification a vector dropped from
    one hot bucket usually still reaches its queries through another table.
    """
    cb = lsh_bucket_keys(corpus, id_col, vec_col, n_planes, n_tables)
    if max_bucket_size is not None:
        hot = (
            cb.groupBy("bucket")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") > max_bucket_size)
            .select("bucket")
        )
        cb = cb.join(F.broadcast(hot), "bucket", "left_anti")
    qb = lsh_bucket_keys(queries, id_col, vec_col, n_planes, n_tables).select(
        F.col("id").alias("query_id"), "bucket"
    )
    cand = (
        cb.withColumnRenamed("id", "neighbor_id")
        .join(qb, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # collapse multi-table collisions before scoring
    )
    scored = _score_candidates(cand, corpus, queries, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF-Flat ANN: coarse k-means quantizer + exact in-cell cosine
# ---------------------------------------------------------------------------
#
# The scale path the LSH variant doesn't cover: a learned partition of the
# corpus (inverted file) so each query scans only `nprobe` cells instead of
# hash-collision buckets. Reference pattern: IVF-Flat (Jegou et al., "Product
# Quantization for Nearest Neighbor Search", PAMI 2011, §IV-A — coarse
# quantizer only, no residual codes).
#
# Everything the quantizer does is EXACT integer arithmetic so the clustering
# is bit-reproducible across engines and partitionings (required for the
# DuckDB oracle, and it makes the index deterministic under re-runs):
#   - vectors are fixed-point quantized: qe_d = floor(1000 * x_d + 0.5)
#   - a centroid is (S, c): elementwise int64 sum of member vectors + count
#     (never the float mean)
#   - squared L2 distance to the implied mean S/c is compared via
#     d = sum_d (c*x_d - S_d)^2 / c^2: the numerator is an exact int64
#     (|.| < 2^53 at any realistic cell size), ONE double division at the
#     end — no FP accumulation-order dependence anywhere.
# Cells that lose all members drop out deterministically. Seeds are the
# n_cells vectors with smallest (48271*id + seed) mod P — arithmetic, not
# sampled. Per-round centroid state is k rows collected to the driver
# (bounded by n_cells, the legitimate scalar-aggregate collect class); each
# round restarts the plan from a literal centroid table, so the Lloyd loop
# never nests lineage.

IVF_QUANT = 1000


def _ivf_quantized(
    embeddings: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    # static array constructor (not F.transform — interpreted HOF): one
    # fixed-width projection per corpus row, inside whole-stage codegen
    qe = F.array(
        *[
            F.floor(F.element_at("v", i + 1) * IVF_QUANT + F.lit(0.5)).cast("long")
            for i in range(dim)
        ]
    )
    return vectors(embeddings, id_col, vec_col).withColumn("qe", qe)


def _ivf_dist(cnt_col, qe_col, s_col, dim: int):
    """Exact int64 numerator, one double division: d(x, S/c)·c² / c².

    Static unroll over the plan-time-constant dim (integer arithmetic, so
    association order is irrelevant — exactness is unconditional)."""
    num = None
    for i in range(dim):
        diff = cnt_col * F.element_at(qe_col, i + 1) - F.element_at(s_col, i + 1)
        term = diff * diff
        num = term if num is None else num + term
    return num.cast("double") / (cnt_col * cnt_col).cast("double")


def ivf_index(
    embeddings: DataFrame,
    n_cells: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
):
    """Build the inverted file: returns (assignments DF (id, cid), centroids).

    centroids is a list of (cid, sums list[int], cnt) for the FINAL round —
    the coarse codebook callers probe against. assignments maps every corpus
    vector to its final cell (the IVF "posting lists", kept distributed).
    """
    spark = embeddings.sparkSession
    dim = probe_dim(embeddings, vec_col)
    v = _ivf_quantized(embeddings, id_col, vec_col, dim).select("id", "qe")
    seeds = (
        v.withColumn("hk", (F.lit(48271) * F.col("id") + F.lit(seed)) % F.lit(2147483647))
        .orderBy("hk", "id")
        .limit(n_cells)
        .collect()
    )
    cents = [(i, list(r["qe"]), 1) for i, r in enumerate(seeds)]

    def assign_to(cents_rows):
        cdf = spark.createDataFrame(
            cents_rows, schema="cid int, s array<bigint>, cnt bigint"
        )
        scored = v.crossJoin(F.broadcast(cdf)).select(
            "id",
            "cid",
            _ivf_dist(F.col("cnt"), F.col("qe"), F.col("s"), dim).alias("d"),
        )
        return scored.groupBy("id").agg(
            F.min_by("cid", F.struct("d", "cid")).alias("cid")
        )

    for _ in range(rounds):
        best = assign_to(cents)
        agg = (
            v.join(best, "id")
            .groupBy("cid")
            .agg(
                *[F.sum(F.col("qe")[i]).alias(f"s{i}") for i in range(dim)],
                F.count("*").alias("cnt"),
            )
            .collect()
        )
        cents = sorted(
            (int(r["cid"]), [int(r[f"s{i}"]) for i in range(dim)], int(r["cnt"]))
            for r in agg
        )
    return assign_to(cents), cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """IVF-Flat approximate top-k: each query scans its nprobe nearest cells.

    At cluster scale the assignments table is the partitioned inverted file
    (shuffle key = cid); probes broadcast (queries × n_cells rows). Recall vs
    brute force is measured in tests, not assumed.
    """
    spark = corpus.sparkSession
    assign, cents = ivf_index(corpus, n_cells, rounds, id_col, vec_col, seed)
    dim = len(cents[0][1])
    cdf = spark.createDataFrame(cents, schema="cid int, s array<bigint>, cnt bigint")
    qv = _ivf_quantized(queries, id_col, vec_col, dim)
    probe_scored = qv.select("id", "qe").crossJoin(F.broadcast(cdf)).select(
        F.col("id").alias("query_id"),
        "cid",
        _ivf_dist(F.col("cnt"), F.col("qe"), F.col("s"), dim).alias("d"),
    )
    wp = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        probe_scored.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "cid")
    )
    cand = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    scored = _score_candidates(cand, corpus, queries, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def random_project(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims, exploded
    as (id, out_dim, value) rows.

    The dimensionality-reduction front-end for embedding dedup / ANN at 100 TB
    (project 1024-dim vectors to 8-32 dims before bucketing; JL preserves
    pairwise distances within 1±eps). The projection matrix is the same
    deterministic integer family as the LSH planes (:func:`_plane_coeff`,
    coefficients in [-8, 8] from pure index algebra), and inputs are
    fixed-point quantized (x -> floor(1000·x + 0.5)), so every y_j is an
    EXACT int64 sum — order-independent, bit-identical in the SQL oracle —
    with one final double division undoing the scale.

    Implementation: one Arrow-batched NumPy int64 matmul per batch (out_dim ×
    dim multiply-adds per row is past the JVM 64 KB codegen ceiling as a
    static Column unroll — same story as :func:`lsh_bucket_keys`); the final
    scale-undoing division + rounding stays JVM-side so it is identical to
    the SQL oracle's ``round(y / 1000, 6)``.
    """
    dim = probe_dim(embeddings, vec_col)
    coeffs = np.array(
        [[_plane_coeff(j, i) for i in range(dim)] for j in range(out_dim)],
        dtype=np.int64,
    )  # (out_dim, dim)

    @pandas_udf("array<bigint>")
    def _project(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        m = np.asarray(vs.tolist(), dtype="float64")
        q = np.floor(m * float(IVF_QUANT) + 0.5).astype(np.int64)
        y = q @ coeffs.T  # exact int64: |y| <= dim * 8 * max|qe| << 2^63
        return pd.Series(y.tolist())

    q = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _project(F.col(vec_col).cast("array<double>")).alias("ys"),
    )
    return q.select("id", F.posexplode("ys").alias("out_dim", "y")).select(
        F.col("id"),
        F.col("out_dim").cast("long").alias("out_dim"),
        F.round(F.col("y") / F.lit(float(IVF_QUANT)), 6).alias("value"),
    )
