"""Stage 3 — pairwise similarity scoring of candidate pairs.

Mirrors the reference's weighted attribute combination
(/root/reference/src/entity_resolver/core/resolver.py:941-986):
``attr_sim = Σ_k w_k · sim_k`` and ``sim = (1-α)·attr_sim + α·rel_sim``
(α defaults to 0 per resolver.py:236, making a single scoring pass exact).

:func:`score_pairs` is the one scoring implementation. Every kernel except
the sparse TF-IDF route is a term of ONE per-pair projection over
``pairs ⋈ doc features``:

- ``jw`` / ``jaro`` / ``lev``  one fused Arrow UDF
  (:func:`~..functions.similarity.make_weighted_char_sim_udf`): transport,
  codepoint encode and alphabet compaction are paid once per batch for all
  char kernels; ``lev`` is the bit-parallel Myers kernel
- ``jaccard``  JVM-side token-set Jaccard
- ``stfidf``   soft-TF-IDF pandas UDF over a broadcast DF dict, or the
  distributed ``soft_tfidf_pairs`` join above the dict caps
- custom kernels: one pandas UDF each over the doc prefixes
- ``tfidf``    cosine by one of two routes: the DENSE route (vocabulary
  <= DENSE_TFIDF_MAX_VOCAB) broadcast-joins per-doc vectors onto the pair
  rows and adds a static dot product to the same projection; otherwise the
  SPARSE route joins the exploded (doc, token) weights, and its per-pair
  partials are unioned with the projection's partial and summed in one
  pair-level groupBy.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import tfidf as tfidf_mod
from ..functions import vector as V
from ..functions.similarity import make_weighted_char_sim_udf, token_jaccard_col
from .blocking import token_dictionary

CHAR_KERNELS = ("jw", "jaro", "lev")


@dataclass
class ScoringConfig:
    # weights must sum to 1 (reference resolver.py:844-858 enforces this)
    weights: dict[str, float] = field(
        default_factory=lambda: {"jw": 0.3, "lev": 0.2, "tfidf": 0.5}
    )
    alpha: float = 0.0              # relational mix-in, reference default 0
    prefix_len: int = 64
    stfidf_threshold: float = 0.5   # reference default
    jw_prefix_weight: float = 0.1   # reference default
    # user-supplied kernels (reference resolver.py:899-901 custom callables):
    # name -> batch fn (ndarray[str], ndarray[str]) -> ndarray[float64],
    # applied to the doc prefixes through the same Arrow-batched transport.
    custom_kernels: dict = field(default_factory=dict)

    def __post_init__(self):
        total = sum(self.weights.values())
        if abs(total - 1.0) > 1e-9:
            raise ValueError(f"kernel weights must sum to 1, got {total}")
        known = {*CHAR_KERNELS, "tfidf", "stfidf", "jaccard"}
        unknown = set(self.weights) - known - set(self.custom_kernels)
        if unknown:
            raise ValueError(f"unknown kernels (no custom_kernels entry): {unknown}")


# Soft-TF-IDF route: the pandas UDF over a driver-built DF dict while the
# candidates' vocabulary fits BOTH caps, the distributed soft_tfidf_pairs
# plan above either. Rows cap the broadcast; the byte cap (rows × fixed
# per-entry overhead + Σ len(token)) stops a few long tokens building a
# multi-hundred-MB dict on the driver. On sf0.01's 3,779-pair er_pairs_stfidf
# subset (4 cores, min of 3) the dict UDF took 7.04 s and the distributed
# plan 19.81 s, max |difference| 8.9e-16.
STFIDF_MAX_VOCAB = 2_000_000
STFIDF_MAX_VOCAB_BYTES = 64 << 20

# Dense TF-IDF vocabulary gate: the static dot is `vocab` multiply-adds in
# the per-pair projection, and just above 64 of them it leaves whole-stage
# codegen. Measured on a 4-core host at local[2], default weights, with the
# ER frontier's tokens split into variants to widen the vocabulary: at sf0.1
# (706k pairs) dense beats sparse 6.5 s vs 12.0 s at vocab 31 and 8.2 s vs
# 13.5 s at 62, then loses 30.5 s vs 11.6 s at 93; at sf0.01 dense takes
# 2.4 s at 62, 3.2 s at 65 and 4.3 s at 69 against 1.9-2.6 s sparse. At 221
# the generated method exceeds 64 KB and Spark interprets the projection.
DENSE_TFIDF_MAX_VOCAB = 64
# dense vectors are broadcast to both sides of the pair join; vocabulary bounds
# row WIDTH but not row COUNT, so gate on docs too: 200k docs x 64 doubles
# ~ 100 MB, well inside what a driver/executor broadcast should carry
DENSE_TFIDF_MAX_DOCS = 200_000
# sparse route: the (doc, token, weight) table is broadcast to the pair joins
# up to this many rows (~64 B each, about the session's 64 MB broadcast
# threshold); above it both joins shuffle
SPARSE_TFIDF_BROADCAST_MAX_ROWS = 1_000_000


def _dense_tfidf_docs(docs, df_table, corpus_size, vocab):
    """Per-doc dense tf-idf vectors: (conv_id, v: array<double>[vocab], nrm).

    Built as `vocab` conditional sums over the exploded (doc, token_id, w)
    rows — the same pivot trick as the MinHash aggregation. Only called when
    vocab <= DENSE_TFIDF_MAX_VOCAB.
    """
    tf = (
        docs.select("conv_id", F.explode("tokens").alias("token"))
        .groupBy("conv_id", "token")
        .agg(F.count("*").alias("tf"))
        .join(F.broadcast(token_dictionary(df_table)), "token")
        .select(
            "conv_id",
            "token_id",
            (F.col("tf") * F.lit(float(corpus_size)) / F.col("df")).alias("w"),
        )
    )
    sums = [
        F.sum(F.when(F.col("token_id") == i + 1, F.col("w")).otherwise(0.0)).alias(f"c{i}")
        for i in range(vocab)
    ]
    agg = tf.groupBy("conv_id").agg(*sums)
    vec = F.array(*[F.col(f"c{i}") for i in range(vocab)])
    return agg.select(
        "conv_id",
        vec.alias("v"),
        F.sqrt(
            F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
        ).alias("nrm"),
    )


def _dense_path_eligible(vocab: int, corpus_size: int | None) -> bool:
    """ONE predicate for the dense-TF-IDF route, shared by
    precompute_dense_tfidf and score_pairs — if the two ever diverged,
    bench.py could precompute None while scoring still takes the dense route
    and silently re-derives the table inside the timed run."""
    return 0 < vocab <= DENSE_TFIDF_MAX_VOCAB and (corpus_size or 0) <= DENSE_TFIDF_MAX_DOCS


def precompute_dense_tfidf(
    docs: DataFrame, df_table: DataFrame, corpus_size: int
) -> DataFrame | None:
    """Materialize the per-doc dense tf-idf table score_pairs' dense route
    needs, or None when the vocab/corpus is too large for it (the sparse
    explode+join route needs no precompute).

    Per-doc featurization is O(docs) work a pipeline runs ONCE (and persists)
    before scoring O(pairs) candidates; callers pass the persisted result as
    ``dense_table`` so repeated scoring passes don't re-derive it.
    """
    vocab = df_table.count()
    if _dense_path_eligible(vocab, corpus_size):
        return _dense_tfidf_docs(docs, df_table, corpus_size, vocab)
    return None


def _custom_kernel_udf(fn):
    """Wrap a user batch kernel (ndarray, ndarray) -> ndarray[float64] as a
    pandas UDF (the A5 extension point, reference resolver.py:899-901)."""

    @pandas_udf("double")
    def custom_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        x = s1.fillna("").to_numpy(dtype=object)
        y = s2.fillna("").to_numpy(dtype=object)
        return pd.Series(np.asarray(fn(x, y), dtype=np.float64))

    return custom_udf


def pair_features(pairs: DataFrame, docs: DataFrame, cols: list[str]) -> DataFrame:
    """Attach per-side doc features to pairs: colX -> colX_1 / colX_2."""
    d1 = docs.select(
        F.col("conv_id").alias("id1"), *[F.col(c).alias(f"{c}_1") for c in cols]
    )
    d2 = docs.select(
        F.col("conv_id").alias("id2"), *[F.col(c).alias(f"{c}_2") for c in cols]
    )
    return pairs.join(d1, "id1").join(d2, "id2")


def _stfidf_kernel(pairs, docs, cfg, df_table, corpus_size):
    """Soft-TF-IDF: (udf column over tokens_1/tokens_2, None) when the DF dict
    fits the caps, else (None, distributed (id1, id2, stfidf) frame).

    The UDF kernel broadcasts the DF table as a python dict (per-token DF
    lookups inside the Arrow batch). Unbounded, that collect OOMs the driver
    at web-scale vocab — so (a) prune the table to tokens that actually occur
    in candidate docs, (b) above either cap, fall back to the fully
    DISTRIBUTED plan (functions/tfidf.py: soft_tfidf_pairs — same algebra, no
    driver collect)."""
    cand_ids = (
        pairs.select(F.col("id1").alias("conv_id"))
        .unionByName(pairs.select(F.col("id2").alias("conv_id")))
        .distinct()
    )
    cand_tokens = (
        docs.join(cand_ids, "conv_id")
        .select(F.explode(F.array_distinct("tokens")).alias("token"))
        .distinct()
    )
    pruned = df_table.join(cand_tokens, "token")
    stats = pruned.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("token")), F.lit(0)).alias("chars"),
    ).first()
    n_tokens = int(stats["n"])
    # CPython dict-entry footprint: ~104 B fixed (8 B table slot + 49 B str
    # header + 28 B small int + insertion-order entry) + the token bytes
    # themselves. An estimate, not an accounting — sized so the 64 MB default
    # caps the dict two orders of magnitude below driver heap, with the
    # distributed plan as the overflow path either way.
    est_bytes = n_tokens * 104 + int(stats["chars"])
    if n_tokens > STFIDF_MAX_VOCAB or est_bytes > STFIDF_MAX_VOCAB_BYTES:
        return None, tfidf_mod.soft_tfidf_pairs(
            pairs, docs, df_table, corpus_size, threshold=cfg.stfidf_threshold
        )
    df_map = {r["token"]: r["df"] for r in pruned.collect()}
    bc = pairs.sparkSession.sparkContext.broadcast(df_map)
    st = tfidf_mod.make_soft_tfidf_udf(bc, corpus_size, threshold=cfg.stfidf_threshold)
    return st(F.col("tokens_1"), F.col("tokens_2")), None


def _cosine(dot, n1, n2):
    return F.when((n1 > 0) & (n2 > 0), dot / (n1 * n2)).otherwise(0.0)


def _attach_dense_tfidf(base, dense):
    """Broadcast-join the per-doc dense vectors onto both sides of ``base``.
    Left joins: a doc with zero tokens has no dense row; its pairs still
    score (null norms fail the cosine's norm test, giving 0)."""
    dv1 = dense.select(
        F.col("conv_id").alias("id1"), F.col("v").alias("_v1"), F.col("nrm").alias("_n1")
    )
    dv2 = dense.select(
        F.col("conv_id").alias("id2"), F.col("v").alias("_v2"), F.col("nrm").alias("_n2")
    )
    return base.join(F.broadcast(dv1), "id1", "left").join(F.broadcast(dv2), "id2", "left")


def _dense_cosine(vocab):
    """Cosine over the attached dense vectors as a STATIC dot product (vocab
    is a plan-time constant): element_at ordinal access + scalar multiply-adds
    stay inside whole-stage codegen while the vocabulary is below the
    measured cliff."""
    return _cosine(V.static_dot("_v1", "_v2", vocab), F.col("_n1"), F.col("_n2"))


def _sparse_tfidf_partials(pairs, docs, df_table, corpus_size, w, broadcast):
    """(id1, id2, partial = w · cosine) for the pairs sharing a token: the
    pair stream joins the exploded (doc, token, weight) rows on both sides,
    one groupBy sums the products, two broadcast norm joins normalize.

    ``broadcast``: ship the (doc, token, weight) table to both joins. Its
    planned size is the tf ⋈ DF join's cartesian bound, so without the hint
    the second join plans as a sort-merge join that shuffles the
    pairs x tokens stream."""
    vectors = tfidf_mod.tfidf_vectors(docs, df_table, corpus_size)
    norms = tfidf_mod.tfidf_norms(vectors)
    v1 = vectors.select(F.col("conv_id").alias("id1"), "token", F.col("w").alias("w1"))
    v2 = vectors.select(F.col("conv_id").alias("id2"), "token", F.col("w").alias("w2"))
    if broadcast:
        v1, v2 = F.broadcast(v1), F.broadcast(v2)
    dots = (
        pairs.join(v1, "id1")
        .join(v2, ["id2", "token"])
        .select("id1", "id2", (F.col("w1") * F.col("w2")).alias("dot"))
        .groupBy("id1", "id2")
        .agg(F.sum("dot").alias("dot"))
    )
    n1 = F.broadcast(norms.select(F.col("conv_id").alias("id1"), F.col("norm").alias("n1")))
    n2 = F.broadcast(norms.select(F.col("conv_id").alias("id2"), F.col("norm").alias("n2")))
    return (
        dots.join(n1, "id1")
        .join(n2, "id2")
        .select(
            "id1",
            "id2",
            (F.lit(w) * _cosine(F.col("dot"), F.col("n1"), F.col("n2"))).alias("partial"),
        )
    )


def score_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: ScoringConfig | None = None,
    df_table: DataFrame | None = None,
    corpus_size: int | None = None,
    rel_scores: DataFrame | None = None,
    dense_table: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2) -> (id1, id2, attr_sim, sim).

    ``dense_table``: a caller-precomputed (typically persisted) output of
    :func:`precompute_dense_tfidf`, reused by the dense TF-IDF route instead
    of re-deriving the per-doc vectors. The Spark session is taken from
    ``pairs``.
    """
    cfg = cfg or ScoringConfig()
    weights = cfg.weights
    if ("tfidf" in weights or "stfidf" in weights) and (
        df_table is None or corpus_size is None
    ):
        raise ValueError("tfidf/stfidf kernels need df_table + corpus_size")
    char = {k: w for k, w in weights.items() if k in CHAR_KERNELS}

    stfidf_col = stfidf_join = None
    if "stfidf" in weights:
        stfidf_col, stfidf_join = _stfidf_kernel(pairs, docs, cfg, df_table, corpus_size)
    dense = sparse = None
    if "tfidf" in weights:
        # vocabulary and Σ df (= the number of (doc, token) weight rows) in
        # one job: the route and the sparse broadcast gate
        vocab, nnz = df_table.agg(
            F.count(F.lit(1)), F.coalesce(F.sum("df"), F.lit(0))
        ).first()
        if _dense_path_eligible(vocab, corpus_size):
            dense = dense_table
            if dense is None:
                dense = _dense_tfidf_docs(docs, df_table, corpus_size, vocab)
        else:
            sparse = _sparse_tfidf_partials(
                pairs, docs, df_table, corpus_size, weights["tfidf"],
                broadcast=nnz <= SPARSE_TFIDF_BROADCAST_MAX_ROWS,
            )

    # Σ w_k · sim_k in weight order, as one per-pair projection; the fused
    # char term carries its own weights and stands at its first kernel
    p1, p2 = F.col("doc_prefix_1"), F.col("doc_prefix_2")
    terms = []
    for k, w in weights.items():
        if k in char:
            if k == next(iter(char)):
                udf = make_weighted_char_sim_udf(
                    char, max_len=cfg.prefix_len, prefix_weight=cfg.jw_prefix_weight
                )
                terms.append(udf(p1, p2))
        elif k == "tfidf":
            if dense is not None:
                terms.append(F.lit(w) * _dense_cosine(vocab))
        elif k == "jaccard":
            terms.append(F.lit(w) * token_jaccard_col(F.col("tokens_1"), F.col("tokens_2")))
        elif k == "stfidf":
            st = stfidf_col if stfidf_col is not None else F.col("stfidf")
            terms.append(F.lit(w) * st)
        else:
            terms.append(F.lit(w) * _custom_kernel_udf(cfg.custom_kernels[k])(p1, p2))
    partial = reduce(operator.add, terms) if terms else F.lit(0.0)

    need_prefix = bool(char) or bool(set(weights) & set(cfg.custom_kernels))
    need_tokens = "jaccard" in weights or stfidf_col is not None
    cols = (["doc_prefix"] if need_prefix else []) + (["tokens"] if need_tokens else [])
    base = pair_features(pairs, docs, cols) if cols else pairs
    if stfidf_join is not None:
        base = base.join(stfidf_join, ["id1", "id2"])
    if dense is not None:
        base = _attach_dense_tfidf(base, dense)

    if sparse is None:
        scored = base.select("id1", "id2", partial.alias("attr_sim"))
    else:
        # one projection row per pair plus at most one TF-IDF row (absent
        # when no shared token == cosine 0): a two-term sum, so the groupBy
        # is bit-identical to adding the two terms in one projection
        scored = (
            base.select("id1", "id2", partial.alias("partial"))
            .unionByName(sparse)
            .groupBy("id1", "id2")
            .agg(F.sum("partial").alias("attr_sim"))
        )

    if cfg.alpha > 0:
        if rel_scores is None:
            raise ValueError("alpha > 0 requires rel_scores (c1, c2, rel_sim)")
        r = rel_scores.select(
            F.col("c1").alias("id1"), F.col("c2").alias("id2"), "rel_sim"
        )
        return scored.join(r, ["id1", "id2"], "left").select(
            "id1",
            "id2",
            "attr_sim",
            (
                (1 - cfg.alpha) * F.col("attr_sim")
                + cfg.alpha * F.coalesce("rel_sim", F.lit(0.0))
            ).alias("sim"),
        )
    return scored.select("id1", "id2", "attr_sim", F.col("attr_sim").alias("sim"))


# the fast-path name older callers (and the frozen bench.py) import
score_pairs_slim = score_pairs
