"""Stage 2 — blocking: candidate-pair generation via equality blocking keys.

Replaces (not ports) the reference's sequential, order-dependent canopy
blocking (/root/reference/src/entity_resolver/core/resolver.py:347-376): at
10^12-turn scale an O(n·buckets) driver loop is impossible, and the reference's
bucket-representative comparison is order-dependent anyway. The distributed
equivalent is *equality blocking keys* + a self-join per key:

- token keys: each (sufficiently rare) token of the canonical doc;
- MinHash-LSH band keys: a seeded linear hash family over a token dictionary,
  min-aggregated per hash, banded (r rows/band) so two docs collide on a band
  key with probability ``1 - (1 - j^r)^b`` for Jaccard similarity j.

The design follows the meta-blocking lineage of distributed ER systems (cf.
SparkER, EDBT 2019 — PAPERS.md): blocking as data-parallel key generation +
equality joins, with explicit block-size accounting instead of trusting the
key distribution.

Skew handling is explicit (north rule): one window count gives every block's
size (:func:`with_block_size`); blocks larger than ``max_block_size`` are
dropped and *reported* (dropped-block metrics), since a hot token
(stopword-like) generates O(s²) candidate pairs for no precision gain.

This module holds the ONE MinHash-LSH band join that blocking and the dedup
operators (operators/dedup.py) share — SparkER's key-generation operator plus
one equality-join operator:

- :func:`minhash_mins`: the signature builder (raw per-hash mins per doc);
  blocking renders ``mh:<band>:...`` strings from it, dedup packed int64
  band keys (:func:`pack_band`), the estimator audit an array;
- :func:`bucket_self_join`: the skew-safe self-join — hot blocks through the
  salted sub-bucket join (:func:`salted_pairs`), the rest through an
  explicitly repartitioned equi-join; its input is pinned once by
  :func:`_pin` (eager localCheckpoint), the one materialization policy, so
  no caller has frames to release;
- :func:`first_band_match`: the exactly-once predicate over packed band
  payloads (variable-width keys use the Arrow kernel
  :func:`_pair_key_stats` instead).

The MinHash implementation is deliberately dictionary-based (token -> dense id
via the document-frequency table, then ``(a_i * id + b_i) mod P``): the DF
table is needed for TF-IDF anyway, the hash family is exactly reproducible in
ANSI SQL (for the DuckDB correctness oracle), and everything stays JVM-side
(explode + min aggregations, no UDF).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.ids import dense_rank_ids

MERSENNE_P = 2147483647  # 2^31 - 1


@dataclass
class BlockingConfig:
    use_token_keys: bool = True
    min_token_len: int = 3        # skip ultra-short tokens as keys
    max_token_df: int = 100       # tokens appearing in more docs are not keys
    use_minhash: bool = True
    minhash_rows: int = 2         # r: hashes per band
    minhash_bands: int = 8        # b: number of bands
    seed: int = 7
    max_block_size: int = 200     # drop larger blocks (reported)
    salt_block_size: int = 0      # >0: blocks in (salt_block_size,
                                  # max_block_size] enumerate pairs via the
                                  # salted sub-bucket join instead of one task
    salt_factor: int = 8          # sub-buckets per salted block
    # user-supplied blocking strategy (the reference takes a blocking_strategy
    # ctor arg, main.py:212-214): a callable docs -> DataFrame(conv_id,
    # block_key). Keys flow through the same size-cap / salting / metrics
    # machinery as the built-in sources.
    custom_key_fn: object | None = None


def _hash_params(n: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the linear hash family (seeded LCG)."""
    params = []
    state = seed * 2654435761 % MERSENNE_P
    for _ in range(n):
        state = (state * 1103515245 + 12345) % MERSENNE_P
        a = state % (MERSENNE_P - 1) + 1
        state = (state * 1103515245 + 12345) % MERSENNE_P
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def token_dictionary(df_table: DataFrame) -> DataFrame:
    """(token, df, token_id) with dense ids ordered by (df, token) — the one
    token-id builder: blocking, the dedup family, the text fingerprints and
    dense TF-IDF all number their tokens here, from
    ``functions.tfidf.doc_frequencies``.

    Deterministic and reproducible in SQL (equals ``row_number() over (order
    by df, token)``), but computed with NO single-task global sort: ids come
    from range-partitioned per-partition row numbers + per-partition offsets
    (:func:`..functions.ids.dense_rank_ids`), so a 10^9-token vocabulary
    numbers in parallel instead of on one straggler.
    """
    return dense_rank_ids(
        df_table.select("token", "df"), ["df", "token"], "token_id"
    ).select("token", "df", "token_id")


def token_block_keys(
    docs: DataFrame, token_dict: DataFrame, cfg: BlockingConfig
) -> DataFrame:
    """(conv_id, block_key) from rare-enough tokens."""
    toks = docs.select(
        "conv_id", F.explode(F.array_distinct("tokens")).alias("token")
    )
    eligible = token_dict.filter(
        (F.length("token") >= cfg.min_token_len) & (F.col("df") <= cfg.max_token_df)
    )
    return toks.join(F.broadcast(eligible), "token").select(
        "conv_id", F.concat(F.lit("tok:"), F.col("token")).alias("block_key")
    )


def minhash_mins(
    docs: DataFrame,
    token_dict: DataFrame,
    n_hashes: int,
    seed: int,
    id_col: str = "conv_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, h0..h{n_hashes-1}): the raw MinHash signature of every doc — the
    one signature builder that blocking keys, dedup band buckets and the
    estimator audit all render from.

    Plan: explode distinct tokens -> broadcast-join the dictionary -> for each
    hash function take min((a*id + b) % P) per doc. The per-hash min is one
    groupBy(id) aggregation (map-side combinable). Every value is < P < 2^31.
    """
    toks = docs.select(
        id_col, F.explode(F.array_distinct(tokens_col)).alias("token")
    ).join(F.broadcast(token_dict.select("token", "token_id")), "token")
    return toks.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(a) * F.col("token_id") + F.lit(b)) % F.lit(MERSENNE_P)
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(_hash_params(n_hashes, seed))
        ]
    )


def pack_band(hs: list) -> list:
    """One band's MinHash values (each < 2^31) packed two per int64
    (``h_even * 2^31 + h_odd`` < 2^62): ``ceil(len(hs)/2)`` longs that
    identify the band key EXACTLY — injective, so a packed key join gives the
    same pair set as the ``mh:<band>:<h>_<h>`` string key."""
    return [
        hs[i] * F.lit(1 << 31) + (hs[i + 1] if i + 1 < len(hs) else F.lit(0))
        for i in range(0, len(hs), 2)
    ]


def minhash_signatures(
    docs: DataFrame, token_dict: DataFrame, cfg: BlockingConfig
) -> DataFrame:
    """(conv_id, block_key): LSH band keys ``mh:<band>:<h>_<h>...`` rendered
    from :func:`minhash_mins`, one row per (doc, band)."""
    r = cfg.minhash_rows
    sig = minhash_mins(docs, token_dict, r * cfg.minhash_bands, cfg.seed)
    keys = [
        F.concat(
            F.lit(f"mh:{band}:"),
            F.concat_ws(
                "_", *[F.col(f"h{band * r + i}").cast("string") for i in range(r)]
            ),
        )
        for band in range(cfg.minhash_bands)
    ]
    return sig.select("conv_id", F.explode(F.array(*keys)).alias("block_key"))


def build_blocks(
    docs: DataFrame, token_dict: DataFrame, cfg: BlockingConfig | None = None
) -> DataFrame:
    """All blocking keys for every doc: (conv_id, block_key)."""
    cfg = cfg or BlockingConfig()
    parts = []
    if cfg.use_token_keys:
        parts.append(token_block_keys(docs, token_dict, cfg))
    if cfg.use_minhash:
        parts.append(minhash_signatures(docs, token_dict, cfg))
    if cfg.custom_key_fn is not None:
        custom = cfg.custom_key_fn(docs)
        missing = {"conv_id", "block_key"} - set(custom.columns)
        if missing:
            raise ValueError(f"custom_key_fn output lacks columns: {missing}")
        parts.append(custom.select("conv_id", "block_key"))
    if not parts:
        raise ValueError("blocking config enables no key source")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def block_size_metrics(blocks: DataFrame, cfg: BlockingConfig) -> DataFrame:
    """Per-block sizes + drop flag — the dropped-pair accounting the north rule
    requires ("hot blocks handled explicitly", reported not silent)."""
    return blocks.groupBy("block_key").agg(F.count("*").alias("size")).select(
        "block_key",
        "size",
        (F.col("size") > cfg.max_block_size).alias("dropped"),
        (F.col("size") * (F.col("size") - 1) / 2).cast("long").alias("pairs_if_kept"),
    )


def candidate_pairs(
    blocks: DataFrame,
    cfg: BlockingConfig | None = None,
    with_weight: bool = False,
) -> DataFrame:
    """Self-join blocks on block_key -> distinct unordered pairs (id1 < id2).

    Skew handling, explicitly (north rule), in :func:`bucket_self_join` over
    one block-size column (:func:`with_block_size`):
    - blocks larger than ``max_block_size`` are excluded before the join
      (accounting in :func:`block_size_metrics`);
    - with ``salt_block_size > 0``, blocks in (salt_block_size,
      max_block_size] go through :func:`salted_pairs`: members are hashed into
      ``salt_factor`` sub-buckets and pairs enumerated per sub-bucket pair
      (composite join key (block, i, j)), so one hot key becomes
      C(g+1, 2) evenly-sized tasks instead of one O(s²) straggler;
    - the join input is explicitly repartitioned on the key so the shuffle
      lands once; AQE skew-join splits any residual imbalance.

    Pair dedup across keys is NOT a distinct() (that would shuffle the full
    pair set — the dominant exchange at 10^10 pairs): each member carries a
    per-doc payload of its kept keys and a pair survives only under the FIRST
    key the two docs share — every co-blocked pair is emitted exactly once,
    as a per-row predicate. Two payloads, one join:

    - minhash-only configs (the hot ER/bench path): packed int64 band keys
      and the static :func:`first_band_match` (whole-stage codegen), see
      :func:`_banded_candidate_pairs` — the array payload below anti-scaled
      8→32 cores at sf0.1 (VERDICT r2 item 1);
    - any other key mix (token keys, custom keys — variable width): the
      sorted array of the doc's kept DENSE KEY IDS
      (:func:`_attach_key_payload`), checked by one Arrow-batched NumPy
      kernel (:func:`_pair_key_stats`).

    Both payloads cost doc×key-cardinality work, orders of magnitude below
    pair cardinality. ``with_weight`` adds the CBS weight (number of shared
    kept keys) for meta-blocking.
    """
    cfg = cfg or BlockingConfig()
    if cfg.use_minhash and not cfg.use_token_keys and cfg.custom_key_fn is None:
        return _banded_candidate_pairs(blocks, cfg, with_weight)
    # custom key fns may emit repeated (conv_id, block_key) rows; uniqueness
    # is what makes the first-key filter exact (built-in key sources are
    # distinct by construction)
    kept = with_block_size(
        blocks.dropDuplicates(["conv_id", "block_key"]), cfg.max_block_size
    )
    out = bucket_self_join(_attach_key_payload(kept), _salt_size(cfg), cfg.salt_factor)
    # one Arrow kernel pass computes BOTH the exactly-once predicate and the
    # CBS weight; referencing two fields of the same deterministic UDF result
    # through a named column guarantees a single evaluation per row
    out = out.withColumn(
        "_st", _pair_key_stats(F.col("p1.cur"), F.col("p1.keys"), F.col("p2.keys"))
    ).filter(F.col("_st.keep"))
    if with_weight:
        return out.select("id1", "id2", F.col("_st.weight").alias("weight"))
    return out.select("id1", "id2")


def _salt_size(cfg: BlockingConfig) -> int:
    """Salting threshold for :func:`bucket_self_join`: 0 (off) unless it lies
    below the size cap — larger blocks are dropped before salting."""
    return cfg.salt_block_size if cfg.salt_block_size < cfg.max_block_size else 0


def _pin(df: DataFrame) -> DataFrame:
    """Materialize a band-join frame that several consumers read.

    The one materialization policy of the band join: an eager
    ``localCheckpoint``, for the lifecycle reasons given at
    :func:`..functions.ids.dense_rank_ids` — the frame is computed once, no
    CacheManager entry is created, and its blocks are reclaimed by the
    ContextCleaner once no live plan references them, so no caller has to
    release anything. Every pinned frame is doc×key cardinality, never pair
    cardinality."""
    return df.localCheckpoint(eager=True)


def with_block_size(
    blocks: DataFrame, max_block_size: int | None = None
) -> DataFrame:
    """``blocks(block_key, conv_id, ...)`` plus ``_sz``, the member count of
    each row's block; with ``max_block_size``, the rows of larger blocks are
    dropped (the hot-block cap).

    One window count serves both the size cap and the salting split of
    :func:`bucket_self_join` — no separate size table, no broadcast
    semi/anti joins."""
    sized = blocks.withColumn(
        "_sz", F.count(F.lit(1)).over(Window.partitionBy("block_key"))
    )
    if max_block_size is None:
        return sized
    return sized.filter(F.col("_sz") <= max_block_size)


def _attach_key_payload(kept: DataFrame) -> DataFrame:
    """Add ``_p = struct(cur bigint, keys array<bigint>)`` to a kept-blocks
    frontier (any extra columns ride along).

    Keys become dense int64 ids ordered BY THE KEY STRING
    (:func:`..functions.ids.dense_rank_ids` over the distinct kept keys), so
    "minimum shared key" selects the same emitting key as an
    ``array<string>`` payload would — pair set, emitting key, and CBS weights
    are unchanged (dense ranking is injective and order-preserving). The id
    dictionary costs one shuffle at KEY cardinality and one groupBy at
    doc×key cardinality — both orders of magnitude below pair cardinality —
    and in exchange the quadratic join's shuffle payload shrinks to
    fixed-width integers and the pair-level predicate becomes an
    Arrow-batched NumPy kernel (:func:`_pair_key_stats`) instead of the
    interpreted ``array_min(array_intersect(...))`` pair that anti-scales at
    high in-JVM concurrency (docs/SCALE.md, round-3 law).
    """
    # read by the key dictionary and by the per-doc payload aggregate
    kept = _pin(kept)
    other = [c for c in kept.columns if c not in ("conv_id", "block_key")]
    kids = dense_rank_ids(
        kept.select("block_key").distinct(), ["block_key"], "_kid"
    )
    per_doc = (
        kept.join(kids, "block_key")
        .groupBy("conv_id")
        .agg(F.collect_list(F.struct("block_key", "_kid", *other)).alias("_rows"))
    )
    return per_doc.select(
        "conv_id",
        F.explode("_rows").alias("_r"),
        F.array_sort(F.col("_rows._kid")).alias("_keys"),
    ).select(
        "conv_id",
        "_r.block_key",
        *[f"_r.{c}" for c in other],
        F.struct(F.col("_r._kid").alias("cur"), F.col("_keys").alias("keys")).alias(
            "_p"
        ),
    )


def _pair_key_stats_batch(
    cur: pd.Series, k1: pd.Series, k2: pd.Series
) -> pd.DataFrame:
    """Per pair row: ``keep`` = (this row's shared key == MIN shared key) and
    ``weight`` = |keys1 ∩ keys2| (the CBS meta-blocking weight), in ONE
    vectorized NumPy pass per Arrow batch.

    Payload contract: ``cur`` ∈ keys1 ∩ keys2 (the join emitted this pair
    under that key); each doc's key array is sorted and duplicate-free.
    Algorithm: flatten both sides' arrays with row ids, lexsort by (row,
    key); a shared key is an adjacent duplicate (one from each side, since
    keys are unique per doc), so the weight is a bincount of duplicate
    positions and the min shared key is the FIRST duplicate within each row
    (rows are sorted by key). No per-row Python; the only per-row work is
    array concatenation, which is C-level. Replaces the interpreted
    ``array_intersect``/``array_min`` expressions on the quadratic pair
    stream (r3 measured law: codegen-fallback array HOFs anti-scale 8→32
    cores; Arrow-batched NumPy kernels are the endorsed scale path — same
    class as the JW/Myers scoring kernel)."""
    n = len(cur)
    if n == 0:
        return pd.DataFrame(
            {"keep": pd.Series([], dtype=bool), "weight": pd.Series([], dtype="int64")}
        )
    l1 = np.fromiter((len(a) for a in k1), dtype=np.int64, count=n)
    l2 = np.fromiter((len(a) for a in k2), dtype=np.int64, count=n)
    f1 = (
        np.concatenate([np.asarray(a, dtype=np.int64) for a in k1])
        if l1.sum()
        else np.empty(0, np.int64)
    )
    f2 = (
        np.concatenate([np.asarray(a, dtype=np.int64) for a in k2])
        if l2.sum()
        else np.empty(0, np.int64)
    )
    rows = np.concatenate([np.repeat(np.arange(n), l1), np.repeat(np.arange(n), l2)])
    keys = np.concatenate([f1, f2])
    order = np.lexsort((keys, rows))
    rs, ks = rows[order], keys[order]
    dup = (rs[1:] == rs[:-1]) & (ks[1:] == ks[:-1])
    shared_rows = rs[1:][dup]
    shared_keys = ks[1:][dup]
    weight = np.bincount(shared_rows, minlength=n)
    uniq, first = np.unique(shared_rows, return_index=True)
    keep = np.zeros(n, dtype=bool)
    keep[uniq] = shared_keys[first] == cur.to_numpy(dtype=np.int64)[uniq]
    return pd.DataFrame({"keep": keep, "weight": weight.astype("int64")})


def _pair_key_stats(cur, k1, k2):
    # the pandas_udf wrapper is built per call: decorating at module import
    # would demand an active SparkSession before any session exists
    return pandas_udf("struct<keep: boolean, weight: bigint>")(
        _pair_key_stats_batch
    )(cur, k1, k2)


def _first_key_match(p1, p2):
    """Keep a pair only under the minimum block key its two docs share
    (payload contract of :func:`_attach_key_payload`; kernel:
    :func:`_pair_key_stats`). Replaces the pair-set distinct() with a
    per-row predicate."""
    return _pair_key_stats(p1["cur"], p1["keys"], p2["keys"])["keep"]


def _banded_candidate_pairs(
    blocks: DataFrame, cfg: BlockingConfig, with_weight: bool = False
) -> DataFrame:
    """Minhash-only candidate pairs over packed int64 band keys.

    Same semantics as the generic path of :func:`candidate_pairs` — drop
    blocks > max_block_size, salt blocks in (salt_block_size, max_block_size],
    emit each co-blocked pair exactly once (under its first shared KEPT band)
    — but every key and payload is fixed-width integers:

    - a band key is ``struct(band, c0..c{cpb-1})`` of :func:`pack_band`
      longs, parsed back from the committed block-key string at doc×band
      cardinality (≪ pair cardinality; the string ``blocks`` table keeps
      serving the metrics queries unchanged);
    - the payload is the doc's packed key of every band plus a kept-band
      bitmask ``m`` (bit b set iff this doc's band-b block survived the size
      cap), built by one groupBy per doc and exploded back onto its kept
      (doc, band) rows; :func:`first_band_match` is static OR/AND algebra
      over it, exact (no hashing anywhere).

    ``with_weight`` emits the CBS weight (number of shared kept band keys).
    """
    r, bands = cfg.minhash_rows, cfg.minhash_bands
    cpb = (r + 1) // 2
    parts = blocks.select("conv_id", F.split("block_key", ":").alias("_pp")).select(
        "conv_id",
        F.col("_pp").getItem(1).cast("int").alias("band"),
        F.split(F.col("_pp").getItem(2), "_").alias("_hs"),
    )
    packed = pack_band([F.element_at("_hs", i + 1).cast("long") for i in range(r)])
    kept = with_block_size(
        parts.select(
            "conv_id",
            F.struct(
                "band", *[c.alias(f"c{j}") for j, c in enumerate(packed)]
            ).alias("block_key"),
        ),
        cfg.max_block_size,
    )
    # per-doc payload: one min-agg per (band, chunk) slot (rows are unique per
    # band, so min == the value; NULL == band dropped for this doc)
    band = F.col("block_key.band")
    per_doc = kept.groupBy("conv_id").agg(
        F.collect_list(F.struct("block_key", "_sz")).alias("_rows"),
        *[
            F.min(F.when(band == b, F.col(f"block_key.c{c}"))).alias(f"k{b * cpb + c}")
            for b in range(bands)
            for c in range(cpb)
        ],
    )
    mask = sum(
        F.when(F.col(f"k{b * cpb}").isNotNull(), F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(bands)
    )
    keyed = per_doc.select(
        "conv_id",
        F.explode("_rows").alias("_r"),
        *[F.coalesce(F.col(f"k{j}"), F.lit(-1)).alias(f"k{j}") for j in range(bands * cpb)],
        mask.alias("m"),
    ).select(
        "conv_id",
        "_r.block_key",
        "_r._sz",
        F.struct(
            F.col("_r.block_key.band").alias("band"),
            *[f"k{j}" for j in range(bands * cpb)],
            "m",
        ).alias("_p"),
    )
    p1, p2 = F.col("p1"), F.col("p2")
    out = bucket_self_join(keyed, _salt_size(cfg), cfg.salt_factor).filter(
        first_band_match(p1, p2, bands, r)
    )
    if with_weight:
        # CBS weight: number of kept bands whose keys the two docs share
        weight = sum(F.when(s, 1).otherwise(0) for s in _shared_bands(p1, p2, bands, r))
        return out.select("id1", "id2", weight.cast("long").alias("weight"))
    return out.select("id1", "id2")


def _shared_bands(p1, p2, bands: int, rows: int) -> list:
    """Per band b: true iff band b is kept (``m`` bit b) and both packed
    payloads (``struct(band, k0..k{bands*cpb-1}, m)``, ``cpb = ceil(rows/2)``)
    hold the same band-b key. Equal band keys mean the SAME block, so the
    two sides' kept flags agree and p1's mask suffices."""
    cpb = (rows + 1) // 2
    out = []
    for b in range(bands):
        eq = p1["m"].bitwiseAND(F.lit(1 << b)) != 0
        for c in range(cpb):
            eq = eq & (p1[f"k{b * cpb + c}"] == p2[f"k{b * cpb + c}"])
        out.append(eq)
    return out


def first_band_match(p1, p2, bands: int, rows: int):
    """Keep a band-joined pair only in the FIRST kept band its two docs share:
    the pair joined in band ``p1.band`` survives iff no earlier kept band's
    keys are equal — every colliding pair is emitted exactly once across
    bands with NO distinct().

    The one first-band predicate over packed payloads (banded blocking, MinHash
    dedup, cross-corpus dedup). It statically expands to scalar boolean
    algebra — ``NOT OR_b ((b < p1.band) AND kept(b) AND all-chunks-equal(b))``
    — so it stays inside whole-stage codegen with ZERO per-row allocation
    (the array<string> + zip_with/exists form it replaced anti-scaled 8→32
    cores at sf0.1, VERDICT r2 item 1)."""
    earlier = F.lit(False)
    for b, shared in enumerate(_shared_bands(p1, p2, bands, rows)):
        earlier = earlier | ((F.lit(b) < p1["band"]) & shared)
    return ~earlier


def salted_pairs(blocks: DataFrame, g: int, payload_col: str | None = None) -> DataFrame:
    """Pair enumeration for hot blocks via salted sub-buckets.

    Each member lands in sub-bucket ``s = pmod(xxhash64(id), g)`` and is
    replicated to every composite key (block, i, j) with i <= j where i == s
    or j == s. The self-join then runs on (block_key, i, j): within-bucket
    pairs come from i == j keys, cross-bucket pairs from i < j keys. Work per
    task is O((block/g)²) — the skew is sliced, not suffered. Replication
    factor is g per row (the standard skew-join space/parallelism trade).

    With ``payload_col``, that column rides along each member and is emitted
    as ``p1``/``p2`` aligned with the (id1, id2) = (least, greatest) order —
    the payload the emit-once predicates behind :func:`bucket_self_join` read.
    """
    m = blocks.withColumn("_s", F.pmod(F.xxhash64("conv_id"), F.lit(g)).cast("int"))
    pairs_ij = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for i in range(g)
            for j in range(i, g)
        ]
    )
    pay_a = [F.col(payload_col).alias("_pa")] if payload_col else []
    pay_b = [F.col(payload_col).alias("_pb")] if payload_col else []
    exploded = m.select(
        "block_key", "conv_id", "_s", F.explode(pairs_ij).alias("ij"),
        *([payload_col] if payload_col else []),
    )
    # pre-filter each side to its role (left = i-members, right = j-members)
    # BEFORE the join: filtering after it would build (|i|+|j|)^2 rows per
    # composite key instead of |i|*|j| — a measured 2.3x slowdown of the
    # whole pair-enumeration stage on hot sf0.1 buckets
    # explicit-N repartition on the composite key: the exploded inputs are
    # small but the join output is O((block/g)^2) per key — AQE's input-size
    # coalescing would fold the exchange into 1-2 partitions and serialize
    # the join (and any broadcast-join work pipelined behind it)
    n_part = int(blocks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = exploded.filter(F.col("ij.i") == F.col("_s")).select(
        "block_key", "ij", F.col("conv_id").alias("_a"), F.col("_s").alias("_sa"), *pay_a
    ).repartition(n_part, "block_key", "ij")
    b = exploded.filter(F.col("ij.j") == F.col("_s")).select(
        "block_key", "ij", F.col("conv_id").alias("_b"), F.col("_s").alias("_sb"), *pay_b
    ).repartition(n_part, "block_key", "ij")
    joined = a.join(b, ["block_key", "ij"])
    # i == j: same sub-bucket, order within; i < j: buckets are disjoint, so
    # emit every combo once as (least, greatest) — id order and bucket order
    # are independent, requiring _a < _b here would silently drop pairs.
    within = joined.filter(
        (F.col("ij.i") == F.col("ij.j")) & (F.col("_a") < F.col("_b"))
    )
    across = joined.filter(F.col("ij.i") < F.col("ij.j"))
    fwd = F.col("_a") < F.col("_b")
    out_cols = [F.least("_a", "_b").alias("id1"), F.greatest("_a", "_b").alias("id2")]
    if payload_col:
        out_cols += [
            F.when(fwd, F.col("_pa")).otherwise(F.col("_pb")).alias("p1"),
            F.when(fwd, F.col("_pb")).otherwise(F.col("_pa")).alias("p2"),
        ]
    return within.unionByName(across).select(*out_cols)


def bucket_self_join(
    rows: DataFrame, salt_block_size: int = 0, salt_factor: int = 8
) -> DataFrame:
    """(id1 < id2[, p1, p2]): every pair of ``rows(block_key, conv_id[, _p])``
    that shares a block_key, once per shared key — the one skew-safe band
    self-join behind blocking and dedup.

    ``rows`` is pinned (:func:`_pin`: it feeds the salting split and both
    join sides). With ``salt_block_size > 0``, blocks above it go through
    :func:`salted_pairs`; their size is the ``_sz`` column of
    :func:`with_block_size` (added here when the caller has not). The rest
    take the plain self-join, pinned to an explicit partition count: the
    join input is tiny but its OUTPUT is quadratic, and AQE coalesces
    exchanges by INPUT size — left alone it merges this shuffle into 1-2
    partitions and the entire pair stream (plus any downstream work
    pipelined into the same tasks) runs on 1-2 cores (measured: 107s -> 32s
    at sf0.1). A ``_p`` payload rides along as ``p1``/``p2``, aligned with
    (id1, id2), for the caller's emit-once predicate.
    """
    if salt_block_size and "_sz" not in rows.columns:
        rows = with_block_size(rows)
    rows = _pin(rows)
    pay = "_p" in rows.columns
    parts = []
    if salt_block_size:
        hot = F.col("_sz") > salt_block_size
        parts.append(
            salted_pairs(rows.filter(hot), salt_factor, "_p" if pay else None)
        )
        rows = rows.filter(~hot)
    n_part = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a, b = (
        rows.select(
            "block_key",
            F.col("conv_id").alias(f"id{i}"),
            *([F.col("_p").alias(f"p{i}")] if pay else []),
        ).repartition(n_part, "block_key")
        for i in (1, 2)
    )
    parts.append(
        a.join(b, "block_key")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", *(["p1", "p2"] if pay else []))
    )
    return reduce(DataFrame.unionByName, parts)


def sorted_neighborhood_pairs(
    records: DataFrame,
    key,
    window: int,
    id_col: str = "conv_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking: pairs within ``window`` positions of the
    sort order over ``key`` (Hernandez & Stolfo's SNM; the classic
    alternative the reference's canopy/key blocking family lacks — reference
    blocking surface: /root/reference/src/entity_resolver/core/resolver.py:347-376).

    Complements equality-key blocking where key values are noisy but *sort
    close* (typo'd names, zero-padded codes): two records pair iff their ranks
    in the total order (key, id) differ by 1..window-1.

    100-TB shape — fixed-cost by construction, no skew possible:

    1. global ranks with NO single-task sort (:func:`..functions.ids.dense_rank_ids`:
       range partition -> per-partition row_number -> broadcast offsets);
    2. neighborhood bucket ``b = rank div window``: a qualifying pair's ranks
       span at most one bucket boundary, so the LEFT side replicates each row
       to buckets (b, b+1) and the RIGHT side keeps its home bucket — an
       equi-join on the bucket id emits every window pair exactly once (the
       left copy in the right row's home bucket), no distinct();
    3. every bucket holds exactly ``window`` rows (last one fewer), so join
       tasks are even regardless of the key distribution — a million identical
       keys still yield fixed-size buckets, where equality blocking would
       build one quadratic hot block.

    Output pair count is exactly ``(n - window/2)*(window-1)`` -ish — linear
    in n, the defining property of SNM. Multi-pass SNM = union of calls with
    different keys + ``dropDuplicates(["id1","id2"])`` (bounded at
    n*window*passes rows, NOT a pair-set quadratic).

    ``key``: Column (or column name) to sort on; ties broken by ``id_col``,
    which must be unique (total order requirement of dense_rank_ids).
    """
    if window < 2:
        raise ValueError("window must be >= 2 (window=1 pairs nothing)")
    key_col = F.col(key) if isinstance(key, str) else key
    keyed = records.select(F.col(id_col).alias("_id"), key_col.alias("_key"))
    ranked = dense_rank_ids(keyed, ["_key", "_id"], "_rank", num_partitions).select(
        "_id", (F.col("_rank") - 1).alias("_r")
    )
    home = F.floor(F.col("_r") / F.lit(window)).cast("long")
    left = ranked.select(
        F.col("_id").alias("_ida"),
        F.col("_r").alias("_ra"),
        F.explode(F.array(home, home + 1)).alias("_b"),
    )
    right = ranked.select(
        F.col("_id").alias("_idb"), F.col("_r").alias("_rb"), home.alias("_b")
    )
    return (
        left.join(right, "_b")
        .filter(
            (F.col("_rb") - F.col("_ra") >= 1)
            & (F.col("_rb") - F.col("_ra") <= window - 1)
        )
        .select(
            F.least("_ida", "_idb").alias("id1"),
            F.greatest("_ida", "_idb").alias("id2"),
        )
    )


def metablock_pairs(
    blocks: DataFrame, cfg: BlockingConfig | None = None
) -> DataFrame:
    """Meta-blocking: prune the blocking graph by edge weight (Papadakis et
    al., "Meta-Blocking: Taking Entity Resolution to the Next Level", TKDE'14).

    Edges are co-blocked pairs, weighted by the common-blocks scheme (CBS =
    number of kept blocks the two records share). Weighted node pruning (WNP)
    keeps an edge iff its weight reaches the local average edge weight of at
    least one endpoint — redundancy-positioned blocking (overlapping MinHash
    bands / token keys) turns into a precision filter without any similarity
    computation.

    Scale shape: the weight is a per-row expression on the pair stream (key
    arrays already ride along in :func:`candidate_pairs` — no pair-set
    groupBy); node thresholds are a node-cardinality aggregation (orders of
    magnitude below pair cardinality) joined back by id. The survive test is
    pure integer arithmetic (``w * cnt >= sum``) — no double division, so the
    DuckDB oracle replays it bit-exactly.

    Returns (id1, id2, weight) for surviving edges.

    Parity anchor: the reference has no meta-blocking (its canopy blocking is
    driver-side, core/blocker.py); this extends the blocking surface the way
    a 10^12-turn deployment needs — pair budget cut before scoring.
    """
    pw = candidate_pairs(blocks, cfg, with_weight=True)
    # pw feeds the node-threshold aggregate AND the final join; persist so the
    # blocking chain runs once, and materialize the (far smaller) pruned
    # output eagerly so the cache can be released before returning — without
    # the unpersist the largest object in the job leaks executor storage for
    # the session lifetime (ADVICE r2).
    pw = pw.persist()
    ends = pw.select(F.col("id1").alias("id"), "weight").unionByName(
        pw.select(F.col("id2").alias("id"), "weight")
    )
    node = ends.groupBy("id").agg(
        F.sum("weight").alias("_sw"), F.count("*").alias("_cnt")
    )
    n1 = node.select(
        F.col("id").alias("id1"), F.col("_sw").alias("_sw1"), F.col("_cnt").alias("_c1")
    )
    n2 = node.select(
        F.col("id").alias("id2"), F.col("_sw").alias("_sw2"), F.col("_cnt").alias("_c2")
    )
    out = (
        pw.join(n1, "id1")
        .join(n2, "id2")
        .filter(
            (F.col("weight") * F.col("_c1") >= F.col("_sw1"))
            | (F.col("weight") * F.col("_c2") >= F.col("_sw2"))
        )
        .select("id1", "id2", "weight")
        .localCheckpoint(eager=True)
    )
    pw.unpersist()
    return out
