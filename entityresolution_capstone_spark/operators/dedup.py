"""Large-scale training-data deduplication operators over ``documents``-shaped
tables (doc_id, text, ...).

Five flavors, all Spark-first (explode + groupBy + self-join algebra; the only
Python is the Arrow-batched cosine kernel for embeddings):

- exact:            hash-groupBy on the full text
- MinHash + LSH:    shingle -> seeded linear hash family over a token
                    dictionary -> per-band min signature -> band-bucket
                    self-join -> verify with exact shingle Jaccard
- SimHash:          per-token deterministic bit vector, tf-weighted majority
                    sign -> banded fingerprint -> Hamming-verified pairs
- n-gram Jaccard:   token n-gram blocking + exact Jaccard verification
- embedding cosine: LSH-bucketed (or brute-force) cosine near-dup pairs

Every hash is dictionary-based and arithmetic (``(a*id + b) mod P``), so the
DuckDB correctness oracle can reproduce results bit-for-bit in ANSI SQL — no
engine-specific hash functions anywhere.

The MinHash band join is blocking's (operators/blocking.py): signatures come
from :func:`.blocking.minhash_mins`, every bucket self-join (MinHash, SimHash,
bucketed embeddings) runs through :func:`.blocking.bucket_self_join` via
:func:`bucket_pairs`, and MinHash pairs are emitted once by
:func:`.blocking.first_band_match`.

One token-id layer serves the whole family: every token dictionary is
blocking's :func:`.blocking.token_dictionary` over
``functions.tfidf.doc_frequencies`` (:func:`dedup_token_dict`), and every
exact token-set overlap — MinHash, cross-corpus and n-gram verify, the
prefix join above its emit-once width, the estimator audit — is
:func:`token_overlap`, which picks its bitset or explode route from the
vocabulary in one place (``VERIFY_BITSET_MAX_WORDS``). Per-doc bitmasks are
built by :func:`token_masks` and intersected by :func:`mask_overlap`, in the
overlap operator and in the prefix join's emit-once route alike.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_ngrams, tokenize
from ..functions.tfidf import doc_frequencies
from .blocking import (
    MERSENNE_P,
    _hash_params,
    _pin,
    bucket_self_join,
    first_band_match,
    minhash_mins,
    pack_band,
    token_dictionary,
)


def prepare_docs(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalize a documents table: (doc_id, text, tokens)."""
    return documents.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        tokenize(F.col(text_col)).alias("tokens"),
    )


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(doc_id, keep_id, group_size): docs whose *text* is byte-identical.

    keep_id = min doc_id of the group (the canonical survivor). Only docs in
    groups of size >= 2 are returned.
    """
    groups = docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("group_size")
    )
    return (
        docs.join(groups.filter(F.col("group_size") > 1), "text")
        .select("doc_id", "keep_id", "group_size")
    )


# ---------------------------------------------------------------------------
# shared: the token-id layer (one dictionary, one exact overlap operator)
# ---------------------------------------------------------------------------

# The one bitset/explode decision (:func:`token_overlap`): per-doc token sets
# become int64 bitmasks while they fit this many words (vocab <= 4096), else
# the overlap is counted by the explode join
VERIFY_BITSET_MAX_WORDS = 64
# prefix_jaccard_join's emit-once route: token AND prefix masks ride every row
# of the quadratic prefix-token join, so it runs only up to this width (at 21
# words a Zipf-skewed corpus measured 208 s against ~10 s for the pair-groupBy
# route; at 1 word the emit-once route won 14.1 -> 2.3 s, sf0.1/local[32])
EMIT_ONCE_MAX_WORDS = 4


def dedup_token_dict(docs: DataFrame) -> DataFrame:
    """(token, df, token_id) over docs(doc_id, tokens): blocking's
    :func:`.blocking.token_dictionary`, ids ordered by (df, token)."""
    return token_dictionary(doc_frequencies(docs, id_col="doc_id"))


def vocab_size(token_dict: DataFrame) -> int:
    """Largest dense id of a token dictionary (0 when empty) — one small job
    over the pinned dictionary."""
    return int(token_dict.agg(F.coalesce(F.max("token_id"), F.lit(0))).collect()[0][0])


def doc_tokens(docs: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(doc_id, n, tokens): each doc's distinct tokens and their count, one
    row per doc."""
    toks = F.array_distinct(tokens_col)
    return docs.select("doc_id", F.size(toks).alias("n"), toks.alias("tokens"))


def token_masks(words: int, prefix: str, where: str = "true") -> list:
    """``words`` bit_or aggregates ``{prefix}0..`` over rows with a ``tid``
    column: bit ``tid - 1`` of a doc's token-id set as int64 words (only rows
    where the SQL predicate ``where`` holds)."""
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST((tid - 1) % 64 AS INT))")
    word = F.expr("CAST((tid - 1) DIV 64 AS INT)")
    return [
        F.bit_or(F.when((word == w) & F.expr(where), bit).otherwise(F.lit(0).cast("long"))).alias(
            f"{prefix}{w}"
        )
        for w in range(words)
    ]


def mask_overlap(a: str, b: str, words: int):
    """|s1 ∩ s2| of two token sets masked as ``a0..``/``b0..``: the static
    ``Σ_w bit_count(a_w & b_w)`` — whole-stage codegen, no per-row allocation."""
    return reduce(
        operator.add,
        [F.bit_count(F.col(f"{a}{w}").bitwiseAND(F.col(f"{b}{w}"))) for w in range(words)],
    )


def token_overlap(
    pairs: DataFrame, tokens: DataFrame, vocab: int, token_dict: DataFrame | None = None
) -> DataFrame:
    """(id1, id2, n1, n2, inter): exact distinct-token overlap of the candidate
    pairs that share at least one token. ``tokens`` is :func:`doc_tokens`
    output; ``token_dict`` numbers its tokens 1..``vocab`` (without it,
    ``tokens`` already holds those dense ids).

    The route is picked here and nowhere else, from the vocabulary:

    - bitset (``ceil(vocab/64) <= VERIFY_BITSET_MAX_WORDS``): tokens become
      dictionary ids, each doc's set W int64 masks built at DOC cardinality
      (one groupBy) and attached to the pairs by two doc-cardinality joins,
      and ``inter`` is the static :func:`mask_overlap` on the pair rows —
      the O(pairs · tokens) exploded stream never exists (measured at
      sf0.1/local[32]: the q_dedup verify 13.4 s -> ~1 s);
    - explode (unbounded vocabulary, where masks would outgrow the token
      lists): pairs ⋈ (doc, token) on both sides, one count aggregate on
      (id1, id2), with no dictionary join; the sizes are joined afterwards
      at doc cardinality. ``pairs`` is referenced once, so an unpinned
      enumeration upstream is not recomputed.

    Both routes return the same integers.
    """
    pairs = pairs.select("id1", "id2")
    words = (vocab + 63) // 64
    rows = tokens.select("doc_id", "n", F.explode("tokens").alias("token"))
    if 0 < words <= VERIFY_BITSET_MAX_WORDS:
        if token_dict is not None:
            rows = rows.join(
                F.broadcast(token_dict.select("token", "token_id")), "token"
            ).select("doc_id", F.col("token_id").alias("token"), "n")
        per_doc = rows.withColumnRenamed("token", "tid").groupBy("doc_id").agg(
            F.min("n").alias("n"), *token_masks(words, "_m")
        )

        def side(k: int, p: str) -> DataFrame:
            return per_doc.select(
                F.col("doc_id").alias(f"id{k}"),
                F.col("n").alias(f"n{k}"),
                *[F.col(f"_m{w}").alias(f"{p}{w}") for w in range(words)],
            )

        out = (
            pairs.join(side(1, "_a"), "id1")
            .join(side(2, "_b"), "id2")
            .select("id1", "id2", "n1", "n2", mask_overlap("_a", "_b", words).alias("inter"))
            .filter(F.col("inter") > 0)
        )
    else:

        def side(df: DataFrame, k: int) -> DataFrame:
            return df.withColumnRenamed("doc_id", f"id{k}").withColumnRenamed("n", f"n{k}")

        t = rows.select("doc_id", "token")
        sizes = tokens.select("doc_id", "n")
        out = (
            pairs.join(side(t, 1), "id1")
            .join(side(t, 2), ["id2", "token"])
            .groupBy("id1", "id2")
            .agg(F.count("*").alias("inter"))
            .join(side(sizes, 1), "id1")
            .join(side(sizes, 2), "id2")
        )
    return out.select("id1", "id2", *[F.col(c).cast("long") for c in ("n1", "n2", "inter")])


# ---------------------------------------------------------------------------
# shared: skew-safe bucket self-join (pair enumeration)
# ---------------------------------------------------------------------------

def bucket_pairs(
    buckets: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "bkey",
    salt_bucket_size: int = 1000,
    salt_factor: int = 8,
    payload_col: str | None = None,
    pair_filter=None,
    keep_payload: bool = False,
) -> DataFrame:
    """(id1 < id2) pairs of ids sharing a bucket key, skew-safe, dedupe-cheap.

    Enumeration is the band self-join blocking uses
    (:func:`.blocking.bucket_self_join`). Skew: near-dup-heavy corpora put a
    large fraction of the corpus into a handful of band buckets (measured at
    sf0.1: 4 buckets of ~2,300 of 5,000 docs); buckets larger than
    ``salt_bucket_size`` go through the salted sub-bucket join (C(g+1, 2)
    evenly-sized tasks per hot bucket) instead of one O(s²) straggler task.
    Pair set is identical to the naive join (pinned in tests/test_dedup.py).

    Dedupe: without ``pair_filter``, cross-bucket duplicates are removed with
    ``distinct()`` — a full shuffle of the pair set (measured: 15s of the
    18s enumeration at sf0.1; at 10^10 pairs it's the dominant exchange).
    With ``payload_col`` + ``pair_filter(p1, p2)``, the filter runs per
    joined row INSTEAD of the distinct — callers use the first-matching-band
    pattern (:func:`.blocking.first_band_match`: keep a pair only in the
    lowest band whose keys collide) so each pair survives exactly once and
    the pair set never shuffles at all.
    """
    if pair_filter is not None and payload_col is None:
        raise ValueError("pair_filter requires payload_col")
    sel = [F.col(key_col).alias("block_key"), F.col(id_col).alias("conv_id")]
    if payload_col:
        sel.append(F.col(payload_col).alias("_p"))
    out = bucket_self_join(buckets.select(*sel), salt_bucket_size, salt_factor)
    if pair_filter is not None:
        out = out.filter(pair_filter(F.col("p1"), F.col("p2")))
        # keep_payload lets callers consume per-doc state (e.g. packed
        # fingerprints) straight off the surviving pair rows instead of
        # re-joining the doc table twice
        cols = ["id1", "id2"] + (["p1", "p2"] if keep_payload else [])
        return out.select(*cols)
    return out.select("id1", "id2").distinct()


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

@dataclass
class MinHashConfig:
    rows: int = 2
    bands: int = 8
    seed: int = 7
    jaccard_threshold: float = 0.7
    salt_bucket_size: int = 1000
    salt_factor: int = 8


def packed_band_buckets(
    docs: DataFrame,
    token_dict: DataFrame,
    rows: int,
    bands: int,
    seed: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, bkey, p): one row per (doc, band), all-integer band keys rendered
    from :func:`.blocking.minhash_mins`.

    A band key is ``cpb = ceil(rows/2)`` longs of :func:`.blocking.pack_band`
    — it identifies the band key EXACTLY (no hashing, no collision risk: the
    candidate-pair set is bit-identical to the string-key form, just cheaper
    to shuffle and compare).

    - ``bkey = struct(band, c0..c{cpb-1})``: the join/groupBy key — fixed-width
      ints instead of a ~40-byte concatenated string;
    - ``p = struct(band, k0..k{bands*cpb-1}, m)``: the
      :func:`.blocking.first_band_match` payload — flat long columns
      (whole-stage codegen); every band is kept, so the kept-band mask ``m``
      has all ``bands`` bits set.
    """
    sig = minhash_mins(docs, token_dict, rows * bands, seed, id_col, tokens_col)
    cpb = (rows + 1) // 2
    sig = sig.select(
        id_col,
        *[
            k.alias(f"k{b * cpb + c}")
            for b in range(bands)
            for c, k in enumerate(
                pack_band([F.col(f"h{b * rows + i}") for i in range(rows)])
            )
        ],
    )
    kcols = [F.col(f"k{j}") for j in range(bands * cpb)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"k{b * cpb + c}").alias(f"c{c}") for c in range(cpb)],
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, *kcols, F.explode(band_structs).alias("bkey")).select(
        id_col,
        "bkey",
        F.struct(
            F.col("bkey.band").alias("band"), *kcols, F.lit((1 << bands) - 1).alias("m")
        ).alias("p"),
    )


def minhash_candidate_pairs(
    docs: DataFrame, token_dict: DataFrame, cfg: MinHashConfig
) -> DataFrame:
    """Band-bucket collisions -> distinct (id1, id2) with id1 < id2.

    Packed-int64 band keys + the codegen first-band-match predicate (r3):
    same pair set as the string-key/array-payload form, none of its
    high-concurrency interpreted-expression cost.
    """
    buckets = packed_band_buckets(docs, token_dict, cfg.rows, cfg.bands, cfg.seed)
    return bucket_pairs(
        buckets,
        salt_bucket_size=cfg.salt_bucket_size,
        salt_factor=cfg.salt_factor,
        payload_col="p",
        pair_filter=lambda p1, p2: first_band_match(p1, p2, cfg.bands, cfg.rows),
    )


def token_jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float,
    tokens_col: str = "tokens",
    token_dict: DataFrame | None = None,
) -> DataFrame:
    """Exact distinct-token Jaccard for candidate pairs; keep >= threshold.

    ``inter`` comes from :func:`token_overlap`, which picks the bitset or the
    explode route from the vocabulary of ``token_dict`` (a dense-id
    :func:`dedup_token_dict` table; derived from ``docs`` when absent), and
    the score is one final double division of the integers.

    With threshold > 0 only pairs sharing a token can pass. A threshold of 0
    keeps every candidate: pairs sharing no token are restored with jaccard
    0 by a left join.
    """
    if token_dict is None:
        token_dict = token_dictionary(doc_frequencies(docs, tokens_col, "doc_id"))
    ov = token_overlap(
        pairs, doc_tokens(docs, tokens_col), vocab_size(token_dict), token_dict
    )
    if threshold <= 0:
        sizes = docs.select("doc_id", F.size(F.array_distinct(tokens_col)).alias("n"))
        ov = (
            pairs.select("id1", "id2")
            .join(ov.select("id1", "id2", "inter"), ["id1", "id2"], "left")
            .join(sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1")), "id1")
            .join(sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2")), "id2")
            .fillna(0, subset=["inter"])
        )
    jaccard = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return ov.select("id1", "id2", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _auto_only(verify_strategy: str) -> None:
    if verify_strategy != "auto":
        raise ValueError(
            f"verify_strategy must be 'auto' (the verify picks its route from "
            f"the vocabulary), got {verify_strategy!r}"
        )


def minhash_duplicates(
    documents: DataFrame,
    cfg: MinHashConfig | None = None,
    verify_strategy: str = "auto",
) -> DataFrame:
    """documents -> verified near-dup pairs (id1, id2, jaccard)."""
    _auto_only(verify_strategy)
    cfg = cfg or MinHashConfig()
    docs = prepare_docs(documents)
    tdict = dedup_token_dict(docs)
    cand = minhash_candidate_pairs(docs, tdict, cfg)
    return token_jaccard_verify(cand, docs, cfg.jaccard_threshold, token_dict=tdict)


def cross_minhash_duplicates(
    new_documents: DataFrame,
    base_documents: DataFrame,
    cfg: MinHashConfig | None = None,
    verify_strategy: str = "auto",
) -> DataFrame:
    """(new_id, base_id, jaccard): near-dups of NEW docs against an EXISTING
    corpus — the incremental-ingest dedup of a live training-data pipeline.

    A new crawl must be deduplicated against everything already accepted;
    re-running all-pairs dedup over old ∪ new is O((N+n)²)-shaped and
    re-does work that can never change. This operator only enumerates
    cross-side collisions: band signatures are computed per side and joined
    new × base on the bucket key — no new×new and no base×base pairs, so the
    join output is proportional to actual cross-corpus collisions, not to
    the base corpus size. At a steady state (n ≪ N) the dominant cost is
    one scan of the base corpus to re-derive its signatures; a production
    deployment would persist the signature table (sources/tables.py) and
    skip even that — the enumeration shape here is the part that matters.

    Both corpora hash against ONE token dictionary fitted on their union
    (document frequencies over old ∪ new), so signatures are comparable.
    Doc ids must be unique across the two inputs (they share an id space in
    the verification join).

    Cross-band dedupe is the same first-band-match predicate as self-dedup:
    a colliding pair survives only in the lowest shared band — no
    distinct() over the pair set. Bucket-key exchanges are pinned with
    explicit-N repartition for the same AQE-explosive-join reason as
    :func:`bucket_pairs`.
    """
    _auto_only(verify_strategy)
    cfg = cfg or MinHashConfig()
    new_docs = prepare_docs(new_documents)
    base_docs = prepare_docs(base_documents)
    union = new_docs.unionByName(base_docs)
    tdict = dedup_token_dict(union)
    nb = packed_band_buckets(new_docs, tdict, cfg.rows, cfg.bands, cfg.seed)
    bb = packed_band_buckets(base_docs, tdict, cfg.rows, cfg.bands, cfg.seed)
    n_part = int(new_docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = nb.select(
        "bkey", F.col("doc_id").alias("id1"), F.col("p").alias("p1")
    ).repartition(n_part, "bkey")
    b = bb.select(
        "bkey", F.col("doc_id").alias("id2"), F.col("p").alias("p2")
    ).repartition(n_part, "bkey")
    cand = (
        a.join(b, "bkey")
        .filter(first_band_match(F.col("p1"), F.col("p2"), cfg.bands, cfg.rows))
        .select("id1", "id2")
    )
    verified = token_jaccard_verify(cand, union, cfg.jaccard_threshold, token_dict=tdict)
    return verified.select(
        F.col("id1").alias("new_id"), F.col("id2").alias("base_id"), "jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@dataclass
class SimHashConfig:
    bits: int = 32
    bands: int = 4
    seed: int = 13
    max_hamming: int = 3
    salt_bucket_size: int = 1000
    salt_factor: int = 8


def simhash_fingerprints(
    docs: DataFrame, token_dict: DataFrame, cfg: SimHashConfig
) -> DataFrame:
    """(doc_id, bit0..bitN-1 as array<int>, fp string) tf-weighted SimHash.

    bit_k(token) = ((a_k * token_id + b_k) mod P) mod 2; doc bit k = 1 iff
    Σ_tokens tf * (2·bit_k − 1) > 0. Pure aggregation algebra.
    """
    params = _hash_params(cfg.bits, cfg.seed)
    tf = (
        docs.select("doc_id", F.explode("tokens").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .join(F.broadcast(token_dict), "token")
    )
    sums = [
        F.sum(
            F.col("tf")
            * (
                ((F.lit(a) * F.col("token_id") + F.lit(b)) % F.lit(MERSENNE_P)) % 2 * 2
                - 1
            )
        ).alias(f"s{k}")
        for k, (a, b) in enumerate(params)
    ]
    agg = tf.groupBy("doc_id").agg(*sums)
    bits = F.array(
        *[F.when(F.col(f"s{k}") > 0, 1).otherwise(0) for k in range(cfg.bits)]
    )
    return agg.select("doc_id", bits.alias("bits"))


def _simhash_band_val(fp, band: int, per_band: int):
    """Band-`band` bit slice of a packed int64 fingerprint (pure bit ops)."""
    return F.shiftright(fp, band * per_band).bitwiseAND(F.lit((1 << per_band) - 1))


def make_simhash_first_band_match(bands: int, per_band: int):
    """First-band-match over packed int64 fingerprints: keep the pair only in
    the lowest band whose bit-slices agree — static OR/AND of shift/mask
    compares, whole-stage codegen, ZERO per-row allocation. Replaces the
    array<string> + zip_with/exists variant on the quadratic pair stream
    (r3 measured law: interpreted HOF pair filters anti-scale 8→32 cores)."""

    def pred(p1, p2):
        earlier = F.lit(False)
        for b in range(bands):
            eq = _simhash_band_val(p1["fp"], b, per_band) == _simhash_band_val(
                p2["fp"], b, per_band
            )
            earlier = earlier | ((F.lit(b) < p1["band"]) & eq)
        return ~earlier

    return pred


def simhash_duplicates(documents: DataFrame, cfg: SimHashConfig | None = None) -> DataFrame:
    """Banded SimHash near-dup pairs: (id1, id2, hamming <= max_hamming).

    Everything on the pair stream is flat int64 bit algebra (round 4): the
    ``cfg.bits``-bit fingerprint packs into ONE long; a band key is a
    shift/mask slice; the exactly-once band filter is a static compare chain
    (:func:`make_simhash_first_band_match`); hamming distance is
    ``bit_count(fp1 XOR fp2)``. Band-key equality and hamming are identical
    to the previous array<string>/array<int> formulation (same bit sets,
    different encoding), so the pair set and the DuckDB oracle are unchanged.
    """
    cfg = cfg or SimHashConfig()
    if cfg.bits > 63:
        raise ValueError(f"packed SimHash supports bits <= 63, got {cfg.bits}")
    docs = prepare_docs(documents)
    tdict = dedup_token_dict(docs)
    fps = simhash_fingerprints(docs, tdict, cfg)
    fp = None
    for k in range(cfg.bits):
        term = F.element_at("bits", k + 1).cast("long") * F.lit(1 << k)
        fp = term if fp is None else fp + term
    fps = fps.select("doc_id", fp.alias("fp"))
    per_band = cfg.bits // cfg.bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                # distinct key space per band: band id in the high bits
                (
                    F.lit(b << per_band) + _simhash_band_val(F.col("fp"), b, per_band)
                ).alias("bkey"),
            )
            for b in range(cfg.bands)
        ]
    )
    buckets = fps.select("doc_id", "fp", F.explode(band_structs).alias("bs")).select(
        "doc_id",
        F.col("bs.bkey").alias("bkey"),
        F.struct(F.col("bs.band").alias("band"), F.col("fp").alias("fp")).alias("p"),
    )
    cand = bucket_pairs(
        buckets,
        salt_bucket_size=cfg.salt_bucket_size,
        salt_factor=cfg.salt_factor,
        payload_col="p",
        pair_filter=make_simhash_first_band_match(cfg.bands, per_band),
        keep_payload=True,
    )
    return cand.select(
        "id1",
        "id2",
        F.bit_count(F.col("p1.fp").bitwiseXOR(F.col("p2.fp"))).cast("int").alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= cfg.max_hamming)


# ---------------------------------------------------------------------------
# token n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_duplicates(
    documents: DataFrame, n: int = 3, threshold: float = 0.6, max_block_df: int = 50
) -> DataFrame:
    """Near-dups by Jaccard over token n-grams; n-grams double as block keys.

    Rare n-grams (df <= max_block_df) generate candidate pairs; exact n-gram
    Jaccard verifies. Returns (id1, id2, jaccard >= threshold).
    """
    docs = prepare_docs(documents).select(
        "doc_id", token_ngrams(F.col("tokens"), n).alias("grams")
    )
    g = docs.select("doc_id", F.explode(F.array_distinct("grams")).alias("gram"))
    rare = g.groupBy("gram").agg(F.count("*").alias("df")).filter(
        F.col("df") <= max_block_df
    )
    keyed = g.join(F.broadcast(rare.select("gram")), "gram")
    a = keyed.select("gram", F.col("doc_id").alias("id1"))
    b = keyed.select("gram", F.col("doc_id").alias("id2"))
    cand = a.join(b, "gram").filter(F.col("id1") < F.col("id2")).select("id1", "id2").distinct()
    return token_jaccard_verify(
        cand, docs.withColumnRenamed("grams", "tokens"), threshold
    ).withColumnRenamed("jaccard", "ngram_jaccard")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_cosine_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucketed: bool = False,
    n_planes: int = 8,
) -> DataFrame:
    """(id1, id2, cosine >= threshold) over an array<float> embedding column.

    Brute-force O(n²/2) by default (correct baseline); ``bucketed=True``
    restricts pairs to a shared random-hyperplane LSH bucket (the scale path;
    see similarity_search.lsh_bucket_keys). Each pair is scored by the Arrow
    ordered-fold cosine (functions/vector.cosine), bit-identical to DuckDB
    ``list_dot_product``.

    Loud-failure contract: a wrong-dim or zero/non-finite-norm vector
    raises instead of scoring 0.0 and silently missing every threshold.
    Both checks ride the O(docs) scan, never the O(pairs) stream.
    """
    from ..functions import vector as V
    from .similarity_search import lsh_bucket_keys, probe_dim, vectors

    dim = probe_dim(embeddings, vec_col)
    v = V.assert_dim(vectors(embeddings, id_col, vec_col), "v", dim)
    v = V.assert_nonzero_norm(v, "v")
    if bucketed:
        keys = lsh_bucket_keys(v, "id", "v", n_planes)
        pairs = bucket_pairs(keys, id_col="id", key_col="bucket")
    else:
        a = v.select(F.col("id").alias("id1"))
        b = v.select(F.col("id").alias("id2"))
        pairs = a.crossJoin(b).filter(F.col("id1") < F.col("id2"))
    v1 = v.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    v2 = v.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    return (
        pairs.join(v1, "id1")
        .join(v2, "id2")
        .select("id1", "id2", V.cosine("v1", "v2").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# near-dup consolidation + deterministic corpus splitting
# ---------------------------------------------------------------------------

def keep_best_duplicates(
    documents: DataFrame,
    dup_pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Pick ONE survivor per near-dup cluster: (id, cluster_id, quality, keep).

    The consolidation step of a training-data dedup pass: transitive closure
    over the near-dup pair graph (large-star/small-star CC — dup graphs are
    sparse, so the closure is cheap relative to pair generation), then keep
    the member with the highest quality score, ties broken by smallest id
    (deterministic under any partitioning). Docs in no dup pair are singleton
    clusters and keep themselves.

    The per-cluster argmax is a row_number window keyed on the cluster —
    clusters are near-dup groups (bounded size in practice), so no window
    skew; everything else is joins + groupBy.
    """
    from pyspark.sql import Window

    from .cc import assign_clusters, connected_components

    comps = connected_components(dup_pairs.select("id1", "id2"))
    asg = assign_clusters(
        documents.select(F.col(id_col).alias("conv_id")), comps
    ).select(F.col("conv_id").alias(id_col), "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        asg.join(quality.select(id_col, quality_col), id_col)
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "cluster_id", quality_col, "keep")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict,
    key_col: str,
    default_rate: float = 1.0,
    seed: int = 11,
    hash_expr=None,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep each row with its
    stratum's rate, decided by hashing the KEY (not random()).

    The corpus-mixing step of a pre-training pipeline ("keep 10% of low-
    quality web text, 100% of books"): ``rates`` maps stratum value ->
    keep-rate in [0, 1]; strata absent from the map use ``default_rate``.
    Keying the decision on a hash of ``key_col`` makes the sample stable
    under reordering, repartitioning, and corpus growth — a doc keeps its
    in/out decision across pipeline runs, and re-running with a raised rate
    strictly grows the sample (the kept set at rate r is a subset of the
    kept set at r' > r). Pure column algebra: a projection + filter, no
    shuffle, no UDF. ``hash_expr`` pins an arithmetic hash family when the
    decision must reproduce outside Spark (the DuckDB oracle does).
    """
    denom = 1_000_000
    h = (
        hash_expr(F.col(key_col))
        if hash_expr is not None
        else F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(denom))
    )
    rate = None
    for value, r in rates.items():
        cond = F.col(strata_col) == F.lit(value)
        rate = F.when(cond, float(r)) if rate is None else rate.when(cond, float(r))
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(float(default_rate))
    return df.filter(h < rate * denom)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
    seed: int = 7,
    hash_expr=None,
) -> DataFrame:
    """Deterministic train/val/test assignment: input rows + a ``split`` col.

    Splits by hashing the KEY, not by position or random(): the assignment is
    stable under reordering, repartitioning, and incremental re-runs (a doc
    keeps its split when the corpus grows — the property that prevents
    train/test leakage across pipeline versions). Default hash is
    ``xxhash64(key, seed)``; pass ``hash_expr`` (a Column -> Column callable)
    to pin a specific family, e.g. Knuth multiplicative hashing when the
    split must be reproducible outside Spark (the DuckDB oracle does this).

    Pure column algebra — no shuffle, no UDF; the split is a projection.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    denom = 1_000_000
    h = (
        hash_expr(F.col(key_col))
        if hash_expr is not None
        else F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(denom))
    )
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = h < F.lit(int(acc * denom))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


# ---------------------------------------------------------------------------
# exact duplicated-span removal (substring-level dedup)
# ---------------------------------------------------------------------------

def duplicate_spans(
    documents: DataFrame,
    n: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove exactly-duplicated token spans from every document.

    Document-level near-dedup (MinHash/SimHash above) misses the other failure
    mode of web corpora: boilerplate SUBSTRINGS (headers, license blocks,
    navigation chrome) pasted into otherwise-distinct documents. Following the
    exact-substring dedup of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022; suffix-array formulation — PAPERS.md),
    re-expressed as DataFrame algebra on fixed-length token n-grams:

    1. explode each doc's token n-grams with their start offset;
    2. corpus-wide gram occurrence counts (one map-side-combinable groupBy);
    3. a gram occurring ``>= min_count`` times anywhere (including twice in
       one doc) is duplicated; collect each doc's duplicated-gram starts;
    4. drop every token covered by any duplicated gram — the span-union mask
       is a per-row ``filter(tokens, (tok, i) -> !exists(starts, ...))``,
       pure JVM Column algebra, no UDF.

    Scale shape: the gram table is |corpus tokens| rows -> one shuffle for the
    count, one for the starts groupBy; the mask is map-side. Token positions
    are per-document, so nothing global is ordered. The per-token exists()
    scan is bounded by the doc's own duplicated-gram count (pathological
    all-duplicate docs degrade to O(len^2) per doc — still within one task).

    Returns (doc_id, n_tokens, n_dup_grams, n_removed, clean_text).
    """
    docs = documents.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokenize(F.col(text_col)).alias("toks"),
    )
    # (doc_id, start, gram): start is 1-based; docs shorter than n emit none.
    # NB sequence(1, 0) yields a DESCENDING [1, 0] in Spark — guard short docs
    # explicitly instead of clamping the stop bound.
    n_starts = F.size("toks") - n + 1
    starts_seq = F.when(n_starts >= 1, F.sequence(F.lit(1), n_starts)).otherwise(
        F.array().cast("array<int>")
    )
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts_seq,
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("start"), "gram")
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    starts = (
        grams.join(dup_grams.select("gram"), "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("starts"))
    )
    masked = docs.join(starts, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("starts", F.array().cast("array<int>")).alias("starts"),
    )
    kept = F.filter(
        "toks",
        lambda tok, i: ~F.exists(
            "starts", lambda s: (s <= i + 1) & (i + 1 <= s + (n - 1))
        ),
    )
    return masked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("starts").cast("long").alias("n_dup_grams"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: k-means-cell semantic dedup over embeddings
# ---------------------------------------------------------------------------

def semantic_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embedding space, compare pairs ONLY within a cell,
    and in every duplicate neighborhood keep the member farthest from its
    centroid (the paper's diversity-preserving keep rule), breaking exact
    distance ties toward the smaller id.

    Returns the DROPPED records: (doc_id, cid, kept_id, cosine) — kept_id is
    the qualifying neighbor that outranks doc_id (the strongest such witness:
    max distance-to-centroid, then min id), cosine is their similarity.
    The kept corpus is ``embeddings`` anti-joined on doc_id.

    Scale shape: the coarse quantizer is the IVF index
    (similarity_search.ivf_index — integer-exact Lloyd rounds, so the oracle
    replays the clustering bit-for-bit). The pair join is cell-partitioned:
    candidate count is Σ_cells |cell|²/2 instead of n²/2, and n_cells is the
    dial that bounds cell width at corpus scale (SemDeDup uses ~100k cells
    for billions of vectors). ``max_cell_size`` excludes degenerate hot
    cells from pairing (cap + report policy, same as blocking); the drop
    rule is a per-record EXISTS — no transitive closure, no distinct over
    the pair set.
    """
    from ..functions.vector import cosine
    from .similarity_search import (
        _ivf_dist,
        _ivf_quantized,
        ivf_index,
        probe_dim,
        vectors,
    )

    spark = embeddings.sparkSession
    dim = probe_dim(embeddings, vec_col)
    assign, cents = ivf_index(embeddings, n_cells, rounds, id_col, vec_col, seed)
    if max_cell_size is not None:
        hot = (
            assign.groupBy("cid")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") > max_cell_size)
            .select("cid")
        )
        assign = assign.join(F.broadcast(hot), "cid", "left_anti")
    cdf = spark.createDataFrame(cents, schema="cid int, s array<bigint>, cnt bigint")
    qv = _ivf_quantized(embeddings, id_col, vec_col, dim).select("id", "qe")
    own = (
        assign.join(qv, "id")
        .join(F.broadcast(cdf), "cid")
        .select(
            "id",
            "cid",
            _ivf_dist(F.col("cnt"), F.col("qe"), F.col("s"), dim).alias("d"),
        )
    )
    side = own.join(vectors(embeddings, id_col, vec_col), "id")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = side.select(
        "cid",
        F.col("id").alias("id1"),
        F.col("d").alias("d1"),
        F.col("v").alias("v1"),
    ).repartition(n_part, "cid")
    b = side.select(
        "cid",
        F.col("id").alias("id2"),
        F.col("d").alias("d2"),
        F.col("v").alias("v2"),
    ).repartition(n_part, "cid")
    beats = (
        a.join(b, "cid")
        .filter(
            (F.col("d2") > F.col("d1"))
            | ((F.col("d2") == F.col("d1")) & (F.col("id2") < F.col("id1")))
        )
        .select(
            "cid",
            "id1",
            "id2",
            "d2",
            cosine("v1", "v2").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    return beats.groupBy("id1").agg(
        F.min("cid").alias("cid"),  # constant within the group (one cell per id)
        F.max_by(F.struct("id2", "cos"), F.struct(F.col("d2"), -F.col("id2"))).alias(
            "_w"
        ),
    ).select(
        F.col("id1").alias("doc_id"),
        F.col("cid").cast("long").alias("cid"),
        F.col("_w.id2").alias("kept_id"),
        F.col("_w.cos").alias("cosine"),
    )


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    alpha: float = 0.5,
    seed: int = 11,
    hash_expr=None,
    hash_denom: int = 1_000_000,
) -> DataFrame:
    """Temperature-based domain re-balancing: input rows + (n_domain,
    keep_frac, kept).

    The data-mixing step of multi-source pre-training corpora (cf. the
    multilingual sampling rule of Conneau & Lample 2019, q_d ∝ n_d^alpha):
    target per-domain counts m_d ∝ n_d^alpha with the largest feasible
    constant, i.e. ``keep_frac_d = (n_min / n_d)^(1-alpha)`` — the smallest
    domain is kept whole, head domains are downsampled toward the tail, and
    alpha=1 degenerates to keep-everything. Keep decisions hash the KEY (not
    random()), so the sample is stable under reordering, repartitioning, and
    corpus growth, and raising alpha strictly grows the kept set.

    Scale shape: one domain-cardinality aggregate broadcast back onto the
    rows (domains ≪ rows); the decision itself is a projection — no
    per-row shuffle. Exactly replayable in SQL: ``^(1-alpha)`` with
    alpha=0.5 is IEEE sqrt (exactly rounded in both engines), and the
    keep test compares the integer key hash against keep_frac·hash_denom.

    A custom ``hash_expr`` MUST be uniform on [0, hash_denom) — pass the
    matching ``hash_denom`` alongside it (a raw xxhash64 against the default
    10^6 denom would keep almost nothing; ADVICE r2).
    """
    denom = hash_denom
    h = (
        hash_expr(F.col(key_col))
        if hash_expr is not None
        else F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(denom))
    )
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_domain"))
    n_min = counts.agg(F.min("n_domain").alias("_mn"))
    sized = df.join(F.broadcast(counts), domain_col).crossJoin(F.broadcast(n_min))
    ratio = F.col("_mn").cast("double") / F.col("n_domain").cast("double")
    # alpha=0.5 -> IEEE sqrt: exactly rounded in every engine (pow(x, 0.5) is
    # NOT), so the keep decision is bit-identical to the SQL oracle
    frac = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    return sized.select(
        *df.columns,
        F.col("n_domain").cast("long").alias("n_domain"),
        F.round(frac, 6).alias("keep_frac"),
        (h < frac * denom).alias("kept"),
    )


def prefix_jaccard_join(
    documents: DataFrame,
    threshold_num: int = 600_000,
    threshold_denom: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-threshold set-similarity self-join via prefix filtering (the
    PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): returns
    ALL pairs with token-set Jaccard >= t, with no approximation.

    The complement to MinHash dedup: LSH is probabilistic (misses pairs near
    the threshold), prefix filtering is exact — every qualifying pair shares
    at least one token in its rarity-ordered prefix of length
    ``|x| - ceil(t·|x|) + 1``, so the candidate join touches only prefix
    tokens (rare by construction: the global order ranks rare tokens first,
    and hot tokens fall outside most prefixes).

    Exactness discipline: the threshold is the RATIONAL t = num/denom; both
    the length filter (``t·|x| <= |y|``) and the verify
    (``inter·denom >= num·union``) are pure int64 comparisons — no doubles
    anywhere in a decision. Output jaccard is one final rounded division.

    Scale shape: the dedup token dictionary (:func:`dedup_token_dict`, dense
    ids in rarity order), then ONE equi-join on prefix tokens:

    - vocab <= 64·``EMIT_ONCE_MAX_WORDS``: each doc's token set AND its
      prefix set are fixed-width int64 bitsets (:func:`token_masks`, one
      groupBy) riding the join rows (2W+1 longs per side — the width gate
      keeps that payload smaller than the quadratic join's own row). A pair
      is kept only on the row whose join token is the MINIMUM shared prefix
      token — emit-once as a per-row predicate, so the pair stream is never
      shuffled (measured at sf0.1/local[32]: the pair-keyed groupBy it
      replaces shuffled 1.4 GB). The verify is the same
      :func:`mask_overlap` on the already-riding masks — enumerate -> filter
      -> verify in one pipelined whole-stage-codegen stage.
    - larger vocab: prefix join rows of three ints, emit-once via a pair
      distinct (map-side combinable), then :func:`token_overlap` — pure join
      algebra at any vocabulary.

    Output: (id1, id2, inter, union, jaccard) for pairs with J >= t.
    """
    docs = documents.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
    )
    tdict = dedup_token_dict(docs)
    vocab = vocab_size(tdict)
    words = (vocab + 63) // 64
    ids = _pin(  # feeds the prefix sides and the verify
        doc_tokens(docs)
        .select("doc_id", F.explode("tokens").alias("token"))
        .join(F.broadcast(tdict.select("token", "token_id")), "token")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("token_id")).alias("tids"))
    )
    # pin the join-input partitioning: prefix-token rows are small but the
    # self-join output is quadratic per token, and AQE coalesces exchanges by
    # INPUT size — unpinned, the whole pair stream can fold onto 1-2 cores
    # (same hazard measured on bucket_pairs: 107s -> 32s at sf0.1). Residual
    # hot-token imbalance splits under AQE skew-join on the shuffled join.
    n_part = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # integer ceil(t*n): (num*n + denom - 1) div denom, in longs — num*n
    # overflows an int from 3,580 tokens at the default num
    plen = F.expr(
        f"size(tids) - CAST(((CAST({threshold_num} AS BIGINT) * size(tids) "
        f"+ {threshold_denom} - 1) DIV {threshold_denom}) AS INT) + 1"
    )
    # length filter: t·max(n1,n2) <= min(n1,n2), integers only (longs)
    length_ok = F.lit(threshold_num).cast("long") * F.greatest("n1", "n2") <= F.lit(
        threshold_denom
    ).cast("long") * F.least("n1", "n2")
    if 0 < words <= EMIT_ONCE_MAX_WORDS:
        # Same surviving pairs as the pair-distinct route (every candidate
        # shares >= 1 prefix token; the minimum is unique), same integer
        # inter/union, bit-identical jaccard.
        tk = ids.select(
            "doc_id",
            F.size("tids").alias("n"),
            plen.alias("_plen"),
            F.posexplode("tids").alias("_pos", "tid"),
        )
        inpref = "_pos < _plen"
        masks = tk.groupBy("doc_id").agg(
            F.min("n").alias("n"),
            *token_masks(words, "_m"),
            *token_masks(words, "_p", where=inpref),
        )
        side = tk.filter(inpref).select("doc_id", F.col("tid").alias("ptok")).join(
            masks, "doc_id"
        )

        def prefix_side(k: int, s: str) -> DataFrame:
            return side.select(
                F.col("doc_id").alias(f"id{k}"),
                F.col("n").alias(f"n{k}"),
                "ptok",
                *[F.col(f"_m{w}").alias(f"_m{s}{w}") for w in range(words)],
                *[F.col(f"_p{w}").alias(f"_p{s}{w}") for w in range(words)],
            ).repartition(n_part, "ptok")

        w0 = F.expr("CAST((ptok - 1) DIV 64 AS INT)")
        # bits 0..off-1 set; off = 63 needs the literal: shiftleft(1,63) is
        # Long.MIN and the -1 overflows under ANSI (caught by the skew bench,
        # whose vocabulary is the first to reach bit 63)
        low_mask = F.expr(
            "CASE WHEN (ptok - 1) % 64 = 63 THEN CAST(9223372036854775807 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), CAST((ptok - 1) % 64 AS INT)) - 1 END"
        )
        min_shared = None
        for w in range(words):
            shw = F.col(f"_pa{w}").bitwiseAND(F.col(f"_pb{w}"))
            term = (
                F.when(F.lit(w) < w0, shw == 0)
                .when(F.lit(w) == w0, shw.bitwiseAND(low_mask) == 0)
                .otherwise(F.lit(True))
            )
            min_shared = term if min_shared is None else (min_shared & term)
        ov = (
            prefix_side(1, "a")
            .join(prefix_side(2, "b"), "ptok")
            .filter(F.col("id1") < F.col("id2"))
            .filter(length_ok)
            .filter(min_shared)  # emit-once: min shared prefix token only
            .select(
                "id1",
                "id2",
                "n1",
                "n2",
                mask_overlap("_ma", "_mb", words).cast("long").alias("inter"),
            )
        )
    else:
        pref = ids.select(
            "doc_id", F.size("tids").alias("n"), F.slice("tids", 1, plen).alias("prefix")
        )

        def prefix_side(k: int) -> DataFrame:
            return pref.select(
                F.col("doc_id").alias(f"id{k}"),
                F.col("n").alias(f"n{k}"),
                F.explode("prefix").alias("ptok"),
            ).repartition(n_part, "ptok")

        # emit each pair once: a pair-keyed distinct (map-side combinable)
        cand = (
            prefix_side(1)
            .join(prefix_side(2), "ptok")
            .filter(F.col("id1") < F.col("id2"))
            .filter(length_ok)
            .select("id1", "id2")
            .distinct()
        )
        tokens = ids.select("doc_id", F.size("tids").alias("n"), F.col("tids").alias("tokens"))
        ov = token_overlap(cand, tokens, vocab)
    union = F.col("n1") + F.col("n2") - F.col("inter")
    return ov.filter(
        F.col("inter") * F.lit(threshold_denom) >= F.lit(threshold_num) * union
    ).select(
        "id1",
        "id2",
        F.col("inter").cast("long").alias("inter"),
        union.cast("long").alias("union"),
        F.round(F.col("inter") / union, 6).alias("jaccard"),
    )


def minhash_jaccard_error(
    docs: DataFrame, token_dict: DataFrame, cfg: MinHashConfig
) -> DataFrame:
    """Estimator audit for MinHash dedup: per candidate pair, the signature
    Jaccard estimate (matching mins / total hashes) next to the EXACT
    distinct-token Jaccard, plus the absolute error.

    "Measure, don't guess": this is how a deployment picks (rows, bands) —
    run the audit on a sample, look at the error at the threshold, THEN size
    the signature. Candidates come from the same first-band-match enumeration
    as the dedup path; the exact overlap is :func:`token_overlap` (every
    candidate shares a token: a band collision means equal minima, and the
    linear hash is a bijection mod P, so both minima come from one token id).
    Signatures ride the pair rows as arrays, so the estimate is a per-row
    zip_with.

    Output: (id1, id2, est, jaccard, abs_err), doubles rounded 6dp.
    """
    n_hashes = cfg.rows * cfg.bands
    sig = minhash_mins(docs, token_dict, n_hashes, cfg.seed, "doc_id").select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )
    ov = token_overlap(
        minhash_candidate_pairs(docs, token_dict, cfg),
        doc_tokens(docs),
        vocab_size(token_dict),
        token_dict,
    )
    j = ov.join(
        sig.select(F.col("doc_id").alias("id1"), F.col("sig").alias("s1")), "id1"
    ).join(sig.select(F.col("doc_id").alias("id2"), F.col("sig").alias("s2")), "id2")
    matches = F.size(F.filter(F.zip_with("s1", "s2", lambda x, y: x == y), lambda v: v))
    est = F.round(matches / F.lit(float(n_hashes)), 6)
    true_j = F.round(F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6)
    return j.select(
        "id1",
        "id2",
        est.alias("est"),
        true_j.alias("jaccard"),
        F.round(F.abs(est - true_j), 6).alias("abs_err"),
    )


def leakage_safe_split(
    documents: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 7,
    hash_expr=None,
) -> DataFrame:
    """Cluster-level train/val/test split: the split unit is the NEAR-DUP
    CLUSTER, not the document.

    :func:`hash_split` keyed on the doc id scatters the members of a near-dup
    cluster across train and val — training text leaks into eval through its
    near-copies, the contamination fuzzy dedup exists to prevent. Here the
    near-dup pair graph (any pair source: minhash, simhash, embedding) is
    closed into components (large-star/small-star, operators/cc.py); every
    document is labeled with its component representative (min doc id,
    singletons label themselves), and the split hashes the REPRESENTATIVE —
    all members of a cluster land in the same partition, and non-duplicated
    docs split exactly as plain :func:`hash_split` would.

    Scale shape: CC runs on the (sparse) dup-pair edge list only — at
    real-corpus dup rates that is a few percent of doc cardinality; the
    label join and the split itself are one shuffle + a projection.
    Output: (id_col, cluster_rep, split).
    """
    from .cc import connected_components

    comp = connected_components(
        dup_pairs.select(F.col("id1"), F.col("id2"))
    ).withColumnRenamed("conv_id", id_col)
    base = (
        documents.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_rep"),
        )
    )
    out = hash_split(base, "cluster_rep", weights, seed=seed, hash_expr=hash_expr)
    return out.select(F.col(id_col), "cluster_rep", "split")
