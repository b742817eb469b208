"""Text-analysis operators for training-data pipelines, over ``documents``.

All pure Column algebra (JVM-side, whole-stage-codegen friendly), each with an
exact ANSI-SQL equivalent for the DuckDB correctness oracle:

- language ID: stopword-hit heuristic over small per-language function-word
  sets (argmax of hit counts, deterministic tie-break by language code);
- quality score: length / punctuation ratio / stopword ratio / digit ratio
  blended into [0,1] (CCNet-style heuristics, simplified);
- token counts: whitespace tokens + a BPE-ish subword estimate
  (``ceil(chars/4)`` per long token — the common "1 token ≈ 4 chars" rule);
- fingerprint: order-sensitive polynomial document hash over dictionary token
  ids (positional weights mod a Mersenne prime — reproducible in SQL, unlike
  engine hash builtins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import dense_rank_ids
from ..functions.text import token_ngrams, tokenize
from ..functions.tfidf import doc_frequencies
from .blocking import token_dictionary

MERSENNE_P = 2147483647
POS_MULT = 2654435761 % MERSENNE_P

# Tiny function-word sets; enough signal for coarse lang-id of web text.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "que", "de", "no", "una", "por", "con", "para"],
    "it": ["il", "la", "che", "di", "non", "una", "per", "con", "del", "sono"],
}


def language_id(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, hits): stopword-count argmax, ties -> smaller code."""
    toks = tokenize(F.col(text_col))
    out = documents.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    hit_cols = []
    for lang, words in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter("_t", lambda t: F.array_contains(arr, t)))
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*hit_cols))  # struct compare: hits then lang
    return out.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown")).alias("pred_lang"),
        best["hits"].alias("hits"),
    )


def quality_scores(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_tokens, stop_ratio, digit_ratio, punct_ratio, mean_token_len, quality).

    quality = 0.3·min(n_tokens/100,1) + 0.3·min(stop_ratio·5,1)
            + 0.2·(1−digit_ratio) + 0.2·(1−min(punct_ratio·4,1))
    """
    toks = tokenize(F.col(text_col))
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_x"),
        toks.alias("_t"),
    ).select(
        "doc_id",
        F.length("_x").alias("n_chars"),
        F.size("_t").alias("n_tokens"),
        (
            F.size(F.filter("_t", lambda t: F.array_contains(en, t)))
            / F.greatest(F.size("_t"), F.lit(1))
        ).alias("stop_ratio"),
        (
            F.length(F.regexp_replace("_x", "[^0-9]", ""))
            / F.greatest(F.length("_x"), F.lit(1))
        ).alias("digit_ratio"),
        (
            F.length(F.regexp_replace("_x", "[a-zA-Z0-9 ]", ""))
            / F.greatest(F.length("_x"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.aggregate("_t", F.lit(0), lambda a, t: a + F.length(t))
            / F.greatest(F.size("_t"), F.lit(1))
        ).alias("mean_token_len"),
    )
    quality = (
        0.3 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.3 * F.least(F.col("stop_ratio") * 5.0, F.lit(1.0))
        + 0.2 * (1.0 - F.col("digit_ratio"))
        + 0.2 * (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0)))
    )
    return base.withColumn("quality", quality)


def token_counts(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, subword_est): whitespace count + ceil(len/4) subwords.

    Integral outputs are long: the driver's value hash is type-sensitive, so
    every integral output column is canonicalized to 64-bit on both engines.
    """
    toks = tokenize(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("ws_tokens"),
        F.aggregate(
            toks, F.lit(0), lambda a, t: a + F.ceil(F.length(t) / F.lit(4.0)).cast("int")
        ).cast("long").alias("subword_est"),
    )


def doc_fingerprints(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint): Σ_pos token_id · ((pos+1)·M mod P) mod P.

    Order-sensitive (swapping tokens changes the value), dictionary-based so
    the oracle reproduces it with the same row_number() dictionary.
    """
    docs = documents.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tokens"))
    tdict = token_dictionary(doc_frequencies(docs, id_col="doc_id"))
    pos = docs.select("doc_id", F.posexplode("tokens").alias("pos", "token")).join(
        F.broadcast(tdict), "token"
    )
    term = (
        F.col("token_id")
        * ((F.col("pos") + 1).cast("long") * F.lit(POS_MULT) % F.lit(MERSENNE_P))
    ) % F.lit(MERSENNE_P)
    return (
        pos.groupBy("doc_id")
        .agg((F.sum(term) % F.lit(MERSENNE_P)).alias("fingerprint"))
    )


def repetition_scores(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_2grams, dup_2gram_frac, top_2gram_frac, dup_3gram_frac):
    Gopher-style repetition signals (Rae et al. 2021, MassiveText rules).

    - ``dup_Ngram_frac``: fraction of N-gram occurrences that are repeats of
      an earlier N-gram in the same document: ``(total - distinct) / total``;
    - ``top_2gram_frac``: occurrences of the single most frequent 2-gram over
      total 2-gram occurrences (token-count variant of Gopher's top-n-gram
      character fraction).

    Shape: explode grams -> one partial aggregate on (doc, gram) -> one final
    aggregate on doc — both map-side combinable; no window, no UDF, no
    per-doc collect. Docs with no grams (empty text) keep a row with zeroed
    counts/fractions.
    """

    def per_doc(n: int, prefix: str) -> DataFrame:
        g = documents.select(
            F.col(id_col).alias("doc_id"),
            F.explode(token_ngrams(tokenize(F.col(text_col)), n)).alias("gram"),
        )
        cnt = g.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
        return cnt.groupBy("doc_id").agg(
            F.sum("cnt").cast("long").alias(f"{prefix}total"),
            F.count("*").cast("long").alias(f"{prefix}distinct"),
            F.max("cnt").cast("long").alias(f"{prefix}top"),
        )

    g2, g3 = per_doc(2, "_2"), per_doc(3, "_3")
    base = documents.select(F.col(id_col).alias("doc_id"))
    out = base.join(g2, "doc_id", "left").join(g3, "doc_id", "left")
    t2 = F.coalesce("_2total", F.lit(0))
    t3 = F.coalesce("_3total", F.lit(0))
    return out.select(
        "doc_id",
        t2.cast("long").alias("n_2grams"),
        F.when(t2 > 0, (t2 - F.col("_2distinct")) / t2).otherwise(0.0).alias("dup_2gram_frac"),
        F.when(t2 > 0, F.col("_2top") / t2).otherwise(0.0).alias("top_2gram_frac"),
        F.when(t3 > 0, (t3 - F.col("_3distinct")) / t3).otherwise(0.0).alias("dup_3gram_frac"),
    )


def unigram_logprob(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, mean_nll): corpus-fitted unigram-LM surprisal.

    The perplexity-style quality filter of a pre-training pipeline (CCNet /
    Wenzek et al. 2020 rank corpora by LM perplexity; the unigram model is
    the engine-friendly first rung): fit ``p(token) = count/total`` on the
    corpus itself, then score each document by its mean token surprisal
    ``mean_nll = -(1/n) Σ ln p(token_i)`` over token *occurrences*. Low =
    ordinary prose; high = rare-token soup (boilerplate, code dumps, noise).

    Determinism across engines: per-token surprisal is frozen to integer
    micro-nats (``round(-ln(p)·1e6)`` — one libm call per *vocabulary* entry,
    where a 1-ulp engine difference cannot move the rounded value except
    within ~1e-10 of a boundary), and the per-document sum runs in exact
    64-bit integers, so summation order cannot change the result (the same
    trick events_hourly uses for its average).

    Shape at scale: tf aggregation and the vocabulary count are both
    map-side combinable; the vocabulary joins back on ``token`` (a plain
    shuffle join — the vocabulary at web scale is 10^8-10^9 rows, NOT
    broadcastable; AQE broadcasts it automatically when it is small); the
    final per-doc sum is one more combinable aggregate. No UDF, no window,
    no driver-side state — the corpus total rides along as a broadcast
    1-row cross join.
    """
    docs = documents.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_t")
    )
    tf = (
        docs.select("doc_id", F.explode("_t").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("_total"))
    nll = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(-F.log(F.col("cnt") / F.col("_total")) * F.lit(1e6))
        .cast("long")
        .alias("_nll_micro"),
    )
    per_doc = (
        tf.join(nll, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("_nll_micro")).alias("_sum_micro"),
        )
    )
    # empty docs keep a row: n_tokens=0, mean_nll=0.0
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.when(
                F.col("n_tokens").isNotNull(),
                F.col("_sum_micro") / (F.col("n_tokens") * F.lit(1e6)),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_nll"),
        )
    )


def corpus_quantiles(
    df: DataFrame, value_col: str, qs: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """(q, value): EXACT corpus quantiles with no single-task global sort.

    The threshold-fitting step of a quality-filter pipeline ("drop docs
    below P10 / above P99 token count") needs real quantiles of a corpus
    column. approxQuantile is driver-side and approximate; ``percentile``
    is a single-node sort at the limit. Here the quantile is defined by a
    deterministic total order (value, id) and computed from range-
    partitioned parallel ranks (:func:`..functions.ids.dense_rank_ids` —
    the same machinery as the token dictionary), so a 10^12-row corpus
    ranks in parallel with no straggler task.

    Rank rule (both engines bit-identically): quantile q = the value at
    1-based rank ``max(1, ceil(q·n))``. The target rank is computed in pure
    64-bit integer arithmetic — ``(q_micro·n + 999999) div 1e6`` with
    ``q_micro = round(q·1e6)`` — because float ``ceil(q·n)`` straddles
    engines when q has no exact binary representation (0.1·500 is 50 in
    decimal arithmetic but 50.0000000000000028 in doubles).

    Plan: one ranking pass + a broadcast join of the |qs|-row target table
    against the ranked corpus (a semi-join on ~|qs| ranks); the count rides
    along as a broadcast 1-row cross join.
    """
    sdf = df.select(F.col(id_col).alias("_id"), F.col(value_col).alias("_v"))
    ranked = dense_rank_ids(sdf, ["_v", "_id"], "_r")
    n = sdf.agg(F.count("*").alias("_n"))
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(float(q), int(round(q * 1e6))) for q in qs], "q double, q_micro long"
    )
    targets = qdf.crossJoin(F.broadcast(n)).select(
        "q",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(q_micro * _n + 999999) div 1000000"),
        ).alias("_r"),
    )
    return ranked.join(F.broadcast(targets), "_r").select(
        "q", F.col("_v").alias("value")
    )


def oov_rates(
    documents: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, oov_tokens, oov_rate): occurrence fraction outside
    the top-``vocab_size`` corpus vocabulary.

    The vocabulary-coverage filter of a pre-training pipeline: docs whose
    tokens mostly fall outside the frequent vocabulary are code dumps,
    foreign-language strays, or OCR noise. The vocabulary is the top-K
    tokens by (count desc, token asc) — ranked with range-partitioned
    deterministic ids (no global-sort straggler), identical to
    ``row_number() over (order by cnt desc, token)`` in the oracle.

    Per-doc aggregation is one map-side-combinable groupBy over (doc,
    token) tf rows joined to the ranked vocabulary on ``token`` (shuffle
    join; AQE broadcasts it when the vocabulary is small). Empty docs keep
    a zeroed row.
    """
    docs = documents.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_t")
    )
    tf = (
        docs.select("doc_id", F.explode("_t").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    ranked = dense_rank_ids(
        vocab.withColumn("_neg", -F.col("cnt")), ["_neg", "token"], "_rank"
    ).select("token", "_rank")
    per_doc = (
        tf.join(ranked, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_rank") > vocab_size, F.col("tf")).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("oov_tokens", F.lit(0)).cast("long").alias("oov_tokens"),
            F.when(
                F.col("n_tokens").isNotNull(),
                F.col("oov_tokens") / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded repetition,
# no lookaround, no \s shorthand (explicit classes instead).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL_RE = r"https?://[^ ]+"
PII_PHONE_RE = r"\+[0-9]{7,15}"


def scrub_pii(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_urls, n_phones): redact PII spans.

    The standard pre-training redaction pass: emails -> ``<EMAIL>``,
    URLs -> ``<URL>``, international-format phone numbers -> ``<PHONE>``,
    applied in that fixed order (placeholders never re-match a later
    pattern). Counts are measured on the ORIGINAL text per pattern. Pure
    Column algebra — regexp_replace/regexp_count run JVM-side inside
    whole-stage codegen; no UDF, no shuffle (a projection over the corpus).
    """
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_URL_RE, "<URL>"
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_text): overlapping token windows.

    The long-document splitting step of a pre-training / RAG pipeline:
    chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk is clipped. Documents
    with <= chunk_tokens tokens yield one chunk (empty docs yield one empty
    chunk row, so every input row is represented).

    Pure Column algebra: chunk starts come from ``sequence`` + ``posexplode``
    and each chunk is a ``slice`` of the token array — a per-row expansion
    with no shuffle at all (narrow projection; output rows ~ corpus tokens /
    stride). No window function, so no per-doc ordering state.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = documents.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_t")
    )
    n = F.size("_t")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("int") + 1
    )
    return toks.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_c"),
        "_t",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(F.slice("_t", F.col("chunk_idx") * stride + 1, chunk_tokens))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice("_t", F.col("chunk_idx") * stride + 1, chunk_tokens), " "
        ).alias("chunk_text"),
    )


PII_DOMAIN_RE = r"https?://([^/ ]+)"


def domain_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(domain, n_docs, n_urls): per-domain source statistics over in-text URLs.

    The provenance-audit step of a web-corpus pipeline (domain blocklists,
    per-source mixing weights): extract every URL (same pattern as
    :func:`scrub_pii`), take its lowercased host, and aggregate document and
    occurrence counts per domain. Extraction is a projection (regexp_extract_all
    runs JVM-side); the only shuffle is the per-domain aggregate, map-side
    combined, with cardinality = distinct domains (tiny vs the corpus).
    """
    urls = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(PII_URL_RE), F.lit(0))).alias("url"),
    )
    return (
        urls.select("doc_id", F.lower(F.regexp_extract("url", PII_DOMAIN_RE, 1)).alias("domain"))
        .groupBy("domain")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_urls"),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing (token-budget sharding)
# ---------------------------------------------------------------------------

def pack_documents(
    documents: DataFrame,
    token_budget: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_expr=None,
) -> DataFrame:
    """(doc_id, bucket, seq_id, n_tokens): group docs into training sequences.

    ``bucket_expr``: optional Column->Column hash override (default
    xxhash64); pass an arithmetic hash when the assignment must reproduce
    outside Spark (the DuckDB oracle does).

    The packing step of a pre-training pipeline: documents are concatenated
    into fixed-token-budget sequences. A global greedy pack is inherently
    sequential, so the distributed shape is HASH-BUCKETED packing: docs land
    in ``pmod(xxhash64(id), n_buckets)`` buckets, and WITHIN each bucket the
    deterministic id order defines a running token total whose
    ``floor(prior_total / budget)`` is the sequence number. One window per
    bucket — all buckets pack in parallel, and the assignment is independent
    of physical partitioning (stable for resume / re-runs).

    Docs longer than the budget occupy (at least) their own sequence, same
    as real packers that truncate/split downstream. Packing efficiency loses
    only the per-bucket boundary remainders vs a global pack — at
    corpus/n_buckets >> budget the waste is negligible, while a global-order
    window would serialize the corpus through one task.
    """
    from pyspark.sql import Window

    h = (
        bucket_expr(F.col(id_col))
        if bucket_expr is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    )
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        h.cast("int").alias("bucket"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prior = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "doc_id",
        "bucket",
        F.floor(prior / F.lit(int(token_budget))).cast("long").alias("seq_id"),
        "n_tokens",
    )


def winnow_fingerprints(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a window
    of ``w`` gram hashes, select the minimum of each window (ties -> rightmost
    occurrence), and emit the distinct selected (position, hash) pairs.
    Guarantees every shared substring of >= w+k-1 tokens yields at least one
    shared fingerprint — the standard local-sampling alternative to keeping
    all grams, at ~2/(w+1) of the volume.

    Exactly replayable in SQL: gram hash = Σ_j token_id(p+j)·((j+1)·M mod P)
    mod P over the (df, token) row_number dictionary; the rightmost-min rule
    packs (hash, position) into ONE int64 — ``hash·2^31 + (2^31-1-pos)`` — so
    a plain window ``min`` implements it in both engines with no arg_min
    variance.

    Scale shape: one explode (k rows per token) -> one groupBy (doc, gram
    start) -> one per-doc ordered window -> distinct on the ~2/(w+1)-sampled
    selection. No global sort; the dictionary uses range-partitioned ids.
    Output: (doc_id, pos, gram_hash), both long.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    docs = documents.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
    )
    tdict = token_dictionary(doc_frequencies(docs, id_col="doc_id"))
    pos = (
        docs.select(
            "doc_id", F.size("tokens").alias("_n"), F.posexplode("tokens").alias("pos", "token")
        )
        .join(F.broadcast(tdict), "token")
    )
    # each token at position p contributes to gram starts p-j, j in [0, k)
    contrib = pos.select(
        "doc_id",
        "_n",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_j"),
        "pos",
        "token_id",
    ).select(
        "doc_id",
        "_n",
        (F.col("pos") - F.col("_j")).alias("start"),
        (
            F.col("token_id")
            * ((F.col("_j") + 1).cast("long") * F.lit(POS_MULT) % F.lit(MERSENNE_P))
            % F.lit(MERSENNE_P)
        ).alias("_term"),
    ).filter((F.col("start") >= 0) & (F.col("start") <= F.col("_n") - k))
    grams = contrib.groupBy("doc_id", "start").agg(
        (F.sum("_term") % F.lit(MERSENNE_P)).alias("gram_hash"),
        F.max(F.col("_n")).alias("_n"),
    )
    # pack (hash asc, pos desc) into one int64: min == rightmost minimal hash
    packed = grams.select(
        "doc_id",
        "start",
        "_n",
        (
            F.col("gram_hash") * F.lit(2147483648)
            + (F.lit(2147483647) - F.col("start"))
        ).alias("_packed"),
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy("doc_id").orderBy("start").rowsBetween(0, w - 1)
    )
    sel = packed.select(
        "doc_id",
        "start",
        "_n",
        F.min("_packed").over(win).alias("_m"),
    ).filter(F.col("start") <= F.col("_n") - k - w + 1)
    return sel.select(
        "doc_id",
        (F.lit(2147483647) - F.col("_m") % F.lit(2147483648)).cast("long").alias("pos"),
        # integer div, NOT `/` (double division loses precision at 2^62)
        F.expr("CAST(_m DIV 2147483648 AS BIGINT)").alias("gram_hash"),
    ).distinct()


def cdc_chunks(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking: split each document where the rolling k-gram
    hash hits ``hash % divisor == 0`` (expected chunk length ~``divisor``
    tokens), the shift-robust alternative to fixed windows — insert a token
    early in a doc and fixed chunks all change, CDC boundaries re-synchronize
    (the rsync/LBFS trick, Muthitacharoen et al. SOSP'01, applied to token
    streams for chunk-level dedup).

    Chunk hashes use WITHIN-CHUNK positions, so identical chunk content
    yields identical hashes wherever it sits in the doc — chunk-level
    dedup across shifted documents is then a plain hash-groupBy.

    Exactly replayable: gram/chunk hashes are the dictionary polynomial
    (token_id · (rel_pos·M mod P) summed mod P); boundaries and chunk ids
    are integer arithmetic + one per-doc cumulative-sum window.

    Output: (doc_id, chunk_id, start_pos, n_tokens, chunk_hash) — all long.
    """
    docs = documents.select(
        F.col(id_col).cast("long").alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
    )
    tdict = token_dictionary(doc_frequencies(docs, id_col="doc_id"))
    pos = docs.select(
        "doc_id", F.size("tokens").alias("_n"), F.posexplode("tokens").alias("pos", "token")
    ).join(F.broadcast(tdict), "token")
    # gram hash at start p (p <= n-k): same contrib fan-out as winnowing
    contrib = pos.select(
        "doc_id",
        "_n",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_j"),
        "pos",
        "token_id",
    ).select(
        "doc_id",
        (F.col("pos") - F.col("_j")).alias("start"),
        (
            F.col("token_id")
            * ((F.col("_j") + 1).cast("long") * F.lit(POS_MULT) % F.lit(MERSENNE_P))
            % F.lit(MERSENNE_P)
        ).alias("_term"),
    ).filter((F.col("start") >= 0) & (F.col("start") <= F.col("_n") - k))
    grams = contrib.groupBy("doc_id", "start").agg(
        (F.sum("_term") % F.lit(MERSENNE_P)).alias("_gh")
    )
    bounds = grams.select(
        "doc_id",
        F.col("start").alias("pos"),
        ((F.col("_gh") % divisor == 0) & (F.col("start") > 0)).alias("_b"),
    )
    from pyspark.sql import Window

    tok_pos = pos.select("doc_id", "pos", "token_id").join(
        bounds, ["doc_id", "pos"], "left"
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = tok_pos.withColumn(
        "chunk_id",
        F.sum(F.coalesce(F.col("_b").cast("int"), F.lit(0))).over(w).cast("long"),
    )
    wc = Window.partitionBy("doc_id", "chunk_id")
    rel = F.col("pos") - F.min("pos").over(wc)
    hashed = chunked.withColumn(
        "_h",
        F.col("token_id")
        * ((rel + 1).cast("long") * F.lit(POS_MULT) % F.lit(MERSENNE_P))
        % F.lit(MERSENNE_P),
    )
    return hashed.groupBy("doc_id", "chunk_id").agg(
        F.min("pos").cast("long").alias("start_pos"),
        F.count("*").cast("long").alias("n_tokens"),
        (F.sum("_h") % F.lit(MERSENNE_P)).cast("long").alias("chunk_hash"),
    )


def bm25_scores(
    documents: DataFrame,
    query_tokens: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed token query —
    the retrieval scorer for corpus curation (rank docs against a probe
    query; see Robertson & Zaragoza 2009).

    Cross-engine determinism discipline: every input to each per-(doc, term)
    score is an exact integer (tf, df, len, N, S) combined in ONE fixed
    expression tree, so both engines compute identical doubles (division and
    the final ln are the only rounding points); per-term scores are then
    floored to integer NANO-units and SUMMED AS INT64 — the sum is
    order-independent, so groupBy parallelism can't flip a 6dp output.

    Shape: tf join on the (tiny, broadcast) query token set, one df lookup,
    two corpus scalars — no shuffle beyond the per-doc aggregate.
    Output: (doc_id, n_hits, bm25).
    """
    toks = documents.select(
        F.col(id_col).cast("long").alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
    )
    stats = toks.select(
        F.count("*").alias("_N"), F.sum(F.size("tokens")).alias("_S")
    )
    lens = toks.select("doc_id", F.size("tokens").cast("long").alias("_len"))
    q = F.array(*[F.lit(t) for t in query_tokens])
    occ = toks.select("doc_id", F.explode("tokens").alias("token")).filter(
        F.array_contains(q, F.col("token"))
    )
    tf = occ.groupBy("doc_id", "token").agg(F.count("*").alias("_tf"))
    dfq = (
        occ.select("doc_id", "token").distinct()
        .groupBy("token")
        .agg(F.count("*").alias("_df"))
    )
    j = (
        tf.join(F.broadcast(dfq), "token")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avglen = F.col("_S").cast("double") / F.col("_N").cast("double")
    idf = F.log(
        (F.col("_N") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    denom = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("_len") / avglen)
    )
    term = idf * ((F.col("_tf") * F.lit(k1 + 1.0)) / denom)
    nano = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    scored = j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits"),
        F.round(F.sum(nano) / F.lit(1e9), 6).alias("bm25"),
    )
    base = toks.select("doc_id")
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce("bm25", F.lit(0.0)).alias("bm25"),
    )


def filter_cascade(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 25,
    max_tokens: int = 5000,
    min_quality: float = 0.55,
    max_top_2gram: float = 0.18,
    max_dup_3gram: float = 0.30,
) -> DataFrame:
    """C4/RefinedWeb-style quality-filter cascade with reason codes.

    Real training-data pipelines don't apply quality signals independently —
    they run a fixed-order rule cascade and record, per document, whether it
    survives and WHICH rule killed it first (the reason codes are what lets a
    pipeline owner audit e.g. "the last crawl lost 12% more docs to the
    repetition rule"). Rules, in order:

    1. ``lang``        — language-id is 'unknown' (no stopword hit in any
                         supported language);
    2. ``length``      — whitespace token count outside
                         [``min_tokens``, ``max_tokens``];
    3. ``quality``     — composite quality score below ``min_quality``;
    4. ``repetition``  — Gopher repetition screens: top-2-gram occupancy
                         above ``max_top_2gram`` or duplicate-3-gram fraction
                         above ``max_dup_3gram``.

    Thresholds compare the 6-decimal-rounded signal values — the same
    canonical representation the per-signal oracle queries grade — so the
    keep/drop decision is bit-identical across engines (an unrounded double
    can differ in the last ulp between engines exactly at a threshold).

    Scale shape: three doc-cardinality signal scans (each itself shuffle-lean,
    see the individual operators) joined on the id — no pair stream, no UDF.
    Output: (doc_id, keep boolean, reason string; 'pass' for survivors).
    """
    lang = language_id(documents, id_col, text_col).select(
        F.col(id_col), F.col("pred_lang")
    )
    qual = quality_scores(documents, id_col, text_col).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round("quality", 6).alias("_quality"),
    )
    rep = repetition_scores(documents, id_col, text_col).select(
        F.col(id_col),
        F.round("top_2gram_frac", 6).alias("_top2"),
        F.round("dup_3gram_frac", 6).alias("_dup3"),
    )
    j = (
        documents.select(F.col(id_col))
        .join(lang, id_col)
        .join(qual, id_col)
        .join(rep, id_col)
    )
    reason = (
        F.when(F.col("pred_lang") == "unknown", F.lit("lang"))
        .when(
            (F.col("n_tokens") < F.lit(int(min_tokens)))
            | (F.col("n_tokens") > F.lit(int(max_tokens))),
            F.lit("length"),
        )
        .when(F.col("_quality") < F.lit(float(min_quality)), F.lit("quality"))
        .when(
            (F.col("_top2") > F.lit(float(max_top_2gram)))
            | (F.col("_dup3") > F.lit(float(max_dup_3gram))),
            F.lit("repetition"),
        )
        .otherwise(F.lit("pass"))
    )
    return j.select(
        F.col(id_col),
        reason.alias("reason"),
    ).withColumn("keep", F.col("reason") == "pass")
