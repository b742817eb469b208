"""Benchmark decontamination: n-gram overlap of a corpus against an eval set.

The standard pre-training hygiene pass (GPT-3 appendix C / PaLM-style):
a training document is *contaminated* when it shares at least ``min_hits``
distinct word n-grams with any single benchmark document.

100-TB shape: the benchmark side is an eval suite — thousands of documents,
not billions — so its gram table is **broadcast**; the corpus side streams
through one narrow projection (tokenize -> distinct grams -> explode), a
broadcast hash join, and a groupBy on ``doc_id`` whose input is only the
*matching* gram rows (corpus rows with no benchmark overlap never reach the
shuffle: the inner join drops them, and the final left-join restores them
with zero counts from the cheap per-doc gram-count aggregate). No corpus
self-join, no cartesian product, no UDF — pure Column algebra end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_ngrams, tokenize
from ..functions.vector import assert_dim, cosine


def _distinct_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram): distinct word n-grams per document (docs with < n tokens
    contribute their whole token sequence as one gram, per token_ngrams)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(token_ngrams(tokenize(F.col(text_col)), n))
        ).alias("gram"),
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_hits: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, n_grams, max_overlap, n_bench_hit, contaminated).

    - ``n_grams``: distinct word ``n``-grams in the document;
    - ``max_overlap``: largest count of shared distinct grams with any ONE
      benchmark document (0 when nothing matches);
    - ``n_bench_hit``: number of benchmark documents sharing >= ``min_hits``
      grams with this document;
    - ``contaminated``: ``max_overlap >= min_hits``.

    Contamination is per (train doc, bench doc) pair — a document that shares
    one stray gram with each of fifty benchmark items is NOT contaminated;
    one that shares ``min_hits`` grams with a single item is.
    """
    doc_grams = _distinct_grams(documents, id_col, text_col, n)
    bench_grams = _distinct_grams(
        benchmark, bench_id_col, bench_text_col, n
    ).withColumnRenamed("_id", "_bid")

    # per-doc distinct-gram count as a pure projection (one doc's grams are a
    # single row's array) — no corpus-wide explode+shuffle just to count
    sizes = documents.select(
        F.col(id_col).alias("_id"),
        F.size(F.array_distinct(token_ngrams(tokenize(F.col(text_col)), n)))
        .cast("long")
        .alias("n_grams"),
    ).filter(F.col("n_grams") > 0)

    overlap = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("_id", "_bid")
        .agg(F.count("*").alias("_ov"))
    )
    per_doc = overlap.groupBy("_id").agg(
        F.max("_ov").cast("long").alias("max_overlap"),
        F.sum(F.when(F.col("_ov") >= min_hits, 1).otherwise(0))
        .cast("long")
        .alias("n_bench_hit"),
    )
    return (
        sizes.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias("doc_id"),
            "n_grams",
            F.coalesce("max_overlap", F.lit(0)).cast("long").alias("max_overlap"),
            F.coalesce("n_bench_hit", F.lit(0)).cast("long").alias("n_bench_hit"),
            (F.coalesce("max_overlap", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    dim: int,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space eval-set decontamination:
    -> (vec_id, best_bench_id, cosine, contaminated).

    The semantic complement to the n-gram pass above: paraphrased or
    reformatted benchmark items share no exact n-grams with their training-set
    leak, but sit next to it in embedding space. A corpus vector is
    *contaminated* when its max cosine against ANY benchmark vector reaches
    ``threshold``; the argmax benchmark id is reported for auditing.

    Engine-stable contract (the repo's oracle pattern): cosines are computed
    in float64 and rounded to 5 dp BEFORE the threshold compare and the
    argmax tie-break (ties -> lowest benchmark id), so Spark and the DuckDB
    oracle agree bit-for-bit at rule boundaries. The tie-break negates the
    benchmark id inside a combinable ``max(struct)``, so ``bench_id_col``
    must be numeric (validated below). Every corpus row appears in the
    output — with an EMPTY benchmark side all rows report
    ``(best_bench_id=NULL, cosine=0.0, contaminated=false)``, matching the
    n-gram sibling's keep-everything contract.

    100-TB shape: the benchmark side is an eval suite — thousands of vectors,
    not billions — so it is **broadcast** and the corpus streams through one
    projection + broadcast nested-loop join, scored by the Arrow ordered-fold
    cosine (functions/vector.cosine; zero-norm sides score 0.0); the
    per-corpus-row argmax is a map-side-combinable ``max(struct)``
    aggregate, so only C rows (not C·E) reach the exchange. For benchmark
    sides too large to broadcast, route through the IVF/LSH index in
    operators/similarity_search.py instead.
    """
    from pyspark.sql.types import NumericType

    bid_type = benchmark.schema[bench_id_col].dataType
    if not isinstance(bid_type, NumericType):
        raise ValueError(
            f"bench_id_col {bench_id_col!r} must be numeric (got {bid_type}): "
            "the argmax tie-break orders by negated id inside max(struct)"
        )
    # fail loudly on a dim mismatch instead of scoring a ragged batch — a
    # silently clean verdict is the worst outcome for a safety operator
    c = assert_dim(
        corpus.select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).cast("array<double>").alias("_cv"),
        ),
        "_cv",
        dim,
    )
    b = assert_dim(
        benchmark.select(
            F.col(bench_id_col).alias("_bid"),
            F.col(bench_vec_col).cast("array<double>").alias("_bv"),
        ),
        "_bv",
        dim,
    )
    pairs = c.crossJoin(F.broadcast(b)).select(
        "_cid", "_bid", F.round(cosine("_cv", "_bv"), 5).alias("_cos_r")
    )
    # argmax(cos_r, tie -> lowest bench id) as ONE combinable aggregate:
    # max() over struct(cos_r, -bid) orders lexicographically
    best = pairs.groupBy("_cid").agg(
        F.max(F.struct(F.col("_cos_r"), (-F.col("_bid")).alias("_nbid"))).alias("_m")
    )
    # left join back to the corpus so an empty (or filtered-out) benchmark
    # side reports every row uncontaminated instead of dropping the corpus
    return (
        c.select("_cid")
        .join(best, "_cid", "left")
        .select(
            F.col("_cid").alias(id_col),
            (-F.col("_m._nbid")).alias("best_bench_id"),
            F.coalesce(F.col("_m._cos_r"), F.lit(0.0)).alias("cosine"),
            F.coalesce(
                F.col("_m._cos_r") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )
