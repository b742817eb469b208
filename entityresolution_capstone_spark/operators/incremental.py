"""Incremental entity resolution: attach a NEW batch of records to an
EXISTING resolved entity catalog without re-resolving the whole corpus.

The production shape at 10^12-turn scale is not "re-run ER nightly over
old ∪ new" — that is O((N+n)²)-shaped in candidate pairs and recomputes a
clustering that cannot change for untouched entities. The incremental path
enumerates only NEW×BASE candidate pairs (plus optional NEW×NEW, orders of
magnitude smaller at steady state n ≪ N), scores them with the same kernel
stack, and assigns each new record to its best existing cluster by a
linkage-aggregated score, falling back to a fresh singleton cluster below
the threshold.

Semantics (documented contract, mirrored by the `er_attach` DuckDB oracle):

- blocking keys and TF-IDF document frequencies are fitted on the UNION of
  both corpora (one shared token dictionary), so signatures and weights are
  comparable across sides — the same one-dictionary rule as
  :func:`..operators.dedup.cross_minhash_duplicates`;
- the hot-block cap counts a block's TOTAL membership (new + base): a block
  that would have been dropped by a full re-resolve is dropped here too,
  making the cross pair set exactly ``candidate_pairs(old ∪ new)``
  restricted to cross-side pairs;
- attachment: per (new record, base cluster) aggregate the pair scores with
  ``linkage`` (``max`` or ``avg``); the new record joins the argmax cluster
  if its linkage score ≥ ``threshold`` (deterministic tie-break: score desc,
  cluster_id asc), else it becomes a singleton cluster keyed by its own id.

Attachment deliberately never MERGES two existing clusters (a new record
scoring ≥ θ against members of two different clusters attaches to the best
one only) — transitive merges through new evidence are a full-resolve
decision, not an ingest-path one. This matches the incremental-ER
formulation of Benjelloun et al., "Swoosh: a generic approach to entity
resolution" (VLDB J. 2009) §7 for the non-merge fast path.

Reference parity note: the reference capstone resolves one static graph
per run (resolver.py:611-634 loads, resolves, reports); incremental
attachment is an extension the task mandate's training-data pipeline needs
(daily crawl ingest against a persistent catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import blocking as B
from .blocking import (
    BlockingConfig,
    _attach_key_payload,
    _first_key_match,
    _pin,
    with_block_size,
)
from .scoring import ScoringConfig, score_pairs
from ..functions.tfidf import doc_frequencies


def cross_candidate_pairs(
    new_blocks: DataFrame,
    base_blocks: DataFrame,
    cfg: BlockingConfig | None = None,
) -> DataFrame:
    """(new_id, base_id): co-blocked cross-side pairs, each exactly once.

    Equals ``candidate_pairs(new_blocks ∪ base_blocks)`` restricted to pairs
    with one side in each input (asserted in tests/test_incremental.py), but
    never enumerates base×base pairs — the join is new-side × base-side on
    the block key, so its output is proportional to cross collisions, not to
    the base corpus' internal pair count.

    Shares the self-join's scale machinery (operators/blocking.py):
    union-wide hot-block cap (:func:`..blocking.with_block_size`), the
    dense-id key payload and its min-common-key predicate instead of a
    pair-set distinct(), the pinned join input, and explicit-N repartition
    of both join inputs (AQE must not fold the tiny input of an explosive
    join — docs/SCALE.md).
    """
    cfg = cfg or BlockingConfig()
    nb, bb = (
        blk.dropDuplicates(["conv_id", "block_key"]).withColumn("_new", F.lit(is_new))
        for blk, is_new in ((new_blocks, True), (base_blocks, False))
    )
    kept = with_block_size(nb.unionByName(bb), cfg.max_block_size)
    # the payload frontier feeds both join sides (_new rides along)
    kept = _pin(_attach_key_payload(kept))
    n_part = int(kept.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = kept.filter("_new").select(
        "block_key", F.col("conv_id").alias("new_id"), F.col("_p").alias("p1")
    ).repartition(n_part, "block_key")
    b = kept.filter(~F.col("_new")).select(
        "block_key", F.col("conv_id").alias("base_id"), F.col("_p").alias("p2")
    ).repartition(n_part, "block_key")
    return (
        a.join(b, "block_key")
        .filter(_first_key_match(F.col("p1"), F.col("p2")))
        .select("new_id", "base_id")
    )


def attach_to_clusters(
    new_docs: DataFrame,
    base_docs: DataFrame,
    base_clusters: DataFrame,
    blocking_cfg: BlockingConfig | None = None,
    scoring_cfg: ScoringConfig | None = None,
    threshold: float = 0.82,
    linkage: str = "max",
) -> DataFrame:
    """Assign every NEW canonical doc to an existing cluster or a singleton.

    ``new_docs`` / ``base_docs``: canonical-doc frames (``conv_id``, ``doc``,
    ``doc_prefix``, ``tokens`` — :func:`..operators.canonicalize.
    canonical_docs` output; id spaces must be disjoint). ``base_clusters``:
    (conv_id, cluster_id) for the base side.

    Returns one row per new doc: (conv_id, cluster_id, best_sim, n_cand)
    where ``cluster_id`` is the attached existing cluster or the doc's own
    conv_id (singleton), ``best_sim`` the winning linkage score (0.0 for
    singletons), ``n_cand`` the number of scored cross pairs for the doc.

    Plan shape: dictionary + DF fit over the union (two scans), cross-only
    pair enumeration, one score pass, one groupBy per (new, cluster), one
    per-new-doc window argmax — every stage keyed and shuffled on bounded
    keys; no collect, no global sort.
    """
    if linkage not in ("max", "avg"):
        raise ValueError(f"linkage must be 'max' or 'avg', got {linkage!r}")
    blocking_cfg = blocking_cfg or BlockingConfig()
    scoring_cfg = scoring_cfg or ScoringConfig()
    union = new_docs.unionByName(base_docs, allowMissingColumns=True).persist()
    dft = doc_frequencies(union).persist()
    tdict = B.token_dictionary(dft)
    new_blocks = B.build_blocks(new_docs, tdict, blocking_cfg)
    base_blocks = B.build_blocks(base_docs, tdict, blocking_cfg)
    pairs = cross_candidate_pairs(new_blocks, base_blocks, blocking_cfg)
    n = union.count()
    scored = score_pairs(
        pairs.select(F.col("new_id").alias("id1"), F.col("base_id").alias("id2")),
        union,
        scoring_cfg,
        df_table=dft,
        corpus_size=n,
    ).select(
        F.col("id1").alias("new_id"),
        F.col("id2").alias("base_id"),
        F.col("attr_sim").alias("sim"),
    )
    agg = F.max("sim") if linkage == "max" else F.avg("sim")
    clu = (
        scored.join(
            base_clusters.select(
                F.col("conv_id").alias("base_id"), "cluster_id"
            ),
            "base_id",
        )
        .groupBy("new_id", "cluster_id")
        .agg(agg.alias("_s"), F.count("*").alias("_n"))
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("_s").desc(), F.col("cluster_id").asc()
    )
    best = (
        clu.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_s") >= threshold))
        .select("new_id", "cluster_id", "_s")
    )
    n_cand = scored.groupBy("new_id").agg(F.count("*").alias("n_cand"))
    out = (
        new_docs.select(F.col("conv_id"))
        .join(best.withColumnRenamed("new_id", "conv_id"), "conv_id", "left")
        .join(n_cand.withColumnRenamed("new_id", "conv_id"), "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
            F.round(F.coalesce(F.col("_s"), F.lit(0.0)), 6).alias("best_sim"),
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long").alias("n_cand"),
        )
    )
    out = out.localCheckpoint(eager=True)
    union.unpersist()
    dft.unpersist()
    return out
