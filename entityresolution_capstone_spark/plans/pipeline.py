"""End-to-end resolution pipeline with per-stage commit, lineage and resume.

Stage graph (each stage: DataFrame in -> DataFrame out -> committed table):

    ingest -> canonicalize -> block -> pairs -> score -> bootstrap
           -> cluster (threshold + negative constraint + CC) -> evaluate

North-rule contract implemented here:
- every stage writes its output through the manifest-committed writer
  (sources/tables.py) — a killed run relaunches and *skips every committed
  stage* (resume-from-checkpoint);
- every stage appends per-partition lineage rows (run_id, stage, partition_id,
  rows_out, wall_ms) plus stage-level metrics to the ``_metrics`` table;
- the connected-components frontier is checkpointed per round (operators/cc.py).

The bookkeeping runs no Spark job. ``partition_id``/``rows_out`` are the
writing task's partition and its row count, taken from the commit manifest
(parquet footers, see sources/tables.py), not from a scan of the table read
back; ``wall_ms`` is build + commit. ``n_docs``/``n_pairs`` also come from the
manifests, on fresh and resumed runs alike. Each ``_metrics`` append is one
small parquet file written on the driver with pyarrow (``schemas.
STAGE_METRICS`` types), so like the commit itself it assumes a local
filesystem; ``spark.read.parquet`` reads the table as before.

The reference's equivalent control flow is ``Resolver.resolve``
(/root/reference/src/entity_resolver/core/resolver.py:295-345) — a
single-threaded in-memory sequence; here each arrow is a Catalyst-planned
distributed job with an on-disk commit point.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tfidf import doc_frequencies
from ..operators import blocking as B
from ..operators import bootstrap as BS
from ..operators import cc as CC
from ..operators import canonicalize as CAN
from ..operators import scoring as SC
from ..sources import tables as TBL


@dataclass
class PipelineConfig:
    base_dir: str
    similarity_threshold: float = 0.935  # reference default resolver.py:251
    blocking: B.BlockingConfig = field(default_factory=B.BlockingConfig)
    scoring: SC.ScoringConfig = field(default_factory=SC.ScoringConfig)
    exact_match_cols: tuple[str, ...] = ("doc",)
    use_negative_constraint: bool = False  # needs an edges table
    # alpha > 0 clustering: per-round relational re-scoring (operators/
    # iterative.py, reference resolver.py:655-801). Needs an edges table.
    rel_strategy: str = "jaccard_coef"
    iterative_max_rounds: int = 10
    # non-max linkage clustering (operators/linkage.py); 'max' keeps the
    # thresholded-CC fast path
    linkage: str = "max"
    run_id: str | None = None


class Pipeline:
    """Stage runner. ``run()`` executes (or resumes) the whole graph."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.run_id = cfg.run_id or uuid.uuid4().hex[:12]
        os.makedirs(cfg.base_dir, exist_ok=True)

    # -- plumbing -----------------------------------------------------------

    def _path(self, stage: str) -> str:
        return os.path.join(self.cfg.base_dir, stage)

    def _metrics_path(self) -> str:
        return os.path.join(self.cfg.base_dir, "_metrics")

    def _append_metrics(self, rows: list[dict]) -> None:
        """Append rows to ``_metrics`` as one parquet file, without Spark."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from .. import schemas

        table = pa.Table.from_pylist(
            [
                {
                    "run_id": r["run_id"],
                    "stage": r["stage"],
                    "partition_id": r.get("partition_id"),
                    "rows_out": r.get("rows_out"),
                    "wall_ms": r.get("wall_ms"),
                    "extra": json.dumps(r.get("extra", {})),
                }
                for r in rows
            ],
            schema=to_arrow_schema(schemas.STAGE_METRICS),
        )
        out = self._metrics_path()
        os.makedirs(out, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        # written under a hidden name, then renamed: a reader never sees a
        # partial file
        tmp = os.path.join(out, "." + name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(out, name))

    def _run_stage(
        self, stage: str, build, resume: bool = True, extra: dict | None = None
    ) -> DataFrame:
        """Build-or-load one committed stage + lineage/metrics accounting."""
        path = self._path(stage)
        if resume and TBL.is_committed(path):
            return TBL.read_table(self.spark, path)
        t0 = time.time()
        manifest = TBL.write_table(
            build(), path, extra_manifest={"run_id": self.run_id, "stage": stage}
        )
        wall_ms = int((time.time() - t0) * 1000)
        base = {
            "run_id": self.run_id, "stage": stage, "wall_ms": wall_ms, "extra": extra or {}
        }
        rows = [
            {**base, "partition_id": pid, "rows_out": n}
            for pid, n in sorted(TBL.partition_rows(manifest).items())
            if n
        ] or [{**base, "partition_id": None, "rows_out": 0}]
        self._append_metrics(rows)
        return TBL.read_table(self.spark, path)

    # -- stages --------------------------------------------------------------

    def run(
        self,
        transcripts: DataFrame,
        labels: DataFrame | None = None,
        edges: DataFrame | None = None,
        resume: bool = True,
    ) -> dict:
        cfg = self.cfg

        docs = self._run_stage(
            "docs", lambda: CAN.canonical_docs(transcripts), resume
        )

        dft = self._run_stage("df_table", lambda: doc_frequencies(docs), resume)
        corpus_size = TBL.num_rows(self.spark, self._path("docs"))

        # token ids are a pure function of the committed df_table, so a
        # rebuilt blocks stage needs no committed dictionary
        blocks = self._run_stage(
            "blocks",
            lambda: B.build_blocks(docs, B.token_dictionary(dft), cfg.blocking),
            resume,
        )
        self._run_stage(
            "block_metrics",
            lambda: B.block_size_metrics(blocks, cfg.blocking),
            resume,
        )
        pairs = self._run_stage(
            "pairs", lambda: B.candidate_pairs(blocks, cfg.blocking), resume
        )

        # with the iterative alpha path the rel mix-in happens per merge
        # round (operators/iterative.py), so the scoring stage computes the
        # attribute kernels only — alpha is applied downstream
        iterative = cfg.scoring.alpha > 0 and edges is not None
        score_cfg = (
            dataclasses.replace(cfg.scoring, alpha=0.0) if iterative else cfg.scoring
        )
        scored = self._run_stage(
            "scores",
            lambda: SC.score_pairs(
                pairs,
                docs,
                score_cfg,
                df_table=dft,
                corpus_size=corpus_size,
            ),
            resume,
        )

        exact_edges = self._run_stage(
            "bootstrap_edges",
            lambda: BS.exact_match_edges(docs, list(cfg.exact_match_cols)),
            resume,
        )

        def exact_preclusters():
            # star edges -> (conv_id, cluster_id) pre-clusters for the merge
            # loops (the reference bootstraps exact matches before clustering)
            m = exact_edges.select(
                F.col("id2").alias("conv_id"), F.col("id1").alias("cluster_id")
            )
            return (
                docs.select("conv_id")
                .join(m, "conv_id", "left")
                .select(
                    "conv_id",
                    F.coalesce("cluster_id", F.col("conv_id")).alias("cluster_id"),
                )
            )

        if iterative:
            # C5: round-synchronous relational re-scoring until fixpoint —
            # merged clusters change neighborhoods, so rel features must be
            # recomputed as merging proceeds (reference resolver.py:655-801)
            from ..operators.iterative import resolve_iterative

            clusters = self._run_stage(
                "clusters",
                lambda: resolve_iterative(
                    scored.select("id1", "id2", "attr_sim"),
                    docs,
                    edges,
                    alpha=cfg.scoring.alpha,
                    threshold=cfg.similarity_threshold,
                    rel_strategy=cfg.rel_strategy,
                    linkage=cfg.linkage,
                    max_rounds=cfg.iterative_max_rounds,
                    initial_assignment=exact_preclusters(),
                ),
                resume,
            )
        elif cfg.linkage != "max":
            # G2: min/average linkage agglomerative merging
            from ..operators.linkage import linkage_clustering

            clusters = self._run_stage(
                "clusters",
                lambda: linkage_clustering(
                    scored.select("id1", "id2", "sim"),
                    docs,
                    cfg.similarity_threshold,
                    linkage=cfg.linkage,
                    initial_assignment=exact_preclusters(),
                ),
                resume,
            )
        else:

            def build_clusters():
                # connected components pins its first round, so the edges
                # are evaluated once there; duplicates are allowed
                e = scored.filter(
                    F.col("sim") >= cfg.similarity_threshold
                ).select("id1", "id2").unionByName(exact_edges)
                if cfg.use_negative_constraint and edges is not None:
                    e = BS.negative_constraint_filter(e, edges)
                return CC.assign_clusters(docs, CC.connected_components(e))

            clusters = self._run_stage("clusters", build_clusters, resume)

        result = {
            "run_id": self.run_id,
            "n_docs": corpus_size,
            "n_pairs": TBL.num_rows(self.spark, self._path("pairs")),
            "n_clusters": clusters.select("cluster_id").distinct().count(),
            "clusters_path": self._path("clusters"),
        }

        if labels is not None:
            from .. import evaluate as E

            s = E.pairwise_precision_recall(labels, clusters)
            result.update(
                {"precision": s.precision, "recall": s.recall, "f1": s.f1}
            )
            self._append_metrics(
                [
                    {
                        "run_id": self.run_id,
                        "stage": "evaluate",
                        "extra": {
                            "precision": s.precision,
                            "recall": s.recall,
                            "f1": s.f1,
                        },
                    }
                ]
            )
        return result
