"""C5 — iterative re-scoring resolution for alpha > 0 (relational mix-in).

With alpha > 0 the reference recomputes similarities as merging proceeds
(/root/reference/src/entity_resolver/core/resolver.py:655-801): merging two
clusters changes every neighbor's cluster-level neighborhood, so uniqueness
weights and relational similarities must be re-evaluated before further
merges. The reference does this per-pop on a priority queue — inherently
sequential.

Distributed re-expression (SURVEY.md §2.8's prescription): **round-synchronous
re-scoring.** Each round, from the CURRENT assignment:

1. aggregate the fixed node-pair attribute scores to cluster-pair attribute
   linkage (operators/linkage.cluster_pair_linkage — the reference's
   min/avg/max member-product semantics, resolver.py:988-1015);
2. rebuild the cluster-level neighbor multiset + uniqueness weights
   (functions/relational — recomputed from scratch each round, which is the
   whole point of C5);
3. rel-score the candidate cluster pairs, mix ``(1-alpha)*attr + alpha*rel``
   (resolver.py:966-981; a cluster pair with no shared-edge relation scores
   rel 0);
4. merge ALL pairs >= threshold at once via connected components
   (operators/cc), relabel, repeat until a fixpoint.

Versus the reference's one-merge-at-a-time loop this applies each round's
merges with the SAME frozen relational state instead of re-scoring between
individual merges — the standard synchronous-parallel relaxation of a
sequential greedy process (same trade as large-star/small-star CC vs
union-find). tests/test_iterative.py pins the semantics against a scalar
round-synchronous emulator with adar kernels, and against the reference's
sequential order on inputs where only one merge fires per round (where the
two orders provably coincide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.relational import attr_uniqueness, cluster_neighbors, rel_sim_pairs
from .cc import connected_components, pin
from .linkage import cluster_pair_linkage, relabel


def resolve_iterative(
    node_scores: DataFrame,
    all_ids: DataFrame,
    edges: DataFrame,
    alpha: float,
    threshold: float,
    rel_strategy: str = "jaccard_coef",
    linkage: str = "max",
    max_rounds: int = 10,
    attr_docs: DataFrame | None = None,
    a1: str | None = None,
    a2: str | None = None,
    initial_assignment: DataFrame | None = None,
) -> DataFrame:
    """(conv_id, cluster_id) after iterative alpha-mixed merging.

    ``node_scores``: (id1, id2, attr_sim) fixed node-pair attribute scores
    (the expensive kernels run ONCE; only the cheap cluster-level aggregation
    and the relational features are recomputed per round).
    ``edges``: (conv_id, edge_id) hyper-edge membership.
    ``attr_docs`` + ``a1``/``a2``: required for ``adar_attr[_fr]`` —
    per-reference attribute columns for the ambiguity table.
    """
    if not 0 < alpha <= 1:
        raise ValueError("resolve_iterative is the alpha > 0 path; use the "
                         "single-pass pipeline for alpha == 0")
    if rel_strategy.startswith("adar_attr") and (attr_docs is None or not a1 or not a2):
        raise ValueError("adar_attr strategies need attr_docs + a1 + a2")
    # initial_assignment: e.g. exact-match bootstrap pre-clusters (reference
    # resolver.py:378-475 seeds the merge loop with them)
    assignment = pin(
        all_ids.select("conv_id", F.col("conv_id").alias("cluster_id"))
        if initial_assignment is None
        else initial_assignment.select("conv_id", "cluster_id")
    )
    for _ in range(max_rounds):
        attr_link = cluster_pair_linkage(
            node_scores, assignment, linkage, sim_col="attr_sim"
        )
        nbrs = cluster_neighbors(assignment, edges)
        uniq = None
        if rel_strategy.startswith("adar_attr"):
            uniq = attr_uniqueness(attr_docs, assignment, a1, a2)
        rel = rel_sim_pairs(attr_link.select("c1", "c2"), nbrs, rel_strategy, uniq)
        sim = (
            attr_link.join(rel, ["c1", "c2"], "left")
            .select(
                "c1",
                "c2",
                (
                    (1.0 - alpha) * F.col("link")
                    + alpha * F.coalesce("rel_sim", F.lit(0.0))
                ).alias("sim"),
            )
        )
        merges = sim.filter(F.col("sim") >= F.lit(float(threshold))).select(
            F.col("c1").alias("id1"), F.col("c2").alias("id2")
        )
        comp = connected_components(merges)
        mapping = comp.select(
            F.col("conv_id").alias("cluster_id"), F.col("cluster_id").alias("_new")
        )
        assignment, merged = relabel(assignment, mapping, comp)
        if merged == 0:
            break
    return assignment.orderBy("conv_id")
