"""Similarity search: exact top-k vs DuckDB; ANN recall vs brute force."""

import duckdb
import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark.operators import similarity_search as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 5)


def test_brute_force_topk_matches_duckdb(spark, embeddings, queries):
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 6))
        for r in S.brute_force_topk(embeddings, queries, k=5).collect()
    }
    want = duckdb.sql(
        f"""
        with v as (select vec_id, embedding::DOUBLE[] e from '{SF_DIR}/embeddings.parquet'),
        q as (select * from v where vec_id < 5),
        dots as (
          select q.vec_id qid, v.vec_id nid,
                 list_dot_product(q.e, v.e) /
                 (sqrt(list_dot_product(q.e,q.e)) * sqrt(list_dot_product(v.e,v.e))) cos
          from q, v where q.vec_id <> v.vec_id
        ),
        ranked as (
          select qid, nid, cos,
                 row_number() over (partition by qid order by cos desc, nid asc) rk
          from dots
        )
        select qid, rk, nid, round(cos, 6) from ranked where rk <= 5
        """
    ).fetchall()
    for qid, rk, nid, cos in want:
        g_nid, g_cos = got[(qid, rk)]
        assert g_nid == nid, (qid, rk)
        assert abs(g_cos - cos) < 1e-5, (qid, rk)


def test_ann_recall_reasonable(spark, embeddings, queries):
    k = 10
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(embeddings, queries, k=k).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_topk(embeddings, queries, k=k, n_planes=4).collect()
    }
    recall = len(brute & ann) / len(brute)
    # 4 planes -> 16 buckets over 500 vectors; hyperplane LSH on random data
    # is approximate — just require material overlap and full determinism
    assert recall >= 0.2, recall


def test_lsh_buckets_deterministic(spark, embeddings):
    b1 = sorted(S.lsh_bucket_keys(embeddings).collect())
    b2 = sorted(S.lsh_bucket_keys(embeddings.repartition(5)).collect())
    assert b1 == b2


def test_ann_bucket_skew_cap(spark):
    """A degenerate all-zero embedding cluster lands in one bucket; the cap
    excludes it from the candidate join and reports it, while distinctive
    vectors still resolve."""
    import random

    rng = random.Random(7)
    # 60 all-zero vectors (one degenerate bucket) + 8 distinctive ones
    rows = [(i, [0.0] * 8) for i in range(60)]
    rows += [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    buckets = S.lsh_bucket_keys(emb, n_planes=4, n_tables=1)
    metrics = S.bucket_size_metrics(buckets, max_bucket_size=20).collect()
    dropped = [r for r in metrics if r["dropped"]]
    assert dropped and max(r["size"] for r in dropped) >= 60  # reported, not silent

    queries = emb.filter(F.col("vec_id") >= 100).limit(2)
    out = S.ann_topk(
        emb, queries, k=3, n_planes=4, n_tables=1, max_bucket_size=20
    ).collect()
    # no candidate row may come from the degenerate bucket's members
    assert out, "capped ANN still returns candidates for distinctive queries"
    assert all(r["neighbor_id"] >= 100 for r in out)


def test_ivf_topk_recall_vs_brute(spark):
    """IVF-Flat with nprobe=2 of 8 cells keeps high recall on sf0.001
    (measured 0.91; pinned with slack for config drift)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, queries, k=10, n_cells=8, rounds=2, nprobe=2).collect()
    }
    assert len(ivf & brute) / len(brute) >= 0.75


def test_ivf_index_deterministic_across_partitionings(spark):
    """The fixed-point quantizer makes the learned index bit-reproducible:
    same assignment regardless of input partitioning (no FP accumulation-
    order dependence)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a1, c1 = S.ivf_index(emb, n_cells=8, rounds=2)
    a2, c2 = S.ivf_index(emb.repartition(13), n_cells=8, rounds=2)
    assert c1 == c2
    r1 = {(r["id"], r["cid"]) for r in a1.collect()}
    r2 = {(r["id"], r["cid"]) for r in a2.collect()}
    assert r1 == r2


def test_cosine_kernels_bit_identical(spark, embeddings):
    """vector.cosine vs a static-expression reference built here:
    bitwise-equal cosines on real embedding pairs, and 0.0 (not NULL/raise)
    on a zero-norm side — the kernel may not move a single ulp against the
    ordered fold (rank order and oracle hashes depend on it)."""
    from entityresolution_capstone_spark.functions import vector as V

    dim = S.probe_dim(embeddings, "embedding")
    v = S.vectors(embeddings.limit(40), "vec_id", "embedding")
    zero = spark.createDataFrame([(10_000_000, [0.0] * dim)], "id long, v array<double>")
    v = v.unionByName(zero)
    p = v.toDF("id1", "v1").crossJoin(v.toDF("id2", "v2")).filter(F.col("id1") < F.col("id2"))
    n1 = F.sqrt(V.static_dot("v1", "v1", dim))
    n2 = F.sqrt(V.static_dot("v2", "v2", dim))
    ref = F.when((n1 > 0) & (n2 > 0), V.static_dot("v1", "v2", dim) / (n1 * n2))
    out = p.select(
        "id1",
        "id2",
        V.cosine("v1", "v2").alias("ca"),
        ref.otherwise(F.lit(0.0)).alias("cs"),
    ).collect()
    assert len(out) > 800
    for r in out:
        assert r["ca"] == r["cs"], r  # bitwise, no rounding
    zeros = [r for r in out if r["id2"] == 10_000_000]
    assert zeros and all(r["ca"] == 0.0 for r in zeros)


def test_brute_force_topk_plan_uses_arrow_kernel(spark, embeddings, queries):
    """Regression pin for VERDICT r5 item 1: the brute-force plan is a
    BroadcastNestedLoopJoin (no whole-stage codegen), scored by the Arrow
    cosine — a static dim-unrolled expression under BNLJ runs on the
    interpreted per-pair path (6.4x at local[32])."""
    plan = S.brute_force_topk(embeddings, queries, k=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" in plan or "ArrowEval" in plan
    # and no interpreted element_at unroll on the pair stream
    assert "element_at" not in plan


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _embedding_operators(embeddings, queries):
    from entityresolution_capstone_spark.operators import dedup as D
    from entityresolution_capstone_spark.operators.decontam import semantic_decontaminate

    bench = embeddings.filter(F.col("vec_id") % 97 == 3)
    return {
        "embedding_dedup": lambda: D.embedding_cosine_duplicates(embeddings, 0.5),
        "embedding_dedup_bucketed": lambda: D.embedding_cosine_duplicates(
            embeddings, 0.5, bucketed=True
        ),
        "semantic_dedup": lambda: D.semantic_duplicates(embeddings, 0.5),
        "brute_force_topk": lambda: S.brute_force_topk(embeddings, queries, k=5),
        "ann_topk": lambda: S.ann_topk(embeddings, queries, k=5),
        "ivf_topk": lambda: S.ivf_topk(embeddings, queries, k=5),
        "semantic_decontaminate": lambda: semantic_decontaminate(
            embeddings.filter(F.col("vec_id") % 97 != 3), bench, dim=64
        ),
    }


@pytest.mark.parametrize(
    "op",
    [
        "embedding_dedup",
        "embedding_dedup_bucketed",
        "semantic_dedup",
        "brute_force_topk",
        "ann_topk",
        "ivf_topk",
        "semantic_decontaminate",
    ],
)
def test_embedding_operators_score_through_arrow_cosine(spark, embeddings, queries, op):
    """Every embedding operator scores its pair stream with the one Arrow
    cosine: an ArrowEvalPython node evaluating vector.cosine sits above a
    join, and no node between it and the plan root unrolls element_at."""
    df = _embedding_operators(embeddings, queries)[op]()
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    at = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln and "_cosine(" in ln]
    assert at, lines
    for i in at:
        subtree = []
        for ln in lines[i + 1 :]:
            if _depth(ln) <= _depth(lines[i]):
                break
            subtree.append(ln)
        assert any("Join" in ln or "CartesianProduct" in ln for ln in subtree), lines
        assert not any("element_at" in ln for ln in lines[: i + 1]), lines
