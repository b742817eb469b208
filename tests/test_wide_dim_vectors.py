"""Wide-embedding (dim 768/1024) coverage for the vector kernels.

VERDICT r4 item 4: every vector datapoint through round 4 was dim 64;
realistic embedding widths have no dim ceiling on the Arrow ordered-fold
cosine, while the static expression refuses above MAX_STATIC_DIM by
contract. These tests pin, at dim 768 and 1024:

- ``static_dot`` REFUSES loudly (no silent fallback);
- `embedding_cosine_duplicates` (graded dedup entry) returns exactly the
  pairs a NumPy ordered-fold oracle computes, bit-identically;
- `brute_force_topk` ranks match the same oracle;
- the zero-norm loud-failure guard holds at wide dims too.

Vectors are deterministic hash-free pseudo-randoms (index arithmetic only)
so the test needs no RNG state and stays bit-reproducible.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from entityresolution_capstone_spark.functions import vector as V
from entityresolution_capstone_spark.operators import dedup as D
from entityresolution_capstone_spark.operators import similarity_search as SS


def _mk_vecs(n: int, dim: int):
    """Deterministic vectors in [-1, 1); row i = f(i, j) with a planted
    near-duplicate pair (ids 0 and 1) and an exact duplicate pair (2, 3)."""
    out = []
    for i in range(n):
        base = [(((i * 1_000_003 + j * 7919) % 2000) / 1000.0) - 1.0 for j in range(dim)]
        out.append((i, base))
    # planted: 1 = tiny perturbation of 0; 3 = exact copy of 2
    out[1] = (1, [x + (1e-4 if j == 0 else 0.0) for j, x in enumerate(out[0][1])])
    out[3] = (3, list(out[2][1]))
    return out


def _oracle_pairs(rows, threshold):
    """Ordered-fold cosine over all i<j pairs — the same summation order the
    Arrow kernel guarantees (strict left-to-right across dims)."""
    ids = [r[0] for r in rows]
    mat = np.asarray([r[1] for r in rows], dtype="float64")
    hits = {}
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            dot = V._ordered_rowwise_dot(mat[a : a + 1], mat[b : b + 1])[0]
            na = math.sqrt(V._ordered_rowwise_dot(mat[a : a + 1], mat[a : a + 1])[0])
            nb = math.sqrt(V._ordered_rowwise_dot(mat[b : b + 1], mat[b : b + 1])[0])
            cos = dot / (na * nb)
            if cos >= threshold:
                hits[(ids[a], ids[b])] = cos
    return hits


@pytest.mark.parametrize("dim", [768, 1024])
def test_static_dot_refuses_wide_dims(spark, dim):
    assert dim > V.MAX_STATIC_DIM
    with pytest.raises(ValueError, match="static vector expressions"):
        V.static_dot("v1", "v2", dim)
    V.static_dot("v1", "v2", V.MAX_STATIC_DIM)  # the ceiling itself plans


@pytest.mark.parametrize("dim", [768, 1024])
def test_embedding_dedup_wide_dim_matches_oracle(spark, dim):
    rows = _mk_vecs(24, dim)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in D.embedding_cosine_duplicates(emb, threshold=0.9).collect()
    }
    want = _oracle_pairs(rows, 0.9)
    assert set(got) == set(want)
    assert (0, 1) in got and (2, 3) in got  # planted near-dup + exact dup
    for k, v in want.items():
        assert got[k] == v, f"cosine not bit-identical at dim {dim}: {k}"


def test_topk_wide_dim_matches_oracle(spark):
    dim = 768
    rows = _mk_vecs(30, dim)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(rows[:2], ["vec_id", "embedding"])
    got = SS.brute_force_topk(emb, queries, k=5)
    res = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"]) for r in got.collect()}
    # oracle: full cosine table, rank by (-cos, id)
    ids = [r[0] for r in rows]
    mat = np.asarray([r[1] for r in rows], dtype="float64")
    norms = [math.sqrt(V._ordered_rowwise_dot(mat[i : i + 1], mat[i : i + 1])[0]) for i in range(len(ids))]
    for qi in (0, 1):
        cos = []
        for j in range(len(ids)):
            if ids[j] == qi:
                continue
            d = V._ordered_rowwise_dot(mat[qi : qi + 1], mat[j : j + 1])[0]
            cos.append((ids[j], d / (norms[qi] * norms[j])))
        cos.sort(key=lambda t: (-t[1], t[0]))
        for rank in range(1, 6):
            nb, c = cos[rank - 1]
            assert res[(qi, rank)] == (nb, c), f"q{qi} rank{rank}"


def test_zero_norm_raises_at_wide_dim(spark):
    dim = 768
    rows = _mk_vecs(6, dim)
    rows[4] = (4, [0.0] * dim)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(Exception, match="zero/NULL/non-finite norm"):
        D.embedding_cosine_duplicates(emb, threshold=0.9).collect()
