"""8-vs-32-core inversion check for the round-4 rewrites (VERDICT r3 item 2).

Each mode is one of the paths whose interpreted array expressions
(zip_with/aggregate/array_intersect on a pair or score stream) were replaced
by static codegen expressions, packed-int64 bit algebra, or Arrow-batched
NumPy kernels. Run the same mode at two core counts on the same input; the
round-3 law says the OLD forms anti-scale (wall grows with cores) while the
rewrites must not.

Usage: python tools/vector_microbench.py <cpus> <sf_dir> <mode ...>
modes: embdedup simhash annbuckets ivf project mixedpairs brute
Prints one JSON line per mode + a summary line.

Input sizing: sf0.1's embeddings table (2k vectors) finishes these modes in
1-10s — walls that small measure task-scheduling jitter, not the plan. Build
a meaningful input with ``makeinput``:

    python tools/vector_microbench.py makeinput <out_dir> [n_vecs] [x10_docs]

It writes ``embeddings.parquet`` — n_vecs (default 20k) 64-dim vectors whose
coordinates are deterministic hash-based pseudo-randoms in [-1, 1) — plus a
copy of the cross-scale x10 documents for the document modes. Hash-random
coordinates matter: the cross-scale x10 embeddings (+i on ONE coordinate per
copy) keep near-unit cross-copy cosines, so every LSH bucket holds all K
copies of each vector and the near-dup pair count grows K^2 — a giant-bucket
straggler that stalls embdedup. That is a property of that synthetic input
(fine for the weak-scaling DOCUMENT queries it was built for), not of the
plan; the microbench needs realistic bucket occupancy instead.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_input(
    out_dir: str,
    n_vecs: int = 20000,
    x10_docs: str | None = None,
    dim: int = 64,
):
    """Deterministic microbench input (see module docstring). No external data.

    ``dim`` (VERDICT r4 item 4): all round-4 vector evidence was dim 64;
    the bench needs realistic embedding widths (768, 1024) to measure the
    cosine at the widths production embeddings have.
    """
    import shutil

    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        copy (
          select i as vec_id,
                 list_transform(range({int(dim)}), j ->
                   cast((hash(i*{int(dim)} + j) % 1048576) as double)/524288.0 - 1.0
                 )::FLOAT[] as embedding,
                 cast(i % 100 as int) as label
          from range({int(n_vecs)}) t(i)
        ) to '{out_dir}/embeddings.parquet' (format parquet)
        """
    )
    if x10_docs:
        shutil.copy(x10_docs, os.path.join(out_dir, "documents.parquet"))
    print(json.dumps({"out_dir": out_dir, "n_vecs": int(n_vecs), "dim": int(dim)}))


def main():
    if sys.argv[1] == "makeinput":
        make_input(
            sys.argv[2],
            int(sys.argv[3]) if len(sys.argv) > 3 else 20000,
            (sys.argv[4] or None) if len(sys.argv) > 4 else None,
            int(sys.argv[5]) if len(sys.argv) > 5 else 64,
        )
        return
    cpus = sys.argv[1]
    sf_dir = sys.argv[2]
    modes = sys.argv[3:]

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="vector-micro",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.operators import blocking as B
    from entityresolution_capstone_spark.operators import dedup as D
    from entityresolution_capstone_spark.operators import similarity_search as S
    from entityresolution_capstone_spark.plans.driver_queries import load

    emb = load(spark, sf_dir, "embeddings")
    out = {}
    for mode in modes:
        if mode == "embdedup":
            act = lambda: D.embedding_cosine_duplicates(emb, threshold=0.2, bucketed=True).count()
        elif mode == "simhash":
            docs = load(spark, sf_dir, "documents")
            act = lambda: D.simhash_duplicates(docs).count()
        elif mode == "annbuckets":
            act = lambda: S.lsh_bucket_keys(emb).count()
        elif mode == "ivf":
            q = emb.filter(F.col("vec_id") % 53 == 7)
            act = lambda: S.ivf_topk(emb, q, k=10).count()
        elif mode == "project":
            act = lambda: S.random_project(emb, out_dim=16).count()
        elif mode == "mixedpairs":
            # the generic candidate_pairs path: token keys + minhash bands
            # (SURVEY §2.3's prescribed mix) -> dense-id payload + Arrow
            # kernel predicate instead of array_min(array_intersect(...))
            from entityresolution_capstone_spark.plans.driver_queries import (
                PREFIX,
                derive_transcripts,
            )
            from entityresolution_capstone_spark.operators.canonicalize import (
                canonical_docs,
            )
            from entityresolution_capstone_spark.functions.tfidf import (
                doc_frequencies,
            )

            docs = canonical_docs(
                derive_transcripts(spark, sf_dir), prefix_len=PREFIX
            ).persist()
            tdict = B.token_dictionary(doc_frequencies(docs))
            cfg = B.BlockingConfig(use_token_keys=True, use_minhash=True)
            blocks = B.build_blocks(docs, tdict, cfg)
            act = lambda: B.candidate_pairs(blocks, cfg).count()
        elif mode == "brute":
            q = emb.filter(F.col("vec_id") % 997 == 7)
            act = lambda: S.brute_force_topk(emb, q, k=10).count()
        elif mode == "paircosine":
            # cosine throughput on the full bucketed pair stream:
            # threshold=-1 keeps every scored pair, so `rows` IS the number
            # of cosines computed (VERDICT r4 item 4 asks for >= 1M bucketed
            # pairs at dim 768 — size the makeinput n_vecs accordingly:
            # ~25k hash-random vectors / 8 planes -> ~1.2M bucket pairs)
            act = lambda: D.embedding_cosine_duplicates(
                emb, threshold=-1.0, bucketed=True
            ).count()
        else:
            raise SystemExit(f"unknown mode {mode}")
        # cold pass pays once-per-process costs (Janino compile, JVM C2 JIT,
        # python worker pool boot + pandas/numpy import for UDF modes) that
        # are CONSTANT across core counts and amortize to zero on a long
        # cluster job — measured ~90-100s for mixedpairs at BOTH 8 and 32
        # cores. The inversion check is defined on the steady pass: timing
        # the cold pass at two core counts compares boot, not the plan.
        t0 = time.time()
        n = act()
        cold = round(time.time() - t0, 2)
        # steady = min-of-3: single steady passes at these 1-15s walls are
        # dominated by host drift + task-scheduling jitter (observed 3x
        # swings between identical runs); min-of-k is the repo's standard
        # noise estimator (bench.py protocol)
        steadies = []
        for _ in range(3):
            t0 = time.time()
            n = act()
            steadies.append(round(time.time() - t0, 2))
        out[mode] = {"cold_s": cold, "steady_s": min(steadies),
                     "steady_trials": steadies, "rows": n}
        print(json.dumps({mode: out[mode]}), flush=True)
    print(json.dumps({"cpus": int(cpus), "modes": out}))
    spark.stop()


if __name__ == "__main__":
    main()
