"""Isolate er_clusters (q_pipeline) stage costs at a given core count.

Usage: python tools/pipeline_microbench.py <cpus> <sf_dir>
Times: blocking+pairs, scoring, threshold+edges, connected components.
"""
from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main():
    cpus, sf_dir = sys.argv[1], sys.argv[2]

    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="pipe-micro",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import entityresolution_capstone_spark.plans.driver_queries as DQ
    from entityresolution_capstone_spark.operators.bootstrap import exact_match_edges
    from entityresolution_capstone_spark.operators.cc import assign_clusters, connected_components

    out = {}

    def timed(name, fn):
        t0 = time.time()
        n = fn()
        out[name] = {"wall_s": round(time.time() - t0, 2), "rows": n}
        print(json.dumps({name: out[name]}), flush=True)

    _, docs, dft, tdict, blocks = DQ._er_blocks(spark, sf_dir)
    dft = dft.persist()
    state = {}

    def pairs_fn():
        p = DQ.B.candidate_pairs(blocks, DQ.ER_BLOCKING).persist()
        n = p.count()
        state["pairs"] = p
        return n

    timed("pairs", pairs_fn)

    def score_fn():
        n_docs = docs.count()
        s = DQ.score_pairs(
            state["pairs"], docs,
            DQ.ScoringConfig(weights=dict(DQ.ER_WEIGHTS), prefix_len=DQ.PREFIX),
            df_table=dft, corpus_size=n_docs,
        ).persist()
        n = s.count()
        state["scored"] = s
        return n

    timed("score", score_fn)

    def edges_fn():
        e = (
            state["scored"].filter(F.col("attr_sim") >= DQ.ER_THRESHOLD)
            .select("id1", "id2")
            .unionByName(exact_match_edges(docs, ["doc"]))
            .distinct()
            .persist()
        )
        n = e.count()
        state["edges"] = e
        return n

    timed("edges", edges_fn)
    timed(
        "cc",
        lambda: assign_clusters(
            docs, connected_components(state["edges"], checkpoint=False)
        ).count(),
    )
    print(json.dumps({"cpus": int(cpus), "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
