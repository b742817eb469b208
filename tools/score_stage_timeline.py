"""Stage-level timeline of one warm q_score run: where does the wall go?

Enables the UI, runs q_score once cold then once warm (fresh plans), and
dumps per-stage (submission, completion, task-time sums, launch spread) from
the REST API for the warm run, plus the gaps between consecutive stages.

Usage: taskset -c 0-7 python tools/score_stage_timeline.py 8 /root/testdata/sf0.1
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cpus = sys.argv[1]
    sf_dir = sys.argv[2]
    from pyspark.sql import functions as F

    from entityresolution_capstone_spark.session import get_spark

    # Default to the SCALING-BENCH protocol (constant partitioning across
    # levels) so CPU accounting here explains the gate windows; override via
    # env to probe level-derived partitioning instead.
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    pair_parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", "128"))
    spark = get_spark(
        app_name="score-timeline",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_parts,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.ui.enabled": "true",
            "spark.ui.port": "4049",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from entityresolution_capstone_spark.functions.tfidf import doc_frequencies
    from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
    from entityresolution_capstone_spark.operators.scoring import score_pairs
    from entityresolution_capstone_spark.plans import driver_queries as DQ

    BENCH_BLOCKING = DQ.B.BlockingConfig(
        use_token_keys=False,
        use_minhash=True,
        minhash_rows=4,
        minhash_bands=4,
        seed=7,
        max_block_size=5000,
        salt_block_size=400,
        salt_factor=8,
    )
    BENCH_PREFIX = 128

    t = DQ.derive_transcripts(spark, sf_dir)
    docs = canonical_docs(t, prefix_len=BENCH_PREFIX).persist()
    dft = doc_frequencies(docs).persist()
    tdict = DQ.B.token_dictionary(dft)
    blocks = DQ.B.build_blocks(docs, tdict, BENCH_BLOCKING)
    pairs = DQ.B.candidate_pairs(blocks, BENCH_BLOCKING).repartition(pair_parts).persist()
    pairs.count()
    n_docs = docs.count()

    def run():
        scored = score_pairs(
            pairs,
            docs,
            DQ.ScoringConfig(weights={"jw": 0.3, "lev": 0.2, "tfidf": 0.5}, prefix_len=BENCH_PREFIX),
            df_table=dft,
            corpus_size=n_docs,
        )
        t0 = time.time()
        scored.agg(F.count("*").alias("n"), F.sum("attr_sim").alias("chk")).collect()
        return time.time() - t0

    cold = run()
    # mark the warm run's start so we can filter its stages by submission time
    t_mark = time.time()
    warm = run()
    t_end = time.time()

    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4049/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url) as r:
        stages = json.loads(r.read())

    def ts(s):
        return time.mktime(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + float(s[19:23])

    rows = []
    for st in stages:
        sub = ts(st["submissionTime"]) if "submissionTime" in st else None
        # REST times are GMT with trailing 'GMT'; normalize via epoch diff is
        # fragile — instead keep relative ordering by firstTaskLaunchedTime
        rows.append(
            {
                "stage": st["stageId"],
                "name": st["name"].split("\n")[0][:60],
                "tasks": st["numCompleteTasks"],
                "submission": st.get("submissionTime"),
                "first_launch": st.get("firstTaskLaunchedTime"),
                "completion": st.get("completionTime"),
                "executorRunTime_s": round(st["executorRunTime"] / 1000.0, 2),
                "executorCpuTime_s": round(st["executorCpuTime"] / 1e9, 2),
                "shuffle_write_s": round(st.get("shuffleWriteTime", 0) / 1e9, 2),
                "jvm_gc_s": round(st.get("jvmGcTime", 0) / 1000.0, 2),
            }
        )
    out = {
        "cpus": int(cpus),
        "cold_s": round(cold, 2),
        "warm_s": round(warm, 2),
        "warm_window": [t_mark, t_end],
        "stages": rows,
    }
    print(json.dumps(out, indent=1), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
