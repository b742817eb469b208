"""sf1-equivalent memory audit of the driver-gate ER frontier chain.

VERDICT r4 item 7 / r5 item 4: every committed memory number for the gate's
frontier cache was measured at sf0.01 (~60 MB) and sf0.1 (~1.1 GB); the sf1
line in docs/SCALE.md was an EXTRAPOLATION (~11 GB, linear in candidate
pairs). This tool replaces the extrapolation with a measured audit.

There is no driver-generated sf1 testdata (TESTDATA.md: the driver owns
/root/testdata and it stops at sf0.1), so the input is the deterministic
10x disjoint weak-scaling build of sf0.1 from tools/cross_scale_bench
(`build_scaled`): 50k documents / 20k embeddings whose per-copy token
spaces are disjoint, so candidate pairs grow exactly 10x by construction
(~62M pairs — the same pair mass a driver sf1 would carry, which is what
the extrapolation was linear in). The audit runs the EXACT chain the gate
reads (driver_queries.q_er_clusters: the frontier's one Pipeline.run) in one
session and records, per committed stage, its rows and wall seconds (from the
run's ``_metrics`` table) and its bytes on disk; plus the session's
persisted-RDD storage (getRDDStorageInfo: memory + disk), the JVM's peak RSS
(/proc VmHWM — the number that decides whether a real executor OOMs) and the
python driver's peak RSS.

Writes BENCH/SF1_MEMORY.json. Usage:

    python tools/sf1_memory_audit.py [k] [base_sf_dir] [--bench]

Defaults: k=10, base=/root/testdata/sf0.1. The scaled input is built under
$ERCS_SCALE_SCRATCH (default /dev/shm/ercs-scale) and reused if present.
``--bench`` also runs one bench.py trial at the scaled input and records its
process tree's peak RSS and query walls (``queries`` is null when the bench
printed no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def _jvm_pids() -> list[int]:
    """Child java processes of this driver (the local-mode JVM)."""
    me = os.getpid()
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().split()
            ppid = int(parts[3])
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if ppid == me and comm == "java":
            pids.append(int(p))
    return pids


def _peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) in MB, 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    return round(int(line.split()[1]) / 1024.0, 1)
    except OSError:
        pass
    return 0.0


def _storage_mb(spark) -> dict:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "persisted_rdds": len(infos),
        "storage_mem_mb": round(sum(i.memSize() for i in infos) / 1e6, 1),
        "storage_disk_mb": round(sum(i.diskSize() for i in infos) / 1e6, 1),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _bench_queries(line: str | None) -> dict | None:
    """The query walls of bench.py's JSON result line; None for a crashed run."""
    try:
        return json.loads(line)["queries"]
    except (TypeError, ValueError, KeyError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("k", type=int, nargs="?", default=10)
    ap.add_argument("base", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--bench", action="store_true")
    args = ap.parse_args()
    k, base = args.k, args.base
    scratch = os.environ.get("ERCS_SCALE_SCRATCH", "/dev/shm/ercs-scale")
    sf_dir = os.path.join(scratch, f"x{k}")

    from cross_scale_bench import build_scaled  # noqa: E402

    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        print(f"building {k}x disjoint input at {sf_dir} ...", flush=True)
        t0 = time.time()
        build_scaled(k, base, sf_dir)
        print(f"built in {time.time()-t0:.1f}s", flush=True)

    from entityresolution_capstone_spark.session import get_spark  # noqa: E402
    from entityresolution_capstone_spark.plans import driver_queries as DQ  # noqa: E402
    from pyspark.sql import functions as F  # noqa: E402

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="sf1-memory-audit",
        master=f"local[{cpus}]",
        extra_conf={
            # effective: this process starts the JVM (cf. check_correctness)
            "spark.driver.memory": os.environ.get("ERCS_AUDIT_DRIVER_MEM", "48g"),
        },
    )
    jvms = _jvm_pids()

    report = {
        "k": k,
        "base": base,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "driver_mem": os.environ.get("ERCS_AUDIT_DRIVER_MEM", "48g"),
        "stages": [],
    }

    # the gate's frontier: one Pipeline.run, every stage committed
    t0 = time.time()
    DQ.q_er_clusters(spark, sf_dir).count()
    report["frontier_wall_s"] = round(time.time() - t0, 1)
    st = DQ._frontier(spark, sf_dir)
    metrics = (
        spark.read.parquet(os.path.join(st["base_dir"], "_metrics"))
        .groupBy("stage")
        .agg(F.sum("rows_out").alias("rows"), F.max("wall_ms").alias("wall_ms"))
    )
    for r in sorted(metrics.collect(), key=lambda r: r["stage"]):
        entry = {
            "stage": r["stage"],
            "rows": r["rows"],
            "wall_s": round(r["wall_ms"] / 1000.0, 1),
            "disk_mb": round(_dir_bytes(os.path.join(st["base_dir"], r["stage"])) / 1e6, 1),
        }
        report["stages"].append(entry)
        print(json.dumps(entry), flush=True)

    # frontier-cache audit identical to the gate tool's bound
    n_keys = len(DQ._FRONTIER_CACHE)
    assert n_keys <= 2, f"frontier cache grew to {n_keys} keys"
    report["frontier_keys"] = n_keys
    report["jvm_peak_rss_mb"] = max((_peak_rss_mb(p) for p in jvms), default=0.0)
    report["driver_py_peak_rss_mb"] = _peak_rss_mb(os.getpid())
    report.update(_storage_mb(spark))

    spark.stop()

    if args.bench:
        # The gate chain above rides ER_BLOCKING's hot-block cap (the 31-token
        # corpus vocabulary makes most blocks oversized, so the cap bounds the
        # gate's pair mass at ~710k/sf0.1-copy). The BENCH chain is the heavy
        # one (62.6M pairs at 10x, BENCH/CROSS_SCALE.json) — run one official
        # bench trial at the scaled dir under /usr/bin/time -v and record the
        # process tree's peak RSS (the JVM is the largest process, and
        # ru_maxrss covers children), giving the sf1-equivalent envelope for
        # the full bench workload including its persisted pair cache.
        import subprocess

        env = dict(os.environ)
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env["SPARK_GRAFT_BENCH_TRIALS"] = "1"
        t0 = time.time()
        out_path = "/tmp/ercs_sf1_bench_out.txt"
        out_f = open(out_path, "w")
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env, cwd=REPO, stdout=out_f,
            stderr=subprocess.DEVNULL, text=True,
        )

        def _descendants(root: int) -> list[int]:
            kids, frontier = [], [root]
            table = {}
            for p in os.listdir("/proc"):
                if p.isdigit():
                    try:
                        with open(f"/proc/{p}/stat") as f:
                            table.setdefault(int(f.read().split()[3]), []).append(int(p))
                    except OSError:
                        pass
            while frontier:
                n = frontier.pop()
                for c in table.get(n, []):
                    kids.append(c)
                    frontier.append(c)
            return kids

        # VmHWM is monotone per process, but the JVM exits with the bench —
        # poll while it runs and keep the max across the whole tree
        peak_mb = 0.0
        while proc.poll() is None:
            for pid in _descendants(proc.pid):
                peak_mb = max(peak_mb, _peak_rss_mb(pid))
            time.sleep(3)
        out_f.close()
        with open(out_path) as f:
            bench_out = f.read()
        bench_line = next(
            (ln for ln in reversed(bench_out.strip().splitlines()) if ln.startswith("{")),
            None,
        )
        report["bench_at_scale"] = {
            "wall_s": round(time.time() - t0, 1),
            "trials": 1,
            "tree_peak_rss_mb": round(peak_mb, 1),
            "queries": _bench_queries(bench_line),
        }
        print(json.dumps({"bench_at_scale": report["bench_at_scale"]}), flush=True)

    out = os.path.join(REPO, "BENCH", "SF1_MEMORY.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps({k2: v for k2, v in report.items() if k2 != "stages"}), flush=True)
    print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
