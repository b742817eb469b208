#!/usr/bin/env python3
"""Benchmark of the entity-resolution engine, end to end and per layer.

    python3 perfbench/run.py --workload score_heavy --seed 1 --seconds 10 --trace 0

Each run is one closed loop with one caller in one Spark session on half
the host's cores. Set-up starts the session, then generates and commits the
seeded input three times; ``setup_s`` is the median of those three. Then one
cold operation runs, then warm ones one at a time: a fixed number per
workload, more only while the first warm one started less than ``--seconds``
ago. Every operation's output is checked after the timed region. With
``--trace 0`` the last stdout line is the JSON result with the end-to-end
metrics. With ``--trace 1`` the UI is on, the same operations run, then one
more is traced span by span, and the result holds the per-layer metrics.
Readable lines (corpus stats, host facts, each operation, every metric with
its unit) come before the JSON. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = "entityresolution_capstone_spark"
DEFAULT_SEED = 1
SETUP_REPEATS = 3
OP_TIMEOUT_S = 120.0  # an operation slower than this counts as failed
RUN_BUDGET_S = 150.0  # no new warm operation starts past this run age

# workload -> how to build and check it. Thresholds and blocking were chosen
# against each generator (pairwise F1 checked across seeds), see README.md.
# "warm_ops" is the number of warm operations after the cold one; wall_s is
# their median. More run only while the first warm one started less than
# --seconds ago.
WORKLOADS = {
    "score_heavy": {
        "kind": "pipeline",
        "threshold": 0.6,
        "blocking": {
            "use_token_keys": False,
            "minhash_rows": 1,
            "minhash_bands": 6,
            "max_block_size": 80,
            "salt_block_size": 20,
        },
        "min_f1": 0.97,
        "warm_ops": 1,
    },
    "near_dup": {
        "kind": "dedup",
        "threshold": 0.7,
        "minhash": {"rows": 2, "bands": 8},
        "min_recall": 0.97,
        "warm_ops": 3,
    },
}
# operation outputs of the default seed at full size: cluster-partition (or
# pair-set) fingerprint and pair count
EXPECTED_PATH = os.path.join(HERE, "expected.json")

E2E = (
    ("setup_s", "s"), ("wall_s", "s"), ("convs_per_s", "1/s"),
    ("pairs_per_s", "1/s"), ("pairwise_f1", "ratio"), ("dup_recall", "ratio"),
    ("peak_rss_mb", "MB"),
)


# -- host ------------------------------------------------------------------

def host_facts(work: str) -> dict:
    """Facts the session is pinned to, so numbers do not flip with free space."""
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    with open("/proc/meminfo") as f:
        mem_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        # Spark task slots, and the CPU count the JVM sizes its JIT and GC
        # thread pools for: half the host, so the driver, the Python workers
        # and the JVM's own threads do not queue behind the tasks
        "spark_cores": cores,
        "mem_total_mb": mem_mb,
        # a sixth of RAM, in [1, 4] GiB: the inputs are small and the host is
        # shared; fixed so GC pressure does not vary with what else is free
        "driver_memory": f"{min(4096, max(1024, mem_mb // 6 // 512 * 512))}m",
        # shuffle and spill go under the checkout's work dir, never /dev/shm,
        # whatever its free space
        "local_dir": os.path.join(work, "local"),
        "git_sha": git_sha(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def git_sha() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    try:
        return subprocess.run(
            ["git", "--git-dir", os.path.join(ROOT, ".git"), "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def process_tree() -> list[int]:
    """This process and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of the process
    tree; printed per operation next to its wall."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants, from /proc."""

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self.pids: dict[int, int] = {}  # descendant seen -> its start time
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self, pids):
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_mb = max(self.peak_mb, total / (1 << 20))

    def run(self):
        # a full /proc scan finds new processes once a second; the RSS of the
        # known tree is read at every tick
        tree, tick = [], 0
        while not self._stop_evt.wait(self.period_s):
            if tick % round(1 / self.period_s) == 0:
                tree = process_tree()
                for p in tree:
                    if p != os.getpid() and p not in self.pids:
                        started = live_start_time(p)
                        if started is not None:
                            self.pids[p] = started
            self.sample(tree)
            tick += 1

    def stop(self):
        self._stop_evt.set()
        self.join()


def start_session(facts: dict, work: str, trace: bool):
    from entityresolution_capstone_spark.session import get_spark

    conf = {
        "spark.driver.memory": facts["driver_memory"],
        "spark.local.dir": facts["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    n = facts["spark_cores"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        checkpoint_dir=os.path.join(work, "checkpoints"),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, sampler: RssSampler, timeout_s: float = 30.0):
    """Stop Spark, its JVM and every process they started, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout_s)
    def alive():
        # same pid and start time, and not a zombie: still the process we saw
        return [p for p, t in sampler.pids.items() if live_start_time(p) == t]

    deadline = time.time() + timeout_s
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, 9)
        except OSError:
            pass


def live_start_time(pid: int) -> int | None:
    """Start time of a running (non-zombie) process, None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


# -- workloads ---------------------------------------------------------------

class Workload:
    """Seeded input, committed as a table, and one operation over it."""

    def __init__(self, name: str, spec: dict, seed: int, scale: float):
        self.name, self.spec, self.seed, self.scale = name, spec, seed, scale

    def commit(self, spark, path: str):
        from entityresolution_capstone_spark.sources import tables as TBL

        df = spark.createDataFrame(self.frame, schema=self.schema)
        TBL.write_table(df, path, extra_manifest={"input": self.name, "seed": self.seed})
        self.table = TBL.read_table(spark, path)
        n = self.table.count()
        if n != len(self.frame):
            raise RuntimeError(f"committed {n} rows, generated {len(self.frame)}")


class PipelineWorkload(Workload):
    """``Pipeline.run`` over a committed transcript table."""

    @property
    def schema(self):
        from entityresolution_capstone_spark import schemas

        return schemas.TRANSCRIPTS

    def generate(self):
        import gen
        from entityresolution_capstone_spark.operators.scoring import DENSE_TFIDF_MAX_VOCAB

        self.frame, self.labels, self.stats = getattr(gen, self.name)(self.seed, self.scale)
        # the branch the library's dense/sparse TF-IDF gate should take
        dense = self.stats["distinct_tokens"] <= DENSE_TFIDF_MAX_VOCAB
        self.stats["tfidf_branch"] = "dense" if dense else "sparse"

    def run_op(self, spark, op_dir: str) -> dict:
        from entityresolution_capstone_spark.operators.blocking import BlockingConfig
        from entityresolution_capstone_spark.plans.pipeline import Pipeline, PipelineConfig

        cfg = PipelineConfig(
            base_dir=op_dir,
            similarity_threshold=self.spec["threshold"],
            blocking=BlockingConfig(**self.spec["blocking"]),
        )
        return Pipeline(spark, cfg).run(self.table)

    def check(self, spark, res: dict) -> dict:
        """Pairwise scores of the committed clusters against the labels."""
        cl = spark.read.parquet(res["clusters_path"]).toPandas()
        lab = dict(zip(self.labels["conv_id"], self.labels["entity_id"]))
        if set(cl["conv_id"]) != set(lab) or cl["conv_id"].duplicated().any():
            raise RuntimeError("clusters do not cover every conversation exactly once")
        members: dict[str, list[str]] = {}
        for c, k in zip(cl["conv_id"], cl["cluster_id"]):
            members.setdefault(k, []).append(c)
        tp = pred = 0
        for m in members.values():
            pred += len(m) * (len(m) - 1) // 2
            counts: dict[int, int] = {}
            for c in m:
                counts[lab[c]] = counts.get(lab[c], 0) + 1
            tp += sum(v * (v - 1) // 2 for v in counts.values())
        truth = self.stats["true_pairs"]
        p = tp / pred if pred else 0.0
        r = tp / truth if truth else 0.0
        return {
            "f1": 2 * p * r / (p + r) if p + r else 0.0,
            "recall": r,
            "n_pairs": int(res["n_pairs"]),
            "fingerprint": fingerprint(sorted(sorted(m) for m in members.values())),
        }

    def units(self, chk: dict) -> tuple[int, int]:
        return self.stats["convs"], chk["n_pairs"]

    def ok(self, chk: dict) -> str | None:
        if chk["f1"] < self.spec["min_f1"]:
            return f"pairwise F1 {chk['f1']:.4f} < {self.spec['min_f1']}"
        return None


class DedupWorkload(Workload):
    """``dedup.minhash_duplicates(verify_strategy="auto")`` over a committed
    document table; the verified pairs are committed too."""

    schema = "doc_id long, text string"

    def cfg(self):
        from entityresolution_capstone_spark.operators.dedup import MinHashConfig

        return MinHashConfig(jaccard_threshold=self.spec["threshold"], **self.spec["minhash"])

    def generate(self):
        import gen
        from entityresolution_capstone_spark.operators.dedup import VERIFY_BITSET_MAX_WORDS

        self.frame, self.planted, self.stats = gen.near_dup(
            self.seed, self.spec["threshold"], self.scale
        )
        # the branch the library's bitset/explode verify gate should take
        bitset = self.stats["distinct_tokens"] <= 64 * VERIFY_BITSET_MAX_WORDS
        self.stats["verify_branch"] = "bitset" if bitset else "explode"

    def run_op(self, spark, op_dir: str) -> dict:
        from entityresolution_capstone_spark.operators import dedup as D
        from entityresolution_capstone_spark.sources import tables as TBL

        out = D.minhash_duplicates(self.table, self.cfg(), verify_strategy="auto")
        path = os.path.join(op_dir, "pairs")
        TBL.write_table(out, path, extra_manifest={"output": self.name})
        return {"pairs_path": path}

    def candidates(self) -> int:
        """Candidate pairs the band join feeds to verification (outside timing)."""
        from entityresolution_capstone_spark.operators import dedup as D

        docs = D.prepare_docs(self.table)
        return D.minhash_candidate_pairs(docs, D.dedup_token_dict(docs), self.cfg()).count()

    def check(self, spark, res: dict) -> dict:
        """Every emitted pair's Jaccard recomputed exactly on the driver."""
        import gen

        out = spark.read.parquet(res["pairs_path"]).toPandas()
        toks = {i: set(gen.tokenize(t)) for i, t in zip(self.frame["doc_id"], self.frame["text"])}
        thr = self.spec["threshold"]
        for a, b, j in zip(out["id1"], out["id2"], out["jaccard"]):
            exact = gen.jaccard(toks[a], toks[b])
            if not a < b or j != exact or exact < thr:
                raise RuntimeError(f"pair ({a}, {b}) jaccard {j} exact {exact}")
        found = set(zip(out["id1"], out["id2"]))
        true = self.planted[self.planted["jaccard"] >= thr]
        truth = set(zip(true["id1"], true["id2"]))
        tp = len(found & truth)
        p = tp / len(found) if found else 0.0
        r = tp / len(truth) if truth else 0.0
        return {
            "f1": 2 * p * r / (p + r) if p + r else 0.0,
            "recall": r,
            "n_pairs": len(found),
            "fingerprint": fingerprint(sorted(found)),
        }

    def units(self, chk: dict) -> tuple[int, int]:
        # pairs = verified duplicate pairs emitted; the candidate count would
        # cost one more job per run, so only the traced run takes it
        return self.stats["docs"], chk["n_pairs"]

    def ok(self, chk: dict) -> str | None:
        if chk["recall"] < self.spec["min_recall"]:
            return f"dup recall {chk['recall']:.4f} < {self.spec['min_recall']}"
        return None


def fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, default=int).encode()).hexdigest()[:16]


def make_workload(name: str, seed: int, scale: float):
    spec = WORKLOADS[name]
    cls = PipelineWorkload if spec["kind"] == "pipeline" else DedupWorkload
    return cls(name, spec, seed, scale)


# -- one run -----------------------------------------------------------------

def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def timed_ops(wl, spark, work: str, seconds: float, t_run: float, warm_ops: int):
    """One cold operation, then warm ones until ``seconds`` have passed since
    the first warm one started, and at least ``warm_ops`` of them;
    (wall_s, result or exception) and CPU seconds per operation."""
    ops, cpus = [], []
    t0 = None
    while True:
        op_dir = os.path.join(work, f"op{len(ops)}")
        c = tree_cpu_s()
        t = time.perf_counter()
        try:
            res = wl.run_op(spark, op_dir)
        except Exception as e:  # counted as a failed operation
            traceback.print_exc(file=sys.stderr)
            res = e
        ops.append((time.perf_counter() - t, res))
        cpus.append(tree_cpu_s() - c)
        now = time.perf_counter()
        if len(ops) == 2:
            t0 = t
        if len(ops) > warm_ops and (now - t0 >= seconds or now - t_run >= RUN_BUDGET_S):
            return ops, cpus


def check_ops(wl, spark, ops, expected) -> tuple[list[dict | None], list[str]]:
    """Check every operation; returns per-op check dicts and failure reasons."""
    checks, errors = [], []
    for i, (wall, res) in enumerate(ops):
        chk = None
        if isinstance(res, Exception):
            errors.append(f"op{i}: raised {res!r}")
        elif wall > OP_TIMEOUT_S:
            errors.append(f"op{i}: took {wall:.1f}s > {OP_TIMEOUT_S}s")
        else:
            try:
                chk = wl.check(spark, res)
                why = wl.ok(chk)
                if why:
                    errors.append(f"op{i}: {why}")
                    chk = None
            except Exception as e:
                errors.append(f"op{i}: check failed: {e}")
        checks.append(chk)
    ref = expected or next((c for c in checks if c), None)
    for i, chk in enumerate(checks):
        if chk and ref and (chk["fingerprint"], chk["n_pairs"]) != (
            ref["fingerprint"], ref["n_pairs"]
        ):
            errors.append(
                f"op{i}: output {chk['fingerprint']}/{chk['n_pairs']} != "
                f"{ref['fingerprint']}/{ref['n_pairs']}"
                + (" (committed for the default seed)" if expected else "")
            )
            checks[i] = None
    return checks, errors


def run(args) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, LIB)):
        print(f"perfbench: library package {LIB!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the library from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    facts = host_facts(work)
    # every JVM, the spark-submit launcher's too: temp files in the work dir,
    # no hsperfdata file under /tmp, thread pools sized for the Spark cores
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        f" -XX:ActiveProcessorCount={facts['spark_cores']}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None

    wl = make_workload(args.workload, args.seed, args.scale)
    sampler = RssSampler()
    sampler.start()
    t_run = time.perf_counter()
    spark = None
    try:
        spark = start_session(facts, work, bool(args.trace))
        session_s = time.perf_counter() - t_run
        # setup_s is the median of the repeats; the single JVM start is
        # printed, not a metric, because it follows the host's load
        setups = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate()
            wl.commit(spark, os.path.join(work, f"input{i}"))
            setups.append(time.perf_counter() - t)
        setup_s = statistics.median(setups)

        steal0 = cpu_steal()
        ops, cpus = timed_ops(wl, spark, work, args.seconds, t_run, wl.spec["warm_ops"])
        steal1 = cpu_steal()
        peak_rss_mb = sampler.peak_mb
        traced = None
        if args.trace:
            traced = traced_op(wl, spark, work, len(ops))
            ops.append(traced["op"])
        n_timed = len(ops) - bool(traced)

        expected = None
        if args.seed == DEFAULT_SEED and args.scale == 1.0 and os.path.exists(EXPECTED_PATH):
            with open(EXPECTED_PATH) as f:
                expected = json.load(f).get(args.workload)
        checks, errors = check_ops(wl, spark, ops, expected)
        good = [(w, r, c) for (w, r), c in zip(ops, checks) if c]
        # wall_s: the warm operations' median. A failed operation counts in
        # `failed`; its wall is used only when no other is left, so every
        # metric stays a number.
        warm = list(zip(ops[1:n_timed], checks[1:n_timed]))
        warm_walls = [w for (w, _), c in warm if c] or [w for (w, _), _ in warm]

        print(f"workload {args.workload} seed {args.seed} scale {args.scale}")
        print("corpus " + json.dumps(wl.stats))
        print("host " + json.dumps(facts))
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        print(f"host CPU steal during the timed operations: {steal:.1%}")
        print(f"session start {session_s:.3f} s, set-up repeats "
              + " ".join(f"{t:.3f}" for t in setups) + " s")
        for i, ((wall, _), chk) in enumerate(zip(ops, checks)):
            kind = "cold" if i == 0 else ("warm" if i < n_timed else "traced")
            out = f"fingerprint {chk['fingerprint']} pairs {chk['n_pairs']}" if chk else "FAILED"
            cpu = f" cpu {cpus[i]:.2f} s" if i < len(cpus) else ""
            print(f"op{i} {kind} {wall:.3f} s{cpu} {out}")
        for e in errors:
            print("FAILED " + e)
        attempted, failed = len(ops), len(ops) - len(good)
        print(f"failed_ops {failed / attempted:.4f} ({failed} of {attempted})")
        if not good:
            raise RuntimeError("no operation succeeded")
        if args.trace:
            metrics = layer_metrics(wl, spark, traced, ops[0][0], warm_walls, checks[-1])
        else:
            metrics = e2e_metrics(wl, good, warm_walls, setup_s, peak_rss_mb)
            print(f"wall_s samples {len(warm_walls)} median {metrics['wall_s']['value']:.4f} "
                  f"max {max(warm_walls):.4f} s")
        for k, v in metrics.items():
            print(f"metric {k} = {v['value']:.6g} {v['unit']}")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_session(spark, sampler)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def e2e_metrics(wl, good, warm_walls, setup_s, peak_rss_mb) -> dict:
    wall = statistics.median(warm_walls)
    convs, pairs = wl.units(good[0][2])
    vals = {
        "setup_s": setup_s,
        "wall_s": wall,
        "convs_per_s": convs / wall,
        "pairs_per_s": pairs / wall,
        "pairwise_f1": statistics.median(c["f1"] for _, _, c in good),
        "dup_recall": statistics.median(c["recall"] for _, _, c in good),
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: {"value": vals[k], "unit": u} for k, u in E2E}


# -- traced run --------------------------------------------------------------

def traced_op(wl, spark, work: str, i: int) -> dict:
    from tracing import Tracer

    tracer = Tracer(spark)
    tracer.install(LIB)
    op_dir = os.path.join(work, f"op{i}")
    root = "pipeline" if isinstance(wl, PipelineWorkload) else "dedup"
    t = time.perf_counter()
    try:
        with tracer.span(root, "run"):
            res = wl.run_op(spark, op_dir)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        res = e
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t
    return {"op": (wall, res), "tracer": tracer, "wall": wall, "op_dir": op_dir}


def layer_metrics(wl, spark, traced, cold_wall, warm_walls, traced_chk) -> dict:
    import tracing as T

    tracer = traced["tracer"]
    res = traced["op"][1]
    if isinstance(res, Exception) or traced_chk is None:
        raise RuntimeError("the traced operation failed")
    rows, ratios = {}, {}
    if isinstance(wl, PipelineWorkload):
        rows, ratios = pipeline_layer_counts(wl, spark, res, traced["op_dir"])
        # the evaluate layer: the library's pairwise scores, outside wall_s
        from entityresolution_capstone_spark import evaluate as E
        from entityresolution_capstone_spark import schemas

        labels = spark.createDataFrame(wl.labels, schema=schemas.LABELS)
        clusters = spark.read.parquet(res["clusters_path"])
        with tracer.span("evaluate", "pairwise_precision_recall"):
            s = E.pairwise_precision_recall(labels, clusters)
        if abs(s.f1 - traced_chk["f1"]) > 1e-9:
            raise RuntimeError(f"library F1 {s.f1} != benchmark F1 {traced_chk['f1']}")
        rows["evaluate"] = len(wl.labels)
    else:
        rows["dedup"] = traced_chk["n_pairs"]
        ratios["dedup.verify_pass_ratio"] = traced_chk["n_pairs"] / wl.candidates()

    spans = tracer.spans
    ui = T.UiStats(spark)
    stats = ui.collect([s["group"] for s in spans])
    errors = T.trace_errors(spans, ui.jobs)
    if errors:
        raise RuntimeError("trace incomplete: " + "; ".join(errors[:5]))
    table = T.layer_table(spans, stats, rows)
    root = spans[0]
    untraced = statistics.median(warm_walls)
    out = {}
    for layer in T.LAYERS:
        for m, unit in T.LAYER_METRICS:
            out[f"{layer}.{m}"] = {"value": table[layer][m], "unit": unit}
    for k in T.RATIOS:
        out[k] = {"value": ratios.get(k, 0.0), "unit": "ratio"}
    out["trace.traced_wall_s"] = {"value": traced["wall"], "unit": "s"}
    out["trace.overhead_s"] = {"value": traced["wall"] - untraced, "unit": "s"}
    # the first operation in a fresh session: JIT, codegen, Python workers
    out["cold.wall_s"] = {"value": cold_wall, "unit": "s"}
    out["cold.gap_s"] = {"value": cold_wall - untraced, "unit": "s"}
    dump = os.path.join(ROOT, ".perfbench_work", f"spans-{wl.name}-{wl.seed}.json")
    tracer.dump(dump, {"group_stats": stats, "root_wall_s": root["end"] - root["start"]})
    print(f"spans written to {os.path.relpath(dump, ROOT)}")
    return out


def pipeline_layer_counts(wl, spark, res, op_dir: str):
    """Rows per layer from the pipeline's own _metrics table, plus the
    blocking and scoring ratios from its committed stage tables."""
    from pyspark.sql import functions as F

    import tracing as T

    m = (
        spark.read.parquet(os.path.join(op_dir, "_metrics"))
        .filter(F.col("run_id") == res["run_id"])
        .groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    )
    # a layer's rows are those of the stage that carries its output onwards
    rows = {
        T.STAGE_LAYER[r["stage"]]: int(r["n"] or 0)
        for r in m
        if r["stage"] in ("docs", "df_table", "blocks", "pairs", "scores",
                          "bootstrap_edges", "clusters")
    }
    bm = spark.read.parquet(os.path.join(op_dir, "block_metrics")).toPandas()
    salt = wl.spec["blocking"]["salt_block_size"]
    cap = wl.spec["blocking"]["max_block_size"]
    pairs = spark.read.parquet(os.path.join(op_dir, "pairs")).toPandas()
    lab = dict(zip(wl.labels["conv_id"], wl.labels["entity_id"]))
    true_in = sum(lab[a] == lab[b] for a, b in zip(pairs["id1"], pairs["id2"]))
    scores = spark.read.parquet(os.path.join(op_dir, "scores"))
    passed = scores.filter(F.col("sim") >= wl.spec["threshold"]).count()
    ratios = {
        "blocking.keys.dropped_blocks": float(bm["dropped"].mean()),
        "blocking.keys.salted_blocks": float(((bm["size"] > salt) & (bm["size"] <= cap)).mean()),
        "blocking.pairs.true_match_ratio": true_in / max(1, len(pairs)),
        "blocking.pairs.pair_completeness": true_in / max(1, wl.stats["true_pairs"]),
        "scoring.pass_ratio": passed / max(1, len(pairs)),
    }
    return rows, ratios


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # shrinks every input; only the smoke test uses it
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
