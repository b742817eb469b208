"""Span tracing from outside the library, for the benchmark's traced runs.

The pipeline runs each stage as ``write_table(build(), ...)``. Some builds
do eager work (a ``count()``, connected components' rounds, a plan built on
the driver); the rest executes inside ``sources.tables.write_table``. So a
stage's layer gets two spans: one around its build callable (the module
attribute the pipeline calls, see :data:`BUILDERS`) and one around the
``write_table`` call, named by ``extra_manifest["stage"]``. What is left of
the root span is the pipeline's own work: read-backs, counts and
``_metrics`` appends. Each span sets one Spark job group; after the run the
Spark UI's REST API gives the jobs, tasks, shuffle, spill and task times of
every group. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlsplit

# pipeline stage -> layer (the layer names follow the library's modules)
STAGE_LAYER = {
    "docs": "canonicalize",
    "df_table": "tfidf",
    "token_dict": "blocking.keys",
    "blocks": "blocking.keys",
    "block_metrics": "blocking.keys",
    "pairs": "blocking.pairs",
    "scores": "scoring",
    "bootstrap_edges": "bootstrap",
    "cluster_edges": "cc",
    "clusters": "cc",
}
# (module under the library, attribute, layer): the build callables the
# pipeline calls through a module attribute
BUILDERS = (
    ("operators.canonicalize", "canonical_docs", "canonicalize"),
    ("plans.pipeline", "doc_frequencies", "tfidf"),
    ("operators.blocking", "token_dictionary", "blocking.keys"),
    ("operators.blocking", "build_blocks", "blocking.keys"),
    ("operators.blocking", "block_size_metrics", "blocking.keys"),
    ("operators.blocking", "candidate_pairs", "blocking.pairs"),
    ("operators.scoring", "score_pairs", "scoring"),
    ("operators.bootstrap", "exact_match_edges", "bootstrap"),
    ("operators.cc", "connected_components", "cc"),
    ("operators.cc", "assign_clusters", "cc"),
)
LAYERS = (
    "canonicalize", "tfidf", "blocking.keys", "blocking.pairs", "scoring",
    "bootstrap", "cc", "pipeline", "dedup", "evaluate",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("rows_out", "count"), ("jobs", "count"), ("tasks", "count"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("task_skew", "ratio"), ("failed_tasks", "count"),
)
# waste ratios, measured where the work happens (0 on a workload without it)
RATIOS = (
    "blocking.keys.dropped_blocks", "blocking.keys.salted_blocks",
    "blocking.pairs.pair_completeness", "blocking.pairs.true_match_ratio",
    "dedup.verify_pass_ratio", "scoring.pass_ratio",
)
_MB = 1 << 20


class Tracer:
    """Records (layer, name, start, end, parent, job group) spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}-{name}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], f"{layer}:{name}")
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], f"{parent['layer']}:{parent['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, module, attr, name_of):
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            layer, name = name_of(args, kwargs)
            if layer is None:
                return orig(*args, **kwargs)
            with self.span(layer, name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def install(self, lib: str):
        """Wrap the module attributes the pipeline calls."""
        tables = importlib.import_module(f"{lib}.sources.tables")

        def stage_of(args, kwargs):
            stage = (kwargs.get("extra_manifest") or {}).get("stage")
            return (STAGE_LAYER.get(stage), stage) if stage else (None, None)

        self._wrap(tables, "write_table", stage_of)
        for mod, attr, layer in BUILDERS:
            self._wrap(
                importlib.import_module(f"{lib}.{mod}"), attr,
                lambda a, k, layer=layer, attr=attr: (layer, attr),
            )

    def uninstall(self):
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its children cover (children never
    overlap, see :func:`trace_errors`)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def trace_errors(spans: list[dict], jobs: dict[int, dict]) -> list[str]:
    """What the spans miss: children that overlap (their self times would
    count the overlap twice), and Spark jobs of the traced operation (the
    first root span and its descendants) that ran outside every span's job
    group, between its first and last grouped job. A library thread that
    drops the job group shows here."""
    errors = []
    last_end: dict = {}
    for s in sorted(spans, key=lambda s: s["start"]):
        prev = last_end.get(s["parent"])
        if prev is not None and s["start"] < prev[1]:
            errors.append(f"span {s['name']} overlaps its sibling {prev[0]}")
        last_end[s["parent"]] = (s["name"], s["end"])
    in_op = {0}
    for s in spans[1:]:  # a parent is recorded before its children
        if s["parent"] in in_op:
            in_op.add(s["id"])
    groups = {s["group"] for s in spans if s["id"] in in_op}
    ours = [j for j, d in jobs.items() if d.get("jobGroup") in groups]
    if ours:
        errors += [
            f"job {j} ran outside every span (group {jobs[j].get('jobGroup')!r})"
            for j in range(min(ours), max(ours) + 1)
            if j in jobs and jobs[j].get("jobGroup") not in groups
        ]
    return errors


class UiStats:
    """Job/stage/task numbers of job groups, read from the UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlsplit(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, groups: list[str], timeout_s: float = 30.0) -> dict[str, dict]:
        expected = {g: set(self.tracker.getJobIdsForGroup(g)) for g in groups}
        want = set().union(*expected.values()) if expected else set()
        deadline = time.time() + timeout_s
        while True:  # the UI store is filled asynchronously by a listener
            jobs = {j["jobId"]: j for j in self._get("/jobs")}
            done = all(
                j in jobs and jobs[j]["status"] != "RUNNING" for j in want
            )
            if done or time.time() > deadline:
                break
            time.sleep(0.2)
        self.jobs = jobs
        stages = {}
        for st in self._get("/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        # a stage belongs to the first job that lists it; later jobs that
        # reuse its shuffle output list it again but skip it
        owner: dict[int, int] = {}
        for j in sorted(jobs):
            for sid in jobs[j]["stageIds"]:
                owner.setdefault(sid, j)
        out = {}
        for g, ids in expected.items():
            sts = [a for sid, j in owner.items() if j in ids for a in stages.get(sid, [])]
            out[g] = self._group_metrics(len(ids), sts)
        return out

    def _group_metrics(self, n_jobs: int, sts: list[dict]) -> dict:
        m = {
            "jobs": n_jobs,
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in sts),
            "failed_tasks": sum(s["numFailedTasks"] for s in sts),
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in sts) / _MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in sts) / _MB,
            "spill_mb": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in sts) / _MB,
            "executor_run_s": sum(s["executorRunTime"] for s in sts) / 1000,
            "task_skew": 0.0,
        }
        multi = [s for s in sts if s["numCompleteTasks"] > 1]
        if multi:
            # max/median task time of the group's busiest multi-task stage
            top = max(multi, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            m["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return m


def layer_table(spans: list[dict], group_stats: dict[str, dict], rows: dict[str, int]):
    """Aggregate spans into the per-layer metric table (all layers, zeros when absent)."""
    st = self_times(spans)
    table = {l: {m: 0.0 for m, _ in LAYER_METRICS} for l in LAYERS}
    skews: dict[str, list[float]] = {}
    for s in spans:
        t = table[s["layer"]]
        g = group_stats.get(s["group"], {})
        t["wall_s"] += st[s["id"]]
        for k in ("jobs", "tasks", "failed_tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            t[k] += g.get(k, 0)
        if g.get("task_skew"):
            skews.setdefault(s["layer"], []).append(g["task_skew"])
    for layer, v in skews.items():
        table[layer]["task_skew"] = statistics.median(v)
    for layer, n in rows.items():
        table[layer]["rows_out"] = n
    return table
