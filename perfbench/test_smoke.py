"""Smoke test: every metric BENCHMARK.json names is emitted, on tiny inputs.

    python3 perfbench/test_smoke.py        # or: python3 -m pytest perfbench/test_smoke.py

Runs ``run.py`` once per workload and trace mode with ``--scale 0.05``
(about four minutes on four cores) and checks the last stdout line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0", "--trace", str(trace), "--scale", "0.05"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int):
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(want), set(res["metrics"]) ^ set(want)
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name], name
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], name
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_every_metric_is_emitted():
    for w in (w["name"] for w in _spec()["workloads"]):
        for trace in (0, 1):
            check(w, trace)


if __name__ == "__main__":
    test_every_metric_is_emitted()
    print("ok")
