"""Self-test of the benchmark at a tiny size.

Checks that a run prints, as its last line, every metric BENCHMARK.json
names with its unit, that every output check passes, and that the
benchmark refuses to run without the program it measures. Run from the
repository root (about four minutes on 4 cores):

    python3 -m pytest perfbench/test_selftest.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

sys.path.insert(0, HERE)
from spans import Tracer, _covered  # noqa: E402


def run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


# per-layer metrics each workload must move (they read 0 on the other)
OWN = {
    "backfill": ["backfill_docs_per_s", "resume_s", "lookup_window_s_p50",
                 "lookup_history_s_p50", "materialize.run_s", "asof.exec_s"],
    "curation": ["suite_s", "cache.spread_fired", "cache.persist_calls",
                 "engine.python_total_ms"],
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    out = run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--pages", "100")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert sorted(res["metrics"]) == sorted(m["name"] for m in spec)
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        for name in OWN[workload] + ["engine.jobs", "engine.executor_run_ms"]:
            assert res["metrics"][name]["value"] > 0, name
        if workload == "backfill":
            # the webtext input already has >= cores splits: no spread fires
            assert res["metrics"]["cache.spread_fired"]["value"] == 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
              "--seconds", "1", "--trace", "0", timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_self_time_subtracts_covered_child_time():
    tr = Tracer()
    tr.on = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    st = tr.self_times()
    assert inner["parent"] == outer["id"]
    assert abs(st[outer["id"]] - (outer["dur"] - inner["dur"])) < 1e-3
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2)], 1, 10) == 1
