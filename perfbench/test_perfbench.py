"""Tests of the benchmark itself: every workload at the smoke size with
every answer check, both output modes, and the refusal to run without the
engine.  Run from the repository root:

    python -m pytest perfbench -q
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
sys.path.insert(0, HERE)

from run import LEAK_KEYS, pctl_tail, run_request, trace_overhead  # noqa: E402
from scenarios import Request, normalize, rows_match  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(cwd, workload, trace, *extra):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra]
    cmd[0] = sys.executable
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_reports_every_metric(workload, trace):
    out = bench(ROOT, workload, trace, "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns(".work", "__pycache__"),
        )
    out = bench(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_tail_percentile_keeps_ten_samples_beyond():
    assert pctl_tail(list(range(10))) is None
    value, pct, n = pctl_tail([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)


def test_trace_overhead_compares_with_the_untraced_passes_on_either_side():
    order = [False, True, False, True, False]
    pass_s = {False: [4.0, 2.0, 2.0], True: [3.3, 2.2]}
    # 3.3 / mean(4, 2) = 1.1 and 2.2 / mean(2, 2) = 1.1
    assert abs(trace_overhead(order, pass_s) - 1.1) < 1e-12


class NoLeaks:
    def sweep(self, keeps_state):
        return dict.fromkeys(LEAK_KEYS, 0)


def boom(mark_built):
    raise RuntimeError("engine failure")


@pytest.mark.parametrize(
    "fn, check, raised",
    [(boom, lambda a: True, True), (lambda mark_built: 1, lambda a: a == 2, False)],
)
def test_a_raising_or_wrong_request_counts_as_failed(fn, check, raised):
    rec = run_request(Request("r", "query", fn, check), NoLeaks(), None, 0)
    assert not rec["ok"]
    assert ("RuntimeError" in rec.get("error", "")) == raised


def test_answers_compare_order_free_within_oracle_tolerance():
    a = normalize([(2, 0.1 + 0.2), (1, "x")])
    assert rows_match(a, normalize([(1, "x"), (2, 0.3)]))
    assert not rows_match(a, normalize([(1, "x"), (2, 0.31)]))
    assert not rows_match(a, normalize([(1, "x")]))
