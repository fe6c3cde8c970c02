"""The benchmark's own tests, at tiny scale.

    python -m pytest perfbench/ -q

Each test runs the benchmark in a subprocess from the repository root,
as the benchmark is meant to be run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
END_TO_END = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}
TINY = ["--seed", "5", "--seconds", "1", "--scale", "0.02"]


def _bench(args, code=None, cwd=ROOT):
    cmd = [sys.executable, "-c", code, *args] if code else \
        [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def _result(out):
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    env = json.loads(next(ln for ln in lines if ln.startswith("env "))[4:])
    return json.loads(lines[-1]), env


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_end_to_end_metric(workload):
    res, env = _result(_bench(["--workload", workload, "--trace", "0", *TINY]))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == END_TO_END
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name
    assert env["error_rate"] == 0


def test_wrong_expected_answer_counts_as_error():
    # corrupt the expected answers once the closed loops start (the
    # set-up's warm-up ops check their results too, and would abort)
    code = """
import sys
sys.path.insert(0, "perfbench")
import gen, run
loop = run.timed_loop
def wrong_loop(*a, **k):
    right = gen.expected_keys
    gen.expected_keys = lambda inp, pred: right(inp, pred)[1:]
    return loop(*a, **k)
run.timed_loop = wrong_loop
sys.exit(run.main(sys.argv[1:]))
"""
    res, env = _result(_bench(["--workload", "csv_filter_scan", "--trace", "0",
                               *TINY], code=code))
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0
    assert env["error_rate"] > 0


@pytest.mark.parametrize("workload,bypassed", [
    ("csv_filter_scan", ["rowid.enumerate_calls", "rowid.build_s",
                         "sources.versioned.append_s",
                         "sources.filestats.prune_s"]),
    ("versioned_ingest", ["rowid.enumerate_calls", "sources.csv.scans_per_op",
                          "frame.jobs_per_op", "functions.compare.typed_compare_s"]),
])
def test_traced_run_emits_zero_counters_for_bypassed_layers(workload, bypassed):
    res, _env = _result(_bench(["--workload", workload, "--trace", "1", *TINY]))
    assert res["correct"]
    assert set(res["metrics"]) == PER_LAYER
    for name in bypassed:
        assert res["metrics"][name]["value"] == 0, name
    assert res["metrics"]["trace.overhead_s_per_op"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(["--workload", "csv_filter_scan", *TINY], cwd=tmp_path)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
