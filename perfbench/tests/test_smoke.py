"""Smoke test of the benchmark command on the whole ``grid_small`` workload.

    SPARK_GRAFT_TEST_SF=<sf0.001 testdata dir> python -m pytest perfbench/tests -q

Runs on the table directory named by ``SPARK_GRAFT_TEST_SF`` (the sf0.001
testdata is the intended one), or on the benchmark's own generated tables
when it is unset.  Each run starts its own Spark session, so the module takes
about three minutes on the sf0.001 tables.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(work, trace=0):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "grid_small"]
    cmd += ["--seed", "7", "--seconds", "1", "--trace", str(trace), "--work", str(work)]
    if os.environ.get("SPARK_GRAFT_TEST_SF"):
        cmd += ["--data", os.environ["SPARK_GRAFT_TEST_SF"]]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def _latest_report(work, trace):
    paths = glob.glob(os.path.join(str(work), "reports", "grid_small", f"trace{trace}-*.json"))
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench")


def test_prints_every_end_to_end_metric_with_its_unit(work):
    result = _run(work)
    assert result["correct"] is True
    assert result["failed"] == 0
    # a warm-up and at least one timed call per key
    assert result["attempted"] >= 2 * len(WORKLOADS["grid_small"].keys)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_wrong_reference_digest_counts_as_failure(work):
    _run(work)  # makes sure the reference answers are cached
    (path,) = glob.glob(os.path.join(str(work), "reference", "*", "count-*.json"))
    with open(path) as f:
        ref = json.load(f)
    ref["digest"] = "0" * len(ref["digest"])
    with open(path, "w") as f:
        json.dump(ref, f)

    result = _run(work)
    assert result["correct"] is False
    assert result["failed"] >= 2  # count's warm-up and timed calls
    report = _latest_report(work, 0)
    assert report["fail_frac"] == result["failed"] / result["attempted"] > 0
    assert "count" in report["failures"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_traced_run_prints_every_per_layer_metric(work):
    result = _run(work, trace=1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    report = _latest_report(work, 1)
    # the untraced runs above used the same seed and tables
    assert report["trace_overhead"]["untraced_runs"] >= 1
    assert report["trace_overhead"]["overhead_frac"] is not None
    assert report["job_attribution"]["tag"] > 0
    with open(report["spans_file"]) as f:
        spans = [json.loads(line) for line in f]
    by_id = {s["id"]: s for s in spans}
    calls = [s for s in spans if s["name"] == "call"]
    assert len(calls) == report["attempted"]
    for c in calls:
        pass_span = by_id[c["parent"]]
        assert pass_span["name"] == "pass"
        assert by_id[pass_span["parent"]]["name"] == "workload"
        kids = [s for s in spans if s["parent"] == c["id"]]
        assert sorted(s["name"] for s in kids) == ["build", "execute", "plan"]
        covered = sum(s["end"] - s["start"] for s in kids)
        assert 0 <= (c["end"] - c["start"]) - covered < 0.05
