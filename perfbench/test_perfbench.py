"""Checks of the benchmark itself: its helpers, then a smoke run of every
workload (with output checks) and one traced run.

    python3 -m pytest perfbench -q
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

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_pct(100) == 90
    assert run.tail_pct(40) == 75
    assert run.tail_pct(12) == 50  # too few samples: the median
    xs = list(range(1, 101))
    assert run.percentile(xs, 50) == 50
    assert run.percentile(xs, 90) == 90
    assert sum(x > run.percentile(xs, 90) for x in xs) == 10


def test_self_time_and_outermost_spans():
    assert tracing._union([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [
        {"id": 0, "parent": None, "op": "a", "name": "lake.commit", "start": 0, "end": 5},
        {"id": 1, "parent": 0, "op": "a", "name": "lake.commit", "start": 1, "end": 2},
        {"id": 2, "parent": None, "op": "b", "name": "lake.commit", "start": 6, "end": 7},
    ]
    assert tracing.outermost_seconds(spans, "lake.commit", {"a"}) == 5
    assert tracing.outermost_seconds(spans, "lake.commit", {"a", "b"}) == 6


def test_plans_are_seeded_and_slices_wrap():
    p1, p2 = workloads.LakePlan(7), workloads.LakePlan(7)
    assert p1.iteration(0, [0]) == p2.iteration(0, [0])
    assert workloads.query_order(3, 1, workloads.CURATION) == \
        workloads.query_order(3, 1, workloads.CURATION)
    inputs = workloads.LakeInputs(run.DATA_DIR)
    n = inputs.orders.num_rows
    assert inputs.orders["o_orderkey"].to_pylist() == list(range(n))
    assert n % workloads.APPEND_ROWS == 0
    # keys past the table reuse its rows under fresh keys
    wrapped = inputs.order_slice(n, n + 5)
    assert wrapped["o_orderkey"].to_pylist() == list(range(n, n + 5))
    assert wrapped["price"].equals(inputs.order_slice(0, 5)["price"])


def test_code_version_changes_with_the_engine(tmp_path, monkeypatch):
    for rel in ("aws_data_pipeline_ads_spark/m.py", "perfbench/run.py",
                "tools/check_oracle.py"):
        (tmp_path / rel).parent.mkdir(exist_ok=True)
        (tmp_path / rel).write_text("x = 1\n")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    monkeypatch.setattr(run, "HERE", str(tmp_path / "perfbench"))
    before = run.code_version()
    assert run.code_version() == before
    (tmp_path / "aws_data_pipeline_ads_spark/m.py").write_text("x = 2\n")
    assert run.code_version() != before


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_workload(workload):
    res = _bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_traced_run():
    res = _bench("lake_rw", 1)
    assert res["correct"]
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    assert metrics["index.built_in_timed"] == 0
    assert metrics["mv.refresh_single_s"] > 0 and metrics["lake.commit_s"] > 0
    assert metrics["exec.jobs"] > 0 and metrics["pipeline.records"] > 0
