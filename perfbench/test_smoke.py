"""Smoke test of the benchmark itself, at tiny size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced (sf0.001 fixtures, a
50-partition metadata table) and checks that each run passes its own
correctness checks and prints every metric of ``BENCHMARK.json`` with its
unit. The tracing helpers are checked on hand-made inputs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import Job, StageWork, Tracer, spark_work_by_op, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = ["--sf", "0.001", "--partitions", "50"]


def run_bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric(workload, trace):
    out = run_bench(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    vals = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in vals.values()), vals
    elif workload == "analytics_queries":
        assert vals["logtable.snapshot_s"] == 0.0
        assert all(vals[k] > 0 for k in vals
                   if k.startswith("queries.") and k.endswith(".p50_s"))
        assert vals["spark.jobs_per_op"] > 0
    elif workload == "metadata_scale":
        assert vals["logtable.snapshot_s"] > 0
        assert all(vals[f"logtable.{op}.p50_s"] > 0 for op in (
            "append", "upsert", "update", "delete", "read_where",
            "read_version", "history"))
        assert vals["spark.driver_only_s_per_op"] > 0
        assert vals["logtable.rows_rewritten_per_row_changed"] >= 1


def test_run_refuses_without_program(tmp_path):
    """Outside a checkout of the program the benchmark exits non-zero and
    prints no result."""
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (tmp_path / "perfbench" / name).write_text(
                open(os.path.join(HERE, name)).read()
            )
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("round") as r:
        with t.span("op", "op-0") as o:
            pass
    o.start, o.end = 1.0, 3.0
    r.start, r.end = 0.0, 4.0
    assert t.spans[1].parent == t.spans[0].id and t.spans[1].op == "op-0"
    assert t.self_times() == {"round": 2.0, "op": 2.0}


def test_jobs_map_to_ops_by_group_then_time():
    jobs = {
        0: Job(0, "op-0", 1.0, 2.0, [0]),
        1: Job(1, "stream-run", 5.5, 6.0, [1, 2]),  # foreign group
        2: Job(2, None, 9.0, 9.5, [3]),  # outside every op
    }
    stages = {0: StageWork(tasks=4), 1: StageWork(tasks=2), 3: StageWork(tasks=1)}
    out = spark_work_by_op(jobs, stages, {"op-0": (0.0, 3.0), "op-1": (5.0, 7.0)})
    assert (out["op-0"]["jobs"], out["op-0"]["tasks"]) == (1, 4)
    assert (out["op-1"]["jobs"], out["op-1"]["stages"], out["op-1"]["tasks"]) == (1, 1, 2)
    assert out["op-0"]["driver_only_s"] == pytest.approx(2.0)
    assert out["op-1"]["job_s"] == pytest.approx(0.5)


def test_design_covers_every_workload_and_layer_metric():
    import fnmatch

    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    assert set(design["workloads"]) == set(WORKLOADS)
    for m in SPEC["per_layer"]:
        assert any(fnmatch.fnmatchcase(m["name"], pat) for pat in design["per_layer"]), m
