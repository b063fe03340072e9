"""Smoke self-test of the benchmark: tiny inputs (sf0.001, a 3-day
pipeline), one timed pass per workload.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: every run starts its own Spark session.
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

import datagen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# Layers whose spans each workload's traced pass must contain.
LAYERS = {
    "query_mix": {"session", "registry", "op", "queries", "operators",
                  "tables", "action"},
    "launch_lake": {"session", "registry", "op", "pipeline", "catalog",
                    "action"},
}


def _run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _last_line(proc):
    assert proc.returncode == 0, proc.stderr[-4000:] + proc.stdout[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] is True
    assert line["failed"] == 0 and line["attempted"] >= 1
    return line


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_reports_every_layer(workload):
    line = _last_line(_run(workload, 1))
    assert set(line["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    with open(os.path.join(HERE, "out", f"{workload}-seed3-trace1.json")) as f:
        record = json.load(f)
    assert LAYERS[workload] <= {s["layer"] for s in record["spans"]}
    assert record["layer_detail"]["overhead"]["op_gmean_s"] is not None
    assert record["host"]["before"]["loadavg"]


def test_untraced_run_reports_end_to_end_metrics():
    line = _last_line(_run("query_mix", 0))
    names = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == names
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", ".work", "__pycache__"))
    proc = _run("query_mix", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert "{" not in proc.stdout


def test_cpu_time_counts_reaped_children():
    import worker
    before = worker.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert worker.tree_cpu_s() - before >= 0.4


def test_landing_plan_follows_the_seed():
    plan = datagen.launch_days(5, 30, (2000, 4000))
    assert plan == datagen.launch_days(5, 30, (2000, 4000))
    assert plan != datagen.launch_days(6, 30, (2000, 4000))
    firsts = [p for p in plan if not p["rerun"]]
    assert len(firsts) == 30 and len(plan) == 33
    assert sum(p["records"] == 0 for p in firsts) == 1
    assert [p["day"] for p in firsts] != sorted(p["day"] for p in firsts)
    # every seed lands the same records, in another order
    other = [p["records"] for p in datagen.launch_days(6, 30, (2000, 4000))
             if not p["rerun"]]
    assert sorted(p["records"] for p in firsts) == sorted(other)
