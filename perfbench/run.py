"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 5 --trace 0

Workloads, metrics and bounds are declared in ``BENCHMARK.json`` at the
repository root. This process pins the environment (cores, JVM
heap, ``PYTHONPATH``, and every Spark temporary location under a
per-run work directory that is deleted at exit), records host noise
(load average and CPU steal share) before and after, runs
``worker.py`` in its own process group under a time limit, and waits
until every process of that group has ended. It prints the metrics by
name and unit, writes the full run record (with spans when tracing) to
``perfbench/out/``, and ends with one JSON line:

    {"correct": true, "attempted": 26, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones. Exit status: 0 when every output was
correct, 1 when a check failed (the line is still printed), 2 when no
result could be produced (nothing is printed on stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "de_project_airflow_etl_spark")
HARNESS = os.path.join(ROOT, "tests", "harness.py")
TIME_LIMIT_S = 170
HEAP = "2g"  # the inputs are a few MB; the session default is 48g


def host_sample() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu_ticks": cpu}


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [a - b for a, b in zip(after["cpu_ticks"], before["cpu_ticks"])]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total else 0.0


def pinned_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A heap committed and touched up front: without it the JVM's peak
    # RSS follows G1's heap growth, which tracks GC timing more than the
    # program (20-40% between runs). worker.py leaves this fixed heap
    # out of peak_mem_mb and counts the heap's live set instead.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} "
                 "-XX:-UseDynamicNumberOfCompilerThreads "
                 "-XX:+AlwaysPreTouch")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # spark-submit first runs a launcher JVM of its own
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell"]),
    })
    return env


def run_worker(args, work: str, env: dict) -> tuple[int, dict | None]:
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out] + (["--smoke"] if args.smoke else [])
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {TIME_LIMIT_S} s; stopping it", file=sys.stderr)
        code = -1
    finally:  # also on SIGTERM to this process: leave nothing running
        _signal_group(proc.pid, signal.SIGKILL)
        proc.wait()
        _wait_group_gone(proc.pid)
    if code != 0 or not os.path.exists(out):
        return code or 2, None
    with open(out) as f:
        return 0, json.load(f)


def _signal_group(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass


def _wait_group_gone(pgid: int, timeout: float = 30) -> None:
    """Block until no process of the worker's group is left (the JVM
    and Python workers are grandchildren, so ``wait`` cannot see them)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print(f"processes of group {pgid} still alive", file=sys.stderr)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(args, spec, res, host) -> dict:
    """Print the run's figures by name and unit; return the last line."""
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    units = {"op_gmean_s": "s", "ops_per_min": "1/min", "query_p50_s": "s",
             "day_p50_s": "s", "table_query_p50_s": "s",
             "drain_p50_s": "s", "queries_per_min": "1/min",
             "records_per_s": "1/s", "stream_rows_per_s": "1/s",
             "failed_ratio": "ratio", "day_runs": "count", "peak_rss_mb": "MB"}
    p = print
    p(f"workload {args.workload} seed {args.seed}: {res['passes']} timed "
      f"pass(es), {res['ops_timed']} operations in {res['window_s']:.3f} s, "
      "closed loop, 1 client")
    for k, v in res["e2e"].items():
        unit = next(m["unit"] for m in spec["end_to_end"] if m["name"] == k)
        p(f"  {k} = {v:.6g} {unit}")
    for k, v in res["named"].items():
        p(f"  {k} = {v:.6g} {units.get(k, '')}")
    p("  setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in res["setup"].items()))
    if args.trace:
        for k, v in res["layers"].items():
            p(f"  {k} = {v:.6g} {metrics[k]['unit']}")
        for k, v in res["layer_detail"].items():
            if isinstance(v, (int, float)):
                p(f"  {k} = {v:.6g}")
        p(f"  tracing overhead: {res['layer_detail']['overhead']}")
    p(f"  host: loadavg {host['before']['loadavg']} -> "
      f"{host['after']['loadavg']}, steal share {host['steal_share']:.4f}")
    p(f"  env: {res['env']}")
    for f in res["failures"]:
        p(f"  FAILED: {f.splitlines()[-1] if f else f}")
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own self-test")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in (PKG_DIR, HARNESS, os.path.join(ROOT, "BENCHMARK.json"))
               if not os.path.exists(p)]
    if missing:
        print(f"cannot run: missing {missing}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    runs_dir = os.path.join(HERE, ".work")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    try:
        env = pinned_env(work)
        before = host_sample()
        code, res = run_worker(args, work, env)
        after = host_sample()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:  # another run still uses it
            pass
    if res is None:
        print(f"worker failed (exit {code}); no result", file=sys.stderr)
        return 2
    host = {"before": before, "after": after,
            "steal_share": steal_share(before, after)}
    res["host"] = host
    res["pinned_env"] = {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH",
        "SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS")}
    res["args"] = vars(args)
    line = report(args, spec, res, host)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    rec = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec, "w") as f:
        json.dump(res, f, indent=1, default=str)
    print(f"  record: {os.path.relpath(rec, ROOT)}")
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
