"""Benchmark body: one workload, one seed, one process.

``run.py`` starts this module with the environment pinned and a
per-run work directory; this process builds the session, plans the
inputs from the seed, runs an untimed warm-up pass that also checks
every output against its oracle, then runs timed passes (closed loop,
one client) until ``--seconds`` have elapsed, at least the workload's
``passes``.
Each pass does the same work, so a faster program finishes passes
sooner instead of doing different work. The result goes to ``--out``
as JSON.

Each operation records its wall time and the CPU time of every process
of the run (driver, JVM, Python workers) over it. The end-to-end
metrics are the CPU times: on a shared host, neighbours slow whole
runs by 20-60% in wall time and by less, often far less, in CPU time,
as the kernel leaves time stolen from the VM out of process CPU time
and time spent waiting for a core is not CPU time. Wall times are
reported beside them.

With ``--trace`` the timed passes run untraced as usual and one more
pass runs with spans and listeners on; the per-layer metrics come from
that pass, and its operation latencies against the untraced ones give
the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import datagen  # noqa: E402
from layers import gmean, per_layer  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from spans import Tracer  # noqa: E402

PKG = "de_project_airflow_etl_spark"
MIB = 2 ** 20
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")

# Relational analyst queries: table loads, Catalyst, scans, joins and
# exchanges, little Python and no loops in Python.
OLAP = (
    "tpch_q3_shipping_priority", "tpch_q21_waiting_suppliers",
    "join_multiway_region_revenue", "asof_join_click_purchase",
)
# LLM-data operators: time in build-phase job chains the query function
# launches itself, and in the Arrow UDF path.
CORPUS = ("dedup_minhash_lsh", "arrow_udf_text_normalize")

# queries: registry queries of one pass, over the fixed tables in
# data/<tables>; days/records/reruns: the landing plan of one pass,
# each day run through the batch chain and, on first landing, drained
# by the streaming transform; warm_days: the warm-up's plan. passes:
# the fewest timed passes of a run. A run reports figures over every
# execution of its timed passes, not each operation's fastest: after
# the cold pass the queries still get cheaper over four passes and
# more (the JIT compiles Spark's generated code for each plan only
# after many executions), and which pass is fastest varies with that
# and with host noise; across ten seeds, a query_mix built on each
# operation's lowest CPU time spread twice as wide.
WORKLOADS = {
    "query_mix": {"queries": OLAP + CORPUS, "tables": "sf0.01", "passes": 4},
    "launch_lake": {"days": 4, "records": (2500, 3500), "reruns": 1,
                    "warm_days": 3, "passes": 2},
}
SMOKE = {"tables": "sf0.001", "days": 3, "passes": 1}


class _Frame:
    """Hands an already collected result to ``harness.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cfg = dict(WORKLOADS[args.workload])
        if args.smoke:
            self.cfg.update({k: v for k, v in SMOKE.items() if k in self.cfg})
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=False)
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.expected_rows: dict[str, int] = {}
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))

    # -- set-up -------------------------------------------------------
    def start(self):
        t = time.perf_counter()
        from de_project_airflow_etl_spark.session import get_spark
        self.setup["import_s"] = time.perf_counter() - t
        self.tracer.enabled = self.args.trace
        with self.tracer.span("session.get_spark", "session"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.setup["session_s"] = time.perf_counter() - t
        self.spark.conf.set("spark.sql.streaming.checkpointLocation",
                            os.path.join(self.work, "checkpoints"))
        with self.tracer.span("registry.all_queries", "registry"):
            t = time.perf_counter()
            from de_project_airflow_etl_spark.registry import all_queries
            self.registry = all_queries()
            self.setup["registry_s"] = time.perf_counter() - t
        self.tracer.enabled = False
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        import pyspark
        self.env = {"pyspark": pyspark.__version__,
                    "java": self.spark.sparkContext._jvm.java.lang.System
                    .getProperty("java.version")}
        from de_project_airflow_etl_spark.operators.dedup import clear_pairs_cache
        self._clear_pairs = clear_pairs_cache
        self.plan = None
        if "tables" in self.cfg:
            self.data_dir = os.path.join(datagen.DATA, self.cfg["tables"])
        if "days" in self.cfg:
            self.plan = datagen.launch_days(
                self.args.seed, self.cfg["days"], self.cfg["records"],
                self.cfg["reruns"])

    def warm(self):
        """One untimed pass on a cold JVM that also checks every query
        against its oracle; days land on throw-away lakes."""
        t = time.perf_counter()
        self.setup["oracle_check_s"] = 0.0
        plan = check = con = None
        if "days" in self.cfg:
            plan = datagen.launch_days(self.args.seed + 1,
                                       self.cfg["warm_days"],
                                       self.cfg["records"], self.cfg["reruns"])
        if "queries" in self.cfg:
            from harness import compare, duck_connection
            con = duck_connection(self.data_dir)
            con.execute(f"SET temp_directory='{os.path.join(self.work, 'duck')}'")

            def check(name, pdf):
                tc = time.perf_counter()
                oracle = self.registry[name].oracle
                self.expected_rows[name] = len(pdf)
                problems = [] if oracle is None else compare(
                    _Frame(pdf), con.execute(oracle).fetchdf(), name)
                self.setup["oracle_check_s"] += time.perf_counter() - tc
                return problems
        self._pass(plan, "warm", check)
        if con is not None:
            con.close()
        self.setup["warm_s"] = time.perf_counter() - t

    # -- operations ---------------------------------------------------
    def _clear(self):
        self.spark.catalog.clearCache()
        self._clear_pairs()

    def _query(self, name):
        q = self.registry[name]
        layer = q.fn.__module__.removeprefix(PKG + ".").split(".")[0]
        span = self.tracer.span
        self._clear()
        c, t = self._cpu(), time.perf_counter()
        with span(name, "op", kind="query"):
            with span("Query.fn", layer, query=name):
                df = q.fn(self.spark, self.data_dir)
            with span("action.toPandas", "action", query=name):
                pdf = df.toPandas()
        lat, cpu = time.perf_counter() - t, self._cpu(c)
        self._clear()
        return lat, cpu, pdf

    def _cpu(self, since: dict | None = None) -> dict:
        """CPU seconds used so far by the run's processes outside the
        JVM's JIT compiler threads (``cpu_s``) and by those threads
        (``jit_s``), or the CPU used ``since`` an earlier reading.

        ``cpu_s`` leaves the JIT out because it is the part that varies
        most between runs: Spark generates classes per plan, and the JIT
        compiles them on background threads, off the critical path, at
        about one CPU second per query still in the fourth pass."""
        jit = jit_cpu_s(self.jvm_pid)
        now = {"cpu_s": tree_cpu_s() - jit, "jit_s": jit}
        return now if since is None else {k: now[k] - since[k] for k in now}

    def _run_query(self, name, tag, check=None):
        lat, cpu, pdf = self._query(name)
        if check is not None:
            problems = check(name, pdf)
        elif len(pdf) != self.expected_rows[name]:
            problems = [f"{len(pdf)} rows, expected {self.expected_rows[name]}"]
        else:
            problems = []
        self._record(tag, "query", name, lat, not problems, **cpu,
                     detail="; ".join(problems)[:2000])

    def _record(self, tag, kind, name, lat, ok, detail=None, **extra):
        self.ops.append({"pass": tag, "kind": kind, "name": name,
                         "latency_s": lat, "ok": ok, **extra})
        if not ok:
            self.failures.append(f"{tag} {kind} {name}: {detail}")

    def _pass(self, plan, tag, check=None):
        """One pass of the workload's operations: the landing plan day by
        day, then the queries in an order drawn from the seed."""
        if plan is not None:
            self._lake(plan, tag)
        names = list(self.cfg.get("queries", ()))
        random.Random(f"{self.args.seed}:{tag}").shuffle(names)
        for name in names:
            try:
                self._run_query(name, tag, check)
            except Exception:
                self._record(tag, "query", name, 0.0, False,
                             detail=traceback.format_exc())

    def _pipeline(self, base, table):
        from de_project_airflow_etl_spark.pipeline.launch_etl import LaunchPipeline
        p = LaunchPipeline(self.spark, os.path.join(self.work, base), table)
        traced = {}
        for m in ("ingest", "validate_raw", "transform", "transform_stream",
                  "publish", "register_table", "sync_partitions"):
            traced[m] = self._spanned(getattr(p, m), f"LaunchPipeline.{m}",
                                      "catalog" if m in ("register_table",
                                                         "sync_partitions")
                                      else "pipeline")
        return p, traced

    def _spanned(self, fn, name, layer):
        def call(*a, **kw):
            with self.tracer.span(name, layer):
                return fn(*a, **kw)
        return call

    @staticmethod
    def _fetch(n):
        from de_project_airflow_etl_spark.pipeline.fixtures import launch_day_payload
        return lambda day: launch_day_payload(day, n)

    @staticmethod
    def _raw_bytes(p, day):
        return os.path.getsize(os.path.join(p.raw_dir, f"{day}.json"))

    @staticmethod
    def _gold_rows(n):
        """Rows the fixture writes for ``n`` records: one duplicate id
        is appended when ``n >= 2``; distinct ids stay ``n``."""
        return n + 1 if n >= 2 else n

    def _lake(self, plan, tag):
        """Land each planned day: one operation runs it through the batch
        chain and the table query and, on its first landing, drains it
        with the streaming transform into a second lake. Checks each
        day's distinct count in the table, each drain's silver rows and,
        at the end, the gold rows per day."""
        batch, call = self._pipeline(f"lake-{tag}", f"launch_events_{tag}")
        stream, scall = self._pipeline(f"stream-{tag}", f"stream_events_{tag}")
        ckpt = os.path.join(self.work, f"drain-{tag}")
        landed: dict[str, int] = {}
        for entry in plan:
            try:
                self._day(batch, call, stream, scall, ckpt, entry, landed, tag)
            except Exception:
                self._record(tag, "day", entry["day"], 0.0, False,
                             detail=traceback.format_exc())
        gold = {r["net"].isoformat(): r["n"] for r in batch.read_gold()
                .groupBy("net").agg(F.count("*").alias("n")).collect()}
        want = {d: self._gold_rows(k) for d, k in landed.items() if k}
        if gold != want:
            self.failures.append(f"{tag} gold rows {gold} != {want}")
        if self.tracer.enabled:
            self._lake_stats(batch, landed)

    def _day(self, p, call, stream, scall, ckpt, entry, landed, tag):
        day, n = entry["day"], entry["records"]
        if not entry["rerun"]:  # the day lands in the stream's raw zone too
            scall["ingest"](day, self._fetch(n))
        c, t = self._cpu(), time.perf_counter()
        with self.tracer.span("day", "op", kind="day", day=day):
            call["ingest"](day, self._fetch(n))
            bad = call["validate_raw"](day)
            call["transform"](day)
            call["publish"](day)
            if landed:
                call["sync_partitions"]()
            else:
                call["register_table"]()
            t_chain = time.perf_counter() - t
            tq = time.perf_counter()
            with self.tracer.span("LaunchPipeline.daily_launch_events",
                                  "pipeline"):
                df = p.daily_launch_events()
            with self.tracer.span("action.collect", "action"):
                rows = {r["net"].isoformat(): r["event_count"]
                        for r in df.collect()}
            t_query = time.perf_counter() - tq
            td = time.perf_counter()
            if not entry["rerun"]:
                scall["transform_stream"](ckpt)
            t_drain = time.perf_counter() - td
        lat, cpu = time.perf_counter() - t, self._cpu(c)
        landed[day] = n
        want = {d: k for d, k in landed.items() if k}
        problems = [] if bad == 0 and rows == want else [
            f"corrupt={bad} rows={rows} want={want}"]
        extra = {}
        if not entry["rerun"]:
            got = stream.read_silver().filter(
                F.col("net") == F.lit(day).cast("date")).count()
            if got != self._gold_rows(n):
                problems.append(f"silver rows {got}, expected {self._gold_rows(n)}")
            extra = {"drain_s": t_drain, "drain_rows": self._gold_rows(n)}
        self._record(tag, "day", day, lat, not problems, **cpu,
                     chain_s=t_chain, query_s=t_query, records=n,
                     rerun=entry["rerun"],
                     raw_bytes=self._raw_bytes(p, day),
                     detail="; ".join(problems), **extra)

    def _lake_stats(self, p, landed):
        """Sizes the trace reports: raw bytes landed, gold files and
        bytes, partitions in the catalog."""
        def walk(d):
            files = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
                     if not f.startswith((".", "_"))]
            return len(files), sum(os.path.getsize(f) for f in files)
        self.lake = {"raw": walk(p.raw_dir), "gold": walk(p.gold_dir),
                     "days": len([k for k in landed.values() if k]),
                     "partitions": self.spark.sql(
                         f"SHOW PARTITIONS {p.table_name}").count()}

    # -- timed window -------------------------------------------------
    def measure(self):
        """Timed passes. After the warm pass and after each timed pass,
        outside any operation's time, a full collection gives the heap's
        live set; the run keeps its peak."""
        self.live_heap = live_heap_mb(self.spark)
        passes, t0 = 0, time.perf_counter()
        while (passes < self.cfg["passes"]
               or time.perf_counter() - t0 < self.args.seconds):
            self._pass(self.plan, f"p{passes}")
            passes += 1
            self.live_heap = max(self.live_heap, live_heap_mb(self.spark))
        self.window_s = time.perf_counter() - t0
        self.passes = passes
        if self.args.trace:
            self._traced_pass()

    def _traced_pass(self):
        from de_project_airflow_etl_spark import tables
        orig = tables.load

        def traced_load(spark, sf_dir, name):
            with self.tracer.span("tables.load", "tables", table=name):
                return orig(spark, sf_dir, name)
        # Query modules bind ``load`` at import; swap every binding.
        mods = [m for n, m in sys.modules.items()
                if n.startswith(PKG) and getattr(m, "load", None) is orig]
        for m in mods:
            m.load = traced_load
        self.tracer.enabled = True
        self.tracer.attach(self.spark)
        t, gc = time.perf_counter(), self.tracer.gc_seconds()
        try:
            self._pass(self.plan, "traced")
        finally:
            self.traced_wall_s = time.perf_counter() - t
            self.traced_gc_s = self.tracer.gc_seconds() - gc
            self.tracer.detach()
            self.tracer.enabled = False
            for m in mods:
                m.load = orig

    def stop(self):
        self.spark.stop()
        gw = self.spark.sparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and
    every process below it: the JVM, PySpark's daemon and its Python
    workers, and children they have reaped."""
    stat, kids = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        pid = int(entry)
        # after the command name: state, ppid, ..., utime (11), stime,
        # cutime, cstime (14)
        stat[pid] = sum(map(int, fields[11:15]))
        kids.setdefault(int(fields[1]), []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return ticks / CLOCK_TICKS


def jit_cpu_s(pid: int) -> float:
    """CPU seconds the JVM ``pid``'s JIT compiler threads have used.
    ``run.py`` keeps those threads for the JVM's whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so no thread's time
    leaves this sum when it ends."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            ticks += sum(map(int, rest.split()[11:13]))
    return ticks / CLOCK_TICKS


def _memory_bean(spark):
    return (spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getMemoryMXBean())


def live_heap_mb(spark) -> float:
    """Java heap still in use after a full collection, in MB."""
    bean = _memory_bean(spark)
    bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / MIB


def peak_memory(spark, live_heap: float) -> dict[str, float]:
    """Peak memory of the run, in MB. ``python_rss`` and ``jvm_rss`` are
    the VmHWM of this process and of the JVM it launched. The JVM's heap
    is committed and touched at start, so its RSS holds the whole heap
    whatever the program keeps in it; ``total`` counts instead the JVM's
    RSS outside the heap plus the heap's peak live set."""
    out = {}
    for name, pid in (("python_rss", os.getpid()),
                      ("jvm_rss", spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as f:
            out[name] = next(int(line.split()[1]) for line in f
                             if line.startswith("VmHWM:")) / 1024
    heap = _memory_bean(spark).getHeapMemoryUsage().getCommitted() / MIB
    out.update(heap_committed=heap, jvm_outside_heap=out["jvm_rss"] - heap,
               live_heap=live_heap)
    out["total"] = out["python_rss"] + out["jvm_outside_heap"] + live_heap
    return out


def summarize(b: Bench) -> dict:
    """End-to-end metrics, the workload-specific figures and, for a
    traced run, per-layer metrics."""
    timed = [o for o in b.ops if o["pass"].startswith("p") and o["ok"]]
    cpu = [o["cpu_s"] for o in timed]
    # The oracle comparison is the benchmark's own work, not set-up the
    # program needs, so it is left out of setup_s.
    setup = b.setup
    e2e = {
        "setup_s": (setup["import_s"] + setup["session_s"] + setup["registry_s"]
                    + setup["warm_s"] - setup["oracle_check_s"]),
        "op_cpu_s": gmean(cpu),
        "ops_per_cpu_min": 60 * len(cpu) / sum(cpu),
        "peak_mem_mb": b.memory["total"],
    }
    named = named_metrics(timed, b)
    out = {"e2e": e2e, "named": named, "setup": b.setup,
           "memory_mb": b.memory,
           "passes": b.passes, "window_s": b.window_s,
           "ops_timed": sum(o["pass"].startswith("p") for o in b.ops)}
    if b.args.trace:
        traced = [o for o in b.ops if o["pass"] == "traced"]  # one pass
        out["layers"], out["layer_detail"] = per_layer(b, traced)
        out["spans"] = b.tracer.records()
    return out


def named_metrics(timed, b) -> dict:
    """The figures the workload is about, by their own names, over
    every successful execution of the timed passes."""
    def by(kind, key="latency_s"):
        return [o[key] for o in timed if o["kind"] == kind]
    lat = by("query") + by("day")
    m = {"op_gmean_s": gmean(lat), "ops_per_min": 60 * len(lat) / sum(lat),
         "failed_ratio": len(b.failures) / max(1, len(b.ops)),
         "peak_rss_mb": b.memory["python_rss"] + b.memory["jvm_rss"]}
    if by("query"):
        q = by("query")
        m.update(query_p50_s=statistics.median(q),
                 queries_per_min=60 * len(q) / sum(q))
    if by("day"):
        days = by("day", "chain_s")
        m.update(day_p50_s=statistics.median(days),
                 table_query_p50_s=statistics.median(by("day", "query_s")),
                 records_per_s=sum(by("day", "records")) / sum(days),
                 day_runs=len(days))
    drains = [o for o in timed if "drain_s" in o]
    if drains:
        m.update(drain_p50_s=statistics.median(o["drain_s"] for o in drains),
                 stream_rows_per_s=sum(o["drain_rows"] for o in drains)
                 / sum(o["drain_s"] for o in drains))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    b = Bench(args, args.work)
    b.start()
    try:
        b.warm()
        b.measure()
        b.memory = peak_memory(b.spark, b.live_heap)
        result = summarize(b)
    finally:
        b.stop()
    result["env"] = b.env
    result["failures"] = b.failures
    result["attempted"] = len(b.ops)
    result["failed"] = len(b.failures)
    result["ops"] = b.ops
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
