"""Spans and counts recorded around calls into the package, from outside.

A span covers one call at a layer boundary (``session.get_spark``,
``registry.all_queries``, ``tables.load``, ``Query.fn``, the final
action, a ``LaunchPipeline`` method). Each span runs under its own
Spark job group, so when it ends the jobs it launched are read back
through ``statusTracker`` and their stages through the status store
(``lastStageAttempt``): jobs, stages, tasks, task run/CPU/GC time,
input/output bytes, shuffle bytes and spill. Streaming jobs run on the
stream's own thread under a job group named after the query's run id;
a ``StreamingQueryListener`` reports those run ids and each trigger's
progress (``durationMs``, state operators), so a span also owns the
streams started inside it. Catalyst phase times come from a
``QueryExecutionListener``: it sees the ``QueryExecution`` of every
action that actually ran (collects, writes, commands, micro-batches),
so no plan is forced just to be measured.

Spans are kept in memory and written out when the run ends. A span's
self time is its duration minus the union of its children's intervals.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

COUNT_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
    "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
    "analysis_ms", "optimization_ms", "planning_ms", "actions",
    "stream_batches", "stream_rows", "trigger_ms", "add_batch_ms",
    "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
    "latest_offset_ms", "state_rows", "state_bytes",
)


class _StreamListener(StreamingQueryListener):
    def __init__(self):
        self.run_ids: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        self.progress.append({
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class _ExecutionListener:
    """py4j implementation of Spark's ``QueryExecutionListener``."""

    def __init__(self, jvm):
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.phases: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        m = self._to_java(qe.tracker().phases())
        self.phases.append({k: m[k].durationMs() for k in m.keySet()})

    def onFailure(self, func_name, qe, exception):
        self.phases.append({})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op
    so the untraced run pays nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._spark: SparkSession | None = None
        self.kids: dict[int, list[dict]] = {}

    def attach(self, spark: SparkSession) -> None:
        """Install the listeners once the session exists."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._spark = spark
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._streams = _StreamListener()
        spark.streams.addListener(self._streams)
        self._exec = _ExecutionListener(sc._jvm)
        spark._jsparkSession.listenerManager().register(self._exec)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = {"id": sid, "name": name, "layer": layer, "run_id": self.run_id,
             "parent": parent["id"] if parent else None, **attrs}
        group = f"{self.run_id}:{sid}"
        if self._spark is not None:
            s["_marks"] = (len(self._streams.run_ids),
                           len(self._streams.progress),
                           len(self._exec.phases))
            self._sc.setJobGroup(group, name)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if "_marks" in s:
                self._sc.setJobGroup(
                    f"{self.run_id}:{parent['id']}" if parent else "", "")
                s.update(self._counts(group, s.pop("_marks")))
            self.spans.append(s)

    def _counts(self, group: str, marks: tuple[int, int, int]) -> dict:
        """Jobs, stage metrics, stream progress and Catalyst phases
        attributable to one span (its own job group, not its children's)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        groups = [group] + self._streams.run_ids[marks[0]:]
        job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        c = dict.fromkeys(COUNT_KEYS, 0)
        c["jobs"] = len(job_ids)
        store = self._jsc.statusStore()
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted (skipped stage)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_run_s"] += sd.executorRunTime() / 1e3
                c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["task_gc_s"] += sd.jvmGcTime() / 1e3
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
        for p in self._streams.progress[marks[1]:]:
            c["stream_batches"] += 1
            c["stream_rows"] += p["rows"]
            for k in ("trigger_ms", "add_batch_ms", "query_planning_ms",
                      "wal_commit_ms", "commit_offsets_ms",
                      "latest_offset_ms", "state_rows", "state_bytes"):
                c[k] += p[k]
        for ph in self._exec.phases[marks[2]:]:
            c["actions"] += 1
            for k in ("analysis", "optimization", "planning"):
                c[f"{k}_ms"] += ph.get(k, 0)
        # Later spans must not re-count this span's streams or actions.
        del self._streams.run_ids[marks[0]:]
        del self._streams.progress[marks[1]:]
        del self._exec.phases[marks[2]:]
        return c

    def gc_seconds(self) -> float:
        """Collection time of every garbage collector of the JVM, which
        in local mode also runs the tasks, since it started."""
        beans = (self._sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def detach(self) -> None:
        if self._spark is not None:
            self._spark._jsparkSession.listenerManager().unregister(self._exec)
            self._spark.streams.removeListener(self._streams)
            self._spark = None

    def records(self) -> list[dict]:
        """Spans in start order, each with ``self_s``: its duration minus
        the time its direct children cover. Leaves the child index,
        span id -> child spans, in ``kids``."""
        out = sorted(self.spans, key=lambda s: s["start"])
        self.kids = kids = {}
        for s in out:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in out:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - _covered(kids.get(s["id"], []))
        return out


def _covered(children: list[dict]) -> float:
    total, reach = 0.0, float("-inf")
    for c in sorted(children, key=lambda c: c["start"]):
        lo = max(c["start"], reach)
        if c["end"] > lo:
            total += c["end"] - lo
            reach = c["end"]
    return total
