"""Per-layer metrics from the spans of one traced pass.

``PER_LAYER`` holds the metrics every workload produces; they form the
last output line of a traced run. Only ``jvm.gc_s`` can read 0, when no
collection falls in the traced pass.
``per_layer`` also returns the figures only some workloads produce
(``tables``, ``pipeline``, ``catalog``, ``stream``, and the build-phase
jobs, output bytes and spill, which read 0 on one workload or both),
which go to the run record with the spans.
``TARGETS`` states, for each layer metric, the end-to-end metric it
should move, on which workload, and where it should stay flat.
"""

from __future__ import annotations

import math
import statistics

MB = 1e6

PER_LAYER = {
    "session.start_s": "s", "registry.import_s": "s",
    "query.build_s": "s",
    "query.action_s": "s", "query.action_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.task_run_s": "s",
    "scheduler.task_cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "scheduler.busy_ratio": "ratio",
    "io.input_mb": "MB",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "trace.overhead_s": "s",
}

TARGETS = {
    "session.start_s": ("setup_s", "all", None),
    "registry.import_s": ("setup_s", "all", None),
    "tables.load_ms": ("op_cpu_s", "query_mix", "launch_lake"),
    "tables.load_jobs": ("op_cpu_s", "query_mix", "launch_lake"),
    "query.build_s": ("ops_per_cpu_min", "query_mix", "launch_lake"),
    "query.build_jobs": ("ops_per_cpu_min", "query_mix", "launch_lake"),
    "query.action_s": ("op_cpu_s", "query_mix", None),
    "query.action_jobs": ("op_cpu_s", "query_mix", None),
    "catalyst.*": ("op_cpu_s", "query_mix", None),
    "scheduler.*": ("op_cpu_s", "all", None),
    "jvm.gc_s": ("op_cpu_s", "all", None),
    "jvm.jit_s": ("op_gmean_s", "all", None),
    "io.*": ("ops_per_cpu_min", "all", None),
    "exchange.*": ("ops_per_cpu_min", "query_mix", "launch_lake"),
    "pipeline.*": ("op_cpu_s", "launch_lake", "query_mix"),
    "catalog.partitions": ("op_cpu_s", "launch_lake", "query_mix"),
    "stream.*": ("op_cpu_s", "launch_lake", "query_mix"),
}

_QUERY_LAYERS = ("queries", "operators", "streaming")


def gmean(values) -> float:
    """Geometric mean: every operation weighs the same whatever its
    length, as in TPC-H's power metric. With eight-odd different
    operations per pass a median would be one or two of them."""
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _total(span: dict, kids: dict, key: str) -> float:
    return span.get(key, 0) + sum(_total(c, kids, key)
                                  for c in kids.get(span["id"], []))


def _p50(values):
    return statistics.median(values) if values else 0.0


def _per_pass(ops: list[dict], key: str = "latency_s") -> list[list[float]]:
    """``key`` of the successful operations of each timed pass."""
    passes: dict[str, list[float]] = {}
    for o in ops:
        if o["pass"].startswith("p") and o["ok"]:
            passes.setdefault(o["pass"], []).append(o[key])
    return list(passes.values())


def per_layer(b, traced_ops: list[dict]):
    """Per-layer metrics of the traced pass and the run record's detail.

    The tracing overhead compares that one traced pass with one
    untraced pass: the median over the timed passes of each pass's
    figure, not each operation's best, which would favour the untraced
    side by selection alone."""
    spans = [s for s in b.tracer.records() if "jobs" in s]
    kids = b.tracer.kids
    ops = [s for s in spans if s["layer"] == "op"]
    n = max(1, len(ops))

    def per_op(key):
        return sum(_total(s, kids, key) for s in ops) / n

    builds = [s for s in spans if s["layer"] in _QUERY_LAYERS
              or s["name"] == "LaunchPipeline.daily_launch_events"]
    actions = [s for s in spans if s["layer"] == "action"]
    cpu = per_op("task_cpu_s") * n
    traced_lat = [o["latency_s"] for o in traced_ops if o["ok"]]
    untraced = _per_pass(b.ops)
    overhead = gmean(traced_lat) - statistics.median(map(gmean, untraced))
    m = {
        "session.start_s": b.setup["session_s"],
        "registry.import_s": b.setup["registry_s"],
        "query.build_s": _p50([s["dur_s"] for s in builds]),
        "query.action_s": _p50([s["dur_s"] for s in actions]),
        "query.action_jobs": statistics.mean(
            [_total(s, kids, "jobs") for s in actions]) if actions else 0.0,
        "catalyst.analysis_ms": per_op("analysis_ms"),
        "catalyst.optimization_ms": per_op("optimization_ms"),
        "catalyst.planning_ms": per_op("planning_ms"),
        "scheduler.jobs": per_op("jobs"),
        "scheduler.stages": per_op("stages"),
        "scheduler.tasks": per_op("tasks"),
        "scheduler.task_run_s": per_op("task_run_s"),
        "scheduler.task_cpu_s": per_op("task_cpu_s"),
        "jvm.gc_s": b.traced_gc_s / n,
        "jvm.jit_s": statistics.fmean(o["jit_s"] for o in traced_ops
                                      if o["ok"]),
        "scheduler.busy_ratio": cpu / (b.traced_wall_s * b.cores),
        "io.input_mb": per_op("input_bytes") / MB,
        "exchange.shuffle_write_mb": per_op("shuffle_write_bytes") / MB,
        "exchange.shuffle_read_mb": per_op("shuffle_read_bytes") / MB,
        "trace.overhead_s": overhead,
    }
    d = _detail(b, spans, kids, ops, traced_lat, untraced, overhead)
    d.update({
        "query.build_jobs": statistics.mean(
            [_total(s, kids, "jobs") for s in builds]) if builds else 0.0,
        "io.output_mb": per_op("output_bytes") / MB,
        "exchange.spill_mb": per_op("spill_bytes") / MB,
    })
    return m, d


def _opm(lat: list[float]) -> float:
    return 60 * len(lat) / sum(lat)


def _detail(b, spans, kids, ops, traced_lat, untraced, overhead) -> dict:
    d: dict = {"targets": {k: {"moves": v[0], "on": v[1], "flat_on": v[2]}
                           for k, v in TARGETS.items()}}
    self_by_layer: dict[str, float] = {}
    for s in spans:
        self_by_layer[s["layer"]] = self_by_layer.get(s["layer"], 0) + s["self_s"]
    d["self_s_by_layer"] = self_by_layer
    traced_cpu = [o["cpu_s"] for o in b.ops if o["pass"] == "traced" and o["ok"]]
    untraced_cpu = _per_pass(b.ops, "cpu_s")
    d["overhead"] = {
        "op_gmean_s": overhead,
        "ops_per_min": (_opm(traced_lat)
                        - statistics.median(map(_opm, untraced))),
        "op_cpu_s": (gmean(traced_cpu)
                     - statistics.median(map(gmean, untraced_cpu))),
        "ops_per_cpu_min": (_opm(traced_cpu)
                            - statistics.median(map(_opm, untraced_cpu))),
    }
    loads = [s for s in spans if s["layer"] == "tables"]
    if loads:
        d["tables.load_ms"] = 1e3 * _p50([s["dur_s"] for s in loads])
        d["tables.load_jobs"] = statistics.mean(s["jobs"] for s in loads)
        d["tables.load_calls"] = len(loads)
    per_query = {}
    for s in ops:
        if s.get("kind") in ("query",):
            ch = kids.get(s["id"], [])
            build = [c for c in ch if c["name"] == "Query.fn"]
            act = [c for c in ch if c["layer"] == "action"]
            per_query[s["name"]] = {
                "build_s": sum(c["dur_s"] for c in build),
                "build_jobs": sum(_total(c, kids, "jobs") for c in build),
                "action_s": sum(c["dur_s"] for c in act),
                "action_jobs": sum(_total(c, kids, "jobs") for c in act),
                "shuffle_mb": _total(s, kids, "shuffle_write_bytes") / MB,
            }
    if per_query:
        d["queries"] = per_query
    pipe = [s for s in spans if s["layer"] in ("pipeline", "catalog")]
    for name in sorted({s["name"] for s in pipe}):
        key = name.split(".", 1)[1]
        d[f"pipeline.{key}_s"] = _p50([s["dur_s"] for s in pipe
                                       if s["name"] == name])
    days = [s for s in ops if s.get("kind") == "day"]
    if days:
        d["pipeline.jobs_per_day"] = statistics.mean(
            _total(s, kids, "jobs") for s in days)
    landed = sum(o.get("raw_bytes", 0) for o in b.ops if o["pass"] == "traced")
    if landed:
        # every batch run of a day, re-runs included, reads its raw file
        read = sum(s["input_bytes"] for s in pipe if s["name"] in (
            "LaunchPipeline.validate_raw", "LaunchPipeline.transform"))
        d["pipeline.raw_read_amp"] = read / landed
    lake = getattr(b, "lake", None)
    if lake and lake["raw"][1]:
        d["lake.bytes_per_raw_byte"] = lake["gold"][1] / lake["raw"][1]
        if lake["days"]:
            d["pipeline.gold_files_per_partition"] = lake["gold"][0] / lake["days"]
        d["catalog.partitions"] = lake["partitions"]
    # spans that ran a stream to completion (transform_stream, streaming
    # queries); streams are attributed to the span that started them
    streams = [s for s in spans if s["stream_batches"]]
    if streams:
        batches = sum(s["stream_batches"] for s in streams)
        d["stream.batches"] = batches
        for k in ("trigger_ms", "add_batch_ms", "query_planning_ms",
                  "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms"):
            d[f"stream.{k}"] = sum(s[k] for s in streams) / batches
        d["stream.state_rows"] = sum(s["state_rows"] for s in streams)
        d["stream.state_mb"] = sum(s["state_bytes"] for s in streams) / MB
        d["stream.start_overhead_s"] = _p50(
            [s["dur_s"] - s["trigger_ms"] / 1e3 for s in streams])
    return d
