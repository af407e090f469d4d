"""Per-layer metrics of a traced run: the tracer's spans joined to the
Spark event log's job, stage, task-end and accumulator records.
Standard library only.

Every span that ran an action has its own job group; a stage carries
its job's group in the ``Properties`` of its StageSubmitted record, and
a task-end record carries its stage. So each job, stage and task is
charged to the layer of the span that started it. Jobs whose group is an
op span's own group were started by a call the tracer does not patch;
they are counted as ``trace.unattributed_jobs``.

A span's self time is its duration minus the part of it that its child
spans cover; a layer's ``wall_s`` is the self time of its spans and
``driver.self_s`` is the self time of the op spans (op time outside any
layer span). Counters are means per timed op, except the ``_after``
gauges, read once after the loop, and the ``trace.*`` values, which
describe the trace itself.
"""

from __future__ import annotations

import json
import os
import re
import statistics

LAYERS = (
    "sources.registry",
    "sources.extract",
    "etl.checkpoint",
    "pipeline",
    "etl.sinks",
    "plans.metrics",
    "queries.build",
    "queries.materialize",
)
LAYER_COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "failed_tasks": "count",
}
CROSS_COUNTERS = {
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "exchange.spill_bytes": "bytes",
    "python_boundary.tasks": "count",
    "python_boundary.bytes_sent": "bytes",
    "python_boundary.bytes_returned": "bytes",
    "driver.self_s": "s",
    "driver.actions": "count",
    "driver.persisted_rdds_after": "count",
    "driver.storage_mem_mb_after": "MB",
    "etl.sinks.bytes_written": "bytes",
    "trace.overhead_pct": "%",
    "trace.op_p50_s": "s",
    "trace.unattributed_jobs": "count",
    "trace.closure_max_err_s": "s",
}
OP_LAYER = "op"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
# Per op: layer self times plus driver.self_s must match the op's wall
# time, measured separately around the op call, within this tolerance.
CLOSURE_TOL_S = 0.005
CLOSURE_TOL_FRAC = 0.01


def metric_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in LAYER_COUNTERS.items()}
    units.update(CROSS_COUNTERS)
    return units


def read_events(log_dir: str):
    """Events of the one application logged under ``log_dir``, in order
    (plain or rolling ``eventlog_v2_*`` layout, uncompressed)."""
    files = []
    for d, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus"):
                continue
            m = re.match(r"events_(\d+)_", n)
            files.append((int(m.group(1)) if m else 0, os.path.join(d, n)))
    for _, path in sorted(files):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _acc(task_info: dict, name: str) -> int:
    return sum(
        int(a.get("Update") or 0) for a in task_info.get("Accumulables", []) if a.get("Name") == name
    )


def summarize(spans: list[dict], events, op_walls: dict[int, float]) -> dict[str, float]:
    """Per-op means of every layer and cross-cutting counter.

    ``spans`` are the tracer's span dicts (id, name, layer, start, end,
    parent, group); ``op_walls`` maps each op span's id to the wall time
    measured around the op call itself, for the closure check."""
    ops = [s for s in spans if s["layer"] == OP_LAYER]
    n_ops = len(ops) or 1
    selfs = self_times(spans)
    totals = {name: 0.0 for name in metric_units()}
    layer_of_group = {s["group"]: s["layer"] for s in spans if s.get("group")}

    for s in spans:
        if s["layer"] == OP_LAYER:
            totals["driver.self_s"] += selfs[s["id"]]
        else:
            key = f"{s['layer']}.wall_s"
            totals[key] = totals.get(key, 0.0) + selfs[s["id"]]
            if s.get("group"):
                totals["driver.actions"] += 1

    # closure: per op, its descendants' self times plus its own
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            by_parent.setdefault(s["parent"], []).append(s)
    worst = 0.0
    for op in ops:
        stack, total = [op], 0.0
        while stack:
            s = stack.pop()
            total += selfs[s["id"]]
            stack.extend(by_parent.get(s["id"], []))
        wall = op_walls.get(op["id"], op["end"] - op["start"])
        worst = max(worst, abs(total - wall))
    totals["trace.closure_max_err_s"] = worst

    stage_group: dict[int, str] = {}
    python_stages: set[int] = set()

    def counter(layer: str, name: str, value: float) -> None:
        key = f"{layer}.{name}"
        totals[key] = totals.get(key, 0.0) + value

    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            layer = layer_of_group.get(group)
            if layer == OP_LAYER:
                totals["trace.unattributed_jobs"] += 1
            elif layer:
                counter(layer, "jobs", 1)
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group in layer_of_group:
                stage_group[info["Stage ID"]] = group
            if any(r.get("Name") == "PythonRDD" for r in info.get("RDD Info", [])):
                python_stages.add(info["Stage ID"])
        elif ev == "SparkListenerStageCompleted":
            group = stage_group.get(e["Stage Info"]["Stage ID"])
            if group and layer_of_group[group] != OP_LAYER:
                counter(layer_of_group[group], "stages", 1)
        elif ev == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            layer = layer_of_group[group]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if layer != OP_LAYER:
                counter(layer, "tasks", 1)
                counter(layer, "executor_run_s", m.get("Executor Run Time", 0) / 1e3)
                counter(layer, "executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                counter(layer, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                reason = (e.get("Task End Reason") or {}).get("Reason")
                counter(layer, "failed_tasks", int(info.get("Failed", False) or reason != "Success"))
                if layer == "etl.sinks":
                    totals["etl.sinks.bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            totals["exchange.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            totals["exchange.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            totals["exchange.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            totals["exchange.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sent, returned = _acc(info, PY_SENT), _acc(info, PY_RETURNED)
            if e["Stage ID"] in python_stages or sent or returned:
                totals["python_boundary.tasks"] += 1
            totals["python_boundary.bytes_sent"] += sent
            totals["python_boundary.bytes_returned"] += returned

    per_op = {k: v / n_ops for k, v in totals.items()}
    per_op["trace.closure_max_err_s"] = worst
    per_op["trace.op_p50_s"] = statistics.median(op_walls.values()) if op_walls else 0.0
    return per_op


def closure_ok(metrics: dict, op_walls: dict[int, float]) -> bool:
    tol = max(CLOSURE_TOL_S, CLOSURE_TOL_FRAC * max(op_walls.values(), default=0.0))
    return metrics["trace.closure_max_err_s"] <= tol


def per_layer_metrics(rec: dict, log_dir: str) -> dict[str, tuple[float, str]]:
    """The traced run's per-layer metrics, as (value, unit) by name.
    Also records the spans' closure verdict in ``rec``."""
    tracer = rec["tracer"]
    spans = [s.to_dict() for s in tracer.spans]
    op_walls = {span.id: wall for span, wall in rec["op_spans"]}
    metrics = summarize(spans, read_events(log_dir), op_walls)
    metrics["driver.persisted_rdds_after"] = rec["persisted_rdds_after"]
    metrics["driver.storage_mem_mb_after"] = rec["storage_mem_mb_after"]
    op_time = sum(op_walls.values()) or 1.0
    metrics["trace.overhead_pct"] = 100.0 * tracer.overhead_s / op_time
    if not closure_ok(metrics, op_walls):
        rec["problems"].append(f"trace: self times miss op wall by {metrics['trace.closure_max_err_s']:.4f} s")
        rec["failed"] = max(rec["failed"], 1)
        rec["correct"] = False
    units = metric_units()
    return {name: (metrics.get(name, 0.0), unit) for name, unit in units.items()}
