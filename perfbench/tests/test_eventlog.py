"""The event-log reader and the span self-time closure.

    python3 -m pytest perfbench/tests -q

``data/`` holds one traced ETL op (tall MRF at sf0.001) and one traced
query op, recorded by ``record_eventlog.py``. No Spark is started here.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import (  # noqa: E402
    LAYERS,
    closure_ok,
    metric_units,
    read_events,
    self_times,
    summarize,
)
from spans import layer_for_action  # noqa: E402

DATA = os.path.join(HERE, "data")


def _fixture():
    with open(os.path.join(DATA, "spans.json")) as f:
        rec = json.load(f)
    walls = {int(k): v for k, v in rec["op_walls"].items()}
    return rec["spans"], list(read_events(os.path.join(DATA, "eventlog"))), walls


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 4.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at 10
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.5},
    ]
    assert self_times(spans) == {0: 6.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 1.0}


def test_layer_rule_for_etl_writes_and_reads():
    ckpt = "/out/extracted"
    assert layer_for_action("etl", "write", "/out/extracted/c1", ckpt) == "etl.checkpoint"
    assert layer_for_action("etl", "read", "/out/extracted/c1", ckpt) == "etl.checkpoint"
    assert layer_for_action("etl", "write", "/out/cleaned/c1", ckpt) == "etl.sinks"
    assert layer_for_action("etl", "read", "/out/cleaned/c1", ckpt) == "plans.metrics"
    assert layer_for_action("etl", "action", None, ckpt) == "plans.metrics"
    assert layer_for_action("sources.mrf", "action", None, ckpt) == "sources.extract"
    assert layer_for_action("operators.dedup", "action", None, ckpt) == "operators.dedup"
    assert layer_for_action(None, "action", None, ckpt) is None


def test_recorded_log_joins_every_job_to_a_layer():
    spans, events, walls = _fixture()
    m = summarize(spans, events, walls)
    groups = {s["group"] for s in spans if s.get("group")}
    traced_jobs = [
        e for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get("spark.jobGroup.id") in groups
    ]
    n_ops = len(walls)
    per_op_jobs = sum(m[f"{layer}.jobs"] for layer in LAYERS) + m["trace.unattributed_jobs"]
    assert per_op_jobs * n_ops == len(traced_jobs) > 0
    assert m["trace.unattributed_jobs"] == 0
    # the tall extractor's line index runs through Python workers
    assert m["python_boundary.tasks"] > 0
    for layer in ("sources.registry", "sources.extract", "etl.checkpoint", "pipeline",
                  "etl.sinks", "plans.metrics", "queries.build", "queries.materialize"):
        assert m[f"{layer}.wall_s"] > 0, layer
    assert m["etl.sinks.jobs"] * n_ops == 2  # clean and quarantine writes
    assert m["etl.checkpoint.jobs"] * n_ops == 2  # write, then the read-back schema
    assert m["etl.sinks.bytes_written"] > 0
    assert m["exchange.shuffle_write_bytes"] > 0
    assert set(m) <= set(metric_units())


def test_recorded_self_times_close_on_op_wall():
    spans, events, walls = _fixture()
    m = summarize(spans, events, walls)
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    for op_id, wall in walls.items():
        members = [s for s in spans if _root(s, by_id) == op_id]
        total = sum(selfs[s["id"]] for s in members)
        assert abs(total - (by_id[op_id]["end"] - by_id[op_id]["start"])) < 1e-9
        assert abs(total - wall) < 0.005
    assert closure_ok(m, walls)
    layer_sum = sum(m[f"{layer}.wall_s"] for layer in LAYERS) + m["driver.self_s"]
    assert abs(layer_sum * len(walls) - sum(walls.values())) < 0.005 * len(walls)


def test_closure_check_rejects_a_missing_span():
    spans, events, walls = _fixture()
    op_id = next(iter(walls))
    broken = {**walls, op_id: walls[op_id] + 1.0}  # a second nobody traced
    assert not closure_ok(summarize(spans, events, broken), broken)


def _root(span, by_id):
    while span["parent"] is not None:
        span = by_id[span["parent"]]
    return span["id"]
