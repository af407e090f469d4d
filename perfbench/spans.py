"""Spans and Spark job groups for the traced run.

A span is (id, name, layer, start, end, parent). The benchmark opens one
span per op (and, for queries, one per build and one per materialize);
the tracer adds one span per PySpark action or write called inside an
op. Each action span runs under its own Spark job group, so the event
log's jobs, stages and tasks can be joined back to it
(``eventlog.per_layer_metrics``).

An action's layer comes from the innermost stack frame inside the
package, not from the benchmark's knowledge of ``run_etl``'s body, so
the attribution follows the code when it is refactored. Nothing here is
active in the timed (untraced) run.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "clearcare_data_pipeline_spark"

# Package module -> layer. A module missing here is its own layer (its
# dotted name under the package), so new code shows up instead of
# vanishing into another layer.
LAYER_OF_MODULE = {
    "sources.registry": "sources.registry",
    "sources.mrf": "sources.extract",
    "sources.extract_tall": "sources.extract",
    "sources.extract_wide": "sources.extract",
    "sources.extract_json": "sources.extract",
    "pipeline": "pipeline",
    "plans.rules": "pipeline",
    "functions.cleaning": "pipeline",
    "plans.metrics": "plans.metrics",
}

# Phase spans whose layer every action inside them inherits: a query's
# eager build-time actions are build cost whichever operator runs them.
INHERITING_LAYERS = ("queries.build", "queries.materialize")

# (owner path, method, kind). "write" and "read" calls carry a target
# path; a read runs a job when it infers a schema.
ACTIONS = [
    ("pyspark.sql.classic.dataframe.DataFrame", "collect", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "first", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "head", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "count", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "take", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "toPandas", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "localCheckpoint", "action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "isEmpty", "action"),
    ("pyspark.rdd.RDD", "collect", "action"),
    ("pyspark.rdd.RDD", "take", "action"),
    ("pyspark.rdd.RDD", "count", "action"),
    ("pyspark.rdd.RDD", "zipWithIndex", "action"),
    ("pyspark.sql.readwriter.DataFrameWriter", "save", "write"),
    ("pyspark.sql.readwriter.DataFrameWriter", "parquet", "write"),
    ("pyspark.sql.readwriter.DataFrameReader", "parquet", "read"),
    ("pyspark.sql.readwriter.DataFrameReader", "csv", "read"),
    ("pyspark.sql.readwriter.DataFrameReader", "json", "read"),
]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    group: str | None = None

    def to_dict(self) -> dict:
        return asdict(self)


def _resolve(path: str):
    module, _, attr = path.rpartition(".")
    return getattr(sys.modules.get(module) or __import__(module, fromlist=[attr]), attr)


def layer_for_action(sub: str | None, kind: str, target: str | None, checkpoint_dir: str) -> str | None:
    """Layer of one action from its innermost package module ``sub``
    (dotted, relative to the package). In ``etl``, a write or read of
    the extract checkpoint is ``etl.checkpoint``, any other write is
    ``etl.sinks``, and any other action feeds the devlog's metrics."""
    if sub is None:
        return None
    if sub == "etl":
        inside = target is not None and os.path.abspath(target).startswith(checkpoint_dir + os.sep)
        if inside:
            return "etl.checkpoint"
        return "etl.sinks" if kind == "write" else "plans.metrics"
    return LAYER_OF_MODULE.get(sub, sub)


class Tracer:
    """Records spans in memory and sets one Spark job group per action
    span. ``install`` patches the PySpark methods in ``ACTIONS``;
    ``uninstall`` restores them."""

    def __init__(self, spark, checkpoint_dir: str = "") -> None:
        self.sc = spark.sparkContext
        self.checkpoint_dir = os.path.abspath(checkpoint_dir) if checkpoint_dir else ""
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._in_action = False
        self._saved: list[tuple[type, str, object]] = []

    # --- spans --------------------------------------------------------
    def _open(self, name: str, layer: str, group: bool) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, layer, time.perf_counter(), None, parent)
        if group:
            span.group = f"perfbench-{os.getpid()}-{span.id}"
            self.sc.setJobGroup(span.group, f"{layer}: {name}")
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        # jobs after this span belong to the nearest enclosing group
        outer = next((s.group for s in reversed(self._stack) if s.group), None)
        if span.group:
            if outer:
                self.sc.setJobGroup(outer, "perfbench")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, layer: str, group: bool = False):
        """A benchmark span. ``group=True`` gives it a job group, so a
        job started by an unpatched call inside it stays attributable
        (to this span, as unattributed work)."""
        t0 = time.perf_counter()
        span = self._open(name, layer, group)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            self._close(span)
            self.overhead_s += time.perf_counter() - t1

    # --- action patching ---------------------------------------------
    def _innermost_package_module(self) -> str | None:
        f = sys._getframe(3)
        while f is not None:
            mod = f.f_globals.get("__name__", "")
            if mod.startswith(PACKAGE + "."):
                return mod[len(PACKAGE) + 1 :]
            f = f.f_back
        return None

    def _action_layer(self, kind: str, args, kwargs) -> str:
        phase = self._stack[-1].layer
        if phase in INHERITING_LAYERS:
            return phase
        target = kwargs.get("path", args[0] if args else None) if kind != "action" else None
        layer = layer_for_action(
            self._innermost_package_module(), kind,
            target if isinstance(target, str) else None, self.checkpoint_dir,
        )
        return layer or "bench"  # called by the benchmark itself

    def _wrap(self, orig, label: str, kind: str):
        tracer = self

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            if tracer._in_action or not tracer._stack:
                return orig(obj, *args, **kwargs)
            t0 = time.perf_counter()
            span = tracer._open(label, tracer._action_layer(kind, args, kwargs), group=True)
            tracer._in_action = True
            tracer.overhead_s += time.perf_counter() - t0
            try:
                return orig(obj, *args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._in_action = False
                tracer._close(span)
                tracer.overhead_s += time.perf_counter() - t1

        return traced

    def install(self) -> None:
        for owner_path, attr, kind in ACTIONS:
            owner = _resolve(owner_path)
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, f"{owner.__name__}.{attr}", kind))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
