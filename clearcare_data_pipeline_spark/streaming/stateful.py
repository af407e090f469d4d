"""Custom stateful streaming operator via ``applyInPandasWithState``.

Per-user running session statistics maintained as explicit state: for
every user, keep (event_count, total_value, last_ts) across
micro-batches and emit the updated row per batch. This is the pattern
the built-in windowed aggregations cannot express — arbitrary
user-defined state transitions with timeout handling — and the batch
kernel is a pandas function, Arrow-shipped per group.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("event_count", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_count", LongType()),
        StructField("total_value", DoubleType()),
        StructField("batch_events", LongType()),
    ]
)


def _make_update_user_state():
    """Kernel built as a closure so cloudpickle ships it BY VALUE —
    Python workers then need no importable copy of this package
    (a module-level function would pickle by reference)."""

    def update_user_state(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        batch_events = 0
        batch_value = 0.0
        for pdf in pdfs:
            batch_events += len(pdf)
            batch_value += float(pdf["value"].sum())
        if state.exists:
            count, total = state.get
        else:
            count, total = 0, 0.0
        count += batch_events
        total += batch_value
        state.update((count, total))
        yield pd.DataFrame(
            [
                {
                    "user_id": int(user_id),
                    "event_count": int(count),
                    "total_value": float(total),
                    "batch_events": int(batch_events),
                }
            ]
        )

    return update_user_state


def stream_user_running_totals(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(input_dir)
    updated = events.groupBy("user_id").applyInPandasWithState(
        _make_update_user_state(),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        updated.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


# --- transformWithState (Spark 4 successor API) --------------------------

try:  # pragma: no cover - needs Spark >= 4 AND a working protobuf
    # (the state-server protocol is protobuf-based on the Python side)
    import google.protobuf.descriptor  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _HAS_TWS = True
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment]
    _HAS_TWS = False

TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("running_max", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)


class RunningMaxProcessor(StatefulProcessor):
    """Typed-state per-user running maximum: ValueState survives across
    micro-batches; one row per user per batch carrying the running max
    and total events seen. transformWithState is the Spark 4
    replacement for applyInPandasWithState — explicit named state
    variables instead of one monolithic state tuple."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("agg", "mx double, n bigint")

    def handleInputRows(self, key, rows, timerValues):
        mx, n = None, 0
        if self._state.exists():
            mx, n = self._state.get()
        for pdf in rows:
            batch_max = float(pdf["value"].max())
            n += len(pdf)
            mx = batch_max if mx is None else max(mx, batch_max)
        self._state.update((mx, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "running_max": [mx], "n_seen": [n]}
        )

    def close(self) -> None:
        pass


def stream_running_max(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """transformWithStateInPandas pipeline over the JSON event feed."""
    if not _HAS_TWS:  # pragma: no cover
        raise NotImplementedError(
            "transformWithState requires Spark >= 4.0 and the protobuf package"
        )
    # transformWithState is implemented only on the RocksDB state store
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(input_dir)
    out = events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningMaxProcessor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="None",
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()
