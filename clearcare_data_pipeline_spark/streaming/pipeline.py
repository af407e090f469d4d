"""Structured Streaming mode (SURVEY.md §7: Spark-native extension —
the reference is batch-only; its chunked loop becomes a file-arrival
stream).

* ``stream_clean``: canonical charges CSVs landing in a directory are
  cleaned/validated continuously; foreachBatch splits each micro-batch
  into clean + quarantine parquet sinks (the streaming analog of the
  reference's append-mode chunk loop, cleaning_utils.py:163-208). Each
  batch overwrites its own ``batch_id={id}`` directory, so a replayed
  batch rewrites its rows instead of appending them again.
* ``stream_event_window_counts``: watermarked tumbling-window counts
  over an event stream — late data beyond the watermark is dropped.

Global dedup is per-micro-batch here (the reference's chunk-local
dedup, D1 — exactly its semantics); cross-batch exact dedup would add
``dropDuplicatesWithinWatermark`` on a content fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from clearcare_data_pipeline_spark.pipeline import clean_charges
from clearcare_data_pipeline_spark.plans.rules import split_clean_quarantine, tag_violations
from clearcare_data_pipeline_spark.schema import CHARGES_RAW_SCHEMA


def stream_clean(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    raw = (
        spark.readStream.schema(CHARGES_RAW_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 16)
        .csv(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tagged = tag_violations(clean_charges(batch_df)).persist()
        try:
            clean, quarantine = split_clean_quarantine(tagged)
            clean.write.mode("overwrite").parquet(f"{output_dir}/clean/batch_id={batch_id}")
            quarantine.write.mode("overwrite").parquet(
                f"{output_dir}/quarantine/batch_id={batch_id}"
            )
        finally:
            tagged.unpersist()

    writer = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    return writer.trigger(availableNow=True).start()


def stream_event_window_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> StreamingQuery:
    """Watermarked tumbling-window counts over JSON event files
    (schema: ts timestamp, event_type string, value double)."""
    events = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .json(input_dir)
        .withWatermark("ts", watermark)
    )
    counts = (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    writer = (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def stream_dedup_events(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Streaming exact dedup on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark``): state for an id is kept only
    until the watermark passes it — the bounded-state streaming analog
    of batch dropDuplicates."""
    events = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string, value double")
        .json(input_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    writer = (
        events.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def stream_session_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Watermarked session-window aggregation per user: events closer
    than ``gap`` merge into one session; a session emits once the
    watermark passes its close (append mode). State per in-flight
    session only — the streaming twin of the batch sessionization
    query (queries/eventsops.py)."""
    events = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string, value double")
        .json(input_dir)
        .withWatermark("ts", watermark)
    )
    sessions = (
        events.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    writer = (
        sessions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()
