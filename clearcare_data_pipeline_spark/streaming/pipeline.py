"""Structured Streaming mode (SURVEY.md §7: Spark-native extension —
the reference is batch-only; its chunked loop becomes a file-arrival
stream).

* ``stream_clean``: canonical charges CSVs landing in a directory are
  cleaned/validated continuously; foreachBatch splits each micro-batch
  into clean + quarantine parquet sinks (the streaming analog of the
  reference's append-mode chunk loop, cleaning_utils.py:163-208). Each
  batch overwrites its own ``batch_id={id}`` directory, so a replayed
  batch rewrites its rows instead of appending them again.

Global dedup is per-micro-batch here (the reference's chunk-local
dedup, D1 — exactly its semantics); cross-batch exact dedup would add
``dropDuplicatesWithinWatermark`` on a content fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

