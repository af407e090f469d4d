"""Watermarked stream-stream joins (bounded-state attribution).

The remaining Structured Streaming shape beyond the pipeline's
foreachBatch split, windowed aggregates, and applyInPandasWithState:
two unbounded inputs joined on key + time interval. Both sides carry
watermarks and the join predicate bounds the event-time distance, so
the state store retains each side only for (watermark + interval) —
the configuration that keeps a 100 TB/day dual-stream join's state
finite. Without the time bound Spark would have to buffer both
streams forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

IMPRESSION_SCHEMA = "ad_id STRING, imp_ts TIMESTAMP"
CLICK_SCHEMA = "ad_id STRING, click_ts TIMESTAMP"


def attribute_clicks(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    watermark: str = "10 minutes",
    attribution_window: str = "5 minutes",
) -> DataFrame:
    """Attribute each click to impressions of the same ad seen within
    ``attribution_window`` BEFORE the click (inner interval join)."""
    i = impressions.withWatermark("imp_ts", watermark).alias("i")
    c = clicks.withWatermark("click_ts", watermark).alias("c")
    cond = (
        (F.col("i.ad_id") == F.col("c.ad_id"))
        & (F.col("c.click_ts") >= F.col("i.imp_ts"))
        & (F.col("c.click_ts") <= F.col("i.imp_ts") + F.expr(f"INTERVAL {attribution_window}"))
    )
    return i.join(c, cond).select(
        F.col("i.ad_id").alias("ad_id"),
        F.col("i.imp_ts").alias("imp_ts"),
        F.col("c.click_ts").alias("click_ts"),
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    *,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: an unbounded fact stream joined
    to a bounded dimension — the standard lookup shape (events x user
    table, charges x hospital registry).

    Stream-static joins carry NO state store: Spark re-evaluates the
    static side per microbatch (so a dimension backed by a table picks
    up refreshes between batches, a key practical property). The
    dimension is broadcast, so it ships to every task and the stream
    side never shuffles — at 100 TB/day the fact stream stays
    partition-local. ``how`` is limited to Spark's supported stream-static modes
    ('inner', 'left' with the stream on the left)."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"stream-static join supports how in ('inner', 'left'), got {how!r}"
        )
    return stream.join(F.broadcast(dim), on, how)


def stream_click_attribution(
    spark: SparkSession,
    impressions_dir: str,
    clicks_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "10 minutes",
    attribution_window: str = "5 minutes",
) -> StreamingQuery:
    """File-source incarnation (JSON lines per event); availableNow so
    batch-mode tests and backfills drain the sources and stop."""
    imps = spark.readStream.schema(IMPRESSION_SCHEMA).json(impressions_dir)
    clicks = spark.readStream.schema(CLICK_SCHEMA).json(clicks_dir)
    joined = attribute_clicks(
        imps, clicks, watermark=watermark, attribution_window=attribution_window
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
