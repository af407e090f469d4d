"""Bucketed tables for co-located (exchange-free) joins.

At 100 TB the dominant cost of a fact-fact join is the shuffle of both
sides. Writing the tables bucketed on the join key aligns partitions
at write time: Spark's planner then performs the join with NO Exchange
on the bucketed sides — each task joins bucket i against bucket i.
This is the pre-partitioning strategy the README's scale notes call
for; testable at any scale by asserting the physical plan has no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) managed table.
    Sorting within buckets additionally removes the join's Sort."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two tables bucketed on the same keys/bucket-count: the
    planner elides both Exchanges (verify with .explain)."""
    return spark.table(left_table).join(spark.table(right_table), on)
