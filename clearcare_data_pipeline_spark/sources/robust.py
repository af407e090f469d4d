"""Parse-level ingestion robustness.

``read_csv_with_quarantine`` — the malformed-record pattern every
production CSV feed needs: PERMISSIVE mode parks unparseable lines in
``_corrupt_record`` instead of failing the job or silently dropping
them; the reader splits parsed rows from quarantined raw lines so the
pipeline can load what's good and audit what's not (parse-level
counterpart of the rule-level quarantine in plans/rules.py).

``read_binary_blobs`` — the multimodal ingestion front door:
``binaryFile`` scans image/audio/video files into (path, length,
content) rows that feed the mapInPandas feature extractors in
operators/multimodal.py. Spark distributes file reads across
executors; nothing driver-side.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


@contextmanager
def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Yields (parsed, quarantined) from a CSV with a header line.
    ``schema_ddl`` is the expected schema; lines that fail to parse
    land in the quarantine frame with their raw text. Both frames are
    filters over one cached parse, never collected; the cache lives
    for the ``with`` block and is released when the block exits, on
    success or failure (both frames then recompute from the file)."""
    full_schema = f"{schema_ddl}, {CORRUPT_COL} string"
    raw = (
        spark.read.schema(full_schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
        # Spark requires caching or a barrier to reference the corrupt
        # column in filters (SPARK-38523); a projection materializes it.
        .cache()
    )
    try:
        parsed = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        quarantined = raw.where(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw_line")
        )
        yield parsed, quarantined
    finally:
        raw.unpersist()


def read_binary_blobs(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """Distributed binary-file scan: one row per file with (path,
    modificationTime, length, content). Feed ``content`` to the
    multimodal Pandas-UDF extractors."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
