"""Loaders for the driver-provided synthetic parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.schema import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Dimension tables stay un-repartitioned: they are broadcast-join sides
# and a shuffle would only add cost.
_DIM_TABLES = {"region", "nation", "customer", "supplier", "part"}

# Parquet schema memo (r13): without a user-supplied schema every
# spark.read.parquet runs a footer-inference JOB, so each query build
# paid one job per table load on every bench run (q5 touches 6 tables
# = 6 jobs before any work). Caching the inferred StructType and
# passing it back via .schema(...) skips that job on every load after
# the first — exactly what a catalog/metastore does. This memoizes
# METADATA only; every execution still scans the parquet files.
# One entry per path, holding the stat key the schema was inferred
# under (ADVICE r13 #2: a bare path key served a stale schema when a
# fixture was regenerated in place); a changed key re-infers and
# replaces the entry, so the memo never grows past one entry per
# table. The stat calls cost microseconds, noise next to the ~100 ms
# inference job they replace.
_SCHEMA_CACHE: dict[str, tuple[tuple, object]] = {}


def _stat_key(path: str) -> tuple | None:
    """(mtime, size) of a single-file table. A directory-style table
    also folds in its newest file mtime: rewriting a part file in place
    leaves the directory's own mtime unchanged. None if the path cannot
    be stat'ed (nothing is memoized then)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        newest = max(
            (os.stat(os.path.join(d, f)).st_mtime_ns
             for d, _dirs, files in os.walk(path) for f in files),
            default=0,
        )
        return (st.st_mtime_ns, st.st_size, newest)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one synthetic table. Explicit parquet (not
    inferred CSV) keeps pushdown + column pruning available.

    Small-scan rebalancing: the test fixtures are single-row-group
    parquet files, which are unsplittable — one task would execute
    every downstream projection. When a fact-table scan yields fewer
    partitions than the session parallelism, redistribute once up
    front (a few-MB shuffle) so per-row operators use every core. On
    real multi-file/multi-row-group data the scan already has
    >= parallelism splits and this is a no-op.
    """
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark cannot
        # read natively; read nanos as LONG and truncate to
        # microseconds (same truncation DuckDB applies casting
        # TIMESTAMP_NS -> TIMESTAMP).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _stat_key(path)
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None and cached[0] == key:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[path] = (key, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if name not in _DIM_TABLES:
        parallelism = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < min(parallelism, 16):
            df = df.repartition(parallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view so SQL-expressed plans can
    name them (same names the DuckDB oracle uses)."""
    for name in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw text ingestion: one document per line (the common one-doc-
    per-line corpus dump). Adds a stable ``doc_id`` derived from
    (file, line content) — deterministic across re-runs and
    repartitioning, unlike monotonically_increasing_id. Identical
    lines in the same file collapse to the same id, which downstream
    exact-dedup would do anyway."""
    raw = spark.read.text(path)
    return raw.select(
        F.xxhash64(F.input_file_name(), F.col("value")).alias("doc_id"),
        F.col("value").alias("text"),
    ).where(F.length(F.trim("text")) > 0)
