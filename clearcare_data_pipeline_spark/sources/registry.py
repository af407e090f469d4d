"""Hospital-registry dimension (SURVEY.md §2 S5/S6, J1/J4, K6).

The reference keeps the registry as an Excel workbook rewritten in
place; here it is a parquet-backed dimension table. It is
broadcast-scale by construction (one row per hospital campus), so
point lookups collect on the driver and upserts rewrite the whole
dimension — the Spark analog of the reference's read-modify-write
workbook cycle (a production deployment would use Delta MERGE).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from clearcare_data_pipeline_spark.schema import REGISTRY_COLUMNS, REGISTRY_SCHEMA


class CampusNotFound(KeyError):
    pass


def empty_registry(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], REGISTRY_SCHEMA)


def _is_xlsx(path: str) -> bool:
    return path.lower().endswith((".xlsx", ".xlsm"))


def load_registry(spark: SparkSession, path: str) -> DataFrame:
    """Format-dispatching load: a ``.xlsx`` path reads the reference's
    native workbook layout, anything else the parquet dimension — so a
    ClearCare user can point run_etl at their existing
    ``Hospital Registry.xlsx`` unchanged."""
    if _is_xlsx(path):
        return load_registry_xlsx(spark, path)
    if not os.path.exists(path):
        return empty_registry(spark)
    # the schema is known, so no job runs to infer it from the footers
    return spark.read.schema(REGISTRY_SCHEMA).parquet(path)


def registry_snapshot(spark: SparkSession, path: str) -> dict[str, dict]:
    """campus_id -> registry row (as a dict), from one collect. A
    campus run takes one snapshot and hands it to both
    ``lookup_campus`` and ``upsert_campus``, so the registry is read
    once per campus. The upsert then rewrites the registry as it was
    when the run began plus this campus's row: like the whole-directory
    overwrite itself, that is safe for one writer at a time only."""
    return {r["campus_id"]: r.asDict() for r in load_registry(spark, path).collect()}


def load_registry_xlsx(spark: SparkSession, path: str, sheet_name: str = "Sheet1") -> DataFrame:
    """S5 (native format): ingest a real ClearCare ``Hospital
    Registry.xlsx`` (hospital_enricher.py:174-186 column layout, read
    by the reference as ``pd.read_excel(..., sheet_name='Sheet1')``,
    cleaning_utils.py:57). Columns are matched by header name; columns
    the workbook lacks come back NULL, extra columns are ignored."""
    from clearcare_data_pipeline_spark.sources.xlsx import read_xlsx

    if not os.path.exists(path):
        return empty_registry(spark)
    header, rows = read_xlsx(path, sheet_name=sheet_name)
    pos = {h: i for i, h in enumerate(header)}
    data = [
        tuple(row[pos[c]] if c in pos else None for c in REGISTRY_COLUMNS)
        for row in rows
    ]
    return spark.createDataFrame(data, REGISTRY_SCHEMA)


def save_registry_xlsx(df: DataFrame, path: str, sheet_name: str = "Sheet1") -> None:
    """K6 (native format): rewrite the registry workbook in place the
    way ``ETL_pipeline.py:49`` does (``to_excel(..., index=False)``) —
    full-sheet rewrite in canonical column order."""
    from clearcare_data_pipeline_spark.sources.xlsx import write_xlsx

    rows = [
        [None if r[c] is None else str(r[c]) for c in REGISTRY_COLUMNS]
        for r in df.select(*REGISTRY_COLUMNS).collect()
    ]
    write_xlsx(path, list(REGISTRY_COLUMNS), rows, sheet_name=sheet_name)


def lookup_campus(registry: dict[str, dict], campus_id: str) -> dict:
    """S6/J1: point lookup in a ``registry_snapshot``; error if absent
    (cleaning_utils.py:56-66)."""
    row = registry.get(campus_id)
    if row is None:
        raise CampusNotFound(f"campus_id {campus_id!r} not found in registry")
    return row


def upsert_campus(
    spark: SparkSession,
    path: str,
    campus_id: str,
    updates: dict[str, str],
    snapshot: dict[str, dict],
) -> None:
    """K6: merge ``updates`` into the campus row (insert if new) and
    rewrite ``path``. ``snapshot`` is the caller's ``registry_snapshot``
    of ``path``."""
    bad = set(updates) - set(REGISTRY_COLUMNS)
    if bad:
        raise ValueError(f"unknown registry columns: {sorted(bad)}")
    current = dict(snapshot)
    row = dict(current.get(campus_id) or {c: None for c in REGISTRY_COLUMNS})
    row["campus_id"] = campus_id
    row.update({k: (None if v is None else str(v)) for k, v in updates.items()})
    current[campus_id] = row
    out = spark.createDataFrame(
        [tuple(r[c] for c in REGISTRY_COLUMNS) for r in current.values()], REGISTRY_SCHEMA
    )
    if _is_xlsx(path):
        save_registry_xlsx(out, path)
    else:
        out.write.mode("overwrite").parquet(path)
