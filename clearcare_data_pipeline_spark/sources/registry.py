"""Hospital-registry dimension (SURVEY.md §2 S5/S6, J1/J4, K6).

The reference keeps the registry as an Excel workbook rewritten in
place; here it is a parquet-backed dimension table, or the reference's
native ``.xlsx``. It is broadcast-scale by construction (one row per
hospital campus), so a campus run keeps it on the driver like the
devlog: ``registry_snapshot`` reads it with pyarrow (or the stdlib
workbook reader) and ``upsert_campus`` rewrites the whole table the
same way, with no Spark job — the analog of the reference's
read-modify-write workbook cycle (a production deployment would use
Delta MERGE). ``load_registry`` is the DataFrame view of the snapshot.

A rewrite never leaves a half-written registry. The workbook is
written to a temp file and swapped in with ``os.replace``. A parquet
directory cannot be replaced in one rename, so the new table is written
to ``<path>.tmp``, the live directory is renamed to ``<path>.old``, the
new one renamed to ``<path>``, and ``<path>.old`` removed; a reader that
finds no ``<path>`` reads ``<path>.old``, the table as it was before
the interrupted rewrite.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from clearcare_data_pipeline_spark.schema import REGISTRY_COLUMNS, REGISTRY_SCHEMA
from clearcare_data_pipeline_spark.sources.xlsx import read_xlsx, write_xlsx

_ARROW_SCHEMA = pa.schema([(c, pa.string()) for c in REGISTRY_COLUMNS])


class CampusNotFound(KeyError):
    pass


def _is_xlsx(path: str) -> bool:
    return path.lower().endswith((".xlsx", ".xlsm"))


def registry_snapshot(path: str) -> dict[str, dict]:
    """campus_id -> registry row (a dict over ``REGISTRY_COLUMNS``),
    read on the driver. A ``.xlsx`` path reads the reference's native
    workbook (hospital_enricher.py:174-186 layout, ``pd.read_excel(...,
    sheet_name='Sheet1')``, cleaning_utils.py:57), columns matched by
    header name: missing ones come back None, extra ones are ignored.
    Anything else reads the parquet dimension, from ``path.old`` when a
    rewrite stopped between its two renames. A campus run takes one
    snapshot and hands it to both ``lookup_campus`` and
    ``upsert_campus``, so the registry is read once per campus. The
    upsert then rewrites the registry as it was when the run began plus
    this campus's row: that is safe for one writer at a time only."""
    rows: list[dict] = []
    if _is_xlsx(path):
        if os.path.exists(path):
            header, cells = read_xlsx(path, sheet_name="Sheet1")
            pos = {h: i for i, h in enumerate(header)}
            rows = [{c: r[pos[c]] if c in pos else None for c in REGISTRY_COLUMNS} for r in cells]
    else:
        live = next((p for p in (path, path + ".old") if os.path.exists(p)), None)
        if live is not None:
            rows = pq.read_table(live, schema=_ARROW_SCHEMA).to_pylist()
    return {r["campus_id"]: r for r in rows}


def load_registry(spark: SparkSession, path: str) -> DataFrame:
    """The ``registry_snapshot`` of ``path`` as a DataFrame, so a
    ClearCare user can point it at their existing ``Hospital
    Registry.xlsx`` unchanged. It is built from an Arrow table, which
    the JVM reads without a Python worker."""
    rows = list(registry_snapshot(path).values())
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), REGISTRY_SCHEMA)


def lookup_campus(registry: dict[str, dict], campus_id: str) -> dict:
    """S6/J1: point lookup in a ``registry_snapshot``; error if absent
    (cleaning_utils.py:56-66)."""
    row = registry.get(campus_id)
    if row is None:
        raise CampusNotFound(f"campus_id {campus_id!r} not found in registry")
    return row


def upsert_campus(
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
    rows = list(current.values())
    if _is_xlsx(path):
        write_xlsx(path, list(REGISTRY_COLUMNS), [[r[c] for c in REGISTRY_COLUMNS] for r in rows])
    else:
        _replace_parquet(path, pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA))


def _replace_parquet(path: str, table: pa.Table) -> None:
    """Make ``table`` the parquet registry at ``path`` (see the module
    docstring for why every interrupted step reads back whole)."""
    tmp, old = path + ".tmp", path + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-0.parquet"))
    if os.path.exists(path):
        # a leftover .old is stale only while path is live
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
