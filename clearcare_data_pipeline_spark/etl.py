"""End-to-end ETL orchestration (SURVEY.md §3 lifecycle).

The Spark re-expression of ``ETL_pipeline.py``: registry lookup ->
format dispatch -> extract -> (parquet checkpoint) -> clean/validate/
score -> sinks (clean, quarantine, devlog) -> registry upsert.

The reference's file-based IR between stages is preserved as parquet
checkpoints: extraction output is materialized before cleaning (the
same boundary the reference crosses via
``data/extracted data/{system}/{campus_id}_extracted.csv``). The
checkpoint holds the extractor's slots before the R3 allowed-type gate,
so both the charges table and the devlog's unknown-type histogram come
from the one scan of the raw file.

A campus is one pass and runs no Python worker. Spark jobs per campus,
from the event log of a traced run at sf0.01 (``perfbench``'s tracer,
4 local cores), tall / JSON / wide: multi-pass, then with the devlog
folded into the cleaning aggregate, then with the registry on the
driver and the CSV preamble read in the JVM (the benchmark runs no wide
campus; that column is one campus's job-group count, split by layer
from the tall one's). The last two rows count the py4j round trips
the campus's thread sends on a warm JVM at sf0.01, before and after the
campus-invariant Columns were built once per gateway
(``session.gateway_cache``); py4j's finalizer thread adds its handle
deletes on top (about 1,900 / 2,100 / 2,200 before, 210 / 180 / 330
after). The wide file's melt is still built from its own header, one
struct per payer column:

=======================  ============  ============  ======================
layer                    multi-pass    one pass      no Python
=======================  ============  ============  ======================
registry                 5 / 5 / 5     2 / 2 / 2     0 / 0 / 0
extract                  3 / 2 / 3     3 / 2 / 3     1 / 2 / 1
extract checkpoint       2 / 2 / 3     1 / 1 / 2     1 / 1 / 2
cleaning aggregate       4 / 4 / 4     4 / 4 / 4     4 / 4 / 4
clean+quarantine sinks   2 / 2 / 2     2 / 2 / 2     2 / 2 / 2
devlog                   11 / 10 / 11  2 / 2 / 2     2 / 2 / 2
total                    27 / 25 / 28  14 / 13 / 15  10 / 11 / 11
round trips, before                                  9,032 / 9,697 / 11,097
round trips, after                                   628 / 578 / 1,641
=======================  ============  ============  ======================

* registry: one snapshot, read on the driver with pyarrow (or the
  stdlib workbook reader), serves the lookup and the upsert, which
  writes the table back the same way (``sources/registry.py``).
* extract: one action collects a CSV file's preamble and header; the
  body is parsed by ``from_csv`` in the scan's own plan
  (``sources/mrf.read_mrf_csv``).
* checkpoint: the read-back is given the written schema.
* devlog: field presence (A1) and the code-type histogram (A2) are
  columns of the cleaning aggregate; modifier tokens (A6) and unknown
  raw types (A3) share one group-by; missing types (A4) are derived
  from A2 on the driver. The multi-pass devlog re-read the clean sink
  for four actions and scanned the raw file a second time for A3.

The one cached frame is the cleaning pipeline's tagged plan. ``run_etl``
owns its lifetime: ``run_cleaning_pipeline`` persists it on entry to
the ``with`` block that writes both sinks and collects the keyed
counts, and unpersists it when the block exits, on success or failure.
The devlog is written after the cache is released, atomically (temp
file + ``os.replace``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.pipeline import run_cleaning_pipeline
from clearcare_data_pipeline_spark.plans import metrics as M
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS, REFERENCE_HEADERS
from clearcare_data_pipeline_spark.sources.extract_json import extract_json
from clearcare_data_pipeline_spark.sources.extract_tall import extract_tall
from clearcare_data_pipeline_spark.sources.extract_wide import extract_wide
from clearcare_data_pipeline_spark.sources.mrf import kept_charges, unknown_type_keys
from clearcare_data_pipeline_spark.sources.registry import lookup_campus, registry_snapshot, upsert_campus

# C1: format dispatch (ETL_pipeline.py:19-38)
EXTRACTOR_DISPATCH = {
    "json": extract_json,
    "tall csv": extract_tall,
    "wide csv": extract_wide,
}


@dataclass
class EtlResult:
    campus_id: str
    clean_path: str
    quarantine_path: str
    devlog_path: str
    score: float
    clean_rows: int
    quarantined_rows: int


def run_etl(
    spark: SparkSession,
    *,
    campus_id: str,
    raw_path: str,
    registry_path: str,
    output_dir: str,
    user: str = "spark",
) -> EtlResult:
    registry = registry_snapshot(registry_path)
    campus = lookup_campus(registry, campus_id)
    fmt = (campus["structure"] or "").lower()
    if fmt not in EXTRACTOR_DISPATCH:
        raise ValueError(f"Unsupported format {fmt!r}; expected one of {sorted(EXTRACTOR_DISPATCH)}")

    # --- extract phase + checkpoint (file IR, reference parity) ------
    extracted = EXTRACTOR_DISPATCH[fmt](
        spark,
        raw_path,
        hospital_name=campus["hospital_name"] or "",
        zip_code=campus["zip_code"] or "",
    )
    extracted_path = os.path.join(output_dir, "extracted", campus_id)
    extracted.slots.write.mode("overwrite").parquet(extracted_path)
    slots = spark.read.schema(extracted.slots.schema).parquet(extracted_path)

    # --- clean phase: tagged is cached only inside this block --------
    clean_path = os.path.join(output_dir, "cleaned", campus_id)
    quarantine_path = os.path.join(output_dir, "quarantine", campus_id)
    with run_cleaning_pipeline(kept_charges(slots)) as result:
        result.clean.write.mode("overwrite").parquet(clean_path)
        result.quarantine.write.mode("overwrite").parquet(quarantine_path)
        keyed = M.keyed_counts({
            "modifier_counts": M.modifier_tokens(result.clean),
            "unknown_code_types": unknown_type_keys(slots),
        })

    # --- devlog (K5): one JSON document of run metrics ---------------
    now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    devlog = {
        "campus_id": campus_id,
        "processed_by": user,
        "processed_on": now,
        "source_format": fmt,
        "source_metadata": extracted.metadata,
        "field_presence": result.field_presence,
        "code_type_histogram": result.code_type_histogram,
        "unknown_code_types": keyed["unknown_code_types"],
        "missing_code_types": M.missing_code_types(result.code_type_histogram),
        "modifier_counts": keyed["modifier_counts"],
        "rule_violation_counts": result.rule_counts,
        "algorithm_format_issues": result.algorithm_format_issues,
        "clean_rows": result.clean_rows,
        "quarantined_rows": result.quarantined_rows,
        "transparency_score": result.score,
    }
    devlog_path = os.path.join(output_dir, "devlogs", f"{campus_id}.json")
    _append_devlog(devlog_path, devlog)

    # --- registry update phase (J4/K6) -------------------------------
    upsert_campus(
        registry_path,
        campus_id,
        {
            "etl_status": "processed",
            "processed_by": user,
            "last_processed_on": now,
            "transparency_score": f"{result.score:.6f}",
            "issues_encountered": str(result.quarantined_rows),
            "file_format": fmt,
        },
        snapshot=registry,
    )

    return EtlResult(
        campus_id=campus_id,
        clean_path=clean_path,
        quarantine_path=quarantine_path,
        devlog_path=devlog_path,
        score=result.score,
        clean_rows=result.clean_rows,
        quarantined_rows=result.quarantined_rows,
    )


def _append_devlog(path: str, entry: dict) -> None:
    """Append ``entry`` to the campus devlog, a JSON list. The new list
    goes to a temp file beside it and is swapped in with ``os.replace``
    (atomic on POSIX), so a failure mid-write leaves the previous
    devlog intact."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    entries = []
    if os.path.exists(path):
        with open(path) as f:
            entries = json.load(f)
    entries.append(entry)
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=2, default=str)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def export_reference_csv(df, path: str) -> None:
    """K1/K2: export canonical parquet back to the reference's exact
    CSV layout (space-separated headers, every field quoted)."""
    out = df
    for canon, ref in zip(CANONICAL_COLUMNS, REFERENCE_HEADERS):
        out = out.withColumnRenamed(canon, ref)
    (
        out.select(*[F.col(f"`{h}`").cast("string") for h in REFERENCE_HEADERS])
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
