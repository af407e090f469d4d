"""Shared machinery for the raw-MRF extractors (SURVEY.md §2.1/§2.4).

All three physical layouts (tall CSV, wide CSV, nested JSON) normalize
into the canonical 22-column all-string charges table. CSV layouts
carry a 2-line metadata preamble (row 1 = keys, row 2 = values) before
the real header (tall_format_csv_extractor.pyc:66-71).

An extractor returns its *slots*: every emitted (code, type) slot in
canonical layout plus ``code_type_raw``, before the R3 allowed-type
gate. Both outputs derive from that one frame — the charges table
(``kept_charges``) and the unknown-type histogram
(``unknown_type_histogram``) — so a caller that materializes the slots
once (the ETL's extract checkpoint) gets both from one raw scan.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from clearcare_data_pipeline_spark.schema import (
    ALLOWED_CODE_TYPES,
    CANONICAL_COLUMNS,
)
from clearcare_data_pipeline_spark.functions.cleaning import normalize_code_type_expr


def read_preamble(spark: SparkSession, path: str) -> dict[str, str]:
    """S3: 2-line metadata preamble -> dict (driver-side; 2 rows)."""
    first_two = spark.sparkContext.textFile(path).take(2)
    rows = list(csv.reader(io.StringIO("\n".join(first_two))))
    if len(rows) < 2:
        return {}
    return dict(zip(rows[0], (rows[1] + [""] * len(rows[0]))[: len(rows[0])]))


def read_csv_after_preamble(spark: SparkSession, path: str) -> DataFrame:
    """S2/S4: scan the CSV body that starts at line 3 (header line).

    Spark CSV has no skip-rows option, so the file is line-indexed and
    the 2 preamble lines dropped before parsing. Assumes no embedded
    newlines inside quoted fields (the same line-based assumption the
    reference's ``pd.read_csv(skiprows=2)`` makes). At production
    scale the extract stage would strip preambles on landing instead.
    """
    lines = spark.sparkContext.textFile(path)
    body = lines.zipWithIndex().filter(lambda t: t[1] >= 2).map(lambda t: t[0])
    df = spark.read.option("header", True).csv(body)
    # P3: blank-fill; P1: header normalize is NOT applied here — raw
    # source column names (with '|') are semantic for the extractors.
    return df.na.fill("")


def explode_code_slots(df: DataFrame, available_cols: list[str]) -> DataFrame:
    """X1: one output row per valid (code, type) slot; blank slots
    skipped; raw type normalized (F7) and gated to the allowed set
    (R3). Adds ``code``, ``code_type``, ``code_type_raw`` columns.
    Slots absent from the source schema contribute nothing."""
    slots = [
        F.struct(
            F.col(f"`code|{i}`").alias("code"),
            F.col(f"`code|{i}|type`").alias("raw_type"),
        )
        for i in range(1, 5)
        if f"code|{i}" in available_cols and f"code|{i}|type" in available_cols
    ]
    df = df.withColumn("_slot", F.explode(F.array(*slots)))
    df = df.where((F.col("_slot.code") != "") & (F.col("_slot.raw_type") != ""))
    df = df.withColumn("code", F.col("_slot.code")).withColumn(
        "code_type_raw", F.col("_slot.raw_type")
    )
    df = df.withColumn("code_type", normalize_code_type_expr(F.col("code_type_raw")))
    return df.drop("_slot")


def allowed_type() -> Column:
    """R3 keep predicate on the normalized code type; an unmapped
    (NULL) type is not allowed."""
    return F.coalesce(F.col("code_type").isin(ALLOWED_CODE_TYPES), F.lit(False))


def finalize_canonical(df: DataFrame, hospital_name: str = "", zip_code: str = "") -> DataFrame:
    """Project to the canonical 22 columns in order, plus
    ``code_type_raw``, filling the registry-sourced identity columns
    and defaulting absences to ''."""
    out = df
    if "hospital_name" not in out.columns:
        out = out.withColumn("hospital_name", F.lit(hospital_name))
    if "zip_code" not in out.columns:
        out = out.withColumn("zip_code", F.lit(zip_code))
    for c in CANONICAL_COLUMNS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit("").cast(StringType()))
    return out.select(*CANONICAL_COLUMNS, "code_type_raw")


def kept_charges(slots: DataFrame) -> DataFrame:
    """R3: the canonical charges table, i.e. the slots whose normalized
    type is allowed."""
    return slots.where(allowed_type()).select(*CANONICAL_COLUMNS)


def unknown_type_keys(slots: DataFrame) -> DataFrame:
    """Devlog A3 keys: one row per slot R3 rejected, holding its raw
    type upper-cased and trimmed."""
    return slots.where(~allowed_type()).select(
        F.upper(F.trim(F.col("code_type_raw"))).alias("raw_code_type")
    )


def unknown_type_histogram(slots: DataFrame) -> DataFrame:
    """Devlog A3: (raw_code_type, n) over the slots R3 rejected."""
    return unknown_type_keys(slots).groupBy("raw_code_type").agg(F.count(F.lit(1)).alias("n"))


@dataclass
class ExtractResult:
    slots: DataFrame  # every emitted slot: canonical columns + code_type_raw, before R3
    metadata: dict[str, str]

    @property
    def charges(self) -> DataFrame:
        return kept_charges(self.slots)

    @property
    def unknown_types(self) -> DataFrame:
        """(raw_code_type, n) — devlog A3."""
        return unknown_type_histogram(self.slots)
