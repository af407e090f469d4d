"""Wide-CSV MRF extractor (SURVEY.md §2 S4, P5, X2 — the hard one).

Wide layout: one row per charge item; payer-specific values are
encoded in COLUMN NAMES in two accepted shapes
(wide_format_csv_extractor.pyc:89-91,105-108):

* 3-part, field first:  ``{field}|{payer}|{plan}``
* >=4-part, field last: ``standard_charge|{payer}|{plan}|{field}``

The reference melts every payer cell into a Python dict keyed by
(code, code_type, payer, plan) with last-write-wins, then re-emits one
row per key merged with the row-level fields. Spark-first
re-expression:

  column classification (driver-side schema work, P5)
  -> melt via explode of a struct array built FROM the schema
  -> explode code slots (X1)
  -> groupBy(code, code_type, payer, plan) with max_by(value, row_id)
     per field  == deterministic last-write-wins in source-row order.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.text import notes_concat
from clearcare_data_pipeline_spark.session import gateway_cache
from clearcare_data_pipeline_spark.sources.mrf import (
    ExtractResult,
    allowed_type,
    explode_code_slots,
    finalize_canonical,
    read_mrf_csv,
)

# P5: payer-level field name -> canonical column
STANDARD_CHARGE_PREFIXES: dict[str, str] = {
    "negotiated_dollar": "negotiated_price",
    "negotiated_percentage": "negotiated_percentage",
    "negotiated_algorithm": "negotiated_algorithm",
    "estimated_amount": "estimated_amount",
    "methodology": "negotiated_methodology",
    "additional_payer_notes": "_payer_notes",  # merged with generic notes (F11)
}

# Row-level (non-payer) source columns -> canonical
WIDE_ROW_MAP: dict[str, str] = {
    "description": "description",
    "standard_charge|gross": "gross_charge",
    "standard_charge|discounted_cash": "discounted_cash_price",
    "standard_charge|min": "min_price",
    "standard_charge|max": "max_price",
    "setting": "setting",
    "drug_unit_of_measurement": "drug_unit",
    "drug_type_of_measurement": "drug_type",
    "modifiers": "modifiers",
}

_PAYER_FIELDS = [
    "negotiated_price",
    "negotiated_percentage",
    "negotiated_algorithm",
    "estimated_amount",
    "negotiated_methodology",
    "_payer_notes",
]


def parse_column_for_payer(name: str) -> tuple[str, str, str] | None:
    """P5 classifier: (canonical_field, payer, plan) or None."""
    parts = name.split("|")
    if len(parts) < 3:
        return None
    if len(parts) == 3 and parts[0] in STANDARD_CHARGE_PREFIXES:
        return STANDARD_CHARGE_PREFIXES[parts[0]], parts[1], parts[2]
    if len(parts) >= 4 and parts[-1] in STANDARD_CHARGE_PREFIXES:
        return STANDARD_CHARGE_PREFIXES[parts[-1]], parts[1], parts[2]
    return None


def extract_wide(
    spark: SparkSession,
    path: str,
    *,
    hospital_name: str = "",
    zip_code: str = "",
) -> ExtractResult:
    meta, raw = read_mrf_csv(spark, path)

    # --- P5: classify payer columns from the schema (driver-side) ----
    payer_cols: list[tuple[str, str, str, str]] = []  # (src, field, payer, plan)
    for c in raw.columns:
        parsed = parse_column_for_payer(c)
        if parsed and parsed[1].strip():
            payer_cols.append((c, *parsed))

    # --- melt: one struct per payer cell, exploded; blanks skipped ---
    row_id = F.monotonically_increasing_id()
    df = raw.withColumn("_row_id", row_id)
    cells = F.array(
        *[
            F.struct(
                F.lit(fieldname).alias("field"),
                F.lit(payer).alias("payer"),
                F.lit(plan).alias("plan"),
                F.col(f"`{src}`").alias("value"),
            )
            for src, fieldname, payer, plan in payer_cols
        ]
    )
    melted = (
        df.withColumn("_cell", F.explode(cells))
        .where(F.col("_cell.value") != "")
        .select(
            "_row_id",
            *[F.col(f"`{c}`") for c in raw.columns if parse_column_for_payer(c) is None],
            F.col("_cell.field").alias("_field"),
            F.col("_cell.payer").alias("payer_name"),
            F.col("_cell.plan").alias("plan_name"),
            F.col("_cell.value").alias("_value"),
        )
    )

    # --- X1: code slots (cross with payer cells via the same row) ----
    melted = explode_code_slots(melted, raw.columns)
    # Slots R3 will reject ride through the regroup as one group each,
    # so the unknown-type histogram counts them as the melt emitted
    # them; allowed slots all have a NULL key and group by (code, type,
    # payer, plan) alone.
    melted = melted.withColumn(
        "_unknown_slot", F.when(~allowed_type(), F.monotonically_increasing_id())
    )

    # --- X2 regroup: last-write-wins per (code, type, payer, plan) ---
    row_level = tuple(c for c in (*WIDE_ROW_MAP, "additional_generic_notes") if c in raw.columns)
    grouped = melted.groupBy(
        "code", "code_type", "code_type_raw", "payer_name", "plan_name", "_unknown_slot"
    ).agg(*_regroup_aggs(row_level)).drop("_unknown_slot")

    # F11: additional notes = generic ⊕ payer note
    grouped = grouped.withColumn("additional_notes", _notes()).drop("_generic_notes", "_payer_notes")
    grouped = grouped.na.fill("")

    slots = finalize_canonical(
        grouped, hospital_name=hospital_name or meta.get("hospital_name", ""), zip_code=zip_code
    )
    return ExtractResult(slots=slots, metadata=meta)


@gateway_cache
def _regroup_aggs(row_level: tuple[str, ...]) -> list[Column]:
    """X2 aggregates, given the row-level source columns the file has:
    each payer field's and each row-level column's value from the
    group's last source row."""
    field_aggs = [
        F.max_by(F.when(F.col("_field") == f, F.col("_value")), F.when(F.col("_field") == f, F.col("_row_id")))
        .alias(f)
        for f in _PAYER_FIELDS
    ]
    row_level_aggs = [
        F.max_by(F.col(f"`{src}`"), F.col("_row_id")).alias(dst)
        for src, dst in WIDE_ROW_MAP.items()
        if src in row_level
    ]
    generic_notes = (
        [F.max_by(F.col("additional_generic_notes"), F.col("_row_id")).alias("_generic_notes")]
        if "additional_generic_notes" in row_level
        else [F.first(F.lit("")).alias("_generic_notes")]
    )
    return [*field_aggs, *row_level_aggs, *generic_notes]


@gateway_cache
def _notes() -> Column:
    """F11: the generic note ⊕ the payer note."""
    return notes_concat(
        F.coalesce(F.col("_generic_notes"), F.lit("")), F.coalesce(F.col("_payer_notes"), F.lit(""))
    )
