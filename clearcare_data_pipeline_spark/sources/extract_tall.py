"""Tall-CSV MRF extractor (SURVEY.md §2 S2/S3, P3/P4, F5/F6/F7, X1).

Tall layout: one row per charge x payer; up to 4 (code, type) slots
per row, each valid slot emitting a separate canonical row
(tall_format_csv_extractor.pyc:97-145 — re-expressed as
explode(array(struct...)) instead of the reference's per-row Python
loop).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from clearcare_data_pipeline_spark.functions.text import split_payer_name_id
from clearcare_data_pipeline_spark.sources.mrf import (
    ExtractResult,
    explode_code_slots,
    finalize_canonical,
    read_mrf_csv,
)

# P4: tall source column -> canonical column (where a plain rename).
TALL_SOURCE_MAP: dict[str, str] = {
    "description": "description",
    "drug_unit_of_measurement": "drug_unit",
    "drug_type_of_measurement": "drug_type",
    "plan_name": "plan_name",
    "standard_charge|negotiated_dollar": "negotiated_price",
    "standard_charge|negotiated_percentage": "negotiated_percentage",
    "standard_charge|negotiated_algorithm": "negotiated_algorithm",
    "standard_charge|methodology": "negotiated_methodology",
    "standard_charge|gross": "gross_charge",
    "standard_charge|discounted_cash": "discounted_cash_price",
    "standard_charge|min": "min_price",
    "standard_charge|max": "max_price",
    "estimated_amount": "estimated_amount",
    "setting": "setting",
    "additional_generic_notes": "additional_notes",
    "modifiers": "modifiers",
}


def extract_tall(
    spark: SparkSession,
    path: str,
    *,
    hospital_name: str = "",
    zip_code: str = "",
) -> ExtractResult:
    meta, raw = read_mrf_csv(spark, path)

    # F5: "Payer Name [ID]" split
    name, payer_id = split_payer_name_id("payer_name")
    df = raw.withColumn("payer_id", payer_id).withColumn("payer_name", name)

    # P4 renames (only columns present in this source)
    renames = {src: dst for src, dst in TALL_SOURCE_MAP.items() if src in raw.columns}
    df = df.withColumnsRenamed(renames)

    # X1 + F7 (the R3 gate applies to the slots: ExtractResult.charges)
    df = explode_code_slots(df, raw.columns)
    slots = finalize_canonical(
        df, hospital_name=hospital_name or meta.get("hospital_name", ""), zip_code=zip_code
    )
    return ExtractResult(slots=slots, metadata=meta)
