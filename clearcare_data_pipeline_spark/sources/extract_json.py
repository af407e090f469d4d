"""JSON MRF extractor — the reference's missing ``json_parser`` module
re-designed natively from the CMS v2 MRF shape (SURVEY.md §0.1/§7:
the module is absent from the snapshot; its contract is inferred from
json_sampler.py:23-33 and the dispatch at ETL_pipeline.py:20-25).

Shape: top-level hospital metadata + ``standard_charge_information[]``,
each item carrying ``code_information[]`` (code slots — the JSON analog
of X1), ``standard_charges[]`` (per-setting charge groups), and
``payers_information[]`` (per-payer terms). Flattening = three explode
steps; payers explode is OUTER so items without payer terms still emit
gross/cash rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.cleaning import normalize_code_type_expr
from clearcare_data_pipeline_spark.sources.mrf import ExtractResult, finalize_canonical

_META_KEYS = ["hospital_name", "hospital_location", "hospital_address", "last_updated_on", "version"]


def _s(col: Column) -> Column:
    """Stringly-typed canonical ingest: value -> string, '' for NULL."""
    return F.coalesce(col.cast("string"), F.lit(""))


def _opt(df: DataFrame, struct_col: str, field: str) -> Column:
    """Nested field as string, or '' when the file never populates it
    (absent from the inferred schema)."""
    struct_fields = [f.name for f in df.schema[struct_col].dataType.fields]
    if field in struct_fields:
        return _s(F.col(f"{struct_col}.{field}"))
    return F.lit("")


def extract_json(
    spark: SparkSession,
    path: str,
    *,
    hospital_name: str = "",
    zip_code: str = "",
) -> ExtractResult:
    doc = spark.read.option("multiLine", True).json(path)

    meta_row = doc.select(
        *[F.coalesce(F.col(k).cast("string"), F.lit("")).alias(k) for k in _META_KEYS if k in doc.columns]
    ).first()
    meta = dict(meta_row.asDict()) if meta_row else {}

    items = doc.select(F.explode("standard_charge_information").alias("item"))
    codes = items.select(
        "item",
        F.explode("item.code_information").alias("ci"),
    )
    charges_groups = codes.select(
        "item",
        "ci",
        F.explode("item.standard_charges").alias("sc"),
    )
    # outer: keep items that publish no payer-specific terms
    payers = charges_groups.select(
        "item",
        "ci",
        "sc",
        F.explode_outer("sc.payers_information").alias("pi"),
    )

    has_drug = "drug_information" in [f.name for f in payers.schema["item"].dataType.fields]

    df = payers.select(
        _opt(payers, "ci", "code").alias("code"),
        _opt(payers, "ci", "type").alias("code_type_raw"),
        _opt(payers, "item", "description").alias("description"),
        (_s(F.col("item.drug_information.unit")) if has_drug else F.lit("")).alias("drug_unit"),
        (_s(F.col("item.drug_information.type")) if has_drug else F.lit("")).alias("drug_type"),
        _opt(payers, "pi", "payer_name").alias("payer_name"),
        _opt(payers, "pi", "plan_name").alias("plan_name"),
        _opt(payers, "pi", "standard_charge_dollar").alias("negotiated_price"),
        _opt(payers, "pi", "standard_charge_percentage").alias("negotiated_percentage"),
        _opt(payers, "pi", "standard_charge_algorithm").alias("negotiated_algorithm"),
        _opt(payers, "pi", "methodology").alias("negotiated_methodology"),
        _opt(payers, "sc", "gross_charge").alias("gross_charge"),
        _opt(payers, "sc", "discounted_cash").alias("discounted_cash_price"),
        _opt(payers, "sc", "minimum").alias("min_price"),
        _opt(payers, "sc", "maximum").alias("max_price"),
        _opt(payers, "pi", "estimated_amount").alias("estimated_amount"),
        _opt(payers, "sc", "setting").alias("setting"),
        _opt(payers, "pi", "additional_payer_notes").alias("additional_notes"),
    )

    df = df.where((F.col("code") != "") & (F.col("code_type_raw") != ""))
    df = df.withColumn("code_type", normalize_code_type_expr(F.col("code_type_raw")))
    slots = finalize_canonical(
        df,
        hospital_name=hospital_name or meta.get("hospital_name", ""),
        zip_code=zip_code,
    )
    return ExtractResult(slots=slots, metadata=meta)
