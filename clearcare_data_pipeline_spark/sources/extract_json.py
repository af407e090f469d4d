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

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.cleaning import normalize_code_type_expr
from clearcare_data_pipeline_spark.session import gateway_cache
from clearcare_data_pipeline_spark.sources.mrf import ExtractResult, finalize_canonical

_META_KEYS = ["hospital_name", "hospital_location", "hospital_address", "last_updated_on", "version"]


def _s(col: Column) -> Column:
    """Stringly-typed canonical ingest: value -> string, '' for NULL."""
    return F.coalesce(col.cast("string"), F.lit(""))


# canonical column -> (struct, field) it is read from
_FIELDS: dict[str, tuple[str, str]] = {
    "code": ("ci", "code"),
    "code_type_raw": ("ci", "type"),
    "description": ("item", "description"),
    "drug_unit": ("item", "drug_information.unit"),
    "drug_type": ("item", "drug_information.type"),
    "payer_name": ("pi", "payer_name"),
    "plan_name": ("pi", "plan_name"),
    "negotiated_price": ("pi", "standard_charge_dollar"),
    "negotiated_percentage": ("pi", "standard_charge_percentage"),
    "negotiated_algorithm": ("pi", "standard_charge_algorithm"),
    "negotiated_methodology": ("pi", "methodology"),
    "gross_charge": ("sc", "gross_charge"),
    "discounted_cash_price": ("sc", "discounted_cash"),
    "min_price": ("sc", "minimum"),
    "max_price": ("sc", "maximum"),
    "estimated_amount": ("pi", "estimated_amount"),
    "setting": ("sc", "setting"),
    "additional_notes": ("pi", "additional_payer_notes"),
}


def extract_json(
    spark: SparkSession,
    path: str,
    *,
    hospital_name: str = "",
    zip_code: str = "",
) -> ExtractResult:
    doc = spark.read.option("multiLine", True).json(path)

    meta_cols = tuple(k for k in _META_KEYS if k in doc.columns)
    meta_row = doc.select(*_meta_columns(meta_cols)).first()
    meta = dict(meta_row.asDict()) if meta_row else {}

    explode_items, explode_codes, explode_charges, explode_payers, keep, code_type = _json_steps()
    items = doc.select(explode_items)
    codes = items.select("item", explode_codes)
    charges_groups = codes.select("item", "ci", explode_charges)
    # outer: keep items that publish no payer-specific terms
    payers = charges_groups.select("item", "ci", "sc", explode_payers)

    # The fields each struct holds: a file that never populates one
    # leaves it out of the inferred schema, and it reads as ''.
    schema = payers.schema
    held = {s: {f.name for f in schema[s].dataType.fields} for s in ("ci", "item", "pi", "sc")}
    populated = tuple(n for n, (s, f) in _FIELDS.items() if f.split(".")[0] in held[s])
    df = payers.select(*_json_columns(populated))
    df = df.where(keep).withColumn("code_type", code_type)
    slots = finalize_canonical(
        df,
        hospital_name=hospital_name or meta.get("hospital_name", ""),
        zip_code=zip_code,
    )
    return ExtractResult(slots=slots, metadata=meta)


@gateway_cache
def _meta_columns(keys: tuple[str, ...]) -> list[Column]:
    return [F.coalesce(F.col(k).cast("string"), F.lit("")).alias(k) for k in keys]


@gateway_cache
def _json_steps() -> tuple[Column, ...]:
    """The three explodes that flatten the document, the outer payer
    explode, the X1 blank-slot filter and the F7 type normalization."""
    return (
        F.explode("standard_charge_information").alias("item"),
        F.explode("item.code_information").alias("ci"),
        F.explode("item.standard_charges").alias("sc"),
        F.explode_outer("sc.payers_information").alias("pi"),
        (F.col("code") != "") & (F.col("code_type_raw") != ""),
        normalize_code_type_expr(F.col("code_type_raw")),
    )


@gateway_cache
def _json_columns(populated: tuple[str, ...]) -> list[Column]:
    """The canonical select list over the flattened rows, given the
    canonical columns whose source field the file populates; any other
    reads as ''."""
    return [
        (_s(F.col(f"{struct}.{field}")) if name in populated else F.lit("")).alias(name)
        for name, (struct, field) in _FIELDS.items()
    ]
