"""Rule-predicate tests: each of the 10 conditional rules triggered in
isolation on hand-built canonical rows (SURVEY.md §3 rule table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from clearcare_data_pipeline_spark.plans.rules import split_clean_quarantine, tag_violations
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS, PRICE_FIELDS

_SCHEMA = StructType(
    [
        StructField(c, DoubleType() if c in PRICE_FIELDS else StringType(), True)
        for c in CANONICAL_COLUMNS
    ]
)

# A fully-compliant baseline row: violates nothing.
_CLEAN_ROW = {
    "hospital_name": "General",
    "zip_code": "10001",
    "code": "12345",
    "code_type": "CPT",
    "description": "office visit",
    "drug_unit": "",
    "drug_type": "",
    "payer_name": "aetna",
    "payer_id": "AET",
    "plan_name": "ppo",
    "negotiated_price": 100.0,
    "negotiated_percentage": None,
    "negotiated_algorithm": "",
    "negotiated_methodology": "fee schedule",
    "gross_charge": 120.0,
    "discounted_cash_price": 90.0,
    "min_price": 80.0,
    "max_price": 150.0,
    "estimated_amount": None,
    "setting": "outpatient",
    "additional_notes": "",
    "modifiers": "",
}


def _violations(spark, **overrides) -> set[str]:
    row = {**_CLEAN_ROW, **overrides}
    df = spark.createDataFrame([tuple(row[c] for c in CANONICAL_COLUMNS)], _SCHEMA)
    tagged = tag_violations(df)
    val = tagged.select("rules_violated").first()[0]
    return set(val.split(",")) if val else set()


def test_clean_row_has_no_violations(spark):
    assert _violations(spark) == set()


def test_rule_1_price_without_payer_context(spark):
    assert "rule_1" in _violations(spark, plan_name="")


def test_rule_2_price_without_code(spark):
    v = _violations(spark, code="", code_type="")
    assert "rule_2" in v


def test_rule_3_code_xor_type(spark):
    assert "rule_3" in _violations(spark, code_type="")
    assert "rule_3" in _violations(spark, code="")
    assert "rule_3" not in _violations(spark)


def test_rule_4_other_methodology_needs_notes(spark):
    assert "rule_4" in _violations(spark, negotiated_methodology="other")
    assert "rule_4" not in _violations(spark, negotiated_methodology="other", additional_notes="explained")


def test_rule_5_description_without_any_charge(spark):
    v = _violations(
        spark,
        negotiated_price=None,
        negotiated_percentage=None,
        gross_charge=None,
        discounted_cash_price=None,
        negotiated_algorithm="",
    )
    assert "rule_5" in v


def test_rule_6_negotiated_needs_min_max(spark):
    assert "rule_6" in _violations(spark, max_price=None)
    assert "rule_6" not in _violations(spark)


def test_rule_7_pct_algo_needs_estimate(spark):
    v = _violations(spark, negotiated_price=None, negotiated_percentage=80.0, estimated_amount=None)
    assert "rule_7" in v
    v = _violations(spark, negotiated_price=None, negotiated_percentage=80.0, estimated_amount=95.0)
    assert "rule_7" not in v


def test_rule_8_ndc_needs_drug_fields(spark):
    v = _violations(spark, code="0123456789", code_type="NDC")
    assert "rule_8" in v
    v = _violations(spark, code="0123456789", code_type="NDC", drug_unit="5", drug_type="ML")
    assert "rule_8" not in v


def test_rule_9_modifier_only_row(spark):
    v = _violations(
        spark,
        modifiers="26",
        description="",
        negotiated_price=None,
        negotiated_percentage=None,
        negotiated_algorithm="",
        additional_notes="",
    )
    assert "rule_9" in v


def test_rule_10_drug_unit_xor_type(spark):
    assert "rule_10" in _violations(spark, drug_unit="5")
    assert "rule_10" in _violations(spark, drug_type="ML")
    assert "rule_10" not in _violations(spark, drug_unit="5", drug_type="ML")


def test_split_clean_quarantine(spark):
    rows = [
        tuple(_CLEAN_ROW[c] for c in CANONICAL_COLUMNS),
        tuple({**_CLEAN_ROW, "max_price": None}[c] for c in CANONICAL_COLUMNS),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    clean, quarantine = split_clean_quarantine(tag_violations(df))
    assert clean.count() == 1
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["rules_violated"] == "rule_6"
    assert "rules_violated" not in clean.columns


# Raw-string overrides that make a `_CLEAN_ROW` violate exactly one rule.
_VIOLATES_ONLY = {"rule_1": {"payer_name": ""}}


@pytest.mark.parametrize(
    "clean_rows,counts,expected",
    [(0, {}, 0.0), (90, {"rule_1": 10}, 0.99)],
)
def test_transparency_score(spark, clean_rows, counts, expected):
    # The A11 score as the ETL and the charges_score query compute it,
    # from raw rows through cleaning; (0, {}) is an empty raw frame.
    from clearcare_data_pipeline_spark.pipeline import clean_charges, score_summary
    from clearcare_data_pipeline_spark.schema import CHARGES_RAW_SCHEMA

    raw = {c: None if v is None else str(v) for c, v in _CLEAN_ROW.items()}
    rows = [{**raw, "description": f"item {i}"} for i in range(clean_rows)]
    for rule, n in counts.items():
        rows += [{**raw, **_VIOLATES_ONLY[rule], "description": f"{rule} {i}"} for i in range(n)]
    df = spark.createDataFrame([tuple(r[c] for c in CANONICAL_COLUMNS) for r in rows], CHARGES_RAW_SCHEMA)
    got = [r.asDict() for r in score_summary(clean_charges(df)).collect()]
    violations = sum(counts.values())
    assert got == [{
        "clean_rows": clean_rows,
        "quarantined_rows": violations,
        "total_violations": violations,
        "transparency_score": expected,
    }]


def test_charges_a1_a2_queries_match_devlog(spark, sf_dir):
    # charges_field_presence and charges_code_type_histogram count the
    # rows the clean sink receives, as the devlog's A1/A2 do: both equal
    # what run_cleaning_pipeline reports over the same raw charges, and
    # A1 equals a count over those clean rows themselves.
    from clearcare_data_pipeline_spark.pipeline import run_cleaning_pipeline
    from clearcare_data_pipeline_spark.plans.rules import present
    from clearcare_data_pipeline_spark.queries.charges import (
        q_charges_code_type_histogram,
        q_charges_field_presence,
    )
    from clearcare_data_pipeline_spark.sources.charges import charges_from_lineitem

    presence = q_charges_field_presence(spark, sf_dir).collect()[0].asDict()
    histogram = {r.code_type: r.n for r in q_charges_code_type_histogram(spark, sf_dir).collect()}
    with run_cleaning_pipeline(charges_from_lineitem(spark, sf_dir)) as result:
        assert result.quarantined_rows > 0  # so the two populations differ
        counts = [F.count(F.when(present(c), 1)).alias(c) for c in CANONICAL_COLUMNS]
        own = result.clean.agg(*counts).collect()[0].asDict()
    assert presence == result.field_presence == own
    assert histogram == result.code_type_histogram
