"""Charges-pipeline queries (cleaning / validation / scoring / devlog).

Each entry pairs the Spark DataFrame implementation (the engine under
test) with a DuckDB oracle built by queries/_oracle_expr.py from the
same constants. The raw charges table is derived deterministically from
``lineitem`` by a shared-dialect SQL text (sources/charges.py), so both
engines start from byte-identical input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.cleaning import normalize_code_type
from clearcare_data_pipeline_spark.functions.text import split_payer_name_id
from clearcare_data_pipeline_spark.pipeline import clean_charges, score_summary
from clearcare_data_pipeline_spark.plans.metrics import (
    code_type_counts,
    modifier_tokens,
    presence_counts,
    tagged_summary,
)
from clearcare_data_pipeline_spark.plans.rules import RULE_NAMES, tag_violations
from clearcare_data_pipeline_spark.queries._textsql import (
    PAYER_EXTRACT_RE,
    PAYER_SPLIT_RE,
)
from clearcare_data_pipeline_spark.queries._oracle_expr import (
    cleaned_charges_cte,
    materialize_ctes,
    tagged_charges_cte,
)
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS
from clearcare_data_pipeline_spark.sources.charges import charges_from_lineitem, charges_sql
from clearcare_data_pipeline_spark.sources.mrf import unknown_type_histogram
from clearcare_data_pipeline_spark.sources.tables import load_table

_CANON = ", ".join(CANONICAL_COLUMNS)
_LINEITEM_REL = "lineitem"


_CLEANED_CKPT: dict[str, str] = {}


def _cleaned_version_key() -> str:
    """Content key for the cleaned checkpoint: the derivation SQL plus
    the closure hash of ``pipeline``, which covers ``clean_charges``,
    the column expressions it composes and the schema module whose
    CANONICAL_COLUMNS drives ensure_columns and the dedup key set. Any
    edit to any of them yields a new cache directory, so stale cleaned
    results can never be served."""
    from clearcare_data_pipeline_spark.provenance import closure_hash
    from clearcare_data_pipeline_spark.sources.charges import _CHARGES_SQL_TEMPLATE

    return "\x00".join(
        ["cleaned-v1", _CHARGES_SQL_TEMPLATE, closure_hash("clearcare_data_pipeline_spark.pipeline")]
    )


def _cleaned(spark: SparkSession, sf_dir: str):
    """Cleaned canonical table, checkpointed to parquet once per
    (cleaning version, dataset): the clean->consume boundary.

    Seven queries consume this table (cleaned rows, histograms,
    presence, tagging, score, quarantine); materializing it once and
    scanning parquet gives every consumer a splittable parallel scan
    with pushdown, and the cleaning chain runs exactly once. This
    mirrors etl.py's cleaned-parquet sink.

    Like the extract-stage checkpoint it consumes, the cleaned table
    lives in the cross-process content-keyed cache (sources/charges.py)
    rather than a per-process temp dir, so a warm machine pays neither
    the derivation nor the cleaning chain again — the whole charges
    family starts from a parquet scan.
    """
    from clearcare_data_pipeline_spark.sources.charges import (
        ensure_stage_cached,
        stage_cache_path,
    )

    if sf_dir not in _CLEANED_CKPT:
        path = stage_cache_path("cleaned", sf_dir, _cleaned_version_key())

        def _build(tmp: str) -> None:
            clean_charges(charges_from_lineitem(spark, sf_dir)).write.mode(
                "overwrite"
            ).parquet(tmp)

        _CLEANED_CKPT[sf_dir] = ensure_stage_cached(path, _build)
    return spark.read.parquet(_CLEANED_CKPT[sf_dir])


# --- q: raw derivation (pins the shared input itself) -----------------


def q_charges_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return charges_from_lineitem(spark, sf_dir)


# --- q: full cleaned table --------------------------------------------


def q_charges_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cleaned(spark, sf_dir)
    return df.select(*CANONICAL_COLUMNS)


# --- q: rule tagging (row-level) --------------------------------------


def q_charges_rules_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = tag_violations(_cleaned(spark, sf_dir))
    return tagged.select(
        "code", "code_type", "payer_name", "plan_name",
        "negotiated_price", "min_price", "max_price", "rules_violated",
    )


# --- q: per-rule violation counts (devlog A8) --------------------------


def _summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ETL's devlog aggregate over the cleaned table."""
    return tagged_summary(tag_violations(_cleaned(spark, sf_dir)))


def q_charges_rule_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _summary(spark, sf_dir).select(
        *RULE_NAMES, "total_rows", "quarantined_rows", "algorithm_format_issues"
    )


# --- q: transparency score (A11) ---------------------------------------


def q_charges_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_summary(_cleaned(spark, sf_dir))


# --- q: quarantine rows (R4) -------------------------------------------


def q_charges_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = tag_violations(_cleaned(spark, sf_dir))
    return tagged.where(F.col("rules_violated") != "").select(
        *CANONICAL_COLUMNS, "rules_violated"
    )


# --- q: devlog aggregates ----------------------------------------------


def q_charges_field_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 over the rows that pass the rules, the rows the clean sink
    receives."""
    return presence_counts(_summary(spark, sf_dir))


def q_charges_code_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 over the rows that pass the rules."""
    return code_type_counts(_summary(spark, sf_dir))


def q_charges_unknown_code_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 over the derived charges, before code-format validation and
    dedup; a blank raw type is not counted."""
    df = normalize_code_type(charges_from_lineitem(spark, sf_dir))
    return unknown_type_histogram(df.where(F.trim(F.coalesce("code_type_raw", F.lit(""))) != ""))


def q_charges_modifier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modifier_tokens(_cleaned(spark, sf_dir)).groupBy("modifier").agg(F.count(F.lit(1)).alias("n"))


# --- q: payer "Name [ID]" split (F5, tall-extractor semantics) ---------


def q_payer_name_id_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    raw = F.when(
        F.col("c_custkey") % 3 == 0,
        F.concat(F.col("c_name"), F.lit(" [ID"), F.col("c_custkey").cast("string"), F.lit("]")),
    ).otherwise(F.col("c_name"))
    name, payer_id = split_payer_name_id("payer_raw")
    return cust.select(F.col("c_custkey").alias("custkey"), raw.alias("payer_raw")).select(
        "custkey", "payer_raw", name.alias("payer_name"), payer_id.alias("payer_id")
    )


QUERIES = {
    "charges_synth": q_charges_synth,
    "charges_cleaned": q_charges_cleaned,
    "charges_rules_tagged": q_charges_rules_tagged,
    "charges_rule_counts": q_charges_rule_counts,
    "charges_score": q_charges_score,
    "charges_quarantine": q_charges_quarantine,
    "charges_field_presence": q_charges_field_presence,
    "charges_code_type_histogram": q_charges_code_type_histogram,
    "charges_unknown_code_types": q_charges_unknown_code_types,
    "charges_modifier_counts": q_charges_modifier_counts,
    "payer_name_id_split": q_payer_name_id_split,
}


def _presence_count_sql(col: str) -> str:
    return f"count(CASE WHEN {col} IS NOT NULL AND trim(CAST({col} AS STRING), ' ') <> '' THEN 1 END)"


def _oracles() -> dict[str, str]:
    rule_sums = ", ".join(f"CAST(sum(CASE WHEN {r} THEN 1 ELSE 0 END) AS BIGINT) AS {r}" for r in RULE_NAMES)
    total_viol = " + ".join(f"coalesce(sum(CASE WHEN {r} THEN 1 ELSE 0 END), 0)" for r in RULE_NAMES)
    presence = ", ".join(
        f"{_presence_count_sql(c)} AS {c}"
        if c in ("hospital_name zip_code code code_type description drug_unit drug_type payer_name "
                 "payer_id plan_name negotiated_algorithm negotiated_methodology setting "
                 "additional_notes modifiers").split()
        else f"count({c}) AS {c}"
        for c in CANONICAL_COLUMNS
    )
    return {
        "charges_synth": charges_sql(_LINEITEM_REL),
        "charges_cleaned": f"WITH {cleaned_charges_cte(_LINEITEM_REL)} SELECT {_CANON} FROM cleaned",
        "charges_rules_tagged": (
            f"WITH {tagged_charges_cte(_LINEITEM_REL)} "
            "SELECT code, code_type, payer_name, plan_name, negotiated_price, "
            "min_price, max_price, rules_violated FROM tagged"
        ),
        "charges_rule_counts": (
            f"WITH {tagged_charges_cte(_LINEITEM_REL)} "
            f"SELECT {rule_sums}, "
            "CAST(count(*) AS BIGINT) AS total_rows, "
            "CAST(count(CASE WHEN rules_violated <> '' THEN 1 END) AS BIGINT) AS quarantined_rows, "
            "CAST(sum(CASE WHEN negotiated_algorithm_invalid THEN 1 ELSE 0 END) AS BIGINT) AS algorithm_format_issues "
            "FROM tagged"
        ),
        "charges_score": (
            f"WITH {tagged_charges_cte(_LINEITEM_REL)} "
            f"SELECT CAST(count(*) - count(CASE WHEN rules_violated <> '' THEN 1 END) AS BIGINT) AS clean_rows, "
            "CAST(count(CASE WHEN rules_violated <> '' THEN 1 END) AS BIGINT) AS quarantined_rows, "
            f"CAST({total_viol} AS BIGINT) AS total_violations, "
            f"round(greatest(0.0, 1.0 - ({total_viol}) / ((count(*) - count(CASE WHEN rules_violated <> '' THEN 1 END) + {total_viol}) * 10.0)), 6) AS transparency_score "
            "FROM tagged"
        ),
        "charges_quarantine": (
            f"WITH {tagged_charges_cte(_LINEITEM_REL)} "
            f"SELECT {_CANON}, rules_violated FROM tagged WHERE rules_violated <> ''"
        ),
        "charges_field_presence": (
            f"WITH {tagged_charges_cte(_LINEITEM_REL)} "
            f"SELECT {presence} FROM tagged WHERE rules_violated = ''"
        ),
        "charges_code_type_histogram": (
            f"WITH {tagged_charges_cte(_LINEITEM_REL)} "
            "SELECT code_type, CAST(count(*) AS BIGINT) AS n FROM tagged "
            "WHERE rules_violated = '' AND code_type IS NOT NULL GROUP BY code_type"
        ),
        "charges_unknown_code_types": (
            # pre-validate/pre-dedup stage == the `flagged` CTE
            f"WITH {cleaned_charges_cte(_LINEITEM_REL)} "
            "SELECT upper(trim(code_type_raw, ' ')) AS raw_code_type, CAST(count(*) AS BIGINT) AS n "
            "FROM flagged WHERE code_type IS NULL AND trim(coalesce(code_type_raw, ''), ' ') <> '' "
            "GROUP BY upper(trim(code_type_raw, ' '))"
        ),
        "charges_modifier_counts": (
            f"WITH {cleaned_charges_cte(_LINEITEM_REL)}, "
            "toks AS (SELECT unnest(list_filter(list_transform(string_split_regex(modifiers, '[,|]'), t -> trim(t, ' ')), t -> length(t) > 0)) AS modifier FROM cleaned) "
            "SELECT modifier, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY modifier"
        ),
        "payer_name_id_split": (
            "WITH src AS (SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 "
            "THEN c_name || ' [ID' || CAST(c_custkey AS STRING) || ']' ELSE c_name END AS payer_raw FROM customer) "
            "SELECT c_custkey AS custkey, payer_raw, "
            f"CASE WHEN regexp_matches(payer_raw, '{PAYER_SPLIT_RE}') THEN trim(regexp_extract(payer_raw, '{PAYER_EXTRACT_RE}', 1), ' ') ELSE trim(payer_raw, ' ') END AS payer_name, "
            f"CASE WHEN regexp_matches(payer_raw, '{PAYER_SPLIT_RE}') THEN trim(regexp_extract(payer_raw, '{PAYER_EXTRACT_RE}', 2), ' ') ELSE '' END AS payer_id "
            "FROM src"
        ),
    }


# DuckDB-side CTE materialization (see materialize_ctes): without it
# the inlined charges chain re-runs per consumer and exhausts process
# memory at sf1.
ORACLES = {k: materialize_ctes(v) for k, v in _oracles().items()}


# --- q: code-type mapping audit (A5) ------------------------------------


def q_charges_code_type_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: raw code type -> sorted set of normalized types it mapped to."""
    df = normalize_code_type(charges_from_lineitem(spark, sf_dir))
    return (
        df.where(F.col("code_type").isNotNull())
        .groupBy(F.upper(F.trim(F.col("code_type_raw"))).alias("raw_code_type"))
        .agg(F.array_join(F.sort_array(F.collect_set("code_type")), ",").alias("normalized_types"))
    )


QUERIES["charges_code_type_mappings"] = q_charges_code_type_mappings
ORACLES["charges_code_type_mappings"] = materialize_ctes(
    f"WITH {cleaned_charges_cte(_LINEITEM_REL)} "
    "SELECT upper(trim(code_type_raw, ' ')) AS raw_code_type, "
    "array_to_string(list_sort(list(DISTINCT code_type)), ',') AS normalized_types "
    "FROM flagged WHERE code_type IS NOT NULL "
    "GROUP BY upper(trim(code_type_raw, ' '))"
)
