"""Devlog metrics & transparency score (SURVEY.md §2.6 A1-A12).

The reference accumulates ~10 counter families in one Python loop; here
each family is a declarative aggregation, and a campus run computes all
of them in two Spark passes (the analog of the reference's single-pass
counters):

* ``tagged_summary``: one ``agg()`` row over the cleaning pipeline's
  persisted tagged plan, holding every family with a fixed key set —
  per-rule violations, row counts, field presence (A1) and the
  code-type histogram over ``ALLOWED_CODE_TYPES`` (A2), the last two as
  ``count(when(clean & ...))`` columns over the clean rows;
* ``keyed_counts``: one group-by for the families whose keys are only
  known from the data — modifier tokens (A6) of the clean rows, and
  unknown raw code types (A3) from the extract checkpoint.

``missing_code_types`` (A4) is then a driver-side set difference on the
A2 histogram, with no Spark work of its own.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from clearcare_data_pipeline_spark.functions.cleaning import modifiers_to_array_expr
from clearcare_data_pipeline_spark.plans.rules import RULE_NAMES, is_clean
from clearcare_data_pipeline_spark.schema import ALLOWED_CODE_TYPES, CANONICAL_COLUMNS


# Column-name prefixes of the A1/A2 families inside ``tagged_summary``.
_PRESENT = "present:"
_CODE_TYPE = "code_type:"


def present(field: StructField) -> Column:
    """A1 predicate for one column: non-NULL, and for a string column
    also non-blank after trimming."""
    col = F.col(field.name)
    if field.dataType.typeName() == "string":
        return col.isNotNull() & (F.trim(col) != "")
    return col.isNotNull()


def presence_columns(df: DataFrame) -> list[str]:
    """The canonical columns ``df`` has, in canonical order."""
    return [c for c in CANONICAL_COLUMNS if c in df.columns]


def field_presence(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A1: one row; per-column count of present values."""
    columns = columns or presence_columns(df)
    return df.agg(*[F.count(F.when(present(df.schema[c]), F.lit(1))).alias(c) for c in columns])


def missing_code_types(histogram: dict[str, int]) -> list[str]:
    """A4: allowed types the A2 histogram never saw, in config order."""
    return [t for t in ALLOWED_CODE_TYPES if not histogram.get(t)]


def modifier_tokens(df: DataFrame) -> DataFrame:
    """A6 keys: one row per token of the normalized modifier list."""
    return df.select(F.explode(modifiers_to_array_expr(F.col("modifiers"))).alias("modifier"))


def keyed_counts(families: dict[str, DataFrame]) -> dict[str, dict[str, int]]:
    """Exact per-key counts for several histograms in one group-by and
    one collect: each family is a one-column frame of keys. Returns
    family -> {key: n}, keys sorted; a family with no keys maps to an
    empty dict."""
    parts = [
        keys.select(F.lit(name).alias("family"), F.col(keys.columns[0]).cast("string").alias("key"))
        for name, keys in families.items()
    ]
    rows = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("family", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out: dict[str, dict[str, int]] = {name: {} for name in families}
    for r in sorted(rows, key=lambda r: (r["family"], r["key"])):
        out[r["family"]][r["key"]] = r["n"]
    return out


def tagged_summary(tagged: DataFrame) -> DataFrame:
    """One row, one pass over the tagged plan: per-rule violation
    totals (A8), the algorithm-format flag (A9) and the row counts over
    every row; field presence (A1) and the code-type histogram (A2)
    over the clean rows only, the rows the clean sink receives.
    ``parse_summary`` turns the row into the devlog's dicts."""
    clean = is_clean()
    aggs = [F.sum(F.col(r).cast("long")).alias(r) for r in RULE_NAMES if r in tagged.columns]
    if "negotiated_algorithm_invalid" in tagged.columns:
        aggs.append(
            F.sum(F.col("negotiated_algorithm_invalid").cast("long")).alias("algorithm_format_issues")
        )
    aggs.append(F.count(F.lit(1)).alias("total_rows"))
    aggs.append(F.count(F.when(~clean, F.lit(1))).alias("quarantined_rows"))
    aggs += [
        F.count(F.when(clean & present(tagged.schema[c]), F.lit(1))).alias(_PRESENT + c)
        for c in presence_columns(tagged)
    ]
    aggs += [
        F.count(F.when(clean & (F.col("code_type") == t), F.lit(1))).alias(_CODE_TYPE + t)
        for t in ALLOWED_CODE_TYPES
    ]
    return tagged.agg(*aggs)


def parse_summary(row: dict) -> dict:
    """The ``tagged_summary`` row as devlog families: per-rule counts,
    ``field_presence`` in canonical order, and ``code_type_histogram``
    with the types that were never seen left out (as a group-by would
    have). Cleaning normalizes every code type into the allowed set or
    NULL, so the fixed key set loses no type."""

    def family(prefix: str) -> dict[str, int]:
        return {k[len(prefix):]: int(v) for k, v in row.items() if k.startswith(prefix)}

    return {
        "rule_counts": {r: int(row.get(r) or 0) for r in RULE_NAMES},
        "algorithm_format_issues": int(row.get("algorithm_format_issues") or 0),
        "total_rows": int(row["total_rows"]),
        "quarantined_rows": int(row["quarantined_rows"]),
        "field_presence": family(_PRESENT),
        "code_type_histogram": {t: n for t, n in family(_CODE_TYPE).items() if n},
    }


def transparency_score(clean_rows: int, per_rule_counts: dict[str, int]) -> float:
    """A11 (cleaning_utils.py:214-216): ``max(0, 1 - V / (N * 10))``
    where V = sum of per-rule counts (a row violating k rules counts k
    times — the reference's double-counting is intentional semantics)
    and N = clean rows + V.
    """
    total_violations = sum(per_rule_counts.values())
    total_examined = clean_rows + total_violations
    if total_examined == 0:
        return 0.0
    return max(0.0, 1.0 - total_violations / (total_examined * 10))
