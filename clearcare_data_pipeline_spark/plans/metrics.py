"""Devlog metrics & transparency score (SURVEY.md §2.6 A1-A12).

The reference accumulates ~10 counter families in one Python loop; here
each family is a declarative aggregation, and a campus run computes all
of them in two Spark passes (the analog of the reference's single-pass
counters):

* ``tagged_summary``: one ``agg()`` row over the cleaning pipeline's
  persisted tagged plan, holding every family with a fixed key set —
  per-rule violations (A8), row counts, the transparency score (A11),
  field presence (A1) and the code-type histogram over
  ``ALLOWED_CODE_TYPES`` (A2), the last two as
  ``count(when(clean & ...))`` columns over the clean rows;
* ``keyed_counts``: one group-by for the families whose keys are only
  known from the data — modifier tokens (A6) of the clean rows, and
  unknown raw code types (A3) from the extract checkpoint.

``missing_code_types`` (A4) is then a driver-side set difference on the
A2 histogram, with no Spark work of its own.

``run_etl`` and the ``charges_*`` queries build their outputs from these
same functions, so the DuckDB oracle of each query checks the
expression and the row population the ETL runs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.cleaning import modifiers_to_array_expr
from clearcare_data_pipeline_spark.plans.rules import RULE_NAMES, is_clean, present
from clearcare_data_pipeline_spark.schema import ALLOWED_CODE_TYPES, CANONICAL_COLUMNS
from clearcare_data_pipeline_spark.session import gateway_cache


# Column-name prefixes of the A1/A2 families inside ``tagged_summary``.
_PRESENT = "present:"
_CODE_TYPE = "code_type:"


def missing_code_types(histogram: dict[str, int]) -> list[str]:
    """A4: allowed types the A2 histogram never saw, in config order."""
    return [t for t in ALLOWED_CODE_TYPES if not histogram.get(t)]


def modifier_tokens(df: DataFrame) -> DataFrame:
    """A6 keys: one row per token of the normalized modifier list."""
    return df.select(_modifier_token())


@gateway_cache
def _modifier_token() -> Column:
    return F.explode(modifiers_to_array_expr(F.col("modifiers"))).alias("modifier")


def keyed_counts(families: dict[str, DataFrame]) -> dict[str, dict[str, int]]:
    """Exact per-key counts for several histograms in one group-by and
    one collect: each family is a one-column frame of keys. Returns
    family -> {key: n}, keys sorted; a family with no keys maps to an
    empty dict."""
    parts = [keys.select(*_family_key(name, keys.columns[0])) for name, keys in families.items()]
    rows = reduce(DataFrame.unionByName, parts).groupBy("family", "key").agg(_count()).collect()
    out: dict[str, dict[str, int]] = {name: {} for name in families}
    for r in sorted(rows, key=lambda r: (r["family"], r["key"])):
        out[r["family"]][r["key"]] = r["n"]
    return out


@gateway_cache
def _family_key(family: str, key: str) -> tuple[Column, Column]:
    return F.lit(family).alias("family"), F.col(key).cast("string").alias("key")


@gateway_cache
def _count() -> Column:
    return F.count(F.lit(1)).alias("n")


def tagged_summary(tagged: DataFrame) -> DataFrame:
    """One row, one pass over a ``tag_violations`` output: per-rule
    violation totals (A8), the algorithm-format flag (A9), the row
    counts, ``total_violations`` and the unrounded
    ``transparency_score`` (A11) over every row; field presence (A1)
    and the code-type histogram (A2) over the clean rows only, the rows
    the clean sink receives. ``parse_summary`` turns the row into the
    devlog's dicts; the ``charges_*`` queries select from it."""
    violations, score = _score_columns()
    summary = tagged.agg(*_summary_aggs()).withColumn("total_violations", violations)
    return summary.withColumn("transparency_score", score)


@gateway_cache
def _summary_aggs() -> list[Column]:
    clean = is_clean()
    aggs = [F.sum(F.col(r).cast("long")).alias(r) for r in RULE_NAMES]
    aggs.append(
        F.sum(F.col("negotiated_algorithm_invalid").cast("long")).alias("algorithm_format_issues")
    )
    aggs.append(F.count(F.lit(1)).alias("total_rows"))
    aggs.append(F.count(F.when(~clean, F.lit(1))).alias("quarantined_rows"))
    aggs += [
        F.count(F.when(clean & present(c), F.lit(1))).alias(_PRESENT + c)
        for c in CANONICAL_COLUMNS
    ]
    aggs += [
        F.count(F.when(clean & (F.col("code_type") == t), F.lit(1))).alias(_CODE_TYPE + t)
        for t in ALLOWED_CODE_TYPES
    ]
    return aggs


@gateway_cache
def _score_columns() -> tuple[Column, Column]:
    """(total_violations, transparency_score) over the aggregate row.

    A11 (cleaning_utils.py:214-216): max(0, 1 - V / (N * 10)) where V
    sums the per-rule counts (a row violating k rules counts k times,
    as in the reference) and N = clean rows + V; 0.0 when N = 0 ("0 if
    no records"). Left unrounded: below 2^53 the long/double quotient
    is correctly rounded, so it equals the reference's Python int / int."""
    violations = reduce(Column.__add__, [F.coalesce(F.col(r), F.lit(0)) for r in RULE_NAMES])
    v = F.col("total_violations")
    examined = F.col("total_rows") - F.col("quarantined_rows") + v
    score = F.when(examined == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), 1.0 - v / (examined * 10.0))
    )
    return violations, score


def presence_counts(summary: DataFrame) -> DataFrame:
    """A1 as one row: the field-presence columns of a ``tagged_summary``
    frame, named by canonical column."""
    return summary.select(*[F.col(f"`{_PRESENT}{c}`").alias(c) for c in CANONICAL_COLUMNS])


def code_type_counts(summary: DataFrame) -> DataFrame:
    """A2 as (code_type, n) rows: the histogram columns of a
    ``tagged_summary`` frame unpivoted, the types never seen left out
    as ``parse_summary`` leaves them out."""
    pairs = [
        F.struct(F.lit(t).alias("code_type"), F.col(f"`{_CODE_TYPE}{t}`").alias("n"))
        for t in ALLOWED_CODE_TYPES
    ]
    return summary.select(F.inline(F.array(*pairs))).where(F.col("n") > 0)


def parse_summary(row: dict) -> dict:
    """The ``tagged_summary`` row as devlog families: per-rule counts,
    ``field_presence`` in canonical order, ``code_type_histogram``
    with the types that were never seen left out (as a group-by would
    have), and the score. Cleaning normalizes every code type into the
    allowed set or NULL, so the fixed key set loses no type."""

    def family(prefix: str) -> dict[str, int]:
        return {k[len(prefix):]: int(v) for k, v in row.items() if k.startswith(prefix)}

    return {
        "rule_counts": {r: int(row[r] or 0) for r in RULE_NAMES},
        "algorithm_format_issues": int(row["algorithm_format_issues"] or 0),
        "total_rows": int(row["total_rows"]),
        "quarantined_rows": int(row["quarantined_rows"]),
        "field_presence": family(_PRESENT),
        "code_type_histogram": {t: n for t, n in family(_CODE_TYPE).items() if n},
        "transparency_score": float(row["transparency_score"]),
    }
