"""End-to-end cleaning/validation pipeline over the canonical table.

The Spark analog of the reference's chunked cleaning stage
(``clean_large_file_in_chunks``, cleaning_utils.py:140-248) — except
the chunk loop disappears: partitioned execution replaces chunking, and
the whole stage is one lazy plan with two materialization forks
(clean sink, quarantine sink) plus a single-pass metrics aggregate.
``run_cleaning_pipeline`` is a context manager: the tagged plan those
consumers share is persisted on entry and released on exit, whether
the block succeeds or fails.

Stage order mirrors the reference exactly (SURVEY.md §3 step 4):
header-normalize -> inject missing cols -> price typing (F1) ->
invalid-token scrub (R1) -> text normalization (F2) -> modifier
normalization (F3) -> algorithm flag (F4) -> code-format filter (R2) ->
global dedup (D1; the reference's chunk-local dedup is an artifact —
global is the declared intent, SURVEY.md §7) -> 10 conditional rules ->
clean/quarantine split (R4) -> transparency score (A11).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.functions.cleaning import (
    clean_price_fields,
    ensure_columns,
    flag_invalid_algorithm,
    normalize_code_type,
    normalize_headers,
    normalize_modifiers,
    normalize_text_fields,
    scrub_invalid_tokens,
    validate_code_format,
)
from clearcare_data_pipeline_spark.plans.metrics import parse_summary, tagged_summary
from clearcare_data_pipeline_spark.plans.rules import split_clean_quarantine, tag_violations
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS, PRICE_FIELDS
from clearcare_data_pipeline_spark.session import gateway_cache


def clean_charges(df: DataFrame) -> DataFrame:
    """The full cleaning transform chain; returns the cleaned canonical
    table (typed prices, normalized text/modifiers/code types, invalid
    code formats filtered, exact duplicates dropped)."""
    df = normalize_headers(df)
    df = ensure_columns(df, CANONICAL_COLUMNS)
    df = normalize_code_type(df)
    df = clean_price_fields(df)
    df = scrub_invalid_tokens(df, [c for c in CANONICAL_COLUMNS if c not in PRICE_FIELDS])
    df = normalize_text_fields(df)
    df = normalize_modifiers(df)
    df = flag_invalid_algorithm(df)
    df = validate_code_format(df)
    # Global dedup over the canonical columns only (helper columns like
    # code_type_raw would otherwise block duplicate matches). Helper
    # columns survive as the group minimum so the retained row is
    # deterministic and engine-independent (dropDuplicates' pick is
    # arbitrary; the DuckDB oracle mirrors this exactly).
    helpers = tuple(c for c in df.columns if c not in set(CANONICAL_COLUMNS))
    key, aggs = _dedup_columns(helpers)
    return df.groupBy(*key).agg(*aggs)


@gateway_cache
def _dedup_columns(helpers: tuple[str, ...]) -> tuple[list[Column], list[Column]]:
    return [F.col(c) for c in CANONICAL_COLUMNS], [F.min(c).alias(c) for c in helpers]


@dataclass
class CleaningResult:
    clean: DataFrame
    quarantine: DataFrame
    score: float
    rule_counts: dict[str, int] = field(default_factory=dict)
    clean_rows: int = 0
    quarantined_rows: int = 0
    algorithm_format_issues: int = 0
    # devlog A1/A2 over the clean rows, from the same aggregate
    field_presence: dict[str, int] = field(default_factory=dict)
    code_type_histogram: dict[str, int] = field(default_factory=dict)


@contextmanager
def run_cleaning_pipeline(df: DataFrame) -> Iterator[CleaningResult]:
    """Clean -> tag -> split -> score. The tagged plan is persisted for
    the block's lifetime so its consumers (this summary aggregate, the
    clean and quarantine sinks, the devlog's keyed counts) scan the
    source once; it is unpersisted when the block exits, on success or
    failure. ``clean``/``quarantine`` stay valid lazy plans afterwards
    but recompute from the source."""
    tagged = tag_violations(clean_charges(df)).persist()
    try:
        summary = parse_summary(tagged_summary(tagged).collect()[0].asDict())
        clean, quarantine = split_clean_quarantine(tagged)
        quarantined = summary["quarantined_rows"]
        clean_rows = summary["total_rows"] - quarantined
        yield CleaningResult(
            clean=clean,
            quarantine=quarantine,
            score=summary["transparency_score"],
            rule_counts=summary["rule_counts"],
            clean_rows=clean_rows,
            quarantined_rows=quarantined,
            algorithm_format_issues=summary["algorithm_format_issues"],
            field_presence=summary["field_presence"],
            code_type_histogram=summary["code_type_histogram"],
        )
    finally:
        tagged.unpersist()


def score_summary(cleaned: DataFrame) -> DataFrame:
    """One-row DataFrame of the score (A11) over an already-cleaned
    table (``clean_charges`` output): the ``tagged_summary`` columns the
    ETL's score comes from, with the score rounded to 6 places."""
    summary = tagged_summary(tag_violations(cleaned))
    return summary.select(
        (F.col("total_rows") - F.col("quarantined_rows")).alias("clean_rows"),
        "quarantined_rows",
        "total_violations",
        F.round("transparency_score", 6).alias("transparency_score"),
    )
