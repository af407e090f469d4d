"""Text/identity scalar functions (enrichment stage helpers).

Re-expressed from the reference registry builder (SURVEY.md §2.3
F5/F8-F11; hospital_enricher.py:37-49, tall extractor payer split):
all builtin column expressions, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.schema import SLUG_STOPWORDS
from clearcare_data_pipeline_spark.session import gateway_cache


def squeeze_whitespace(col: Column) -> Column:
    """F10: collapse internal whitespace runs, trim ends."""
    return F.regexp_replace(F.trim(col), r"\s+", " ")


def slugify(col: Column) -> Column:
    """F8 campus_id slug: lower, strip punctuation ``[.,'\\-&]``,
    tokenize on whitespace, drop generic stopwords, join with ``_``.

    ``F.filter`` (not ``array_except``) preserves token order and
    duplicates exactly as the reference's list comprehension does.
    """
    lowered = F.lower(F.regexp_replace(col, r"[.,'\-&]", ""))
    tokens = F.filter(F.split(F.trim(lowered), r"\s+"), lambda t: F.length(t) > 0)
    stop = F.array(*[F.lit(s) for s in SLUG_STOPWORDS])
    kept = F.filter(tokens, lambda t: ~F.array_contains(stop, t))
    return F.array_join(kept, "_")


def zip_from_address(col: Column) -> Column:
    """F9: trailing 5-digit zip (optionally zip+4) from an address."""
    return F.regexp_extract(col, r"(\d{5})(?:-\d{4})?$", 1)


def zip5(col: Column) -> Column:
    """F9 variant: first 5-digit run anywhere (CMS zip may be 9-digit)."""
    return F.regexp_extract(col, r"(\d{5})", 1)


@gateway_cache
def split_payer_name_id(name_col: str) -> tuple[Column, Column]:
    """F5: the column ``"Payer Name [ID]"`` -> (name, id); no bracket
    suffix -> (whole string, '')."""
    col = F.col(name_col)
    name = F.when(
        col.rlike(r"^.*\[.*?\]\s*$"), F.trim(F.regexp_extract(col, r"^(.*)\[(.*?)\]\s*$", 1))
    ).otherwise(F.trim(col))
    payer_id = F.when(
        col.rlike(r"^.*\[.*?\]\s*$"), F.trim(F.regexp_extract(col, r"^(.*)\[(.*?)\]\s*$", 2))
    ).otherwise(F.lit(""))
    return name, payer_id


def notes_concat(*cols: Column) -> Column:
    """F11: join non-empty note fragments with ', '."""
    parts = F.array(*cols)
    non_empty = F.filter(parts, lambda c: c.isNotNull() & (F.length(F.trim(c)) > 0))
    return F.array_join(non_empty, ", ")
