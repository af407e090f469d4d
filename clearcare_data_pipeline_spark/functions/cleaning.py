"""Cleaning/validation transforms over the canonical charges table.

Pure ``DataFrame -> DataFrame`` / ``Column -> Column`` functions built
exclusively from ``pyspark.sql.functions`` builtins so every transform
stays inside whole-stage codegen — no Python in the hot path.

Semantics re-expressed from the reference cleaning stage
(cleaning_utils.py:68-138; see SURVEY.md §2.2/§2.3):

* F1 price normalization: strip ``[$%",]``, trim, cast-with-coerce
  (invalid -> NULL), then NULL out non-positive values and the
  999999999 placeholder — both skipped for ``estimated_amount``
  (cleaning_utils.py:83-97).
* R1 invalid-token scrub: ``n/a``/``na``/``not applicable``
  (case-insensitive full match) -> '' on string fields
  (cleaning_utils.py:76-81).
* F2 text normalization: trim + lower on the six TEXT_FIELDS
  (cleaning_utils.py:99-103).
* F3 modifier normalization: upper, ``|`` -> ``,``, spaces removed
  (cleaning_utils.py:105-112).
* F4 algorithm-format flag: numeric-only algorithm text is flagged
  (cleaning_utils.py:68-74).
* R2 code-format validation: per-type regex keep-filter; rows with a
  NULL/blank code bypass validation (cleaning_utils.py:120-138).
* F7 code-type normalization: raw upper-cased type -> canonical via the
  config map; unmapped -> NULL (config.yaml:29-37).
"""

from __future__ import annotations

from functools import reduce
from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from clearcare_data_pipeline_spark.schema import (
    ALGORITHM_INVALID_REGEX,
    CODE_FORMAT_REGEX,
    CODE_TYPE_NORMALIZATION,
    ICD_CODE_MAX_LEN,
    ICD_CODE_MIN_LEN,
    INVALID_TOKENS,
    PRICE_FIELDS,
    PRICE_NOISE_CHARS,
    PRICE_NULL_EXEMPT,
    PRICE_PLACEHOLDER,
    TEXT_FIELDS,
    WHITESPACE_CHARS,
)
from clearcare_data_pipeline_spark.session import gateway_cache

# ----------------------------------------------------------------------
# column-level expressions
# ----------------------------------------------------------------------


def parse_price_expr(col: Column) -> Column:
    """F1 part 1: money-string -> DOUBLE with coerce-to-NULL semantics.

    ``translate`` (char-map delete, no regex) strips ``$ % " ,``;
    ``try_cast`` reproduces ``pd.to_numeric(errors='coerce')`` exactly:
    a non-numeric string yields NULL, never an error (works under
    Spark 4 ANSI mode).
    """
    return F.trim(F.translate(col, PRICE_NOISE_CHARS, "")).try_cast(DoubleType())


def null_invalid_price_expr(num: Column) -> Column:
    """F1 part 2: NULL out non-positive values and the 999999999
    placeholder (skipped for ``estimated_amount``). Kept as a separate
    projection over the parsed DOUBLE so the expensive parse is
    evaluated once, not re-evaluated per predicate branch."""
    return F.when((num > F.lit(0)) & (num != F.lit(float(PRICE_PLACEHOLDER))), num)


def clean_price_expr(col: Column, *, exempt: bool = False) -> Column:
    """F1 as one expression (tests / standalone use)."""
    num = parse_price_expr(col)
    return num if exempt else null_invalid_price_expr(num)


def wstrim(col: Column) -> Column:
    """Whitespace strip matching pandas ``str.strip()`` — Spark's
    ``trim`` removes only spaces, but the reference strips the full
    \\s class (caught by a hypothesis property test on '\\r')."""
    return F.btrim(col, F.lit(WHITESPACE_CHARS))


def scrub_invalid_token_expr(col: Column) -> Column:
    """R1: full-match invalid tokens (case-insensitive) -> ''.

    Set membership over lower(strip(x)) — exact reference semantics
    (``^(n/?a|not applicable)$``) without a regex in the 15-column
    hot path.
    """
    return F.when(F.lower(wstrim(col)).isin(*INVALID_TOKENS), F.lit("")).otherwise(col)


def normalize_text_expr(col: Column) -> Column:
    """F2: strip + lower; the reference's literal "nan" artifact -> ''."""
    lowered = F.lower(wstrim(col))
    return F.when(lowered == "nan", F.lit("")).otherwise(lowered)


def normalize_modifiers_expr(col: Column) -> Column:
    """F3: upper-case, pipe->comma, strip all whitespace; NULL stays
    NULL. One char-map translate ('|'->',' and \\s deleted), no regex."""
    return F.upper(F.translate(col, "|" + WHITESPACE_CHARS, ","))


def modifiers_to_array_expr(col: Column) -> Column:
    """F6: delimited modifier string -> trimmed, non-empty token array."""
    tokens = F.split(col, r"[,|]")
    trimmed = F.transform(tokens, lambda t: F.trim(t))
    return F.filter(trimmed, lambda t: F.length(t) > 0)


def algorithm_invalid_expr(col: Column) -> Column:
    """F4: TRUE when algorithm text is numeric-only (format violation)."""
    return F.coalesce(col.rlike(ALGORITHM_INVALID_REGEX), F.lit(False))


def normalize_code_type_expr(col: Column) -> Column:
    """F7: raw type -> canonical via config map; unmapped -> NULL."""
    mapping = F.create_map(*chain.from_iterable((F.lit(k), F.lit(v)) for k, v in CODE_TYPE_NORMALIZATION.items()))
    return mapping[F.upper(F.trim(col))]


def code_format_valid_expr(code: Column, code_type: Column) -> Column:
    """R2 keep-predicate: code matches its type's format, OR code is
    NULL/blank (rows with no code bypass validation,
    cleaning_utils.py:137). Flat OR chain (not nested CASE) keeps the
    codegen tree shallow."""
    checks = [
        (code_type == ctype) & code.rlike(regex) for ctype, regex in CODE_FORMAT_REGEX.items()
    ]
    checks.append((code_type == "ICD") & F.length(code).between(ICD_CODE_MIN_LEN, ICD_CODE_MAX_LEN))
    no_code = code.isNull() | (F.trim(code) == "")
    return reduce(lambda a, b: a | b, checks, no_code)


# ----------------------------------------------------------------------
# DataFrame-level stages (compose into the cleaning plan)
# ----------------------------------------------------------------------


def normalize_headers(df: DataFrame) -> DataFrame:
    """P1: lower+strip every column name (source headers vary)."""
    return df.toDF(*[c.lower().strip().replace(" ", "_") for c in df.columns])


def ensure_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """P2: inject missing canonical columns as NULL string columns."""
    present = set(df.columns)
    missing = tuple(c for c in columns if c not in present)
    if not missing:
        return df
    return df.withColumns(_null_columns(missing))


@gateway_cache
def _null_columns(names: tuple[str, ...]) -> dict[str, Column]:
    return {c: F.lit(None).cast(StringType()) for c in names}


def clean_price_fields(df: DataFrame) -> DataFrame:
    """F1 applied to all seven PRICE_FIELDS (estimated_amount exempt
    from the <=0 / placeholder nulling).

    Two projections on purpose: parse once, then null-out over the
    parsed value. Catalyst keeps them separate (the parsed column is
    referenced multiple times), so neither codegen nor the interpreted
    fallback re-runs the regex+cast per predicate branch.
    """
    parsed, nulled = _price_columns()
    return df.withColumns(parsed).withColumns(nulled)


@gateway_cache
def _price_columns() -> tuple[dict[str, Column], dict[str, Column]]:
    parsed = {c: parse_price_expr(F.col(c)) for c in PRICE_FIELDS}
    nulled = {
        c: null_invalid_price_expr(F.col(c)) for c in PRICE_FIELDS if c not in PRICE_NULL_EXEMPT
    }
    return parsed, nulled


def scrub_invalid_tokens(df: DataFrame, columns: list[str]) -> DataFrame:
    """R1 applied to ``columns``."""
    return df.withColumns(_scrub_columns(tuple(columns)))


@gateway_cache
def _scrub_columns(names: tuple[str, ...]) -> dict[str, Column]:
    return {c: scrub_invalid_token_expr(F.col(c)) for c in names}


def normalize_text_fields(df: DataFrame) -> DataFrame:
    """F2 applied to the six TEXT_FIELDS."""
    return df.withColumns(_text_columns())


@gateway_cache
def _text_columns() -> dict[str, Column]:
    return {c: normalize_text_expr(F.col(c)) for c in TEXT_FIELDS}


def normalize_modifiers(df: DataFrame) -> DataFrame:
    """F3 on the modifiers column."""
    return df.withColumn("modifiers", _modifiers_column())


@gateway_cache
def _modifiers_column() -> Column:
    return normalize_modifiers_expr(F.col("modifiers"))


def normalize_code_type(df: DataFrame) -> DataFrame:
    """F7 on code_type (keeps the raw value in code_type_raw for
    devlog audits A3/A5)."""
    raw, normalized = _code_type_columns()
    return df.withColumn("code_type_raw", raw).withColumn("code_type", normalized)


@gateway_cache
def _code_type_columns() -> tuple[Column, Column]:
    return F.col("code_type"), normalize_code_type_expr(F.col("code_type"))


def flag_invalid_algorithm(df: DataFrame) -> DataFrame:
    """F4 flag column (summed into devlog, dropped before the sink)."""
    return df.withColumn("negotiated_algorithm_invalid", _algorithm_flag())


@gateway_cache
def _algorithm_flag() -> Column:
    return algorithm_invalid_expr(F.col("negotiated_algorithm"))


def validate_code_format(df: DataFrame) -> DataFrame:
    """R2 keep-filter."""
    return df.where(_code_format_valid())


@gateway_cache
def _code_format_valid() -> Column:
    return code_format_valid_expr(F.col("code"), F.col("code_type"))
