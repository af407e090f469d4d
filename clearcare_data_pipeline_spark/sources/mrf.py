"""Shared machinery for the raw-MRF extractors (SURVEY.md §2.1/§2.4).

All three physical layouts (tall CSV, wide CSV, nested JSON) normalize
into the canonical 22-column all-string charges table. CSV layouts
carry a 2-line metadata preamble (row 1 = keys, row 2 = values) before
the real header (tall_format_csv_extractor.pyc:66-71).

An extractor returns its *slots*: every emitted (code, type) slot in
canonical layout plus ``code_type_raw``, before the R3 allowed-type
gate. Both outputs derive from that one frame — the charges table
(``kept_charges``) and the unknown-type histogram
(``unknown_type_histogram``) — so a caller that materializes the slots
once (the ETL's extract checkpoint) gets both from one raw scan.
"""

from __future__ import annotations

import csv
import io
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from clearcare_data_pipeline_spark.schema import (
    ALLOWED_CODE_TYPES,
    CANONICAL_COLUMNS,
)
from clearcare_data_pipeline_spark.functions.cleaning import normalize_code_type_expr
from clearcare_data_pipeline_spark.session import gateway_cache


def read_mrf_csv(spark: SparkSession, path: str) -> tuple[dict[str, str], DataFrame]:
    """S2/S3/S4: a tall or wide MRF CSV as (preamble metadata, body).

    Line 1 holds the preamble keys and line 2 their values (X3: zipped
    into a dict, missing values ''); the first non-blank line after them
    is the header. One action collects those three lines. The body is
    every later non-blank line that is not a copy of the header, parsed
    by ``from_csv`` under an all-string schema named from the header,
    NULL cells blank-filled (P3): the rules ``DataFrameReader.csv``
    applies to a dataset of lines with a header. Names are NOT
    normalized (P1): the raw names (with '|') are semantic for the
    extractors.

    One CSV dialect, RFC 4180 as the reference's ``pd.read_csv`` reads
    it: the preamble and header lines go through Python's ``csv.reader``
    and the body through ``from_csv`` with ``escape='"'``, so a doubled
    quote in a quoted cell is one quote everywhere (``"a ""q"" z"`` ->
    ``a "q" z``). A quoted body cell holding a backslash before a quote
    (``"x\\"y"``, not RFC 4180) comes out as its raw text where pandas
    gives ``x\\y"``. A quoted field may not span lines: the file is read
    line by line, so a body line that ends inside an open quoted field
    (by pandas' rule, see ``_OPEN_QUOTE_RE``) fails the job that parses
    it with ``raise_error``, where pandas would read one row.

    The preamble is dropped by position: ``_line`` counts the rows of
    each scan partition, and lines 0 and 1 of the first partition are
    the file's own only if that partition starts with the split at
    offset 0 and both lines start inside it. Spark orders a file's
    splits by length, longest first, with a stable sort, so the split
    at offset 0 (full size unless it is the only one) comes first; the
    head action checks both conditions and raises ``ValueError`` where
    they fail (``maxPartitionBytes`` shorter than the first line) rather
    than parse a preamble line as data.
    """
    line, head_keep, head_cols, body_keep = _line_columns()
    lines = spark.read.text(path).withColumn("_line", line)
    head = lines.where(head_keep).select(*head_cols).limit(3).collect()
    if len(head) < 3:
        raise ValueError(f"{path}: no header line after the 2-line preamble")
    if [(r._line, r._start) for r in head[:2]] != [(0, 0), (1, 0)]:
        raise ValueError(f"{path}: the 2-line preamble does not start the first scan split")
    rows = list(csv.reader(io.StringIO("\n".join(r.value for r in head[:2]))))
    meta = dict(zip(rows[0], rows[1] + [""] * len(rows[0]))) if len(rows) >= 2 else {}
    header = head[2].value
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    names = _safe_header(next(csv.reader([header])), case_sensitive)
    schema = ", ".join(f"`{n.replace('`', '``')}` STRING" for n in names)
    body = lines.where(body_keep & (F.col("value") != header))
    cells = F.from_csv(_checked_line(), schema, {"escape": '"'})
    return meta, body.select(cells.alias("r")).select("r.*").na.fill("")


@gateway_cache
def _line_columns() -> tuple[Column, Column, list[Column], Column]:
    """(line number, head-action filter, head-action projection, body
    filter) of ``read_mrf_csv``'s text scan."""
    preamble = F.col("_line") < 2
    nonblank = F.length(F.trim("value")) > 0
    head_cols = [F.col("value"), F.col("_line"), F.input_file_block_start().alias("_start")]
    return F.monotonically_increasing_id(), preamble | nonblank, head_cols, ~preamble & nonblank


# Strips one complete field per match, each starting where the last one
# ended (``\G``), by pandas' quoting rule: a quote opens a field only at
# the field's start, ``""`` inside it is one quote, and the closing quote
# may be followed by unquoted text. What is left of a line starts a
# quoted field that the line does not close.
_OPEN_QUOTE_RE = r'\G(?:"(?:[^"]++|"")*+"(?:[^,"][^,]*+)?|(?:[^,"][^,]*+)?)(?:,|$)'


@gateway_cache
def _checked_line() -> Column:
    """A body line's text; a line that ends inside an open quoted field
    raises."""
    open_quote = F.regexp_replace("value", _OPEN_QUOTE_RE, "") != ""
    return F.when(
        open_quote,
        F.raise_error(
            F.concat(
                F.input_file_name(),
                F.lit(": a quoted field spans lines, which this reader does not support: "),
                F.substring("value", 1, 200),
            )
        ),
    ).otherwise(F.col("value"))


def _safe_header(names: list[str], case_sensitive: bool) -> list[str]:
    """Column names from header cells by Spark's ``makeSafeHeader``: a
    blank ('') cell becomes ``_c{i}``, and a repeated name (compared
    case-insensitively unless ``case_sensitive``) gets its index ``i``
    appended."""
    key = (lambda n: n) if case_sensitive else str.lower
    seen = Counter(key(n) for n in names if n)
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[key(n)] > 1 else n
        for i, n in enumerate(names)
    ]


def explode_code_slots(df: DataFrame, available_cols: list[str]) -> DataFrame:
    """X1: one output row per valid (code, type) slot; blank slots
    skipped; raw type normalized (F7) and gated to the allowed set
    (R3). Adds ``code``, ``code_type``, ``code_type_raw`` columns.
    Slots absent from the source schema contribute nothing."""
    cols = set(available_cols)
    present = tuple(i for i in range(1, 5) if f"code|{i}" in cols and f"code|{i}|type" in cols)
    slot, keep, code, raw, code_type = _slot_columns(present)
    df = df.withColumn("_slot", slot).where(keep)
    df = df.withColumn("code", code).withColumn("code_type_raw", raw)
    return df.withColumn("code_type", code_type).drop("_slot")


@gateway_cache
def _slot_columns(slots: tuple[int, ...]) -> tuple[Column, ...]:
    structs = [
        F.struct(F.col(f"`code|{i}`").alias("code"), F.col(f"`code|{i}|type`").alias("raw_type"))
        for i in slots
    ]
    return (
        F.explode(F.array(*structs)),
        (F.col("_slot.code") != "") & (F.col("_slot.raw_type") != ""),
        F.col("_slot.code"),
        F.col("_slot.raw_type"),
        normalize_code_type_expr(F.col("code_type_raw")),
    )


@gateway_cache
def allowed_type() -> Column:
    """R3 keep predicate on the normalized code type; an unmapped
    (NULL) type is not allowed."""
    return F.coalesce(F.col("code_type").isin(ALLOWED_CODE_TYPES), F.lit(False))


def finalize_canonical(df: DataFrame, hospital_name: str = "", zip_code: str = "") -> DataFrame:
    """Project to the canonical 22 columns in order, plus
    ``code_type_raw``, filling the registry-sourced identity columns
    and defaulting absences to ''."""
    present = set(df.columns)
    out = df
    if "hospital_name" not in present:
        out = out.withColumn("hospital_name", F.lit(hospital_name))
    if "zip_code" not in present:
        out = out.withColumn("zip_code", F.lit(zip_code))
    present |= {"hospital_name", "zip_code"}
    missing = tuple(c for c in CANONICAL_COLUMNS if c not in present)
    if missing:
        out = out.withColumns(_blank_columns(missing))
    return out.select(*_canonical())


@gateway_cache
def _blank_columns(names: tuple[str, ...]) -> dict[str, Column]:
    return {c: F.lit("").cast(StringType()) for c in names}


@gateway_cache
def _canonical() -> list[Column]:
    """The canonical columns in order, then ``code_type_raw``."""
    return [F.col(c) for c in [*CANONICAL_COLUMNS, "code_type_raw"]]


def kept_charges(slots: DataFrame) -> DataFrame:
    """R3: the canonical charges table, i.e. the slots whose normalized
    type is allowed."""
    return slots.where(allowed_type()).select(*_canonical()[:-1])


def unknown_type_keys(slots: DataFrame) -> DataFrame:
    """Devlog A3 keys: one row per slot R3 rejected, holding its raw
    type upper-cased and trimmed."""
    rejected, key = _unknown_type_columns()
    return slots.where(rejected).select(key)


@gateway_cache
def _unknown_type_columns() -> tuple[Column, Column]:
    return ~allowed_type(), F.upper(F.trim(F.col("code_type_raw"))).alias("raw_code_type")


def unknown_type_histogram(slots: DataFrame) -> DataFrame:
    """Devlog A3: (raw_code_type, n) over the slots R3 rejected."""
    return unknown_type_keys(slots).groupBy("raw_code_type").agg(F.count(F.lit(1)).alias("n"))


@dataclass
class ExtractResult:
    slots: DataFrame  # every emitted slot: canonical columns + code_type_raw, before R3
    metadata: dict[str, str]

    @property
    def charges(self) -> DataFrame:
        return kept_charges(self.slots)

    @property
    def unknown_types(self) -> DataFrame:
        """(raw_code_type, n) — devlog A3."""
        return unknown_type_histogram(self.slots)
