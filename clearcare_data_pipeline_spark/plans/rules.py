"""The 10 CMS conditional validation rules as named Column predicates.

Re-expressed from the reference rule masks
(``apply_conditional_rules``, cleaning_utils.py:21-54; SURVEY.md §3).
A TRUE predicate means *violation*. The tagging plan computes every
rule exactly once in a single projection; the clean/quarantine split is
two filters over the same tagged plan (one pass each, no Python).

"Present" semantics — a DECLARED DIVERGENCE from the reference (like
D1 chunk-local dedup, SURVEY.md §7): a price field (DOUBLE after F1)
is present when non-NULL; a text field is present when non-NULL and
non-blank after trimming. The reference instead tests ``.notna()``
AFTER ``normalize_text_fields``'s ``astype(str)``, which makes text
fields never-NaN — so its rules 1/5/9 can never fire on text absence
(a latent bug masked by the cast). This engine implements the rules'
documented *intent* (blank text = absent); the DuckDB oracle mirrors
these same predicates, so the gate validates dialect parity of the
intent semantics, not bug-for-bug reference parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.schema import PRICE_FIELDS
from clearcare_data_pipeline_spark.session import gateway_cache

RULE_NAMES: list[str] = [f"rule_{i}" for i in range(1, 11)]


@gateway_cache
def present(name: str) -> Column:
    """A value counts as present when it is non-NULL; a field outside
    ``PRICE_FIELDS`` must also be non-blank after trimming. The rules
    and the devlog's field presence (A1) share this predicate; the
    DuckDB oracles spell out the same rule."""
    c = F.col(name)
    if name in PRICE_FIELDS:
        return c.isNotNull()
    return c.isNotNull() & (F.trim(c) != "")


@gateway_cache
def rule_predicates() -> dict[str, Column]:
    """rule name -> violation predicate over the cleaned canonical table."""
    payer = present("payer_name")
    plan = present("plan_name")
    methodology = present("negotiated_methodology")
    code = present("code")
    code_type = present("code_type")
    desc = present("description")
    notes = present("additional_notes")
    modifiers = present("modifiers")
    drug_unit = present("drug_unit")
    drug_type = present("drug_type")
    algorithm = present("negotiated_algorithm")

    neg_price = present("negotiated_price")
    neg_pct = present("negotiated_percentage")
    gross = present("gross_charge")
    cash = present("discounted_cash_price")
    min_p = present("min_price")
    max_p = present("max_price")
    est = present("estimated_amount")

    any_price = F.lit(False)
    for p in PRICE_FIELDS:
        any_price = any_price | present(p)

    return {
        # 1: a negotiated/gross figure without full payer context
        "rule_1": (neg_price | neg_pct | gross) & ~(payer & plan & methodology),
        # 2: any price without a billing code + type
        "rule_2": any_price & ~(code & code_type),
        # 3: code XOR code type
        "rule_3": code != code_type,
        # 4: methodology 'other' must be explained in notes
        "rule_4": (F.trim(F.col("negotiated_methodology")) == "other") & ~notes,
        # 5: described item with no charge figure at all
        "rule_5": desc & ~gross & ~cash & ~neg_price & ~neg_pct & ~algorithm,
        # 6: negotiated price without min/max bounds
        "rule_6": neg_price & ~(min_p & max_p),
        # 7: percentage/algorithm pricing without an estimated amount
        "rule_7": ~neg_price & (neg_pct | algorithm) & ~est,
        # 8: NDC rows must carry drug unit + type
        "rule_8": (F.trim(F.col("code_type")) == "NDC") & ~(drug_unit & drug_type),
        # 9: modifier-only rows need context
        "rule_9": modifiers & ~desc & ~neg_price & ~neg_pct & ~algorithm & ~notes,
        # 10: drug unit XOR drug type
        "rule_10": drug_unit != drug_type,
    }


def tag_violations(df: DataFrame) -> DataFrame:
    """Add one BOOLEAN column per rule plus ``rules_violated``
    (comma-joined tags, '' when clean) — computed in one projection so
    Catalyst shares subexpressions across the count/split consumers.

    ``rules_violated`` is built with ``concat_ws`` (which skips NULL
    operands) rather than the equivalent
    ``array_join(array_compact(array(...)))``: ``array_compact`` is a
    higher-order function, and HOFs never enter whole-stage codegen —
    the whole 10-predicate tree re-evaluated per row through the
    interpreted expression walker (``CreateArray.eval`` /
    ``ArrayFilter.eval``, boxed accessors, linear child-list walks).
    Measured at sf1: the interpreted form ran 1.1 s or 6.1 s per scan
    depending on per-process JIT luck over the shared interpreter
    methods; the concat_ws form stays inside codegen and is stable.
    Same output either way: both join the fired rule names with ','
    and yield '' for a clean row.
    """
    return df.withColumns(rule_predicates()).withColumn("rules_violated", _rules_violated())


@gateway_cache
def _rules_violated() -> Column:
    return F.concat_ws(",", *[F.when(F.col(name), F.lit(name)) for name in RULE_NAMES])


@gateway_cache
def is_clean() -> Column:
    """R4 predicate over a ``tag_violations`` output: no rule fired."""
    return F.col("rules_violated") == ""


def split_clean_quarantine(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """R4: (clean, quarantine) from a ``tag_violations`` output. The
    clean side drops the rule flags and the helper columns
    (``code_type_raw``, ``negotiated_algorithm_invalid``); the
    quarantine side keeps the helpers and ``rules_violated``.

    Callers that consume both sides should ``.persist()`` the tagged
    plan first — this is the one fork where naive Spark would otherwise
    scan the source twice (SURVEY.md §4).
    """
    clean = tagged.where(is_clean()).drop(
        *RULE_NAMES, "rules_violated", "code_type_raw", "negotiated_algorithm_invalid"
    )
    quarantine = tagged.where(~is_clean()).drop(*RULE_NAMES)
    return clean, quarantine
