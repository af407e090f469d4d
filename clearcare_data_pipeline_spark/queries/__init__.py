"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame
plus a DuckDB oracle SQL twin for the driver's correctness gate."""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# --- scale classes (VERDICT r11 #4) ------------------------------------
#
# Machine-readable replacement for the hand-maintained sf10 exclusion
# lists that lived in gate scripts and the verify skill. Every
# registry entry has a class:
#
#   prod                - runs (and is gated) at every scale; the
#                         default for anything not listed below.
#   quadratic_listing   - the query's OUTPUT cardinality is quadratic
#                         in a planted clique population, so it cannot
#                         be materialized (or oracle-compared) beyond
#                         small sf. The operator itself IS gated at
#                         sf10 through a scale-safe companion form
#                         named in the receipt.
#
# Gate harnesses (tools/sf10_gate.sh, verify_segmented
# --exclude-scale-class) derive the runnable set from this map
# (``runnable_queries(exclude_classes=...)``) instead of copying
# names around; tests/test_scale_class.py pins that every registry
# entry resolves and that each non-prod entry names its companion.
_NON_PROD_SCALE_CLASS: dict[str, dict] = {
    "doc_simhash_near_dups": {
        "class": "quadratic_listing",
        "receipt": (
            "pair listing over planted simhash cliques: 1,077 rows at "
            "sf0.01 -> 12,170,121 at sf1, ~1.2e9 projected at sf10 "
            "(CORRECTNESS_SF10_r10.json exclusion note). Operator "
            "sf10-gated via doc_simhash_near_dup_counts (identical "
            "pairing collapsed to keyed aggregates; equality pinned in "
            "tests/test_scale_safe_counts.py) and doc_near_dup_clusters."
        ),
        "companion": "doc_simhash_near_dup_counts",
    },
    "part_name_linkage": {
        "class": "quadratic_listing",
        "receipt": (
            "pair listing over same-name part cliques: 1,398 rows at "
            "sf0.01 -> 14,061,705 at sf1, ~1.4e9 projected at sf10 "
            "(CORRECTNESS_SF10_r10.json exclusion note). Operator "
            "sf10-gated via part_name_linkage_counts (same "
            "blocked_similarity_join over the collapsed DISTINCT-name "
            "relation; equality pinned in tests/test_scale_safe_counts.py) "
            "and fuzzy_linkage_banded."
        ),
        "companion": "part_name_linkage_counts",
    },
}


def scale_class(name: str) -> dict:
    """Scale class for a registered query. Raises KeyError for names
    not in the registry so a typo can't silently read as 'prod'."""
    if name not in all_queries():
        raise KeyError(f"not a registered query: {name}")
    return _NON_PROD_SCALE_CLASS.get(name, {"class": "prod"})


def runnable_queries(exclude_classes: set[str] | frozenset[str] = frozenset()) -> list[str]:
    """Registry names minus the given scale classes — what gate
    scripts should iterate instead of hand-written exclusion lists."""
    return [
        n for n in all_queries()
        if _NON_PROD_SCALE_CLASS.get(n, {"class": "prod"})["class"]
        not in exclude_classes
    ]


# The query modules, in registry order; each defines QUERIES and
# ORACLES dicts keyed by query name.
_MODULES = (
    "relational", "tpch_extra", "tpch_extra2", "tpch_extra3", "advanced",
    "stats", "charges", "textops", "textops2", "textops3", "similarity",
    "eventsops", "extractors",
)


def _merged(attr: str) -> dict:
    out: dict = {}
    for name in _MODULES:
        out.update(getattr(importlib.import_module(f"{__name__}.{name}"), attr))
    return out


def all_queries() -> dict[str, QueryFn]:
    return _merged("QUERIES")


def all_oracles() -> dict[str, str]:
    return _merged("ORACLES")


def query_code_hashes(names: list[str] | None = None) -> dict[str, str]:
    """``code_hash`` for each registered query (default: all): the
    ``provenance.closure_hash`` of its defining module. The defining
    module is resolved from the CURRENT registry, so a remapped name
    hashes its new implementation. Refuses functions whose defining
    module lies outside the hashed package (wrappers, partials, lambdas
    in this registry __init__) and closures that reach back into the
    excluded registry package. It lives here so that ``provenance``
    imports nothing from the registry, and package code (the
    cleaned-stage cache key) may import ``provenance``."""
    from clearcare_data_pipeline_spark import provenance

    registry = all_queries()
    out: dict[str, str] = {}
    for name in (names if names is not None else list(registry)):
        fn = registry[name]
        mod = fn.__module__
        if provenance.module_path(mod) is None or mod in provenance.EXCLUDED_MODULES:
            raise ValueError(
                f"query {name!r} is defined in {mod!r}, which the "
                "closure walk cannot hash — move the function into a "
                "package module (no partials/lambdas/registry-__init__ "
                "definitions)"
            )
        provenance.check_no_reexports_through_excluded(mod)
        out[name] = provenance.closure_hash(mod)
    return out
