"""Every package module is reached from a production entry point.

The entry points are ``etl`` (``run_etl``), ``__main__``, the query
registry ``queries/__init__`` and every module that defines a
registered query. The walk is ``provenance``'s own static import walk,
so it sees exactly what the closure hashes see. A module outside the
walk has no query, oracle or bench workload, so neither the oracle
gate nor the benchmark can check it: it fails this test unless it is
on the allowlist below with its reason.
"""

from __future__ import annotations

import os

from clearcare_data_pipeline_spark import provenance as P
from clearcare_data_pipeline_spark.queries import all_queries

PKG = "clearcare_data_pipeline_spark"

# module -> why it stays although no entry point imports it
ALLOWED_UNREACHED = {
    f"{PKG}.sources.enrich": "twin of the reference's hospital_enricher.py",
    f"{PKG}.sources.leapfrog": "twin of the reference's hospital_enricher.py Leapfrog scrape",
    f"{PKG}.sources.explorer": "twin of the reference's json_explorer.py",
    f"{PKG}.operators.layout": (
        "range, z-order and date-partitioned writes and compaction; kept "
        "with its eight tests until a later change deletes both"
    ),
    f"{PKG}.streaming": "package of stream_clean",
    f"{PKG}.streaming.pipeline": (
        "stream_clean: the reference's chunk loop as a file-arrival stream "
        "(COVERAGE S1/K3)"
    ),
}


def _package_modules() -> set[str]:
    out = set()
    for d, _, files in os.walk(P._PKG_DIR):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f[:-3]), P._ROOT)
                name = rel.replace(os.sep, ".")
                out.add(name.removesuffix(".__init__"))
    return out


def _entry_points() -> set[str]:
    return {f"{PKG}.etl", f"{PKG}.__main__", f"{PKG}.queries"} | {
        fn.__module__ for fn in all_queries().values()
    }


def _reached(roots: set[str]) -> set[str]:
    # import_closure skips EXCLUDED_MODULES (the registry __init__), so
    # a root's own direct imports are walked too
    out = set(roots)
    for root in roots:
        out.update(P.import_closure(root))
        for m in P._direct_imports(root):
            out.update(P.import_closure(m))
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    P.clear_caches()
    unreached = _package_modules() - _reached(_entry_points())
    extra = sorted(unreached - set(ALLOWED_UNREACHED))
    assert not extra, f"no entry point imports {len(extra)} module(s): {extra}"


def test_allowlist_names_only_existing_unreached_modules():
    P.clear_caches()
    stale = set(ALLOWED_UNREACHED) - (_package_modules() - _reached(_entry_points()))
    assert not stale, f"allowlisted but missing or reached: {sorted(stale)}"
