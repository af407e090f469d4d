"""Oracle-side stage cache (VERDICT r9 #2): with
``VERIFY_ORACLE_STAGE_DIR`` set, the charges oracles read
pre-materialized parquet stages — and must return byte-identical
results to the self-contained canonical SQL; a set env with an
unbuilt/stale cache must hard-error, never silently fall back."""

import importlib
import os
import subprocess
import sys

import duckdb
import pytest

from clearcare_data_pipeline_spark.queries import _oracle_expr as oe
from clearcare_data_pipeline_spark.schema import TESTDATA_TABLES

SF_DIR = "/root/testdata/sf0.001"
QPKG = "clearcare_data_pipeline_spark.queries"


def _queries_modules():
    return [m for m in list(sys.modules) if m == QPKG or m.startswith(QPKG + ".")]


@pytest.fixture(autouse=True)
def _restore_queries_modules():
    """Put back the queries modules ``_fresh_oracles`` replaced, so test
    modules that imported from them at module top still share the live
    package with ``sys.modules`` (and a monkeypatch of one reaches the
    other)."""
    saved = {m: sys.modules[m] for m in _queries_modules()}
    yield
    for m in _queries_modules():
        del sys.modules[m]
    sys.modules.update(saved)
    setattr(sys.modules["clearcare_data_pipeline_spark"], "queries", saved[QPKG])


def _fresh_oracles():
    """Re-import the queries package so module-level oracle dicts are
    rebuilt under the current env."""
    for m in _queries_modules():
        del sys.modules[m]
    import clearcare_data_pipeline_spark.queries as q

    importlib.reload(q)
    return q.all_oracles()


def _run(sql: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    try:
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.fixture()
def stage_cache(tmp_path):
    out = subprocess.run(
        [sys.executable, "tools/materialize_oracle_stages.py", SF_DIR,
         "--dir", str(tmp_path), "--mem", "4GB", "--threads", "4"],
        capture_output=True, text=True,
        env={**os.environ, oe.ORACLE_STAGE_ENV: ""},
    )
    assert out.returncode == 0, out.stderr
    return str(tmp_path)


@pytest.mark.slow
def test_cached_oracles_match_canonical(stage_cache, monkeypatch):
    monkeypatch.delenv(oe.ORACLE_STAGE_ENV, raising=False)
    canonical = _fresh_oracles()
    monkeypatch.setenv(oe.ORACLE_STAGE_ENV, stage_cache)
    cached = _fresh_oracles()
    monkeypatch.delenv(oe.ORACLE_STAGE_ENV)
    for name in ["charges_cleaned", "charges_quarantine", "charges_rules_tagged",
                 "charges_unknown_code_types", "charges_code_type_mappings",
                 "charges_score", "extract_tall_canonical",
                 "extract_tall_unknown_types", "extract_wide_canonical",
                 "extract_json_canonical"]:
        assert cached[name] != canonical[name]  # the cache actually engaged
        a = _run(canonical[name])
        a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b = _run(cached[name]).sort_values(by=list(a.columns)).reset_index(drop=True)
        assert a.equals(b), name
    # non-charges oracles are untouched by the cache
    assert cached["q1_pricing_summary"] == canonical["q1_pricing_summary"]


def test_unbuilt_cache_is_a_hard_error(tmp_path, monkeypatch):
    monkeypatch.setenv(oe.ORACLE_STAGE_ENV, str(tmp_path / "nowhere"))
    with pytest.raises(FileNotFoundError, match="materialize_oracle_stages"):
        oe.cleaned_charges_cte("lineitem")
