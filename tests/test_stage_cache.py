"""Filesystem-level tests for the cross-process stage-checkpoint cache
(sources/charges.py) — the ADVICE r4 hardening: stale-directory repair,
temp-dir cleanup on failure, ns-precision fingerprints, stale-tmp sweep.

No SparkSession needed; ``ensure_stage_cached`` takes an arbitrary
``build`` callable.
"""

from __future__ import annotations

import os

import pytest

from clearcare_data_pipeline_spark.sources.charges import (
    _source_fingerprint,
    _sweep_stale_tmp,
    ensure_stage_cached,
)


def _success_build(marker: str):
    def build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write(marker)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return build


def test_fresh_build_materializes_once(tmp_path):
    path = str(tmp_path / "stage-a")
    calls = []

    def build(tmp):
        calls.append(tmp)
        _success_build("v1")(tmp)

    assert ensure_stage_cached(path, build) == path
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # second call is a pure cache hit
    assert ensure_stage_cached(path, build) == path
    assert len(calls) == 1


def test_stale_dir_without_success_is_replaced(tmp_path):
    """A directory left by a crashed writer (no _SUCCESS) must be
    replaced by the fresh build, not returned (ADVICE r4 #1)."""
    path = str(tmp_path / "stage-b")
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write("stale")

    ensure_stage_cached(path, _success_build("fresh"))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    with open(os.path.join(path, "part-0")) as f:
        assert f.read() == "fresh"
    # no leaked tmp dirs
    assert [n for n in os.listdir(tmp_path) if ".tmp-" in n] == []


def test_race_loser_keeps_winners_complete_copy(tmp_path):
    """If a complete copy (with _SUCCESS) appears while we build, our
    rename fails and we must keep the winner's copy untouched."""
    path = str(tmp_path / "stage-c")

    def build(tmp):
        _success_build("loser")(tmp)
        # winner lands a complete copy before our rename
        _success_build("winner")(path)

    ensure_stage_cached(path, build)
    with open(os.path.join(path, "part-0")) as f:
        assert f.read() == "winner"
    assert [n for n in os.listdir(tmp_path) if ".tmp-" in n] == []


def test_stale_repair_race_accepts_concurrent_winner(tmp_path, monkeypatch):
    """ADVICE r5: a concurrent winner installing a complete copy inside
    the stale-repair rmtree->rename window must be accepted, not crash
    the repairer with ENOTEMPTY."""
    from clearcare_data_pipeline_spark.sources import charges as charges_mod

    path = str(tmp_path / "stage-race")
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write("stale")  # no _SUCCESS -> repair path runs

    real_rmtree = charges_mod.shutil.rmtree

    def rmtree_then_winner(target, **kw):
        real_rmtree(target, **kw)
        if target == path:
            # winner lands a complete copy in the window before our rename
            _success_build("winner")(path)

    monkeypatch.setattr(charges_mod.shutil, "rmtree", rmtree_then_winner)
    ensure_stage_cached(path, _success_build("loser"))
    with open(os.path.join(path, "part-0")) as f:
        assert f.read() == "winner"
    assert [n for n in os.listdir(tmp_path) if ".tmp-" in n] == []


def test_cleaned_version_key_tracks_schema_module(monkeypatch):
    """ADVICE r5: the cleaned-stage cache key must cover the schema
    module (CANONICAL_COLUMNS drives ensure_columns and the dedup key),
    so editing it invalidates the cross-process checkpoint. The key
    holds the closure hash of ``pipeline``; an edit to the schema
    module's bytes (simulated at the reader) changes it."""
    from clearcare_data_pipeline_spark import provenance as P
    from clearcare_data_pipeline_spark.queries.charges import _cleaned_version_key

    P.clear_caches()
    before = _cleaned_version_key()
    target = P.module_path("clearcare_data_pipeline_spark.schema")
    real = P._file_bytes.__wrapped__
    monkeypatch.setattr(P, "_file_bytes", lambda path: real(path) + (b"\n#" if path == target else b""))
    P.import_closure.cache_clear()
    P.closure_hash.cache_clear()
    P._direct_imports.cache_clear()
    try:
        assert _cleaned_version_key() != before
    finally:
        monkeypatch.undo()
        P.clear_caches()


def test_build_failure_cleans_tmp_and_propagates(tmp_path):
    path = str(tmp_path / "stage-d")

    def build(tmp):
        os.makedirs(tmp)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        ensure_stage_cached(path, build)
    assert not os.path.exists(path)
    assert [n for n in os.listdir(tmp_path) if ".tmp-" in n] == []
    # and a subsequent good build succeeds
    ensure_stage_cached(path, _success_build("ok"))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_fingerprint_uses_ns_mtime(tmp_path):
    """Same-size regeneration within the same second must change the
    fingerprint (ADVICE r4 #3)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    target = sf / "lineitem.parquet"
    target.write_text("x" * 64)
    os.utime(target, ns=(1_700_000_000_000_000_000, 1_700_000_000_000_000_000))
    fp1 = _source_fingerprint(str(sf))
    # +1 nanosecond, same size, same whole second
    os.utime(target, ns=(1_700_000_000_000_000_001, 1_700_000_000_000_000_001))
    fp2 = _source_fingerprint(str(sf))
    assert fp1 != fp2


def test_sweep_removes_only_old_tmp_dirs(tmp_path):
    old = tmp_path / "stage-x.tmp-123"
    new = tmp_path / "stage-y.tmp-456"
    keep = tmp_path / "stage-z"
    for d in (old, new, keep):
        d.mkdir()
    two_days_ago = 1  # epoch — definitely older than max_age
    os.utime(old, (two_days_ago, two_days_ago))
    _sweep_stale_tmp(str(tmp_path))
    assert not old.exists()
    assert new.exists()
    assert keep.exists()
