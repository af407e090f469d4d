"""Code-provenance pins (round 12): closure walking, hash
sensitivity, and merge_correctness's refuse/waive behavior — the
machinery that replaces human diff-reading in cross-round gate
preservation."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

from clearcare_data_pipeline_spark import provenance as P
from clearcare_data_pipeline_spark.queries import all_queries, query_code_hashes

PKG = "clearcare_data_pipeline_spark"


@pytest.fixture(autouse=True)
def _fresh_caches():
    P.clear_caches()
    yield
    P.clear_caches()


def test_every_registered_query_gets_a_hash():
    hashes = query_code_hashes()
    assert set(hashes) == set(all_queries())
    for name, h in hashes.items():
        assert h.startswith(P.HASH_PREFIX) and len(h) == len(P.HASH_PREFIX) + P.HASH_LEN, (name, h)


def test_closure_reaches_operators_and_parents_but_not_registry():
    c = set(P.import_closure(f"{PKG}.queries.similarity"))
    # the operator modules the queries actually call
    assert f"{PKG}.operators.similarity" in c
    assert f"{PKG}.operators.clustering" in c
    # parent packages initialize on import — their __init__ code counts
    assert PKG in c
    assert f"{PKG}.operators" in c
    # the registry __init__ is excluded by design (wiring only; remaps
    # are caught because the defining module is re-resolved at check
    # time from the current registry)
    assert f"{PKG}.queries" not in c


def test_function_body_imports_are_walked():
    """The package's queries import operators inside function bodies;
    the AST walk must see those, not just module-top imports.
    eventsops' range_join import is function-local."""
    c = set(P.import_closure(f"{PKG}.queries.eventsops"))
    assert f"{PKG}.operators.joins" in c


def test_hash_changes_iff_closure_module_bytes_change(monkeypatch):
    """Perturb one operator module's bytes (reader-level, no disk
    writes): every query whose closure includes it re-hashes; every
    query whose closure doesn't is untouched."""
    before = query_code_hashes()
    target = P.module_path(f"{PKG}.operators.similarity")
    real = P._file_bytes.__wrapped__

    def patched(path):
        data = real(path)
        return data + b"\n# perturbed" if path == target else data

    monkeypatch.setattr(P, "_file_bytes", patched)
    P.import_closure.cache_clear()
    P.closure_hash.cache_clear()
    P._direct_imports.cache_clear()
    after = query_code_hashes()

    registry = all_queries()
    for name in registry:
        includes = f"{PKG}.operators.similarity" in P.import_closure(
            registry[name].__module__
        )
        if includes:
            assert after[name] != before[name], name
        else:
            assert after[name] == before[name], name
    # sanity on the fixture itself: both sides non-empty
    n_changed = sum(after[n] != before[n] for n in registry)
    assert 0 < n_changed < len(registry)


def test_unknown_query_name_raises():
    with pytest.raises(KeyError):
        query_code_hashes(["not_a_query"])


def test_relative_import_hard_errors(tmp_path, monkeypatch):
    """The walker supports only the package's absolute-import
    convention; a relative import must fail LOUDLY, not silently drop
    an edge from the closure."""
    real = P._file_bytes.__wrapped__
    target = P.module_path(f"{PKG}.operators.similarity")

    def patched(path):
        if path == target:
            return b"from . import clustering\n"
        return real(path)

    monkeypatch.setattr(P, "_file_bytes", patched)
    P._direct_imports.cache_clear()
    P.import_closure.cache_clear()
    P.closure_hash.cache_clear()
    with pytest.raises(ValueError, match="relative import"):
        P.import_closure(f"{PKG}.operators.similarity")


# --- merge_correctness provenance gate ----------------------------------


def _entry(status="pass", **kw):
    return {"status": status, "rows": 1, "sec": 0.1, **kw}


def _run_merge(tmp_path, artifacts, *extra):
    paths = []
    for i, doc in enumerate(artifacts):
        p = tmp_path / f"in_{i}.json"
        p.write_text(json.dumps(doc))
        paths.append(str(p))
    out = tmp_path / "out.json"
    proc = subprocess.run(
        [sys.executable, "tools/merge_correctness.py", "--out", str(out),
         *paths, *extra],
        capture_output=True, text=True,
    )
    merged = json.loads(out.read_text()) if out.exists() else None
    return proc, merged


def test_merge_refuses_stale_then_accepts_waiver_and_matches_current(tmp_path):
    current = query_code_hashes(["q1_pricing_summary", "doc_stats"])
    doc = {
        "sf_dir": "x",
        "queries": {
            "q1_pricing_summary": _entry(code_hash=current["q1_pricing_summary"]),
            "doc_stats": _entry(code_hash="ch:0000000000000000"),
        },
    }
    proc, merged = _run_merge(tmp_path, [doc])
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "doc_stats" in proc.stdout
    assert merged is None

    proc, merged = _run_merge(
        tmp_path, [doc], "--waive", "doc_stats=comment-only edit, see diff"
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    e = merged["queries"]["doc_stats"]
    assert e["provenance_waiver"] == "comment-only edit, see diff"
    assert e["code_hash"] == current["doc_stats"]  # waiver asserts current validity
    assert e["code_hash_at_run"] == "ch:0000000000000000"
    assert merged["provenance"]["waived"] == ["doc_stats"]
    assert merged["provenance"]["matched"] == 1


def test_merge_refuses_unhashed_unless_allowed(tmp_path):
    doc = {"sf_dir": "x", "queries": {"doc_stats": _entry()}}
    proc, merged = _run_merge(tmp_path, [doc])
    assert proc.returncode == 2
    assert "no code_hash" in proc.stdout

    proc, merged = _run_merge(tmp_path, [doc], "--allow-unhashed")
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert merged["queries"]["doc_stats"]["provenance"] == "unhashed"
    assert merged["provenance"]["unhashed"] == ["doc_stats"]


def test_merge_rejects_waiver_for_absent_query_and_empty_reason(tmp_path):
    current = query_code_hashes(["doc_stats"])
    doc = {"sf_dir": "x",
           "queries": {"doc_stats": _entry(code_hash=current["doc_stats"])}}
    proc, _ = _run_merge(tmp_path, [doc], "--waive", "no_such_query=whatever")
    assert proc.returncode == 2
    assert "not in the merge" in proc.stdout
    proc, _ = _run_merge(tmp_path, [doc], "--waive", "doc_stats=")
    assert proc.returncode == 2


def test_merge_later_input_wins_and_fresh_hash_passes(tmp_path):
    current = query_code_hashes(["doc_stats"])
    stale = {"sf_dir": "x",
             "queries": {"doc_stats": _entry(code_hash="ch:0000000000000000")}}
    fresh = {"sf_dir": "x",
             "queries": {"doc_stats": _entry(code_hash=current["doc_stats"])}}
    proc, merged = _run_merge(tmp_path, [stale, fresh])
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert merged["queries"]["doc_stats"]["code_hash"] == current["doc_stats"]


def test_backfilled_r12_artifacts_are_fully_hashed():
    """Dogfood: what the r12 backfill bought, stated in the form that
    survives later code changes — every entry in the committed r12
    gate artifacts carries a recorded code_hash (none are unhashed
    prose attestations), and every named query still resolves to a
    computable closure hash in the current registry. Whether the
    recorded hash still MATCHES current code is the merge tool's
    runtime decision (stale -> refuse or re-run), not a repo
    invariant: any legitimate edit to a query-closure module makes
    r12's hashes stale by design (r13's _textsql refactor did)."""
    for path in ("CORRECTNESS_LOCAL_r12.json", "CORRECTNESS_SF1_r12.json",
                 "CORRECTNESS_SF10_r12.json"):
        doc = json.load(open(path))
        current = query_code_hashes(list(doc["queries"]))
        for name, entry in doc["queries"].items():
            recorded = entry.get("code_hash")
            assert isinstance(recorded, str) and recorded.startswith("ch:"), (
                path, name)
            assert name in current, (path, name)


def test_merge_output_may_overwrite_an_input(tmp_path):
    """The sf10 re-gates merge INTO one of their inputs
    (CORRECTNESS_SF10_r12.json both read and written). The tool reads
    every input fully before writing — pin that, so a future
    streaming-read refactor can't silently truncate the artifact."""
    current = query_code_hashes(["doc_stats"])
    doc = {"sf_dir": "x",
           "queries": {"doc_stats": _entry(code_hash=current["doc_stats"])}}
    p = tmp_path / "artifact.json"
    p.write_text(json.dumps(doc))
    proc = subprocess.run(
        [sys.executable, "tools/merge_correctness.py", "--out", str(p), str(p)],
        capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    merged = json.loads(p.read_text())
    assert merged["queries"]["doc_stats"]["code_hash"] == current["doc_stats"]
    assert merged["passed"] == 1


def test_waiver_persists_and_rechecks_clean_on_next_merge(tmp_path):
    """A --waive stamps the CURRENT hash next to the recorded waiver
    text; the NEXT merge therefore re-checks it as a normal matched
    entry while the waiver text stays in the artifact for reviewers."""
    current = query_code_hashes(["doc_stats"])
    doc = {"sf_dir": "x",
           "queries": {"doc_stats": _entry(code_hash="ch:0000000000000000")}}
    proc, merged = _run_merge(tmp_path, [doc], "--waive", "doc_stats=spelling-only, see diff")
    assert proc.returncode == 0
    proc2, merged2 = _run_merge(tmp_path, [merged])
    assert proc2.returncode == 0, proc2.stdout + proc2.stderr
    e = merged2["queries"]["doc_stats"]
    assert e["provenance_waiver"] == "spelling-only, see diff"
    assert e["code_hash"] == current["doc_stats"]
    assert merged2["provenance"]["matched"] == 1 and not merged2["provenance"]["waived"]


def test_merge_is_cwd_independent(tmp_path):
    """r13 (ADVICE r12): the provenance recomputation must hash THIS
    repo's tree regardless of the caller's cwd — the script anchors
    sys.path to its own location, not '.'. Run the merge from inside
    tmp_path; with the old cwd-relative insert this import fails (or
    worse, silently hashes an installed package)."""
    current = query_code_hashes(["doc_stats"])
    doc = {"sf_dir": "x",
           "queries": {"doc_stats": _entry(code_hash=current["doc_stats"])}}
    p = tmp_path / "artifact.json"
    p.write_text(json.dumps(doc))
    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "merge_correctness.py",
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, script, "--out", str(p), str(p)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    merged = json.loads(p.read_text())
    assert merged["provenance"]["matched"] == 1


# --- r13 adversarial pass on the closure walk ---------------------------


def test_empty_closure_is_a_hard_error():
    """A hash over an empty closure is a constant that never
    invalidates — the one place a silently-fake preserved gate entry
    could hide. Both routes there must refuse: the excluded registry
    package and a module outside the package entirely."""
    P.closure_hash.cache_clear()
    with pytest.raises(ValueError, match="empty code closure"):
        P.closure_hash(f"{PKG}.queries")
    with pytest.raises(ValueError, match="empty code closure"):
        P.closure_hash("functools")


def test_partial_or_registry_defined_query_fn_refused(monkeypatch):
    """A registry entry that is a functools.partial (``__module__`` ==
    'functools') or a function defined in the excluded registry
    __init__ would previously hash an empty closure silently; now
    query_code_hashes names the offender and refuses."""
    import functools

    import clearcare_data_pipeline_spark.queries as qpkg

    real = all_queries()

    def fake_registry():
        out = dict(real)
        out["evil_partial"] = functools.partial(real["q1_pricing_summary"], None)
        return out

    monkeypatch.setattr(qpkg, "all_queries", fake_registry)
    with pytest.raises(ValueError, match="evil_partial"):
        query_code_hashes(["evil_partial"])


def test_remap_reresolves_to_new_module(monkeypatch):
    """The exclusion of queries/__init__ rests on the claim that a
    registry REMAP is still caught because the defining module is
    re-resolved from the CURRENT registry. Prove it: remap a
    relational query name onto a textops-defined function and the
    recorded hash must become textops' closure hash."""
    import clearcare_data_pipeline_spark.queries as qpkg

    real = all_queries()
    victim = "q1_pricing_summary"
    impostor = real["doc_stats"]  # defined in queries.textops
    assert real[victim].__module__ != impostor.__module__

    def fake_registry():
        out = dict(real)
        out[victim] = impostor
        return out

    before = query_code_hashes([victim])[victim]
    monkeypatch.setattr(qpkg, "all_queries", fake_registry)
    after = query_code_hashes([victim])[victim]
    assert after != before
    assert after == P.closure_hash(impostor.__module__)


def test_reexport_through_excluded_module_refused(monkeypatch):
    """If an in-closure module ever imports FROM the excluded registry
    package (a re-export chain — code flowing into query semantics
    through a path the closure hash cannot see), hashing must refuse
    rather than silently under-hash. Simulated at the reader level by
    splicing such an import into operators/similarity.py."""
    target = P.module_path(f"{PKG}.operators.similarity")
    real = P._file_bytes.__wrapped__

    def patched(path):
        data = real(path)
        if path == target:
            data += (
                b"\nfrom clearcare_data_pipeline_spark.queries import scale_class\n"
            )
        return data

    monkeypatch.setattr(P, "_file_bytes", patched)
    # clear the derived caches only — clear_caches() touches the now-
    # patched plain-function _file_bytes
    P._direct_imports.cache_clear()
    P.import_closure.cache_clear()
    P.closure_hash.cache_clear()
    with pytest.raises(ValueError, match="re-export"):
        query_code_hashes(["emb_cosine_topk"])


def test_current_tree_has_no_excluded_imports_in_any_closure():
    """The guard above is only exercised on a hypothetical tree; this
    pins that TODAY no query closure imports from an excluded module
    (so every current hash covers everything its query executes)."""
    for name, fn in all_queries().items():
        P.check_no_reexports_through_excluded(fn.__module__)


def test_merge_stamps_digest_eras_per_entry(tmp_path):
    """r13: digests are bound to their formula era (DIGEST_VERSION).
    Merging artifacts from different eras must stamp each entry with
    the era it ran under, so a later lineage check is mechanical, not
    forensic."""
    current = query_code_hashes(["doc_stats", "q1_pricing_summary"])
    old_era = {"sf_dir": "x", "digest_version": 1,
               "queries": {"doc_stats": _entry(
                   code_hash=current["doc_stats"], digest="123")}}
    new_era = {"sf_dir": "x", "digest_version": 2,
               "queries": {"q1_pricing_summary": _entry(
                   code_hash=current["q1_pricing_summary"], digest="456")}}
    proc, merged = _run_merge(tmp_path, [old_era, new_era])
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert merged["queries"]["doc_stats"]["digest_version"] == 1
    assert merged["queries"]["q1_pricing_summary"]["digest_version"] == 2
    assert merged["digest_version"] == [1, 2]
    assert "span digest formula eras" in proc.stdout
