"""Code provenance for correctness artifacts (round 12).

Problem this closes: gate artifacts that PRESERVE entries across
rounds (the sf10 economics — a full fresh run costs hours) relied on
a HUMAN reading the round's diff to decide which entries' executed
code paths were untouched. That judgment lived in prose merge notes
(e.g. CORRECTNESS_SF10_r12.json's note) and a mistake would silently
fake a gate: a preserved "pass" for code that no longer produces it.

Mechanism: every correctness entry records ``code_hash`` — a digest
of the query's *code closure*: the source bytes of every package
module statically reachable (via import) from the module defining the
query function. ``tools/merge_correctness.py`` recomputes closures on
the current tree and REFUSES to emit an artifact containing an entry
whose recorded hash no longer matches, unless the operator supplies
an explicit ``--waive name=reason`` recorded inside the entry. The
"which entries may be preserved" question becomes machine-answered;
deviations become recorded attestations instead of silent judgment.

Granularity and its consequences (deliberate):

* MODULE-level, not function-level. Any byte change to a module in
  the closure — comments included — invalidates every query whose
  closure contains it. Over-invalidation is the safe direction; a
  comment-only edit is exactly what the waiver flag is for, and the
  waiver text ends up in the artifact where a reviewer can check it
  against the diff.
* The closure walk is STATIC (ast over Import/ImportFrom, absolute
  package imports — the package uses no relative imports). Imports
  inside function bodies count: the walk covers the whole AST, not
  just the module top.
* The emitted DuckDB oracle SQL is NOT hashed separately: with
  ``VERIFY_ORACLE_STAGE_DIR`` unset the canonical SQL is a pure
  function of the module sources already in the closure (the ORACLES
  dicts are built at import time from in-closure code), so hashing
  the closure covers it. Stage-spliced variants differ only in WHERE
  the oracle reads pre-verified bytes from, guarded separately by the
  cache's SQL-content keys and SOURCE.json data fingerprint.

Exclusions (each with the reason it cannot hide a semantic change):

* ``clearcare_data_pipeline_spark.queries`` (the package __init__):
  registry wiring, scale-class metadata and ``query_code_hashes`` (the
  per-query lookup of these hashes) only. A registry REMAP of a name
  to a different function is still caught, because the check side
  re-resolves the defining module from the CURRENT registry — a remap
  changes the closure and therefore the hash. This module imports
  nothing from the registry, so package code may import it.

Everything else inside the package (operators/, sources/, functions/,
plans/, streaming/, the query modules, _oracle_expr) participates.
Code outside the package (tools/verify_local.py's compare logic,
bench.py) is deliberately out of scope: it determines how results are
CHECKED or TIMED, not what the engine computes, and its history is
plain in git.
"""

from __future__ import annotations

import ast
import hashlib
import os
from functools import lru_cache

_PKG = "clearcare_data_pipeline_spark"
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_PKG_DIR)

# Modules excluded from every closure — see the module docstring for
# the argument each exclusion rests on. Keep this list SHORT and the
# reasons strong; anything debatable belongs in the closure.
EXCLUDED_MODULES = frozenset({
    f"{_PKG}.queries",
})

HASH_PREFIX = "ch:"
HASH_LEN = 16  # hex chars of sha256 — 64 bits, ample for drift detection


def module_path(modname: str) -> str | None:
    """Filesystem path for a package module name, or None if it does
    not resolve to a file inside this package (never imports it)."""
    if modname != _PKG and not modname.startswith(_PKG + "."):
        return None
    rel = modname.split(".")
    base = os.path.join(_ROOT, *rel)
    if os.path.isfile(base + ".py"):
        return base + ".py"
    init = os.path.join(base, "__init__.py")
    if os.path.isfile(init):
        return init
    return None


@lru_cache(maxsize=None)
def _file_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _module_sha(modname: str) -> str:
    path = module_path(modname)
    assert path is not None, modname
    return hashlib.sha256(_file_bytes(path)).hexdigest()


@lru_cache(maxsize=None)
def _direct_imports(modname: str) -> frozenset[str]:
    """Package-internal modules imported anywhere in ``modname``'s
    source (module top, function bodies, conditionals — the whole
    AST). ``from a.b import c`` adds ``a.b`` and, when ``c`` is itself
    a submodule, ``a.b.c``."""
    path = module_path(modname)
    if path is None:
        return frozenset()
    tree = ast.parse(_file_bytes(path))
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                name = alias.name
                if name == _PKG or name.startswith(_PKG + "."):
                    # `import a.b.c` binds a but initializes a.b.c —
                    # every prefix is on the hook
                    parts = name.split(".")
                    for i in range(1, len(parts) + 1):
                        cand = ".".join(parts[:i])
                        if module_path(cand):
                            found.add(cand)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                raise ValueError(
                    f"relative import in {modname} — the provenance "
                    "walker only supports the package's absolute-import "
                    "convention; extend _direct_imports if this changes"
                )
            base = node.module or ""
            if base == _PKG or base.startswith(_PKG + "."):
                if module_path(base):
                    found.add(base)
                for alias in node.names:
                    sub = f"{base}.{alias.name}"
                    if module_path(sub):
                        found.add(sub)
    return frozenset(found)


@lru_cache(maxsize=None)
def import_closure(modname: str) -> tuple[str, ...]:
    """Sorted transitive closure of package-internal imports from
    ``modname`` (inclusive), minus EXCLUDED_MODULES."""
    seen: set[str] = set()
    stack = [modname]
    while stack:
        m = stack.pop()
        if m in seen or m in EXCLUDED_MODULES or module_path(m) is None:
            continue
        seen.add(m)
        stack.extend(_direct_imports(m))
        # importing a.b.c initializes a and a.b — parent package
        # __init__ code executes, so it belongs in the closure (the
        # root __init__ carries re-exports; operators/__init__ is
        # empty today, but emptiness is an observation, not a rule)
        parts = m.split(".")
        stack.extend(".".join(parts[:i]) for i in range(1, len(parts)))
    return tuple(sorted(seen))


@lru_cache(maxsize=None)
def closure_hash(modname: str) -> str:
    """Digest of the source bytes of every module in the closure.

    Hard-errors on an EMPTY closure (r13 adversarial pass): a module
    name that is excluded or does not resolve inside the package
    would otherwise hash zero bytes — a constant digest that never
    invalidates, i.e. a silent fake gate for any query routed through
    it (e.g. a registry entry that is a ``functools.partial``, whose
    ``__module__`` is ``functools``)."""
    closure = import_closure(modname)
    if not closure:
        raise ValueError(
            f"empty code closure for {modname!r} — the module is "
            "excluded or outside the package, so its hash would never "
            "invalidate; define query functions in a hashed package "
            "module"
        )
    h = hashlib.sha256()
    for m in closure:
        h.update(m.encode())
        h.update(b"\0")
        h.update(_module_sha(m).encode())
        h.update(b"\n")
    return HASH_PREFIX + h.hexdigest()[:HASH_LEN]


def check_no_reexports_through_excluded(modname: str) -> None:
    """r13 adversarial pass: the EXCLUDED registry package must stay
    pure wiring. If any module inside ``modname``'s closure imports
    FROM an excluded module, code could flow into query semantics
    through a path the closure hash does not see (a re-export chain
    through ``queries/__init__``) — refuse rather than hash blind."""
    for m in import_closure(modname):
        hit = _direct_imports(m) & EXCLUDED_MODULES
        if hit:
            raise ValueError(
                f"{m} imports from excluded module(s) {sorted(hit)} — "
                "re-exports through the registry package are invisible "
                "to closure hashes; import the defining module directly"
            )


def clear_caches() -> None:
    """Testing hook: drop memoized file bytes/closures so a monkey-
    patched reader or an on-disk edit is observed."""
    _file_bytes.cache_clear()
    _direct_imports.cache_clear()
    import_closure.cache_clear()
    closure_hash.cache_clear()
