"""Merge per-segment / per-run correctness artifacts into one,
machine-checking that every entry is still valid on the current tree.

verify_segmented.py stitches within a single invocation, but a gate
that spans invocations (e.g. an sf10 run that preserves last round's
entries and fresh-runs only the queries whose code changed) needs an
explicit merge. Later inputs win on overlapping query names, so pass
the authoritative re-run LAST. Counts are recomputed from the merged
map — never trusted from the inputs.

Provenance check (round 12). Every entry written by verify_local
carries ``code_hash`` — the digest of the query's package code
closure (clearcare_data_pipeline_spark/provenance.py). This merge
recomputes each query's hash on the CURRENT tree and refuses to emit
an artifact containing an entry whose recorded hash no longer
matches: a preserved "pass" for code that may no longer produce it.
Previously that judgment was a human reading the round's diff and
writing a prose note; now the default is machine-checked, and the two
escape hatches turn residual human judgment into recorded,
per-entry attestations instead of silence:

* ``--waive NAME=reason`` — "this entry IS valid on the current tree
  even though its closure bytes changed" (e.g. a comment-only edit,
  or an operator change behind a default the query doesn't take).
  The reason is stored in the entry as ``provenance_waiver`` next to
  BOTH hashes (``code_hash`` becomes the current one — the waiver
  asserts validity for the current tree; ``code_hash_at_run`` keeps
  what the gate actually ran), so a reviewer can hold the text
  against the diff.
* ``--allow-unhashed`` — accept entries with no recorded hash
  (artifacts predating r12); each is marked ``provenance:
  "unhashed"`` so the gap stays visible instead of laundering into a
  checked artifact.

``--no-check-provenance`` skips the whole check — for reproducing
historical merges only; new gate scripts must not use it.

Usage:
  python tools/merge_correctness.py --out CORRECTNESS_SF10_r13.json \
      --note "..." CORRECTNESS_SF10_r12.json sf10_fresh_runs.json \
      --waive doc_stats="comment-only edit to textops.py:12 (see diff)"
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("inputs", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--note", default=None)
    ap.add_argument("--waive", action="append", default=[], metavar="NAME=REASON",
                    help="attest a hash-stale entry is valid on the current "
                    "tree; reason is recorded in the entry")
    ap.add_argument("--allow-unhashed", action="store_true",
                    help="accept entries with no recorded code_hash "
                    "(pre-r12 artifacts); marked in the output")
    ap.add_argument("--no-check-provenance", action="store_true",
                    help="skip the code-hash check (historical replays only)")
    args = ap.parse_args()

    waivers: dict[str, str] = {}
    for w in args.waive:
        if "=" not in w:
            ap.error(f"--waive wants NAME=REASON, got {w!r}")
        name, reason = w.split("=", 1)
        if not reason.strip():
            ap.error(f"--waive {name}: empty reason — the reason IS the record")
        waivers[name] = reason.strip()

    queries: dict[str, dict] = {}
    sf_dir = None
    for path in args.inputs:
        with open(path) as f:
            doc = json.load(f)
        sf_dir = doc.get("sf_dir") or sf_dir
        # r13 (VERDICT r12): digests are breadcrumbs bound to the
        # FORMULA era of their fresh run. Push the artifact-level
        # digest_version down onto each entry it carried, so after
        # merging artifacts from different eras every digest still
        # names the formula that produced it — the r12 lineage check
        # had to reconstruct this forensically.
        era = doc.get("digest_version")
        for name, entry in doc.get("queries", {}).items():
            if era is not None and "digest" in entry:
                entry.setdefault("digest_version", era)
            queries[name] = entry

    provenance_block: dict | None = None
    if not args.no_check_provenance:
        # Anchor to the repo root that contains THIS script, not the
        # caller's cwd — run from elsewhere, a cwd-relative path would
        # either fail the import or silently hash a different tree
        # than the artifacts being merged.
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from clearcare_data_pipeline_spark.queries import query_code_hashes

        try:
            current = query_code_hashes(list(queries))
        except KeyError as e:
            print(f"provenance: merged entry is not in the current registry: {e}")
            return 2
        stale, unhashed, waived_ok, matched = [], [], [], 0
        for name, entry in queries.items():
            recorded = entry.get("code_hash")
            if name in waivers:
                entry["code_hash_at_run"] = recorded
                entry["code_hash"] = current[name]
                entry["provenance_waiver"] = waivers[name]
                waived_ok.append(name)
            elif recorded is None:
                if args.allow_unhashed:
                    entry["provenance"] = "unhashed"
                unhashed.append(name)
            elif recorded != current[name]:
                stale.append(name)
            else:
                matched += 1
        unused = sorted(set(waivers) - set(queries))
        if unused:
            print(f"provenance: --waive names not in the merge: {unused}")
            return 2
        if stale:
            print("provenance: REFUSING — these entries' code closures "
                  "changed since their gate run (re-run them, or --waive "
                  "with the argument a reviewer can check):")
            for n in sorted(stale):
                print(f"  {n}: recorded {queries[n].get('code_hash')} "
                      f"!= current {current[n]}")
            return 2
        if unhashed and not args.allow_unhashed:
            print("provenance: REFUSING — these entries carry no code_hash "
                  f"(pre-r12 artifact?): {sorted(unhashed)}\n"
                  "re-run them, or pass --allow-unhashed to keep them "
                  "visibly marked")
            return 2
        provenance_block = {
            "checked": True,
            "matched": matched,
            "waived": sorted(waived_ok),
            "unhashed": sorted(unhashed),
        }
        print(f"provenance: {matched} matched, {len(waived_ok)} waived, "
              f"{len(unhashed)} unhashed-allowed")
    elif waivers:
        ap.error("--waive without provenance checking makes no attestation")

    statuses = [v.get("status") for v in queries.values()]
    eras = sorted({
        v["digest_version"] for v in queries.values() if "digest_version" in v
    })
    out = {
        "sf_dir": sf_dir,
        "passed": sum(s == "pass" for s in statuses),
        "failed": sum(s not in ("pass", "rows_only") for s in statuses),
        "rows_only": sum(s == "rows_only" for s in statuses),
        "merged_from": args.inputs,
        "queries": queries,
    }
    if eras:
        out["digest_version"] = eras[-1] if len(eras) == 1 else eras
        if len(eras) > 1:
            print(f"note: merged entries span digest formula eras {eras} — "
                  "per-entry digest_version says which; do not compare "
                  "digests across eras")
    if provenance_block is not None:
        out["provenance"] = provenance_block
    if args.note:
        out["note"] = args.note
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"{out['passed']} passed, {out['failed']} failed, "
          f"{out['rows_only']} rows-only ({len(queries)} queries) -> {args.out}")
    return 1 if out["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
