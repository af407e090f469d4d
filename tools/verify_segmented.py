"""One-command segmented oracle gate (VERDICT r6 ask #2).

Runs the full ``__spark_entry__.queries()`` surface against the DuckDB
oracles at any scale factor, in SEGMENTS of fresh subprocesses, then
automatically retries every failed-or-missing query one-per-process and
stitches the results into a single artifact. Replaces the manual
verify_sf1_segmented.sh + merge_sf1_correctness.py workflow
(CORRECTNESS_SF1_r06.json's "7 sequential segments + 2 redo passes").

Why segments + a fresh process per segment (round-6 lessons):
  * one monolithic run accumulates JVM heap across 136 sf1 queries and
    eventually slows or dies silently;
  * a DuckDB OutOfMemoryException corrupts the in-process allocator —
    every later oracle in the same process can fail or segfault — so
    failures must be retried in a NEW process;
  * per-segment output files mean a crash loses at most one segment.

Stale-partial hazard (ADVICE r6): partials go to a fresh
``tempfile.mkdtemp`` per invocation, so results from a previous run can
never be stitched in, regardless of how segment composition shifts.

Usage:
  python tools/verify_segmented.py .localdata/sf1 --out CORRECTNESS_SF1_r07.json
  python tools/verify_segmented.py .localdata/sf10 --out X.json --queries q1_pricing_summary doc_stats
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def run_verify(sf_dir: str, names: list[str], out: str, env: dict) -> dict:
    """One fresh-process verify_local run; returns its per-query results
    (empty dict if the process crashed before writing the artifact)."""
    cmd = [sys.executable, "-u", "tools/verify_local.py", "--out", out, sf_dir, *names]
    proc = subprocess.run(cmd, env=env)
    if proc.returncode != 0:
        print(f"  (verify_local exited {proc.returncode})")
    if not os.path.exists(out):
        return {}
    with open(out) as f:
        return json.load(f).get("queries", {})


def _digest_version() -> int | None:
    """The formula version of verify_local's in-engine digest — the
    subprocesses' digests all carry this era (see verify_local.py
    DIGEST_VERSION and, in git history, f55ca19:.r12state/
    digest_lineage_check.json)."""
    try:
        import verify_local

        return verify_local.DIGEST_VERSION
    except Exception:
        return None


def _git_state() -> dict | None:
    """Same artifact context verify_local records (HEAD + package
    dirtiness) — the stitched doc should carry it even though its
    entries came from subprocesses."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip()
        dirty = bool(subprocess.run(
            ["git", "status", "--porcelain",
             "clearcare_data_pipeline_spark", "__spark_entry__.py"],
            capture_output=True, text=True,
        ).stdout.strip())
        return {"head": head, "package_dirty": dirty} if head else None
    except Exception:
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seg-size", type=int, default=20)
    ap.add_argument("--retries", type=int, default=2,
                    help="per-query fresh-process retries after the segment pass")
    ap.add_argument("--queries", nargs="*", default=None,
                    help="restrict to these queries (default: all)")
    ap.add_argument("--exclude-scale-class", nargs="*", default=[],
                    help="drop registry entries of these scale classes "
                    "(e.g. quadratic_listing for sf10 gates); the set is "
                    "derived from queries.scale_class(), not a hand list")
    ap.add_argument("--mem", default=os.environ.get("VERIFY_DUCKDB_MEM", "48GB"))
    ap.add_argument("--threads", default=os.environ.get("VERIFY_DUCKDB_THREADS", "6"))
    args = ap.parse_args()

    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod

    all_names = list(entrymod.queries())
    names = args.queries if args.queries else all_names
    unknown = sorted(set(names) - set(all_names))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    if args.exclude_scale_class:
        from clearcare_data_pipeline_spark.queries import scale_class

        excl = set(args.exclude_scale_class)
        kept = []
        for n in names:
            sc = scale_class(n)
            if sc["class"] in excl:
                print(f"excluded ({sc['class']}): {n} — {sc.get('receipt', '')[:120]}")
            else:
                kept.append(n)
        names = kept

    env = dict(os.environ)
    # 48GB/6 threads: the sf1 charges + k-means oracles OOM at the
    # 24GB/8-thread defaults even after CTE materialization headroom.
    env["VERIFY_DUCKDB_MEM"] = args.mem
    env["VERIFY_DUCKDB_THREADS"] = args.threads

    tmp = tempfile.mkdtemp(prefix="verify_seg_")
    results: dict[str, dict] = {}
    try:
        segments = [names[i:i + args.seg_size] for i in range(0, len(names), args.seg_size)]
        for i, seg in enumerate(segments):
            print(f"=== segment {i + 1}/{len(segments)}: {len(seg)} queries ===")
            results.update(run_verify(args.sf_dir, seg, f"{tmp}/seg_{i}.json", env))

        for attempt in range(1, args.retries + 1):
            bad = [n for n in names
                   if results.get(n, {}).get("status") not in ("pass", "rows_only")]
            if not bad:
                break
            print(f"=== retry pass {attempt}: {len(bad)} queries, one fresh process each ===")
            for j, name in enumerate(bad):
                results.update(
                    run_verify(args.sf_dir, [name], f"{tmp}/retry_{attempt}_{j}.json", env)
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    statuses = [results.get(n, {"status": "fail", "err": "no result (process crash)"})
                for n in names]
    doc = {
        "sf_dir": args.sf_dir,
        "passed": sum(s["status"] == "pass" for s in statuses),
        "failed": sum(s["status"] not in ("pass", "rows_only") for s in statuses),
        "rows_only": sum(s["status"] == "rows_only" for s in statuses),
        "digest_version": _digest_version(),
        "git": _git_state(),
        "queries": {n: results.get(n, {"status": "fail", "err": "no result (process crash)"})
                    for n in names},
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"\n{doc['passed']} passed, {doc['failed']} failed, "
          f"{doc['rows_only']} rows-only -> {args.out}")
    for n, v in doc["queries"].items():
        if v["status"] not in ("pass", "rows_only"):
            print(f"  FAIL {n}: {v.get('err', '')[:160]}")
    return 1 if doc["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
