"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and order-insensitive values
(doubles rounded to 6 decimals before comparison).

Usage: python tools/verify_local.py [--out FILE.json] [sf_dir] [query ...]

``--out`` additionally writes a per-query JSON artifact (the committed
CORRECTNESS_LOCAL_r{N}.json evidence trail for the queries the driver's
50-query sample does not cover — VERDICT r4 ask #2).
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from clearcare_data_pipeline_spark.queries import _oracle_expr as oe  # noqa: E402
from clearcare_data_pipeline_spark.schema import TESTDATA_TABLES  # noqa: E402
from clearcare_data_pipeline_spark.session import get_spark  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: round(v, 6)
                if isinstance(v, float) and not math.isnan(v)
                else (tuple(v) if isinstance(v, (list, tuple)) else v)
            )
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except Exception:
        df = df.iloc[df.astype(str).apply(tuple, axis=1).argsort()].reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            # Combined absolute + relative tolerance: at sf1 a SUM over 6M
            # rows reaches ~1e10 where one float64 ULP is ~4e-6, so a pure
            # round-to-6-decimals equality flags last-bit associativity
            # differences between engines as failures.
            av = pd.to_numeric(av, errors="coerce").round(6)
            bv = pd.to_numeric(bv, errors="coerce").round(6)
            both_nan = av.isna() & bv.isna()
            close = np.isclose(
                av.fillna(-1.23456e300), bv.fillna(-1.23456e300),
                rtol=1e-9, atol=2e-6,
            )
            mism = pd.Series(~close & ~both_nan, index=av.index)
            eq = not mism.any()
        else:
            mism = av.astype(str) != bv.astype(str)
            eq = not mism.any()
        if not eq:
            idx = mism[mism].index[:3]
            examples = [(c, av.loc[i], bv.loc[i]) for i in idx]
            problems.append(f"values differ in col {c}: {examples}")
    return problems


# --- in-engine order-insensitive hash compare (VERDICT r8 #1) ---------
#
# The pandas compare above materializes BOTH engines' full results in
# the driver — ~50 GB for the charges pair at sf10, which excluded
# them from the sf10 gate and made every big oracle's wall time mostly
# materialize+compare. The hash path instead aggregates each side
# in-engine to two scalars — count(*) and sum(uint64(md5-prefix)) over
# a canonicalized row string — and compares those. Order-insensitive
# by construction (sum is commutative), multiset-exact (differing
# multiplicities shift the sum), and the row canonicalization is
# engine-portable:
#   * columns in sorted-name order, each field LENGTH-PREFIXED as
#     "<charlen>:<canon>" and then joined with chr(31) (ADVICE r9 #1:
#     without the prefix, distinct multisets could collide across
#     column boundaries when string values contain the separator —
#     ('a\x1fb','c') vs ('a','b\x1fc'); the length prefix makes the
#     joined string injectively decodable, so no such collision
#     exists). NULL -> a chr(2) sentinel (concat_ws would silently
#     drop NULLs); both engines count length in unicode codepoints.
#   * float/double canonicalized as a TIERED SCALED INTEGER — a pure
#     function of the bit pattern that both engines compute
#     identically. Tier 1 (|x| < 2^53/1e6): round(x * 1e6) as
#     DECIMAL(38,0) — the multiply is the same IEEE-754 op on both
#     sides, the scaled value stays under 2^53 so the round target is
#     exactly representable, and scale-0 rounding of the *same*
#     double agrees between Spark (BigDecimal of the shortest decimal
#     repr, HALF_UP) and DuckDB (std::round, half away from zero):
#     exact .5 ties round away from zero in both, and a non-tie's
#     shortest repr provably lies on the same side of every
#     half-integer as the double itself. Tier 2 (< 2^53): round(x)
#     (granularity 1.0 — tighter than the pandas path's rtol=1e-9 at
#     these magnitudes). Tier 3 (< 2^53*2^30): round(x / 2^30) — the
#     power-of-two divide is exact. Tiers carry distinct sentinels so
#     values can't collide across tiers; branch predicates compare
#     the identical double against identical literals, so both
#     engines always take the same branch. The previous
#     round(x, 6)->DECIMAL(38,6) rendering was NOT a pure function of
#     the bits (ADVICE r9 #2): Spark rounds the decimal rendering
#     while DuckDB rounds the scaled binary value, so 2.675-style
#     ties canonicalized differently per engine — and above 2^53 the
#     engines' double->decimal conversions diverge outright (shortest
#     repr vs exact binary), which the old scheme hit at sf10 money
#     sums (~1e12). NaN/±Inf get sentinels; |x| >= 2^83 falls back to
#     the engine's native text (document-level caveat, no such query);
#   * timestamps forced to microsecond text on both sides;
#   * uint64 = first 16 hex chars of md5 (Spark conv(..,16,10) ==
#     DuckDB CAST('0x'||substr(..) AS UBIGINT), verified identical);
#     summed as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so ANSI-mode
#     sums can't overflow.
#
# Exactness caveat: the hash compare is EXACT after the 1e-6 scaling
# — no isclose tolerance — so float-bearing queries are eligible only
# when both engines derive every float bit-identically. That is a
# per-query proof obligation, recorded in _HASH_FLOAT_OK below. On a
# digest mismatch of a small result the harness re-runs the pandas
# compare for diagnostics (and its verdict, restoring tolerance
# semantics); big results report the digests.

# Digest FORMULA version, stamped into artifacts (r12): digests are
# breadcrumbs bound to the formula era of their fresh run — the r12
# lineage check (git show f55ca19:.r12state/digest_lineage_check.json) had to
# reconstruct forensically that four preserved r9 digests predated
# da89a38's injective length-prefix refinement. Bump this whenever
# the canonicalization (_spark_canon/_duck_canon/joining) changes so
# future cross-era digest comparisons are mechanical.
#   v2 = da89a38's formula: tier-safe float canon + length-prefixed
#        injective field joining. (The short-lived initial formula of
#        db9a851 is retroactively v1.)
DIGEST_VERSION = 2

_HASH_SENT = "\x02"
_HASH_SEP = "\x1f"
_HASH_SIMPLE = {
    "string", "boolean", "tinyint", "smallint", "int", "bigint",
    "date", "timestamp", "timestamp_ntz",
}
_HASH_FLOATY = {"float", "double"}
# Float-bearing queries whose float outputs are BIT-IDENTICAL across
# engines, with the exactness argument per entry (VERDICT r9 #4 —
# extend hash eligibility past the original five). The four exactness
# patterns:
#   per-row   — parquet-read or per-row-derived values (string->double
#               casts are correctly rounded in both engines; fixed-order
#               HOF fold sums are the same IEEE adds);
#   decimal   — aggregates computed in exact DECIMAL internally, cast
#               to double only at output (queries/relational.py
#               pattern);
#   min/max   — order-insensitive exact picks of per-row values;
#   int-sum   — sums of integer-valued doubles: every partial sum is
#               an integer < 2^53, so double addition is exact and
#               order-independent.
# Float AGGREGATES over non-integer doubles (std/corr/percentile
# interpolation/iterative scores) stay on the pandas path.
_HASH_FLOAT_OK_DEFAULT = {
    "charges_cleaned": "per-row parsed prices",
    "charges_quarantine": "per-row parsed prices",
    "charges_rules_tagged": "per-row parsed prices",
    "merge_orders_upsert": "per-row o_totalprice",
    "part_name_linkage": "per-row levenshtein ratio of ints",
    "running_order_total": "decimal window sum; lag is per-row",
    "trailing_30d_spend": "decimal window sum",
    "customer_cohort_ltv": "decimal sums, round6 of 4dp values",
    "events_scd2_versions": "per-row value round6 (2dp source)",
    "orders_snapshot_diff": "per-row o_totalprice",
    "unpivot_part_metrics": "per-row unpivoted part columns",
    "cheapest_supplier_per_part": "min + per-row l_extendedprice",
    "topk_customers_per_segment": "per-row c_acctbal",
    "supplier_ranks": "per-row s_acctbal",
    "q18_large_orders": "per-row o_totalprice; sum_qty is int-sum",
    "events_first_last_purchase": "deterministic per-row value picks",
    "q1_pricing_summary": "decimal sums; avgs divide identical pairs",
    "q3_top_revenue_orders": "decimal revenue",
    "q5_regional_revenue": "decimal revenue",
    "q6_forecast_revenue": "decimal revenue",
    "q19_disjunctive_revenue": "decimal revenue",
    "rollup_revenue": "decimal revenue",
    "grouping_sets_time_revenue": "decimal revenue",
    "nation_revenue_share": "decimal sums; share divides identical pairs",
    "q14_promo_revenue_ratio": "decimal ratio",
}
# ADVICE r10 #2: the default allowlist applies only when the variable
# is ABSENT; an explicitly empty value is the opt-out (no float-bearing
# query hash-eligible), matching the pre-r10 semantics.
_HASH_FLOAT_OK_RAW = os.environ.get("VERIFY_HASH_FLOAT_OK")
_HASH_FLOAT_OK = (
    set(_HASH_FLOAT_OK_DEFAULT)
    if _HASH_FLOAT_OK_RAW is None
    else {s for s in _HASH_FLOAT_OK_RAW.split(",") if s}
)
_HASH_DIAG_MAX = int(os.environ.get("VERIFY_HASH_DIAG_MAX", "2000000"))


def hash_eligible(name: str, dtypes: list[tuple[str, str]]) -> bool:
    kinds = {t for _, t in dtypes}
    if not all(
        t in _HASH_SIMPLE or t in _HASH_FLOATY or t.startswith("decimal(")
        for t in kinds
    ):
        return False  # arrays/structs/maps/binary: pandas path
    if kinds & _HASH_FLOATY and name not in _HASH_FLOAT_OK:
        return False
    return True


def _spark_canon(name: str, dtype: str):
    from pyspark.sql import functions as F

    c = F.col(name)
    if dtype in _HASH_FLOATY:
        y = c.cast("double")

        def _tier(expr, tag=""):
            s = F.round(expr).try_cast("decimal(38,0)").cast("string")
            return F.concat(F.lit(_HASH_SENT + tag), s) if tag else s

        canon = (
            F.when(F.isnan(c), F.lit(_HASH_SENT + "NaN"))
            .when(c == float("inf"), F.lit(_HASH_SENT + "Inf"))
            .when(c == float("-inf"), F.lit(_HASH_SENT + "-Inf"))
            .when(F.abs(y) < F.lit(9007199254.0), _tier(y * F.lit(1e6)))
            .when(F.abs(y) < F.lit(9007199254740992.0), _tier(y, "T2:"))
            .when(F.abs(y) < F.lit(9.671406556917033e24),
                  _tier(y / F.lit(1073741824.0), "T3:"))
            .otherwise(c.cast("string"))
        )
    elif dtype in ("timestamp", "timestamp_ntz"):
        canon = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    else:  # string / ints / boolean / date / decimal(p,s)
        canon = c.cast("string")
    field = F.coalesce(canon, F.lit(_HASH_SENT + "NULL"))
    # length prefix: injective joining (ADVICE r9 #1)
    return F.concat(F.length(field).cast("string"), F.lit(":"), field)


def spark_hash_agg(df) -> tuple[int, int]:
    """(row count, order-insensitive digest) of a Spark DataFrame."""
    from pyspark.sql import functions as F

    dts = dict(df.dtypes)
    row = F.concat_ws(_HASH_SEP, *[_spark_canon(c, dts[c]) for c in sorted(dts)])
    h = F.conv(F.substring(F.md5(row), 1, 16), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return int(r["n"]), int(r["s"]) if r["s"] is not None else 0


def _duck_canon(name: str, dtype: str) -> str:
    q = '"' + name.replace('"', '""') + '"'
    if dtype in _HASH_FLOATY:
        y = f"{q}::DOUBLE"
        canon = (
            f"CASE WHEN isnan({y}) THEN chr(2)||'NaN' "
            f"WHEN {y} = 'infinity'::DOUBLE THEN chr(2)||'Inf' "
            f"WHEN {y} = '-infinity'::DOUBLE THEN chr(2)||'-Inf' "
            f"WHEN abs({y}) < 9007199254.0 THEN "
            f"TRY_CAST(round({y} * 1e6) AS DECIMAL(38,0))::VARCHAR "
            f"WHEN abs({y}) < 9007199254740992.0 THEN "
            f"chr(2)||'T2:'||TRY_CAST(round({y}) AS DECIMAL(38,0))::VARCHAR "
            f"WHEN abs({y}) < 9.671406556917033e24 THEN "
            f"chr(2)||'T3:'||TRY_CAST(round({y} / 1073741824.0) AS DECIMAL(38,0))::VARCHAR "
            f"ELSE ({y})::VARCHAR END"
        )
    elif dtype.startswith("decimal("):
        canon = f"({q}::{dtype.upper()})::VARCHAR"
    elif dtype in ("timestamp", "timestamp_ntz"):
        canon = f"strftime({q}::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f')"
    elif dtype == "date":
        canon = f"({q}::DATE)::VARCHAR"
    elif dtype == "boolean":
        canon = f"({q}::BOOLEAN)::VARCHAR"
    elif dtype == "string":
        canon = f"{q}::VARCHAR"
    else:  # ints — HUGEINT accommodates any integral oracle type
        canon = f"({q}::HUGEINT)::VARCHAR"
    field = f"coalesce({canon}, chr(2)||'NULL')"
    # length prefix: injective joining (ADVICE r9 #1)
    return f"length({field})::VARCHAR || ':' || ({field})"


def duck_hash_agg(con, sql: str, dtypes: list[tuple[str, str]]) -> tuple[int, int, list[str]]:
    """(row count, digest, column names) of a DuckDB oracle query.
    Canonical types come from the SPARK schema (the compare's contract
    is Spark-typed), so e.g. a DuckDB DECIMAL sum under a Spark double
    column is rendered through the double canonicalization on both
    sides. DESCRIBE is binding-only — the oracle runs exactly once."""
    cols = [r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()]
    dts = dict(dtypes)
    if sorted(cols) != sorted(dts):
        raise ValueError(f"columns spark={sorted(dts)} duck={sorted(cols)}")
    exprs = ", ".join(_duck_canon(c, dts[c]) for c in sorted(dts))
    wrapped = (
        "SELECT count(*) AS n, "
        "coalesce(sum(CAST(('0x' || substr(md5(concat_ws(chr(31), "
        f"{exprs})),1,16)) AS UBIGINT)::HUGEINT), 0) AS s "
        f"FROM ({sql}) __t"
    )
    n, s = con.execute(wrapped).fetchone()
    return int(n), int(s), cols


def _git_state() -> dict | None:
    """HEAD sha + whether the PACKAGE tree is dirty — artifact context
    for the provenance hashes (a dirty package means the hashes bind
    to uncommitted bytes; the merge check still works, but the sha
    alone won't reproduce them)."""
    import subprocess

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
    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    # ADVICE r10 #1: the stage-cache key binds to the SQL, not the
    # data — before any oracle runs, require the cache's SOURCE.json
    # fingerprint to match the sf_dir under test (catches wrong-scale
    # cache dirs and regenerated parquet as a hard error up front).
    stage_dir = os.environ.get(oe.ORACLE_STAGE_ENV)
    if stage_dir:
        oe.check_stage_marker(stage_dir, sf_dir)

    def fresh_con():
        # One connection PER QUERY: DuckDB 1.0 pins buffer-manager blocks
        # across statements on a long-lived connection (especially after
        # an OOM exception), so at sf1 a shared connection eventually
        # fails 16 KB allocations that a fresh one satisfies instantly.
        # The memory cap leaves headroom for the co-resident Spark JVM.
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{os.environ.get('VERIFY_DUCKDB_MEM', '24GB')}'")
        # DuckDB 1.0 RESERVES aggregate memory per thread: at 32 threads
        # the sf1 charges oracles abort on reservation accounting with
        # <4 GB actually resident; 8 threads completes them in ~1 min.
        c.execute(f"SET threads={os.environ.get('VERIFY_DUCKDB_THREADS', '8')}")
        c.execute("SET preserve_insertion_order=false")
        # Per-PROCESS spill directory: the default is .tmp under the
        # CWD, so two verify processes launched from the same checkout
        # delete each other's temp_storage files mid-query (observed
        # as IO "Could not remove file .tmp/duckdb_temp_storage-2.tmp"
        # aborts when the sf10 gate ran queries in parallel). A
        # pid-keyed path makes concurrent gates safe by construction.
        tmpdir = f"{tempfile.gettempdir()}/duckdb_spill_{os.getpid()}"
        os.makedirs(tmpdir, exist_ok=True)
        c.execute(f"SET temp_directory='{tmpdir}'")
        for t in TESTDATA_TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    spark = get_spark("verify-local")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    hash_on = os.environ.get("VERIFY_HASH", "auto") != "off"

    failed, passed, rows_only = [], [], []
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
        except Exception as e:
            failed.append(name)
            results[name] = {"status": "fail", "err": f"spark {type(e).__name__}: {e}"[:400]}
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue

        # in-engine digest path: never materializes either side
        if name in oracles and hash_on and hash_eligible(name, df.dtypes):
            try:
                n_s, s_s = spark_hash_agg(df)
            except Exception as e:
                failed.append(name)
                results[name] = {"status": "fail", "err": f"spark {type(e).__name__}: {e}"[:400]}
                print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
                continue
            try:
                con = fresh_con()
                try:
                    n_d, s_d, _ = duck_hash_agg(con, oracles[name], df.dtypes)
                finally:
                    con.close()
            except Exception as e:
                failed.append(name)
                results[name] = {"status": "fail", "err": f"duckdb {type(e).__name__}: {e}"[:400]}
                print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
                continue
            if (n_s, s_s) == (n_d, s_d):
                passed.append(name)
                results[name] = {
                    "status": "pass", "rows": n_s, "mode": "hash",
                    "digest": str(s_s), "sec": round(time.time() - t0, 1),
                }
                print(f"PASS {name}: {n_s} rows [hash] ({time.time()-t0:.1f}s)")
                continue
            if n_s > _HASH_DIAG_MAX or n_d > _HASH_DIAG_MAX:
                failed.append(name)
                err = (f"digest mismatch spark=(n={n_s}, h={s_s}) "
                       f"duck=(n={n_d}, h={s_d})")
                results[name] = {"status": "fail", "err": err, "mode": "hash"}
                print(f"FAIL {name}: {err}")
                continue
            # small mismatch: drop to the pandas compare for diagnostics
            # (and its isclose verdict — a last-ULP float wobble that the
            # exact digest flags is not a correctness failure)
            print(f"  {name}: digest mismatch on {n_s} rows — re-running pandas compare")

        try:
            sdf = df.toPandas()
        except Exception as e:
            failed.append(name)
            results[name] = {"status": "fail", "err": f"spark {type(e).__name__}: {e}"[:400]}
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            rows_only.append(name)
            results[name] = {"status": "rows_only", "rows": len(sdf), "sec": round(time.time() - t0, 1)}
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            con = fresh_con()
            try:
                ddf = con.execute(oracles[name]).df()
            finally:
                con.close()
        except Exception as e:
            failed.append(name)
            results[name] = {"status": "fail", "err": f"duckdb {type(e).__name__}: {e}"[:400]}
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        problems = compare(sdf, ddf)
        if problems:
            failed.append(name)
            results[name] = {"status": "fail", "err": "; ".join(p[:400] for p in problems)}
            print(f"FAIL {name}: " + "; ".join(p[:400] for p in problems))
        else:
            passed.append(name)
            results[name] = {"status": "pass", "rows": len(sdf), "sec": round(time.time() - t0, 1)}
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only")
    if out_path:
        # r12 provenance: bind each entry to the digest of its query's
        # package code closure, so cross-round merges can machine-check
        # which preserved entries are still valid on the current tree
        # (tools/merge_correctness.py refuses stale ones unless waived)
        from clearcare_data_pipeline_spark.queries import query_code_hashes

        hashes = query_code_hashes(list(results))
        for name, entry in results.items():
            entry["code_hash"] = hashes[name]
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "passed": len(passed),
                    "failed": len(failed),
                    "rows_only": len(rows_only),
                    "digest_version": DIGEST_VERSION,
                    "git": _git_state(),
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {out_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
