"""Recompute pins.json, the expected outputs the benchmark checks.

    python3 perfbench/pin.py

ETL: one ``run_etl`` per layout over the benchmark's fixtures, recording
clean and quarantined row counts, the transparency score and the devlog
entry. These are pinned from the program as it stands; a change that
moves them must say why. Queries: row count and order-insensitive value
hash of each query's DuckDB oracle (the repo's correctness contract),
pinned only if Spark's result hashes to the same pair.
"""

from __future__ import annotations

import json
import os
import sys

import run

PINS = os.path.join(run.HERE, "pins.json")


def pin_etl(spark, work: str, data_root: str) -> dict:
    from clearcare_data_pipeline_spark.etl import run_etl
    from clearcare_data_pipeline_spark.schema import REGISTRY_SCHEMA
    from workloads import LAYOUTS, SF_ETL, EtlCampuses, devlog_entry

    wl = EtlCampuses(spark, data_root, work, 0, {"etl": {}})
    registry = os.path.join(work, "pin_registry.parquet")
    rows = [
        tuple({"campus_id": f"pin_{k}", "zip_code": "73301", "structure": s}.get(c)
              for c in REGISTRY_SCHEMA.fieldNames())
        for k, s in LAYOUTS.items()
    ]
    spark.createDataFrame(rows, REGISTRY_SCHEMA).write.mode("overwrite").parquet(registry)
    wl.build_fixtures()
    out = {}
    for layout in LAYOUTS:
        res = run_etl(spark, campus_id=f"pin_{layout}", raw_path=wl.raw[layout],
                      registry_path=registry, output_dir=os.path.join(work, "pin_out"))
        with open(res.devlog_path) as f:
            entry = devlog_entry(json.load(f)[-1])
        del entry["campus_id"]
        out[layout] = {
            "clean_rows": res.clean_rows,
            "quarantined_rows": res.quarantined_rows,
            "transparency_score": res.score,
            "devlog": entry,
        }
    return {SF_ETL: out}


def pin_queries(spark, data_root: str) -> dict:
    import duckdb
    from verify_local import duck_hash_agg, spark_hash_agg

    import __spark_entry__
    from clearcare_data_pipeline_spark.schema import TESTDATA_TABLES
    from workloads import QUERY_MIX, SF_QUERY

    sf_dir = os.path.join(data_root, SF_QUERY)
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    try:
        for name in QUERY_MIX:
            df = queries[name](spark, sf_dir)
            n_d, s_d, _ = duck_hash_agg(con, oracles[name], df.dtypes)
            n_s, s_s = spark_hash_agg(df)
            if (n_s, s_s) != (n_d, s_d):
                raise SystemExit(f"{name}: spark ({n_s}, {s_s}) != oracle ({n_d}, {s_d})")
            out[name] = {"rows": n_d, "digest": str(s_d)}
            print(f"pinned {name}: {n_d} rows", file=sys.stderr)
    finally:
        con.close()
    return {SF_QUERY: out}


def main() -> int:
    with run.run_env(trace=False) as run_dir:
        sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tools")]
        from make_testdata import REF_SF01

        from clearcare_data_pipeline_spark.session import get_spark

        data_root = os.path.dirname(REF_SF01)
        spark = get_spark("perfbench-pin")
        pins = {
            "etl": pin_etl(spark, os.path.join(run_dir, "work"), data_root),
            "queries": pin_queries(spark, data_root),
        }
        run.stop_spark(spark, run_dir)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PINS}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
