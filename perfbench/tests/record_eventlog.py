"""Record the fixture that test_eventlog.py reads.

    python3 perfbench/tests/record_eventlog.py

Runs one traced ``run_etl`` over the tall MRF file derived from sf0.001
and one traced query op, then writes the tracer's spans, each op's
separately measured wall time, and the Spark event log reduced to the
records and fields ``eventlog.summarize`` reads (job start, stage
submitted/completed, task end).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

OUT = os.path.join(HERE, "data")
KEEP = ("SparkListenerJobStart", "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def _reduce(e: dict) -> dict:
    props = {k: v for k, v in (e.get("Properties") or {}).items() if k == "spark.jobGroup.id"}
    if e["Event"] == "SparkListenerJobStart":
        return {"Event": e["Event"], "Job ID": e["Job ID"], "Properties": props}
    if e["Event"] in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
        info = e["Stage Info"]
        return {
            "Event": e["Event"],
            "Stage Info": {
                "Stage ID": info["Stage ID"],
                "RDD Info": [{"Name": r["Name"]} for r in info.get("RDD Info", [])
                             if r["Name"] == "PythonRDD"],
            },
            "Properties": props,
        }
    info = e["Task Info"]
    return {
        "Event": e["Event"],
        "Stage ID": e["Stage ID"],
        "Task End Reason": e.get("Task End Reason"),
        "Task Info": {
            "Failed": info.get("Failed", False),
            "Accumulables": [a for a in info.get("Accumulables", [])
                             if "Python" in str(a.get("Name"))],
        },
        "Task Metrics": e.get("Task Metrics"),
    }


def main() -> int:
    with run.run_env(trace=True) as run_dir:
        sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tools")]
        from make_testdata import REF_SF01
        from spans import Tracer

        import __spark_entry__
        from clearcare_data_pipeline_spark.etl import run_etl
        from clearcare_data_pipeline_spark.queries import extractors
        from clearcare_data_pipeline_spark.schema import REGISTRY_SCHEMA
        from clearcare_data_pipeline_spark.session import get_spark

        sf_dir = os.path.join(os.path.dirname(REF_SF01), "sf0.001")
        out_dir = os.path.join(run_dir, "work")
        registry = os.path.join(run_dir, "registry.parquet")
        spark = get_spark("perfbench-record")
        row = {"campus_id": "c1", "zip_code": "73301", "structure": "tall csv"}
        spark.createDataFrame([tuple(row.get(c) for c in REGISTRY_SCHEMA.fieldNames())],
                              REGISTRY_SCHEMA).write.parquet(registry)
        raw = extractors._build_csv(sf_dir, "tall")
        query = __spark_entry__.queries()["q5_regional_revenue"]
        tracer = Tracer(spark, os.path.join(out_dir, "extracted"))
        tracer.install()
        walls = {}
        with tracer.span("op:c1", "op", group=True) as s:
            t0 = time.perf_counter()
            run_etl(spark, campus_id="c1", raw_path=raw, registry_path=registry, output_dir=out_dir)
            walls[s.id] = time.perf_counter() - t0
        with tracer.span("op:q5_regional_revenue", "op", group=True) as s:
            t0 = time.perf_counter()
            with tracer.span("build", "queries.build"):
                df = query(spark, sf_dir)
            with tracer.span("materialize", "queries.materialize"):
                df.write.format("noop").mode("overwrite").save()
            walls[s.id] = time.perf_counter() - t0
        tracer.uninstall()
        run.stop_spark(spark, run_dir)
        from eventlog import read_events

        os.makedirs(os.path.join(OUT, "eventlog"), exist_ok=True)
        with open(os.path.join(OUT, "eventlog", "events_1_sf0.001"), "w") as f:
            for e in read_events(os.path.join(run_dir, "eventlog")):
                if e.get("Event") in KEEP:
                    f.write(json.dumps(_reduce(e)) + "\n")
        with open(os.path.join(OUT, "spans.json"), "w") as f:
            json.dump({"spans": [s.to_dict() for s in tracer.spans],
                       "op_walls": {str(k): v for k, v in walls.items()}}, f, indent=0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
