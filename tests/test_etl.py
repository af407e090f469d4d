"""End-to-end ETL orchestration + registry tests."""

from __future__ import annotations

import json
import os
import threading

import pytest

from clearcare_data_pipeline_spark import pipeline, session
from clearcare_data_pipeline_spark.etl import export_reference_csv, run_etl
from clearcare_data_pipeline_spark.functions import cleaning
from clearcare_data_pipeline_spark.plans import metrics, rules
from clearcare_data_pipeline_spark.sources import extract_tall, mrf
from clearcare_data_pipeline_spark.schema import REFERENCE_HEADERS, REGISTRY_SCHEMA
from clearcare_data_pipeline_spark.sources.registry import (
    CampusNotFound,
    load_registry,
    lookup_campus,
    registry_snapshot,
    upsert_campus,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def registry_path(spark, tmp_path):
    path = str(tmp_path / "registry.parquet")
    rows = [
        tuple(
            {
                "campus_id": "general_springfield",
                "hospital_name": "General Hospital",
                "zip_code": "12345",
                "structure": "tall csv",
            }.get(c)
            for c in REGISTRY_SCHEMA.fieldNames()
        )
    ]
    spark.createDataFrame(rows, REGISTRY_SCHEMA).write.mode("overwrite").parquet(path)
    return path


def test_registry_lookup_and_upsert(spark, registry_path):
    reg = registry_snapshot(registry_path)
    row = lookup_campus(reg, "general_springfield")
    assert row["hospital_name"] == "General Hospital"
    with pytest.raises(CampusNotFound):
        lookup_campus(reg, "nope")
    upsert_campus(registry_path, "general_springfield", {"etl_status": "done"}, reg)
    upsert_campus(
        registry_path, "new_campus", {"hospital_name": "New One"},
        registry_snapshot(registry_path),
    )
    reg2 = registry_snapshot(registry_path)
    assert len(reg2) == 2
    assert lookup_campus(reg2, "general_springfield")["etl_status"] == "done"
    assert lookup_campus(reg2, "new_campus")["hospital_name"] == "New One"


# Every filesystem step of a parquet registry rewrite, in the order a
# rewrite of a live directory takes them.
_REWRITE_STEPS = 7


def _steps_failing_at(m, fail_at):
    """Patch the rewrite's filesystem calls so that the ``fail_at``-th
    one raises instead (a ``write_table`` leaves a truncated file behind
    first). Returns the list the calls are recorded in."""
    import shutil

    import pyarrow.parquet as pq

    calls = []
    for mod, name in ((os, "rename"), (os, "makedirs"), (shutil, "rmtree"), (pq, "write_table")):
        def step(*args, _real=getattr(mod, name), _name=name, **kwargs):
            calls.append(_name)
            if len(calls) - 1 == fail_at:
                if _name == "write_table":
                    with open(args[1], "wb") as f:
                        f.write(b"PAR1 truncated")
                raise OSError(f"injected failure at step {fail_at} ({_name})")
            return _real(*args, **kwargs)

        m.setattr(mod, name, step)
    return calls


@pytest.mark.parametrize("written_by", ["spark", "upsert"])
@pytest.mark.parametrize("fail_at", range(_REWRITE_STEPS))
def test_interrupted_registry_rewrite_reads_back_whole(
    spark, registry_path, monkeypatch, written_by, fail_at
):
    # Whichever step of the rewrite fails, the registry reads back as
    # the old table or the new one, never a mix or nothing: for the
    # directory Spark wrote (part-*, _SUCCESS, .crc files) and for one
    # a previous upsert wrote. The next upsert then completes.
    if written_by == "upsert":
        with monkeypatch.context() as m:
            calls = _steps_failing_at(m, None)
            upsert_campus(
                registry_path, "other", {"hospital_name": "Other"}, registry_snapshot(registry_path)
            )
        assert len(calls) == _REWRITE_STEPS
    old = registry_snapshot(registry_path)
    new = registry_snapshot(registry_path)
    new["general_springfield"] = dict(new["general_springfield"], etl_status="processed")
    with monkeypatch.context() as m:
        _steps_failing_at(m, fail_at)
        with pytest.raises(OSError, match="injected"):
            upsert_campus(registry_path, "general_springfield", {"etl_status": "processed"}, old)
    got = registry_snapshot(registry_path)
    assert got in (old, new)
    view = load_registry(spark, registry_path).collect()
    assert {r["campus_id"]: r.asDict() for r in view} == got
    upsert_campus(registry_path, "general_springfield", {"etl_status": "processed"}, got)
    assert registry_snapshot(registry_path) == new
    assert not os.path.exists(registry_path + ".old")


@pytest.mark.slow
def test_run_etl_tall_end_to_end(spark, registry_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=out,
        user="tester",
    )
    assert res.clean_rows + res.quarantined_rows == 8
    clean = spark.read.parquet(res.clean_path)
    assert clean.count() == res.clean_rows
    assert all(r["hospital_name"] == "General Hospital" for r in clean.collect())
    with open(res.devlog_path) as f:
        devlog = json.load(f)
    assert devlog[-1]["transparency_score"] == res.score
    assert devlog[-1]["unknown_code_types"] == {"LOCAL": 1}
    # registry updated (J4/K6)
    row = lookup_campus(registry_snapshot(registry_path), "general_springfield")
    assert row["etl_status"] == "processed"
    assert row["processed_by"] == "tester"
    assert float(row["transparency_score"]) == pytest.approx(res.score)


def test_run_etl_format_dispatch_errors(spark, registry_path, tmp_path):
    # the format comes from the campus's registry row
    upsert_campus(
        registry_path, "excel_campus", {"hospital_name": "Excel Hospital", "structure": "excel"},
        registry_snapshot(registry_path),
    )
    with pytest.raises(ValueError, match="Unsupported format 'excel'"):
        run_etl(
            spark,
            campus_id="excel_campus",
            raw_path=f"{FIX}/tall.csv",
            registry_path=registry_path,
            output_dir=str(tmp_path / "o"),
        )


def test_run_etl_all_unknown_code_types_scores_zero(spark, registry_path, tmp_path):
    # Every slot has a code type R3 rejects, so the cleaned table is
    # empty: the score is 0.0 ("0 if no records"), not a division error.
    raw = tmp_path / "unknown_only.csv"
    with open(f"{FIX}/tall.csv") as f:
        preamble = [next(f) for _ in range(3)]
    raw.write_text(
        "".join(preamble)
        + "Mystery proc,X99,LOCAL,,,,,,,United,POS,130,,,fee schedule,210,160,110,310,,outpatient,,,,\n"
    )
    res = run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=str(raw),
        registry_path=registry_path,
        output_dir=str(tmp_path / "out"),
    )
    with open(res.devlog_path) as f:
        devlog = json.load(f)[-1]
    assert devlog["unknown_code_types"] == {"LOCAL": 1}
    assert (devlog["clean_rows"], devlog["quarantined_rows"]) == (0, 0)
    assert devlog["transparency_score"] == 0.0
    row = lookup_campus(registry_snapshot(registry_path), "general_springfield")
    assert row["transparency_score"] == "0.000000"


def test_run_etl_reads_doubled_quotes_as_one(spark, registry_path, tmp_path):
    # RFC 4180, as the reference's pd.read_csv reads it: a doubled quote
    # inside a quoted cell is one quote in the clean sink.
    raw = tmp_path / "quoted_notes.csv"
    with open(f"{FIX}/tall.csv") as f:
        preamble = [next(f) for _ in range(3)]
    raw.write_text(
        "".join(preamble)
        + 'Office visit,99213,CPT,,,,,,,Aetna [AET001],PPO,$120.50,,,fee schedule,'
        + '200,150,100,300,,outpatient,,,"a ""quoted"" note",26\n'
    )
    res = run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=str(raw),
        registry_path=registry_path,
        output_dir=str(tmp_path / "out"),
    )
    clean = spark.read.parquet(res.clean_path).collect()
    assert [r["additional_notes"] for r in clean] == ['a "quoted" note']


@pytest.mark.slow
def test_run_etl_twice_appends_devlog(spark, registry_path, tmp_path):
    out = str(tmp_path / "out")
    kw = dict(
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=out,
    )
    run_etl(spark, **kw)
    res2 = run_etl(spark, **kw)
    with open(res2.devlog_path) as f:
        assert len(json.load(f)) == 2


@pytest.mark.slow
def test_export_reference_csv(spark, registry_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_etl(
        spark,
        campus_id="general_springfield",
        raw_path=f"{FIX}/tall.csv",
        registry_path=registry_path,
        output_dir=out,
    )
    csv_dir = str(tmp_path / "export_csv")
    export_reference_csv(spark.read.parquet(res.clean_path), csv_dir)
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.columns == REFERENCE_HEADERS
    assert back.count() == res.clean_rows


# --- one campus per layout: devlog pins, cache release, atomic devlog ---

_LAYOUTS = {
    "tall_campus": ("tall csv", "tall.csv"),
    "wide_campus": ("wide csv", "wide.csv"),
    "json_campus": ("json", "mrf.json"),
}
_PRESENCE_ORDER = [
    "hospital_name", "zip_code", "code", "code_type", "description", "drug_unit", "drug_type",
    "payer_name", "payer_id", "plan_name", "negotiated_price", "negotiated_percentage",
    "negotiated_algorithm", "negotiated_methodology", "gross_charge", "discounted_cash_price",
    "min_price", "max_price", "estimated_amount", "setting", "additional_notes", "modifiers",
]
_NO_RULES = {f"rule_{i}": 0 for i in range(1, 11)}
_META = {
    "hospital_name": "General Hospital",
    "last_updated_on": "2024-07-01",
    "version": "2.0.0",
    "hospital_location": "Springfield",
    "hospital_address": "123 Main St, Springfield ST 12345",
}

# Devlog entries (minus processed_on/processed_by) as the multi-pass
# devlog computed them: a re-read of the clean sink for presence, code
# types and modifiers, and a second scan of the raw file for unknown
# types. The one-pass devlog must reproduce them exactly.
PINNED_DEVLOGS = {
    "tall_campus": {
        "source_format": "tall csv",
        "field_presence": dict(zip(_PRESENCE_ORDER, [
            7, 7, 7, 7, 6, 1, 1, 7, 4, 7, 6, 1, 0, 7, 6, 6, 6, 6, 1, 7, 2, 3])),
        "code_type_histogram": {"CPT": 6, "CDT": 1},
        "unknown_code_types": {"LOCAL": 1},
        "missing_code_types": ["HCPCS", "ICD", "DRG", "NDC", "APC"],
        "modifier_counts": {"26": 2, "59": 1, "TC": 1},
        "rule_violation_counts": {**_NO_RULES, "rule_1": 1},
        "algorithm_format_issues": 0,
        "clean_rows": 7,
        "quarantined_rows": 1,
        "transparency_score": 0.9875,
    },
    "wide_campus": {
        "source_format": "wide csv",
        "field_presence": dict(zip(_PRESENCE_ORDER, [
            5, 5, 5, 5, 5, 2, 2, 5, 0, 5, 5, 0, 0, 5, 5, 5, 5, 5, 0, 5, 2, 3])),
        "code_type_histogram": {"CPT": 4, "DRG": 1},
        "unknown_code_types": {},
        "missing_code_types": ["HCPCS", "ICD", "CDT", "NDC", "APC"],
        "modifier_counts": {"TC": 2, "26": 1},
        "rule_violation_counts": {**_NO_RULES, "rule_4": 1},
        "algorithm_format_issues": 0,
        "clean_rows": 5,
        "quarantined_rows": 1,
        "transparency_score": 0.9833333333333333,
    },
    "json_campus": {
        "source_format": "json",
        "field_presence": dict(zip(_PRESENCE_ORDER, [
            3, 3, 3, 3, 3, 2, 2, 3, 0, 3, 3, 0, 0, 3, 3, 3, 3, 3, 0, 3, 1, 0])),
        "code_type_histogram": {"HCPCS": 1, "NDC": 1, "CPT": 1},
        "unknown_code_types": {},
        "missing_code_types": ["ICD", "DRG", "CDT", "APC"],
        "modifier_counts": {},
        "rule_violation_counts": {**_NO_RULES, "rule_1": 1, "rule_4": 1},
        "algorithm_format_issues": 0,
        "clean_rows": 3,
        "quarantined_rows": 2,
        "transparency_score": 0.96,
    },
}


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _layout_registry(spark, path: str) -> None:
    rows = [
        tuple(
            {"campus_id": cid, "hospital_name": f"Hospital {cid}", "zip_code": "12345", "structure": st}.get(c)
            for c in REGISTRY_SCHEMA.fieldNames()
        )
        for cid, (st, _) in _LAYOUTS.items()
    ]
    spark.createDataFrame(rows, REGISTRY_SCHEMA).write.mode("overwrite").parquet(path)


def _run_layout(spark, cid: str, registry: str, out: str, raw_dir: str = FIX):
    return run_etl(
        spark,
        campus_id=cid,
        raw_path=f"{raw_dir}/{_LAYOUTS[cid][1]}",
        registry_path=registry,
        output_dir=out,
    )


# Cached builders the campus plan is made from, as the ETL's modules
# call them.
_CACHED_BUILDERS = [
    (rules, "rule_predicates"),
    (metrics, "_summary_aggs"),
    (cleaning, "_price_columns"),
    (pipeline, "_dedup_columns"),
    (mrf, "allowed_type"),
    (extract_tall, "split_payer_name_id"),
]


def _spy_builders(m, served: dict) -> None:
    """Record every value the cached builders serve, by builder."""
    for mod, name in _CACHED_BUILDERS:
        def spy(*args, _real=getattr(mod, name), _name=name):
            out = _real(*args)
            served.setdefault(_name, []).append(out)
            return out

        m.setattr(mod, name, spy)


def _count_round_trips(spark, run):
    """``run()`` and the py4j commands this thread sent while it ran.
    The handle deletes py4j's finalizer thread sends on its own timer
    are left out, so the count does not depend on when they fall."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    me = threading.get_ident()
    sent = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        result = run()
    finally:
        client.send_command = real
    return result, len(sent)


@pytest.fixture(scope="module")
def layout_loop(spark, tmp_path_factory):
    """One session, one campus per raw layout, run back to back, each
    under its own job group; then the three campuses again, warm, into a
    second output directory, from copies of the files that name a payer
    differently. The wide file carries payer names in its header, so no
    Column keyed on a file's own header can serve the second round, as
    none could serve the next hospital's file. Yields the registry path,
    the first round's output dir and results, Spark jobs per campus
    (first round), py4j round trips per campus (second round), the
    values the cached builders served over both rounds, and the RDDs
    that were persisted before the loop began."""
    base = tmp_path_factory.mktemp("layouts")
    registry, out = str(base / "registry.parquet"), str(base / "out")
    renamed = base / "renamed"
    renamed.mkdir()
    for _, name in _LAYOUTS.values():
        with open(f"{FIX}/{name}") as f:
            text = f.read()
        assert "Aetna" in text, name
        (renamed / name).write_text(text.replace("Aetna", "Aetna Health"))
    _layout_registry(spark, registry)
    before = _persisted_ids(spark)
    sc = spark.sparkContext
    results, jobs, round_trips, served = {}, {}, {}, {}
    with pytest.MonkeyPatch.context() as m:
        _spy_builders(m, served)
        for cid in _LAYOUTS:
            group = f"test_etl.layout_loop.{cid}"
            sc.setJobGroup(group, f"run_etl {cid}")
            try:
                results[cid] = _run_layout(spark, cid, registry, out)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jobs[cid] = len(sc.statusTracker().getJobIdsForGroup(group))
        for cid in _LAYOUTS:
            _, round_trips[cid] = _count_round_trips(
                spark, lambda: _run_layout(spark, cid, registry, str(base / "warm"), str(renamed))
            )
    return {
        "registry": registry, "out": out, "results": results, "jobs": jobs,
        "round_trips": round_trips, "served": served, "persisted_before": before,
    }


# Spark jobs per campus on the fixtures (the table in etl.py counts the
# same phases at sf0.01). The registry runs none, and a CSV file's
# preamble and header take one action, so a job added to any phase
# shows here.
JOBS_PER_CAMPUS = {"tall_campus": 10, "json_campus": 10, "wide_campus": 11}


def test_spark_jobs_per_campus(layout_loop):
    assert layout_loop["jobs"] == JOBS_PER_CAMPUS


# py4j round trips per warm campus on the fixtures: the calls and
# reflection lookups the campus's own thread sent. Before the
# campus-invariant Columns were built once per gateway: tall 9,108, JSON
# 9,793, wide 11,175. What is left is mostly the plan's own DataFrame
# calls and, for wide, the melt built from the file's header. A builder
# that stops hitting its cache, or a new per-campus Column tree, shows
# here.
ROUND_TRIPS_PER_CAMPUS = {"tall_campus": 619, "json_campus": 580, "wide_campus": 1719}


def test_py4j_round_trips_per_campus(layout_loop):
    assert layout_loop["round_trips"] == ROUND_TRIPS_PER_CAMPUS


def test_cached_builders_serve_one_column_set(layout_loop):
    # Every campus of both rounds got the same Column objects from each
    # cached builder: none was rebuilt for a campus.
    served = layout_loop["served"]
    assert sorted(served) == sorted(name for _, name in _CACHED_BUILDERS)
    for name, values in served.items():
        assert len(values) >= 2, name
        assert all(v is values[0] for v in values), name


def test_cached_builders_rebuild_after_gateway_change(spark, layout_loop, monkeypatch, tmp_path):
    # A different object in SparkContext._gateway (code that replaced
    # it to start a new JVM; PySpark itself never does) drops every
    # entry: the builders build again, once, and the campus runs as
    # before on the new Columns.
    old = {name: getattr(mod, name) for mod, name in _CACHED_BUILDERS}
    args = {
        "split_payer_name_id": ("payer_name",),
        "_dedup_columns": (("code_type_raw", "negotiated_algorithm_invalid"),),
    }
    cached = {name: build(*args.get(name, ())) for name, build in old.items()}
    new_gateway = object()
    monkeypatch.setattr(session, "_gateway", lambda: new_gateway)
    rebuilt = {name: old[name](*args.get(name, ())) for name in cached}
    for name in cached:
        assert rebuilt[name] is not cached[name], name
        assert old[name](*args.get(name, ())) is rebuilt[name], name
    res = _run_layout(spark, "tall_campus", layout_loop["registry"], str(tmp_path / "out"))
    with open(res.devlog_path) as f:
        entry = json.load(f)[-1]
    assert entry["rule_violation_counts"] == PINNED_DEVLOGS["tall_campus"]["rule_violation_counts"]
    assert entry["transparency_score"] == PINNED_DEVLOGS["tall_campus"]["transparency_score"]


@pytest.mark.parametrize("cid", sorted(_LAYOUTS))
def test_devlog_matches_multi_pass_pins(layout_loop, cid):
    res = layout_loop["results"][cid]
    with open(res.devlog_path) as f:
        entries = json.load(f)
    assert len(entries) == 1
    got = {k: v for k, v in entries[0].items() if k not in ("processed_on", "processed_by")}
    assert got == {**PINNED_DEVLOGS[cid], "campus_id": cid, "source_metadata": _META}
    assert (res.clean_rows, res.quarantined_rows, res.score) == (
        got["clean_rows"], got["quarantined_rows"], got["transparency_score"]
    )


def test_campus_loop_releases_cached_frames(spark, layout_loop):
    assert _persisted_ids(spark) - layout_loop["persisted_before"] == set()
    done = {r["campus_id"]: r["etl_status"] for r in load_registry(spark, layout_loop["registry"]).collect()}
    assert done == {cid: "processed" for cid in _LAYOUTS}


def test_failed_sink_write_releases_cached_frame(spark, layout_loop, monkeypatch, tmp_path):
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if os.sep + "quarantine" + os.sep in path:
            raise RuntimeError("injected quarantine write failure")
        return real_parquet(self, path, *args, **kwargs)

    before = _persisted_ids(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(RuntimeError, match="injected quarantine"):
        _run_layout(spark, "tall_campus", layout_loop["registry"], str(tmp_path / "out"))
    assert _persisted_ids(spark) - before == set()


def test_failed_devlog_write_keeps_previous_devlog(spark, layout_loop, monkeypatch):
    from clearcare_data_pipeline_spark import etl as etl_mod

    path = layout_loop["results"]["json_campus"].devlog_path
    with open(path, "rb") as f:
        previous = f.read()

    def half_dump(obj, fh, **kwargs):
        fh.write('[{"campus_id": ')
        raise OSError("injected failure mid-dump")

    monkeypatch.setattr(etl_mod.json, "dump", half_dump)
    with pytest.raises(OSError, match="mid-dump"):
        _run_layout(spark, "json_campus", layout_loop["registry"], layout_loop["out"])
    with open(path, "rb") as f:
        assert f.read() == previous
    # no temp file left behind beside the devlogs
    assert set(os.listdir(os.path.dirname(path))) == {f"{cid}.json" for cid in _LAYOUTS}
