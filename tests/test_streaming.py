"""Structured Streaming mode tests (availableNow over file sources)."""

from __future__ import annotations
import pytest

import json
import shutil

from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS
from clearcare_data_pipeline_spark.streaming.pipeline import (
    stream_clean,
    stream_event_window_counts,
)

_HEADER = ",".join(CANONICAL_COLUMNS)


def _charges_csv_line(code="12345", code_type="CPT", price="100", minp="80", maxp="150"):
    row = {c: "" for c in CANONICAL_COLUMNS}
    row.update(
        {
            "hospital_name": "General",
            "zip_code": "10001",
            "code": code,
            "code_type": code_type,
            "description": "visit",
            "payer_name": "Aetna",
            "plan_name": "PPO",
            "negotiated_methodology": "fee schedule",
            "negotiated_price": price,
            "min_price": minp,
            "max_price": maxp,
            "gross_charge": "200",
        }
    )
    return ",".join(row[c] for c in CANONICAL_COLUMNS)


@pytest.mark.slow
def test_stream_clean_splits_clean_and_quarantine(spark, tmp_path):
    inp, out, chk = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "chk")
    (tmp_path / "in").mkdir()
    # file 1: one clean row; file 2: one rule-6 violation (no max)
    (tmp_path / "in" / "a.csv").write_text(_HEADER + "\n" + _charges_csv_line() + "\n")
    (tmp_path / "in" / "b.csv").write_text(
        _HEADER + "\n" + _charges_csv_line(code="99214", maxp="") + "\n"
    )
    q = stream_clean(spark, inp, out, chk)
    q.awaitTermination(120)
    clean = spark.read.parquet(f"{out}/clean")
    quarantine = spark.read.parquet(f"{out}/quarantine")
    assert clean.count() == 1
    assert quarantine.count() == 1
    assert quarantine.first()["rules_violated"] == "rule_6"

    # incremental arrival: a third file only, checkpoint resumes
    (tmp_path / "in" / "c.csv").write_text(_HEADER + "\n" + _charges_csv_line(code="99215") + "\n")
    q2 = stream_clean(spark, inp, out, chk)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/clean").count() == 2


@pytest.mark.slow
def test_stream_event_window_counts(spark, tmp_path):
    inp, out, chk = str(tmp_path / "ein"), str(tmp_path / "eout"), str(tmp_path / "echk")
    (tmp_path / "ein").mkdir()
    events = [
        {"ts": "2024-01-01 00:01:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 00:04:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 00:12:00", "event_type": "view", "value": 3.0},
        {"ts": "2024-01-01 02:00:00", "event_type": "click", "value": 4.0},
    ]
    (tmp_path / "ein" / "e.json").write_text("\n".join(json.dumps(e) for e in events))
    q = stream_event_window_counts(spark, inp, out, chk, window="10 minutes")
    q.awaitTermination(120)
    rows = {(str(r["window_start"]), r["event_type"]): r["n"] for r in spark.read.parquet(out).collect()}
    # watermark closed the first windows once the 02:00 event advanced time
    assert rows[("2024-01-01 00:00:00", "click")] == 2
    assert rows[("2024-01-01 00:10:00", "view")] == 1


def test_stream_dedup_events(spark, tmp_path):
    inp, out, chk = str(tmp_path / "din"), str(tmp_path / "dout"), str(tmp_path / "dchk")
    (tmp_path / "din").mkdir()
    import json as j
    from clearcare_data_pipeline_spark.streaming.pipeline import stream_dedup_events

    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "event_type": "click", "value": 1.0},
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "event_type": "click", "value": 1.0},  # dup
        {"event_id": 2, "ts": "2024-01-01 00:02:00", "event_type": "view", "value": 2.0},
    ]
    (tmp_path / "din" / "a.json").write_text("\n".join(j.dumps(r) for r in rows))
    q = stream_dedup_events(spark, inp, out, chk)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {r["event_id"] for r in got.collect()} == {1, 2}


@pytest.mark.slow
def test_stream_stream_interval_join(spark, tmp_path):
    from clearcare_data_pipeline_spark.streaming.joins import stream_click_attribution

    imp_dir, click_dir = tmp_path / "imps", tmp_path / "clicks"
    imp_dir.mkdir(); click_dir.mkdir()
    (imp_dir / "i.json").write_text(
        '{"ad_id": "a1", "imp_ts": "2024-01-01T10:00:00"}\n'
        '{"ad_id": "a2", "imp_ts": "2024-01-01T10:00:00"}\n'
        '{"ad_id": "a1", "imp_ts": "2024-01-01T10:10:00"}\n'
    )
    (click_dir / "c.json").write_text(
        # within 5m of a1's first impression
        '{"ad_id": "a1", "click_ts": "2024-01-01T10:03:00"}\n'
        # 9m after a2's impression: outside the attribution window
        '{"ad_id": "a2", "click_ts": "2024-01-01T10:09:00"}\n'
        # before any a1 impression at 10:10? No - 10:11 is within [10:10, 10:15]
        '{"ad_id": "a1", "click_ts": "2024-01-01T10:11:00"}\n'
    )
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = stream_click_attribution(spark, str(imp_dir), str(click_dir), out, chk)
    q.awaitTermination(120)
    got = sorted(
        (r["ad_id"], str(r["imp_ts"]), str(r["click_ts"]))
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("a1", "2024-01-01 10:00:00", "2024-01-01 10:03:00"),
        ("a1", "2024-01-01 10:10:00", "2024-01-01 10:11:00"),
    ]


def test_stream_merge_sink_upserts_across_batches(spark, tmp_path):
    import json as j

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from clearcare_data_pipeline_spark.streaming.sinks import (
        read_merge_target,
        stream_merge_sink,
    )

    inp = tmp_path / "min"
    inp.mkdir()
    target, chk = str(tmp_path / "mtarget"), str(tmp_path / "mchk")
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    # batch 1: two keys; batch 2: update k=1 (two versions, last-wins by ts) + insert k=3
    (inp / "b1.json").write_text(
        "\n".join(
            j.dumps(r)
            for r in [
                {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0},
                {"k": 2, "ts": "2024-01-01 00:00:02", "v": 2.0},
            ]
        )
    )
    (inp / "b2.json").write_text(
        "\n".join(
            j.dumps(r)
            for r in [
                {"k": 1, "ts": "2024-01-01 00:01:00", "v": 10.0},
                {"k": 1, "ts": "2024-01-01 00:02:00", "v": 11.0},
                {"k": 3, "ts": "2024-01-01 00:01:30", "v": 3.0},
            ]
        )
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(inp))
    )
    q = stream_merge_sink(stream, target, ["k"], chk, order_col="ts")
    q.awaitTermination(120)
    got = {r.k: r.v for r in read_merge_target(spark, target).collect()}
    assert got == {1: 11.0, 2: 2.0, 3: 3.0}
    # a second availableNow run with no new files must not disturb the table
    q2 = stream_merge_sink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp)),
        target,
        ["k"],
        chk,
        order_col="ts",
    )
    q2.awaitTermination(120)
    got2 = {r.k: r.v for r in read_merge_target(spark, target).collect()}
    assert got2 == got


def test_merge_sink_time_travel_and_vacuum(spark, tmp_path):
    import json as j

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from clearcare_data_pipeline_spark.streaming.sinks import (
        list_snapshots,
        read_merge_target,
        read_snapshot,
        stream_merge_sink,
        vacuum_snapshots,
    )

    inp = tmp_path / "tin"
    inp.mkdir()
    target, chk = str(tmp_path / "ttarget"), str(tmp_path / "tchk")
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    (inp / "b1.json").write_text(j.dumps({"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0}))
    (inp / "b2.json").write_text(j.dumps({"k": 1, "ts": "2024-01-01 00:01:00", "v": 2.0}))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    q = stream_merge_sink(stream, target, ["k"], chk, order_col="ts")
    q.awaitTermination(120)
    snaps = list_snapshots(target)
    assert len(snaps) == 2
    # time travel: first snapshot still shows v=1.0
    assert read_snapshot(spark, target, snaps[0]).collect()[0].v == 1.0
    assert read_merge_target(spark, target).collect()[0].v == 2.0
    removed = vacuum_snapshots(target, keep_last=1)
    assert removed == [snaps[0]]
    assert read_merge_target(spark, target).collect()[0].v == 2.0


@pytest.mark.slow
def test_stream_session_counts(spark, tmp_path):
    import json as j

    from clearcare_data_pipeline_spark.streaming.pipeline import stream_session_counts

    inp, out, chk = str(tmp_path / "sin"), str(tmp_path / "sout"), str(tmp_path / "schk")
    (tmp_path / "sin").mkdir()
    rows = [
        # user 1: two events 5 min apart (one session), then a 2h gap (new session)
        {"user_id": 1, "ts": "2024-01-01 00:00:00", "event_type": "view", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01 00:05:00", "event_type": "click", "value": 2.0},
        {"user_id": 1, "ts": "2024-01-01 02:00:00", "event_type": "view", "value": 3.0},
        # user 2: single event
        {"user_id": 2, "ts": "2024-01-01 00:10:00", "event_type": "view", "value": 4.0},
        # far-future event advances the watermark so earlier sessions close
        {"user_id": 9, "ts": "2024-01-02 00:00:00", "event_type": "view", "value": 0.0},
    ]
    (tmp_path / "sin" / "e.json").write_text("\n".join(j.dumps(r) for r in rows))
    q = stream_session_counts(spark, inp, out, chk, gap="30 minutes")
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.session_start)): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == (2, 3.0)
    assert got[(1, "2024-01-01 02:00:00")] == (1, 3.0)
    assert got[(2, "2024-01-01 00:10:00")] == (1, 4.0)


def test_stream_incremental_agg_accumulates(spark, tmp_path):
    import json as j
    from decimal import Decimal

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from clearcare_data_pipeline_spark.streaming.sinks import (
        read_merge_target,
        stream_incremental_agg,
    )

    inp = tmp_path / "iin"
    inp.mkdir()
    target, chk = str(tmp_path / "itarget"), str(tmp_path / "ichk")
    schema = StructType(
        [StructField("event_type", StringType()), StructField("value", DoubleType())]
    )
    (inp / "b1.json").write_text(
        "\n".join(
            j.dumps(r)
            for r in [
                {"event_type": "click", "value": 1.0},
                {"event_type": "click", "value": 2.0},
                {"event_type": "view", "value": 5.0},
            ]
        )
    )
    (inp / "b2.json").write_text(j.dumps({"event_type": "click", "value": 4.0}))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    q = stream_incremental_agg(stream, target, ["event_type"], chk)
    q.awaitTermination(120)
    got = {r.event_type: (r.n, float(r.total)) for r in read_merge_target(spark, target).collect()}
    assert got == {"click": (3, 7.0), "view": (1, 5.0)}


def test_stream_merge_sink_tombstone_deletes(spark, tmp_path):
    import json as j

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from clearcare_data_pipeline_spark.streaming.sinks import (
        read_merge_target,
        stream_merge_sink,
    )

    inp = tmp_path / "din"
    inp.mkdir()
    target, chk = str(tmp_path / "dtarget"), str(tmp_path / "dchk")
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", StringType()),
            StructField("v", DoubleType()),
            StructField("deleted", BooleanType()),
        ]
    )
    (inp / "b1.json").write_text(
        "\n".join(
            j.dumps(r)
            for r in [
                {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0, "deleted": False},
                {"k": 2, "ts": "2024-01-01 00:00:02", "v": 2.0, "deleted": False},
            ]
        )
    )
    # batch 2: delete k=1, insert k=3
    (inp / "b2.json").write_text(
        "\n".join(
            j.dumps(r)
            for r in [
                {"k": 1, "ts": "2024-01-01 00:01:00", "v": 0.0, "deleted": True},
                {"k": 3, "ts": "2024-01-01 00:01:30", "v": 3.0, "deleted": False},
            ]
        )
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    q = stream_merge_sink(stream, target, ["k"], chk, order_col="ts", delete_col="deleted")
    q.awaitTermination(120)
    table = read_merge_target(spark, target)
    assert "deleted" not in table.columns
    got = {r.k: r.v for r in table.collect()}
    assert got == {2: 2.0, 3: 3.0}


@pytest.mark.slow
def test_replayed_batches_are_noops(spark, tmp_path):
    """Crash-replay semantics: a micro-batch whose snapshot the pointer
    already names must be skipped, and a stream_clean batch must
    rewrite its own output rather than append it again. Simulated by
    wiping the streaming checkpoint after a completed run — availableNow
    then re-reads and re-delivers every batch with the same batch ids —
    and asserting the table is unchanged (not double-counted, not wedged
    on read-from/overwrite of the live snapshot)."""
    import json as j
    import shutil

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from clearcare_data_pipeline_spark.streaming.sinks import (
        list_snapshots,
        read_merge_target,
        stream_incremental_agg,
        stream_merge_sink,
    )

    inp = tmp_path / "rin"
    inp.mkdir()
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    (inp / "b1.json").write_text(
        "\n".join(
            j.dumps(r)
            for r in [
                {"k": 1, "ts": "2024-01-01 00:00:00", "v": 1.0},
                {"k": 2, "ts": "2024-01-01 00:00:10", "v": 2.0},
            ]
        )
    )
    (inp / "b2.json").write_text(j.dumps({"k": 1, "ts": "2024-01-01 00:01:00", "v": 9.0}))

    # --- merge sink: replay must leave the upserted table identical
    target, chk = str(tmp_path / "rtarget"), str(tmp_path / "rchk")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    stream_merge_sink(stream, target, ["k"], chk, order_col="ts").awaitTermination(120)
    before = sorted((r.k, r.v) for r in read_merge_target(spark, target).collect())
    snaps_before = list_snapshots(target)
    shutil.rmtree(chk)  # lose the checkpoint -> all batches replay
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    q = stream_merge_sink(stream2, target, ["k"], chk, order_col="ts")
    q.awaitTermination(120)
    assert q.exception() is None
    assert sorted((r.k, r.v) for r in read_merge_target(spark, target).collect()) == before
    assert list_snapshots(target) == snaps_before  # no new snapshots written

    # --- incremental agg: replay must not double-add
    itarget, ichk = str(tmp_path / "ritarget"), str(tmp_path / "richk")
    stream3 = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    stream_incremental_agg(stream3, itarget, ["k"], ichk, value_col="v").awaitTermination(120)
    agg_before = sorted(
        (r.k, r.n, float(r.total)) for r in read_merge_target(spark, itarget).collect()
    )
    shutil.rmtree(ichk)
    stream4 = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(inp))
    q2 = stream_incremental_agg(stream4, itarget, ["k"], ichk, value_col="v")
    q2.awaitTermination(120)
    assert q2.exception() is None
    agg_after = sorted(
        (r.k, r.n, float(r.total)) for r in read_merge_target(spark, itarget).collect()
    )
    assert agg_after == agg_before

    # --- stream_clean: each batch overwrites its own batch_id directory
    cin, cout, cchk = tmp_path / "cin", str(tmp_path / "cout"), str(tmp_path / "cchk")
    cin.mkdir()
    (cin / "a.csv").write_text(_HEADER + "\n" + _charges_csv_line() + "\n")
    (cin / "b.csv").write_text(_HEADER + "\n" + _charges_csv_line(code="99214", maxp="") + "\n")

    def clean_counts():
        return tuple(spark.read.parquet(f"{cout}/{side}").count() for side in ("clean", "quarantine"))

    stream_clean(spark, str(cin), cout, cchk).awaitTermination(120)
    assert clean_counts() == (1, 1)
    shutil.rmtree(cchk)
    q3 = stream_clean(spark, str(cin), cout, cchk)
    q3.awaitTermination(120)
    assert q3.exception() is None
    assert clean_counts() == (1, 1)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static broadcast enrichment: streamed events pick up
    dimension attributes; unmatched keys survive (left join) with
    NULLs; no state store is involved."""
    import json as _json

    from clearcare_data_pipeline_spark.streaming.joins import enrich_stream

    inp, out, chk = str(tmp_path / "sin"), str(tmp_path / "sout"), str(tmp_path / "schk")
    (tmp_path / "sin").mkdir()
    events = [
        {"user_id": 1, "event_type": "view"},
        {"user_id": 2, "event_type": "purchase"},
        {"user_id": 99, "event_type": "view"},  # no dim row
    ]
    (tmp_path / "sin" / "e.json").write_text("\n".join(_json.dumps(e) for e in events))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], ["user_id", "tier"]
    )
    stream = spark.readStream.schema("user_id BIGINT, event_type STRING").json(inp)
    q = (
        enrich_stream(stream, dim, ["user_id"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["tier"] == "gold"
    assert rows[2]["tier"] == "silver"
    assert rows[99]["tier"] is None

    import pytest as _pytest

    with _pytest.raises(ValueError):
        enrich_stream(stream, dim, ["user_id"], how="full")
