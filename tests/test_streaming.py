"""Structured Streaming mode tests (availableNow over file sources)."""

from __future__ import annotations
import pytest

import shutil

from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS
from clearcare_data_pipeline_spark.streaming.pipeline import stream_clean

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
def test_stream_clean_replayed_batches_are_noops(spark, tmp_path):
    """Crash-replay semantics: a stream_clean batch must rewrite its own
    output rather than append it again. Simulated by wiping the
    streaming checkpoint after a completed run — availableNow then
    re-reads and re-delivers every batch with the same batch ids — and
    asserting the output is unchanged (not double-counted)."""
    cin, cout, cchk = tmp_path / "cin", str(tmp_path / "cout"), str(tmp_path / "cchk")
    cin.mkdir()
    (cin / "a.csv").write_text(_HEADER + "\n" + _charges_csv_line() + "\n")
    (cin / "b.csv").write_text(_HEADER + "\n" + _charges_csv_line(code="99214", maxp="") + "\n")

    def clean_counts():
        return tuple(spark.read.parquet(f"{cout}/{side}").count() for side in ("clean", "quarantine"))

    stream_clean(spark, str(cin), cout, cchk).awaitTermination(120)
    assert clean_counts() == (1, 1)
    shutil.rmtree(cchk)
    q = stream_clean(spark, str(cin), cout, cchk)
    q.awaitTermination(120)
    assert q.exception() is None
    assert clean_counts() == (1, 1)

