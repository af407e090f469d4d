"""Pins for bench.py's artifact contract (r12): the compact last-line
record must carry every driver-contract field and fit well inside the
driver's tail-capture window even with the full headline query set."""

from __future__ import annotations

import json

import bench


def _full_headline_timings() -> dict[str, float]:
    # worst realistic case: every headline query present with
    # plausible 4-sig-fig timings
    return {name: round(1.234 + i * 0.111, 3) for i, name in enumerate(bench.HEADLINE)}


def test_compact_record_carries_contract_fields():
    rec = bench.compact_record(
        total=16.421,
        timings=_full_headline_timings(),
        calibration_sec=2.068,
        calibration_spread=0.034,
        calibration_unstable=False,
        sf=0.1,
    )
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in rec, key
    assert rec["unit"] == "sec"
    assert rec["metric"] == "headline_queries_total_sec"
    assert "calibration_unstable" not in rec


def test_compact_record_flags_unstable_calibration():
    rec = bench.compact_record(
        total=1.0, timings={}, calibration_sec=2.4,
        calibration_spread=0.9, calibration_unstable=True, sf=0.01,
    )
    assert rec["calibration_unstable"] is True


def test_compact_record_fits_in_driver_tail_window():
    """The whole point of the compact line: it must survive the
    driver's ~2000-char tail capture with room for the clipped
    remainder of the full line. Cap at half the window."""
    rec = bench.compact_record(
        total=9999.999,
        timings=_full_headline_timings(),
        calibration_sec=2.068,
        calibration_spread=0.034,
        calibration_unstable=True,
        sf=10.0,
    )
    line = json.dumps(rec)
    assert len(line) <= bench.DRIVER_TAIL_CHARS // 2, len(line)


def test_compact_record_parses_as_last_line_after_full_record():
    """Simulate the driver's tail capture: full record + compact record
    concatenated, keep only the last DRIVER_TAIL_CHARS — the last
    complete line must parse and carry the headline value."""
    timings = _full_headline_timings()
    full = json.dumps({
        "metric": "headline_queries_total_sec", "value": 16.421,
        "unit": "sec", "queries": timings, "spread": timings,
        "extended": timings, "skew_demo": {"plain_sec": 1, "salted_sec": 2},
        "sf": 0.1,
    })
    compact = json.dumps(bench.compact_record(
        16.421, timings, 2.068, 0.034, False, 0.1))
    captured = (full + "\n" + compact + "\n")[-bench.DRIVER_TAIL_CHARS:]
    last = [ln for ln in captured.splitlines() if ln.strip()][-1]
    doc = json.loads(last)
    assert doc["value"] == 16.421
    assert doc["queries"] == timings


def test_steal_sampling_fields(monkeypatch):
    """VERDICT r13 #1: the artifact records hypervisor steal so a
    contaminated run can be rejected mechanically. The compact record
    carries the run-level steal_pct when available and stays small."""
    rec = bench.compact_record(
        total=16.421,
        timings=_full_headline_timings(),
        calibration_sec=2.068,
        calibration_spread=0.034,
        calibration_unstable=False,
        sf=0.1,
        steal_pct=3.14,
    )
    assert rec["steal_pct"] == 3.14
    assert len(json.dumps(rec)) <= bench.DRIVER_TAIL_CHARS // 2
    # absent sample -> field omitted, never null
    rec2 = bench.compact_record(1.0, {}, 2.0, 0.1, False, 0.1, steal_pct=None)
    assert "steal_pct" not in rec2
    # the delta helper: 10 steal ticks over 1000 total = 1%
    assert bench._steal_pct((100, 10_000), (110, 11_000)) == 1.0
    assert bench._steal_pct(None, (1, 2)) is None
    assert bench._steal_pct((1, 2), (1, 2)) is None  # zero-width window
    s = bench._steal_sample()
    assert s is None or (len(s) == 2 and s[1] >= s[0] >= 0)


def test_error_text_keeps_type_and_clips_message():
    text = bench._error_text(ValueError("x" * 10_000))
    assert text.startswith("ValueError: xxx")
    assert len(text) == 500
