"""Parse-level quarantine + binaryFile ingestion (sources/robust.py)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clearcare_data_pipeline_spark.sources.robust import (  # noqa: E402
    read_binary_blobs,
    read_csv_with_quarantine,
)


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_csv_quarantine_splits_bad_lines(spark, tmp_path):
    p = tmp_path / "feed.csv"
    p.write_text(
        "id,amount,when\n"
        "1,10.5,2024-01-01 00:00:00\n"
        "2,not_a_number,2024-01-02 00:00:00\n"   # bad double
        "3,7.25,2024-01-03 00:00:00\n"
    )
    before = _persisted_ids(spark)
    with read_csv_with_quarantine(
        spark, str(p), "id long, amount double, when timestamp"
    ) as (parsed, quarantined):
        good = sorted(r.id for r in parsed.collect())
        bad = [r.raw_line for r in quarantined.collect()]
        assert len(_persisted_ids(spark) - before) == 1
    assert good == [1, 3]
    assert len(bad) == 1 and "not_a_number" in bad[0]
    # the block owns the cache: released on exit, and on a failure too
    assert _persisted_ids(spark) - before == set()
    with pytest.raises(RuntimeError, match="injected"):
        with read_csv_with_quarantine(spark, str(p), "id long, amount double, when timestamp") as (
            parsed,
            _,
        ):
            parsed.count()
            raise RuntimeError("injected failure inside the block")
    assert _persisted_ids(spark) - before == set()


def test_binary_blob_scan_feeds_multimodal(spark, tmp_path):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clearcare_data_pipeline_spark.operators.multimodal import (
        image_features,
        make_fake_image_bytes,
    )

    d = tmp_path / "blobs"
    d.mkdir()
    dims = [(4, 3), (16, 9)]
    for i, (w, h) in enumerate(dims):
        (d / f"img{i}.fimg").write_bytes(make_fake_image_bytes(w, h, seed=i))
    blobs = read_binary_blobs(spark, str(d), glob="*.fimg")
    assert blobs.count() == 2
    media = blobs.select(
        (F.row_number().over(Window.orderBy("path")) - 1).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.col("path").alias("uri"),
    )
    feats = image_features(media)
    got = {r.media_id: (r.width, r.height, r.format) for r in feats.collect()}
    assert got == {0: (4, 3, "fimg"), 1: (16, 9, "fimg")}
