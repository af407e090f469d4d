"""Parquet schema memo of the table loader (sources/tables.py)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from clearcare_data_pipeline_spark.sources import tables


def test_schema_memo_sees_in_place_part_rewrite(spark, tmp_path):
    """ADVICE r14: a directory-style table whose part file is rewritten
    in place keeps the directory's mtime, so the memo must also key on
    the part files — and it keeps one entry per path, not one per
    version."""
    table = tmp_path / "fixture.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    path = os.path.join(str(tmp_path), "fixture.parquet")
    assert tables.load_table(spark, str(tmp_path), "fixture").columns == ["a"]

    dir_mtime = os.stat(table).st_mtime_ns
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    assert os.stat(table).st_mtime_ns == dir_mtime  # rewritten in place

    df = tables.load_table(spark, str(tmp_path), "fixture")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x")]
    assert list(tables._SCHEMA_CACHE).count(path) == 1
