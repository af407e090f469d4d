"""XLSX registry adapter: stdlib OOXML round-trip + foreign-writer read."""

import pytest
import zipfile

from clearcare_data_pipeline_spark.schema import REGISTRY_COLUMNS
from clearcare_data_pipeline_spark.sources.registry import (
    load_registry,
    lookup_campus,
    registry_snapshot,
)
from clearcare_data_pipeline_spark.sources.xlsx import read_xlsx, write_xlsx


def _write_registry(path, rows):
    write_xlsx(path, list(REGISTRY_COLUMNS), rows)


def _row(campus_id, name, **kw):
    base = {c: None for c in REGISTRY_COLUMNS}
    base["campus_id"] = campus_id
    base["hospital_name"] = name
    base.update(kw)
    return [base[c] for c in REGISTRY_COLUMNS]


def test_registry_xlsx_roundtrip(spark, tmp_path):
    path = str(tmp_path / "Hospital Registry.xlsx")
    _write_registry(
        path,
        [
            _row("st-marys", "St. Mary's & Sons <Hospital>", city="Austin", zip_code="73301"),
            _row("general", "General, \"The\" Hospital", cms_rating="4.5"),
        ],
    )
    back = load_registry(spark, path)
    assert sorted(back.columns) == sorted(REGISTRY_COLUMNS)
    got = {r["campus_id"]: r for r in back.collect()}
    assert got["st-marys"]["hospital_name"] == "St. Mary's & Sons <Hospital>"
    assert got["st-marys"]["zip_code"] == "73301"
    assert got["general"]["hospital_name"] == 'General, "The" Hospital'
    assert got["general"]["cms_rating"] == "4.5"
    assert got["general"]["city"] is None


def test_registry_xlsx_lookup(tmp_path):
    path = str(tmp_path / "reg.xlsx")
    _write_registry(path, [_row("mercy-west", "Mercy West", state="IA")])
    row = lookup_campus(registry_snapshot(path), "mercy-west")
    assert row["state"] == "IA"


def test_load_xlsx_missing_and_extra_columns(spark, tmp_path):
    # A workbook with a column subset, different order, and an extra
    # column the engine does not know — the adapter matches by name.
    path = str(tmp_path / "foreign.xlsx")
    write_xlsx(
        path,
        ["campus_id", "bogus_col", "hospital_name"],
        [["c1", "ignore me", "Alpha Medical"]],
    )
    got = load_registry(spark, path).collect()[0]
    assert got["hospital_name"] == "Alpha Medical"
    assert got["campus_id"] == "c1"
    assert got["state"] is None


def test_read_xlsx_shared_strings(tmp_path):
    # Simulate a workbook written by Excel/pandas: cells reference the
    # sharedStrings table ('s' type) and numbers are plain 'n' cells.
    path = str(tmp_path / "shared.xlsx")
    write_xlsx(path, ["a"], [["x"]])  # scaffold, then rewrite the parts
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>4.5</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        f'<?xml version="1.0"?><sst xmlns="{ns}" count="3" uniqueCount="3">'
        "<si><t>campus_id</t></si><si><t>cms_rating</t></si>"
        "<si><r><t>camp</t></r><r><t>-one</t></r></si></sst>"
    )
    with zipfile.ZipFile(path) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = sheet.encode()
    parts["xl/sharedStrings.xml"] = shared.encode()
    with zipfile.ZipFile(path, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    header, rows = read_xlsx(path)
    assert header == ["campus_id", "cms_rating"]
    assert rows == [["camp-one", "4.5"]]


def test_write_xlsx_wide_sheet_column_letters(tmp_path):
    # 30 registry columns crosses the Z -> AA boundary.
    path = str(tmp_path / "wide.xlsx")
    header = [f"col{i}" for i in range(30)]
    write_xlsx(path, header, [[str(i) for i in range(30)]])
    h, rows = read_xlsx(path)
    assert h == header
    assert rows == [[str(i) for i in range(30)]]


def test_upsert_and_dispatch_through_xlsx_path(tmp_path):
    # registry_snapshot / upsert_campus dispatch on the .xlsx extension, so
    # the reference's read-modify-write workbook cycle works verbatim.
    from clearcare_data_pipeline_spark.sources.registry import upsert_campus

    path = str(tmp_path / "Hospital Registry.xlsx")
    _write_registry(path, [_row("gen", "General")])
    upsert_campus(path, "gen", {"etl_status": "done"}, registry_snapshot(path))
    upsert_campus(path, "new1", {"hospital_name": "New One"}, registry_snapshot(path))
    reg = registry_snapshot(path)
    assert len(reg) == 2
    assert lookup_campus(reg, "gen")["etl_status"] == "done"
    assert lookup_campus(reg, "new1")["hospital_name"] == "New One"


@pytest.mark.parametrize("fail_in", ["sheet_write", "replace"])
def test_failed_xlsx_rewrite_keeps_previous_workbook(tmp_path, monkeypatch, fail_in):
    # A failure while the new workbook is written, or while it is
    # swapped in, leaves the previous workbook readable and whole, with
    # no temp file beside it.
    import os

    from clearcare_data_pipeline_spark.sources import xlsx
    from clearcare_data_pipeline_spark.sources.registry import upsert_campus

    path = str(tmp_path / "Hospital Registry.xlsx")
    _write_registry(path, [_row("gen", "General"), _row("m", "Mercy")])
    before = registry_snapshot(path)

    real_writestr = zipfile.ZipFile.writestr

    def failing_writestr(self, name, data, *args, **kwargs):
        if name == "xl/worksheets/sheet1.xml":
            real_writestr(self, name, data[: len(data) // 2], *args, **kwargs)
            raise OSError("injected failure mid-sheet")
        return real_writestr(self, name, data, *args, **kwargs)

    def failing_replace(src, dst):
        raise OSError("injected failure at replace")

    with monkeypatch.context() as m:
        if fail_in == "sheet_write":
            m.setattr(zipfile.ZipFile, "writestr", failing_writestr)
        else:
            m.setattr(xlsx.os, "replace", failing_replace)
        with pytest.raises(OSError, match="injected"):
            upsert_campus(path, "gen", {"etl_status": "processed"}, before)
    assert registry_snapshot(path) == before
    assert os.listdir(tmp_path) == ["Hospital Registry.xlsx"]
