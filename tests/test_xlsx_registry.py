"""XLSX registry adapter: stdlib OOXML round-trip + foreign-writer read."""

import pytest
import zipfile

from clearcare_data_pipeline_spark.schema import REGISTRY_COLUMNS
from clearcare_data_pipeline_spark.sources.registry import (
    load_registry_xlsx,
    lookup_campus,
    registry_snapshot,
    save_registry_xlsx,
)
from clearcare_data_pipeline_spark.sources.xlsx import read_xlsx, write_xlsx


def _mk_registry(spark, rows):
    from clearcare_data_pipeline_spark.schema import REGISTRY_SCHEMA

    return spark.createDataFrame(rows, REGISTRY_SCHEMA)


def _row(campus_id, name, **kw):
    base = {c: None for c in REGISTRY_COLUMNS}
    base["campus_id"] = campus_id
    base["hospital_name"] = name
    base.update(kw)
    return tuple(base[c] for c in REGISTRY_COLUMNS)


def test_registry_xlsx_roundtrip(spark, tmp_path):
    path = str(tmp_path / "Hospital Registry.xlsx")
    df = _mk_registry(
        spark,
        [
            _row("st-marys", "St. Mary's & Sons <Hospital>", city="Austin", zip_code="73301"),
            _row("general", "General, \"The\" Hospital", cms_rating="4.5"),
        ],
    )
    save_registry_xlsx(df, path)
    back = load_registry_xlsx(spark, path)
    assert sorted(back.columns) == sorted(REGISTRY_COLUMNS)
    got = {r["campus_id"]: r for r in back.collect()}
    assert got["st-marys"]["hospital_name"] == "St. Mary's & Sons <Hospital>"
    assert got["st-marys"]["zip_code"] == "73301"
    assert got["general"]["hospital_name"] == 'General, "The" Hospital'
    assert got["general"]["cms_rating"] == "4.5"
    assert got["general"]["city"] is None


def test_registry_xlsx_lookup(spark, tmp_path):
    path = str(tmp_path / "reg.xlsx")
    save_registry_xlsx(
        _mk_registry(spark, [_row("mercy-west", "Mercy West", state="IA")]), path
    )
    row = lookup_campus(registry_snapshot(spark, path), "mercy-west")
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
    got = load_registry_xlsx(spark, path).collect()[0]
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


@pytest.mark.slow
def test_upsert_and_dispatch_through_xlsx_path(spark, tmp_path):
    # load_registry / upsert_campus dispatch on the .xlsx extension, so
    # the reference's read-modify-write workbook cycle works verbatim.
    from clearcare_data_pipeline_spark.sources.registry import upsert_campus

    path = str(tmp_path / "Hospital Registry.xlsx")
    save_registry_xlsx(_mk_registry(spark, [_row("gen", "General")]), path)
    upsert_campus(spark, path, "gen", {"etl_status": "done"}, registry_snapshot(spark, path))
    upsert_campus(spark, path, "new1", {"hospital_name": "New One"}, registry_snapshot(spark, path))
    reg = registry_snapshot(spark, path)
    assert len(reg) == 2
    assert lookup_campus(reg, "gen")["etl_status"] == "done"
    assert lookup_campus(reg, "new1")["hospital_name"] == "New One"
