"""Golden tests for the three raw-MRF extractors (SURVEY.md §2.4 X1/X2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.sources.extract_json import extract_json
from clearcare_data_pipeline_spark.sources.extract_tall import extract_tall
from clearcare_data_pipeline_spark.sources.extract_wide import extract_wide
from clearcare_data_pipeline_spark.sources.mrf import read_mrf_csv
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _by(rows, **kv):
    out = [r for r in rows if all(r[k] == v for k, v in kv.items())]
    return out


# --- tall ---------------------------------------------------------------


def test_tall_metadata_preamble(spark):
    res = extract_tall(spark, f"{FIX}/tall.csv")
    assert res.metadata["hospital_name"] == "General Hospital"
    assert res.metadata["version"] == "2.0.0"
    assert res.metadata["hospital_address"] == "123 Main St, Springfield ST 12345"


def test_tall_canonical_shape(spark):
    res = extract_tall(spark, f"{FIX}/tall.csv")
    assert res.charges.columns == CANONICAL_COLUMNS
    rows = res.charges.collect()
    # 8 data rows with >=1 valid slot; MRI row has 2 slots; LOCAL slot
    # dropped but its second slot (CPT) kept => 9 emitted rows
    assert len(rows) == 9


def test_tall_code_slot_explode(spark):
    rows = extract_tall(spark, f"{FIX}/tall.csv").charges.collect()
    mri = _by(rows, description="MRI brain")
    assert {(r["code"], r["code_type"]) for r in mri} == {("70551", "CPT"), ("0070551", "NDC")}
    # both slot-rows carry the same payer/prices
    assert {r["negotiated_price"] for r in mri} == {"950"}


def test_tall_payer_split_and_type_normalization(spark):
    res = extract_tall(spark, f"{FIX}/tall.csv")
    rows = res.charges.collect()
    office = _by(rows, code="99213")[0]
    assert office["payer_name"] == "Aetna"
    assert office["payer_id"] == "AET001"
    knee = _by(rows, code="470")[0]
    assert knee["code_type"] == "DRG"  # MS-DRG normalized
    nopid = _by(rows, code="99212")[0]
    assert nopid["payer_name"] == "Humana" and nopid["payer_id"] == ""
    unknown = {r["raw_code_type"]: r["n"] for r in res.unknown_types.collect()}
    assert unknown == {"LOCAL": 1}


def test_tall_hospital_identity_from_preamble(spark):
    rows = extract_tall(spark, f"{FIX}/tall.csv", zip_code="12345").charges.collect()
    assert all(r["hospital_name"] == "General Hospital" for r in rows)
    assert all(r["zip_code"] == "12345" for r in rows)


# --- wide ---------------------------------------------------------------


def test_wide_regroup_keys(spark):
    res = extract_wide(spark, f"{FIX}/wide.csv")
    rows = res.charges.collect()
    keys = {(r["code"], r["code_type"], r["payer_name"], r["plan_name"]) for r in rows}
    assert keys == {
        ("99213", "CPT", "Aetna", "PPO"),
        ("99213", "CPT", "BlueCross", "HMO"),
        ("70551", "CPT", "Aetna", "PPO"),
        ("70551", "CPT", "BlueCross", "HMO"),
        ("70551", "CPT", "United", "POS"),
        ("0070551", "NDC", "Aetna", "PPO"),
        ("0070551", "NDC", "BlueCross", "HMO"),
        ("0070551", "NDC", "United", "POS"),
        ("470", "DRG", "Aetna", "PPO"),
    }


def test_wide_last_write_wins(spark):
    """'Dup key row' collides with 'Office visit' on (99213,CPT,Aetna,PPO):
    the later row's values win (reference dict-overwrite semantics)."""
    rows = extract_wide(spark, f"{FIX}/wide.csv").charges.collect()
    r = _by(rows, code="99213", payer_name="Aetna")[0]
    assert r["negotiated_price"] == "125.75"
    assert r["negotiated_methodology"] == "per diem"
    assert r["gross_charge"] == "210"
    assert r["description"] == "Dup key row"


def test_wide_field_shapes_and_notes_merge(spark):
    rows = extract_wide(spark, f"{FIX}/wide.csv").charges.collect()
    # >=4-part field-last shape: standard_charge|United|POS|negotiated_algorithm
    united = _by(rows, code="70551", payer_name="United")[0]
    assert united["negotiated_algorithm"] == "pct of billed"
    assert united["estimated_amount"] == "925"
    assert united["negotiated_methodology"] == "other"
    # F11 generic ⊕ payer note
    bc_office = _by(rows, code="99213", payer_name="BlueCross")[0]
    assert bc_office["additional_notes"] == "generic note"
    aetna_office = _by(rows, code="99213", payer_name="Aetna")[0]
    assert "second note" in aetna_office["additional_notes"]


def test_wide_blank_cells_skipped(spark):
    rows = extract_wide(spark, f"{FIX}/wide.csv").charges.collect()
    # Knee row has only the Aetna dollar cell -> no BlueCross/United keys
    knee = _by(rows, code="470")
    assert len(knee) == 1 and knee[0]["payer_name"] == "Aetna"
    assert knee[0]["negotiated_price"] == "18500"


# --- json ---------------------------------------------------------------


def test_json_explode_chain(spark):
    res = extract_json(spark, f"{FIX}/mrf.json")
    rows = res.charges.collect()
    assert res.metadata["hospital_name"] == "General Hospital"
    # office: 1 code x 2 payers; insulin: 2 codes x 1 payer; no-payer item: 1 code x 1 (outer)
    assert len(rows) == 5
    office_aetna = _by(rows, code="99213", payer_name="Aetna")[0]
    assert office_aetna["negotiated_price"] == "120.5"
    assert office_aetna["gross_charge"] == "200.0"
    assert office_aetna["additional_notes"] == "aetna note"


def test_json_code_slots_and_drug_info(spark):
    rows = extract_json(spark, f"{FIX}/mrf.json").charges.collect()
    insulin = _by(rows, description="Insulin 10ml")
    assert {(r["code"], r["code_type"]) for r in insulin} == {("0012345678", "NDC"), ("J1815", "HCPCS")}
    assert all(r["drug_unit"] == "10" and r["drug_type"] == "ML" for r in insulin)


def test_json_outer_payers_and_type_norm(spark):
    rows = extract_json(spark, f"{FIX}/mrf.json").charges.collect()
    nop = _by(rows, code="470")[0]
    assert nop["code_type"] == "DRG"
    assert nop["payer_name"] == "" and nop["negotiated_price"] == ""
    assert nop["gross_charge"] == "20000.0"


def test_extracted_tall_feeds_cleaning(spark):
    """End-to-end: extract -> clean -> tag; extracted output is valid
    canonical input for the cleaning stage."""
    from clearcare_data_pipeline_spark.pipeline import run_cleaning_pipeline

    res = extract_tall(spark, f"{FIX}/tall.csv", zip_code="12345")
    with run_cleaning_pipeline(res.charges) as result:
        # 9 extracted; the 7-digit '0070551' NDC fails R2 format validation
        assert result.clean_rows + result.quarantined_rows == 8
        assert 0.0 <= result.score <= 1.0


# --- CSV reader: preamble + body, pinned to the line-indexed reader's output ---

_PRE = 'hospital_name,version,hospital_address\nGeneral Hospital,2.0.0,"123 Main St, Springfield"\n'
_PRE_META = {
    "hospital_name": "General Hospital",
    "version": "2.0.0",
    "hospital_address": "123 Main St, Springfield",
}

# file text -> (metadata, columns, rows) as the reader that parsed the
# lines after the preamble with DataFrameReader.csv returned them
# (captured before that reader was replaced), except where that reader
# kept the backslash-escape dialect: the three quoting cases hold what
# ``pd.read_csv(skiprows=2)`` gives, the RFC 4180 reading of the
# reference.
CSV_READER_CASES = {
    "quoted_comma": (
        _PRE + 'description,code,notes\n"Office, visit",99213,"a ""quoted"" note"\nMRI,70551,"x,y,z"\n',
        _PRE_META,
        ["description", "code", "notes"],
        [["Office, visit", "99213", 'a "quoted" note'], ["MRI", "70551", "x,y,z"]],
    ),
    "blank_and_duplicate_header": (
        _PRE + "name,,code,Code,name, \nA,1,2,3,4,5\n",
        _PRE_META,
        ["name0", "_c1", "code2", "Code3", "name4", " "],
        [["A", "1", "2", "3", "4", "5"]],
    ),
    "blank_body_lines": (
        _PRE + "a,b,c\n1,2,3\n\n   \n\t\n4,5,6\n",
        _PRE_META,
        ["a", "b", "c"],
        [["1", "2", "3"], ["\t", "", ""], ["4", "5", "6"]],
    ),
    "body_line_equals_header": (
        _PRE + 'a,b,c\n1,2,3\na,b,c\n a,b,c\n"a",b,c\n4,5,6\n',
        _PRE_META,
        ["a", "b", "c"],
        [["1", "2", "3"], [" a", "b", "c"], ["a", "b", "c"], ["4", "5", "6"]],
    ),
    "preamble_shorter_than_header": (
        "hospital_name,version\nGeneral Hospital\na,b,c,d\n1,2,3,4\n",
        {"hospital_name": "General Hospital", "version": ""},
        ["a", "b", "c", "d"],
        [["1", "2", "3", "4"]],
    ),
    "no_body": (_PRE + "a,b,c\n", _PRE_META, ["a", "b", "c"], []),
    "no_body_no_newline": (_PRE + "a,b,c", _PRE_META, ["a", "b", "c"], []),
    "short_and_long_rows": (
        _PRE + "a,b,c\n1\n1,2,3,4,5\n,,\n",
        _PRE_META,
        ["a", "b", "c"],
        [["1", "", ""], ["1", "2", "3"], ["", "", ""]],
    ),
    "crlf": (_PRE.replace("\n", "\r\n") + "a,b\r\n1,2\r\n", _PRE_META, ["a", "b"], [["1", "2"]]),
    "blank_line_before_header": (_PRE + "\na,b\n1,2\n", _PRE_META, ["a", "b"], [["1", "2"]]),
    "backslash_escape_in_header": (
        _PRE + '"a\\"b",a\\,c\n1,2,3\n',
        _PRE_META,
        ['a\\b"', "a\\", "c"],
        [["1", "2", "3"]],
    ),
    "doubled_quote_in_header": (
        _PRE + '"a ""q"" z","b"""\n1,2\n',
        _PRE_META,
        ['a "q" z', 'b"'],
        [["1", "2"]],
    ),
    "backslash_quote_in_body": (
        _PRE + 'a,b\n"x\\"y",2\n',
        _PRE_META,
        ["a", "b"],
        [['"x\\"y"', "2"]],
    ),
}


@pytest.mark.parametrize("case", sorted(CSV_READER_CASES))
def test_csv_reader_matches_line_indexed_reader(spark, tmp_path, case):
    text, meta, columns, rows = CSV_READER_CASES[case]
    path = tmp_path / f"{case}.csv"
    path.write_bytes(text.encode())
    got_meta, df = read_mrf_csv(spark, str(path))
    assert got_meta == meta
    assert df.columns == columns
    assert sorted(list(r) for r in df.collect()) == sorted(rows)


# Cases the reader deliberately reads its own way (Spark's naming of
# blank and repeated header cells, header copies and space-only lines
# dropped), that pandas refuses (ragged rows), or that are not RFC 4180
# (a backslash before a quote inside a quoted body cell: kept as the raw
# cell text, where pandas gives x\y").
_NOT_PANDAS_CASES = {
    "backslash_quote_in_body",
    "blank_and_duplicate_header",
    "blank_body_lines",
    "body_line_equals_header",
    "short_and_long_rows",
}


@pytest.mark.parametrize("case", sorted(set(CSV_READER_CASES) - _NOT_PANDAS_CASES))
def test_csv_reader_matches_pandas(spark, tmp_path, case):
    # The reference reads MRF CSVs with pd.read_csv(skiprows=2): on a
    # well-formed file the header and every body cell match it.
    import io

    import pandas as pd

    text = CSV_READER_CASES[case][0]
    path = tmp_path / f"{case}.csv"
    path.write_bytes(text.encode())
    _, df = read_mrf_csv(spark, str(path))
    want = pd.read_csv(io.StringIO(text), skiprows=2, dtype=str, keep_default_na=False)
    assert df.columns == list(want.columns)
    assert [list(r) for r in df.collect()] == want.values.tolist()


# Bodies with a line that ends inside an open quoted field, by pandas'
# rule: a quote opens a field only at the field's start, and "" inside
# it is one quote. pandas reads each as one row whose cell holds the
# newline; a line reader would split it into two broken rows.
_SPANNING_BODIES = {
    "cell_spans_lines": '1,"line one\nline two",3\n',
    "doubled_quote_before_newline": '1,"a ""q""\nz",3\n',
    "last_cell_open": '1,2,"open\nclosed"\n',
}


@pytest.mark.parametrize("case", sorted(_SPANNING_BODIES))
def test_csv_reader_fails_on_a_quoted_cell_that_spans_lines(spark, tmp_path, case):
    import io

    import pandas as pd

    text = _PRE + "a,b,c\n" + _SPANNING_BODIES[case]
    assert len(pd.read_csv(io.StringIO(text), skiprows=2, dtype=str)) == 1
    path = tmp_path / f"{case}.csv"
    path.write_text(text)
    _, df = read_mrf_csv(spark, str(path))
    with pytest.raises(Exception, match="a quoted field spans lines"):
        df.collect()


def test_csv_reader_drops_preamble_only_in_first_split(spark, tmp_path):
    # Forced into many small splits, every line after the header is
    # read once, and only the file's own first lines are dropped.
    body = [f"{i},v{i}" for i in range(300)]
    path = tmp_path / "split.csv"
    path.write_text(_PRE + "a,b\n" + "\n".join(body) + "\n")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
    try:
        meta, df = read_mrf_csv(spark, str(path))
        assert df.rdd.getNumPartitions() > 1
        got = sorted(f"{r.a},{r.b}" for r in df.collect())
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert meta == _PRE_META
    assert got == sorted(body)


def test_csv_reader_refuses_preamble_split_across_partitions(spark, tmp_path):
    # A split shorter than preamble line 0 puts line 1 in another scan
    # partition, where it cannot be told apart from a data row.
    path = tmp_path / "long_preamble.csv"
    path.write_text("k" * 600 + ",version\nv,2.0.0\na,b\n1,2\n")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
    try:
        with pytest.raises(ValueError, match="does not start the first scan split"):
            read_mrf_csv(spark, str(path))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_csv_reader_needs_a_header_line(spark, tmp_path):
    path = tmp_path / "preamble_only.csv"
    path.write_text(_PRE)
    with pytest.raises(ValueError, match="no header line"):
        read_mrf_csv(spark, str(path))
