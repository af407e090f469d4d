"""The whitespace-class convention (r12): the engine tokenizes with
Java regexes whose ``\\s`` INCLUDES vertical tab U+000B; DuckDB's RE2
``\\s`` EXCLUDES it. Oracles must therefore spell the Java class out
(queries/_textsql.py) — these tests pin the divergence itself, the
per-character parity of the explicit class, and a repo-wide guard
that no bare ``\\s``/``\\w`` survives in any emitted oracle SQL."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.operators.textstats import words_expr
from clearcare_data_pipeline_spark.queries._textsql import WORDS_SQL, WS_PLUS

# name -> (text, expected tokens under JAVA \s — the engine semantics)
CASES = {
    "vt": ("a\x0bb", ["a", "b"]),          # THE divergent char
    "ff": ("a\x0cb", ["a", "b"]),
    "tab_nl_crlf": ("a\tb\nc\r\nd", ["a", "b", "c", "d"]),
    "nbsp": ("a\u00a0b", ["a\u00a0b"]),  # not ws in either engine
    "line_sep": ("a\u2028b", ["a\u2028b"]),
    "em_space": ("a\u2003b", ["a\u2003b"]),
    "mixed_runs": (" a \x0b\t b ", ["a", "b"]),
    "only_ws": (" \t\x0b\r\n ", []),
    "empty": ("", []),
}


def test_re2_bare_s_diverges_from_java_on_vt_only():
    """The finding itself: RE2 \\s misses U+000B; every other probed
    case agrees. If DuckDB ever changes this, the convention comment
    needs revisiting — this test is the tripwire."""
    for name, (text, java_tokens) in CASES.items():
        re2 = duckdb.sql(
            "SELECT list_filter(string_split_regex($1::VARCHAR, '\\s+'), "
            "t -> length(t) > 0)", params=[text]
        ).fetchone()[0]
        if name in ("vt", "mixed_runs", "only_ws"):
            assert re2 != java_tokens, name  # bare \s gets these WRONG
        else:
            assert re2 == java_tokens, name


def test_explicit_class_matches_java_semantics_in_duckdb():
    for name, (text, java_tokens) in CASES.items():
        got = duckdb.sql(
            f"SELECT list_filter(string_split_regex($1::VARCHAR, '{WS_PLUS}'), "
            "t -> length(t) > 0)", params=[text]
        ).fetchone()[0]
        assert got == java_tokens, (name, got)


def test_spark_words_expr_produces_java_semantics(spark):
    df = spark.createDataFrame(
        [(n, t) for n, (t, _) in CASES.items()], "name: string, s: string"
    )
    got = {r["name"]: r["w"]
           for r in df.select("name", words_expr(F.col("s")).alias("w")).collect()}
    for name, (_, java_tokens) in CASES.items():
        assert got[name] == java_tokens, name


def test_words_sql_and_words_expr_agree_per_case(spark):
    """End-to-end: the shared oracle snippet and the engine tokenizer
    agree token-for-token on every adversarial case. The snippet's
    two-arg trim strips only 0x20 (matching Spark F.trim — r13
    finding: DuckDB's BARE trim also strips Unicode Zs like NBSP), so
    leading/trailing exotic whitespace exercises the split, not the
    trim."""
    for name, (text, _) in CASES.items():
        duck = duckdb.sql(
            "SELECT " + WORDS_SQL.replace("trim(text, ' ')", "trim($1::VARCHAR, ' ')"),
            params=[text],
        ).fetchone()[0]
        spark_row = (
            spark.range(1)
            .select(words_expr(F.trim(F.lit(text))).alias("w"))
            .collect()[0]["w"]
        )
        assert duck == spark_row, (name, duck, spark_row)


def test_algorithm_invalid_predicate_parity_on_vt(spark):
    """The F4 algorithm-format flag shares schema.ALGORITHM_INVALID_
    REGEX between Spark rlike (Java) and — before r12 — the DuckDB
    oracle verbatim. '12\\x0b34' is numeric-only under Java \\s but
    NOT under RE2 \\s; the explicit-class oracle twin
    (_textsql.ALGORITHM_INVALID_RE2) restores parity."""
    from clearcare_data_pipeline_spark.functions.cleaning import (
        algorithm_invalid_expr,
    )
    from clearcare_data_pipeline_spark.queries._textsql import (
        ALGORITHM_INVALID_RE2,
    )
    from clearcare_data_pipeline_spark.schema import ALGORITHM_INVALID_REGEX

    cases = ["12\x0b34", "12 34", "12x34", "$5%", "", "\x0b", "7\t7"]
    df = spark.createDataFrame([(c,) for c in cases], "s: string")
    spark_flags = [
        r["f"] for r in
        df.select(algorithm_invalid_expr(F.col("s")).alias("f")).collect()
    ]
    duck_flags = [
        duckdb.sql(
            f"SELECT coalesce(regexp_matches($1::VARCHAR, '{ALGORITHM_INVALID_RE2}'), FALSE)",
            params=[c],
        ).fetchone()[0]
        for c in cases
    ]
    assert spark_flags == duck_flags, list(zip(cases, spark_flags, duck_flags))
    # and the OLD bare-\s oracle really did diverge on the VT cases
    bare = [
        duckdb.sql(
            f"SELECT coalesce(regexp_matches($1::VARCHAR, '{ALGORITHM_INVALID_REGEX}'), FALSE)",
            params=[c],
        ).fetchone()[0]
        for c in cases
    ]
    assert bare != spark_flags


def test_no_bare_regex_class_in_any_oracle():
    """Repo-wide guard: no emitted oracle SQL may contain a bare \\s
    or \\w — the classes RE2 and Java can read differently. (Escaped
    literals like \\\\s would be fine but none exist; \\S/\\W are also
    banned for symmetry.)"""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as entry

    bad = {}
    for name, sql in entry.oracle_sql().items():
        hits = re.findall(r"\\[sSwW]", sql)
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_ws_class_defined_once():
    """r13 (ADVICE r12): the explicit Java-\\s class must be DEFINED
    exactly once — queries/_textsql.py — and only REUSED elsewhere.
    The bare-class guard above catches a regression to '\\s' but not a
    site that drifts to a different explicit class; this one does: any
    query-module source spelling the class out by hand (detected via
    its distinctive x0B member) fails here."""
    import glob as _glob
    import os

    qdir = os.path.join(
        os.path.dirname(__file__), "..", "clearcare_data_pipeline_spark", "queries"
    )
    offenders = []
    for p in sorted(_glob.glob(os.path.join(qdir, "*.py"))):
        if os.path.basename(p) == "_textsql.py":
            continue
        if "x0B" in open(p).read():
            offenders.append(os.path.basename(p))
    assert not offenders, offenders


def test_gated_corpus_is_pure_ascii():
    """Premise of the ascii_scan.json receipt (git show
    f55ca19:.r12state/ascii_scan.json), pinned at sf0.001 so data
    regeneration can't silently void it: every VARCHAR value in every
    table is pure ASCII, which makes all unicode engine-divergence
    classes (case mapping, normalization, exotic whitespace beyond the
    pinned U+000B handling) vacuous on gated data. Production corpora
    are NOT covered by this — the explicit-class oracles and the
    engine-parity pins above are the defense there."""
    import glob

    paths = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    assert paths, "gated corpus missing at /root/testdata/sf0.001 — premise unverifiable"
    for p in paths:
        cols = [r[0] for r in duckdb.sql(f"DESCRIBE SELECT * FROM '{p}'").fetchall()
                if "VARCHAR" in str(r[1])]
        for c in cols:
            n = duckdb.sql(
                f"SELECT count(*) FROM '{p}' "
                f'WHERE octet_length(encode("{c}")) != length("{c}") '
                f'OR regexp_matches("{c}", \'[^\\x00-\\x7F]\')'
            ).fetchone()[0]
            assert n == 0, (p, c)


def test_fingerprint_sql_parity_on_exotic_whitespace(spark):
    """r13: the shared FINGERPRINT_SQL oracle snippet and the engine's
    fingerprint_expr must produce the same md5 on texts whose only
    difference is whitespace class membership — including U+000B
    (squeezed by Java \\s, formerly missed by RE2 \\s) and NBSP
    (squeezed by neither)."""
    from clearcare_data_pipeline_spark.operators.textstats import fingerprint_expr
    from clearcare_data_pipeline_spark.queries._textsql import FINGERPRINT_SQL

    cases = [
        "a b",            # plain space
        "a\x0bb",         # vertical tab — the r12 divergence char
        "a\fb",           # form feed
        "a\t \n b",       # mixed run squeezes to one space
        "a b",       # NBSP: NOT whitespace in either engine
        " A  B ",         # trim + squeeze + lowercase
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text: string")
    spark_fps = [
        r["fp"] for r in
        df.select(fingerprint_expr(F.col("text")).alias("fp")).collect()
    ]
    duck_fps = [
        duckdb.sql(
            f"SELECT {FINGERPRINT_SQL.replace('(text)', '($1::VARCHAR)', 1)}"
            if False else
            "SELECT " + FINGERPRINT_SQL.replace("text", "$1::VARCHAR"),
            params=[c],
        ).fetchone()[0]
        for c in cases
    ]
    assert spark_fps == duck_fps
    # and the squeeze really is class-sensitive: vt collapses to the
    # same fp as a space, NBSP does not
    assert spark_fps[0] == spark_fps[1] == spark_fps[2]
    assert spark_fps[4] != spark_fps[0]


def test_bpe_token_re_parity(spark):
    """r13: BPE_TOKEN_RE (oracle) vs BPE_TOKEN_REGEX (engine, Java \\s
    complement) must count identically — U+000B must be 'whitespace'
    (not a symbol token) in both."""
    from clearcare_data_pipeline_spark.operators.textstats import (
        bpe_token_count_expr,
    )
    from clearcare_data_pipeline_spark.queries._textsql import BPE_TOKEN_RE

    cases = ["ab 12!", "a\x0bb", "a b", "x_y", "...", "\x0b\x0b", ""]
    df = spark.createDataFrame([(c,) for c in cases], "text: string")
    spark_counts = [
        r["n"] for r in
        df.select(bpe_token_count_expr(F.col("text")).alias("n")).collect()
    ]
    duck_counts = [
        duckdb.sql(
            f"SELECT len(regexp_extract_all($1::VARCHAR, '{BPE_TOKEN_RE}'))",
            params=[c],
        ).fetchone()[0]
        for c in cases
    ]
    assert spark_counts == duck_counts, (spark_counts, duck_counts)
    # NBSP is a symbol token in both (not whitespace); vt is neither
    assert duck_counts[1] == 2 and duck_counts[5] == 0 and duck_counts[2] == 3


def test_payer_split_re_parity(spark):
    """r13: the shared payer-split regexes vs the engine's
    split_payer_name_id on bracket suffixes trailed by each
    whitespace-class member."""
    from clearcare_data_pipeline_spark.functions.text import split_payer_name_id
    from clearcare_data_pipeline_spark.queries._textsql import (
        PAYER_EXTRACT_RE,
        PAYER_SPLIT_RE,
    )

    cases = [
        "Aetna [AE1]",
        "Aetna [AE1]\x0b",      # vt after bracket: still a match in Java
        "Aetna [AE1] ",    # NBSP: NOT trailing ws -> no match
        "Cigna",
        "Odd ] [X]",
        "[solo]",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s: string")
    name_col, id_col = split_payer_name_id("s")
    spark_rows = [
        (r["n"], r["i"]) for r in
        df.select(name_col.alias("n"), id_col.alias("i")).collect()
    ]
    duck_rows = [
        duckdb.sql(
            f"SELECT CASE WHEN regexp_matches($1::VARCHAR, '{PAYER_SPLIT_RE}') "
            f"THEN trim(regexp_extract($1::VARCHAR, '{PAYER_EXTRACT_RE}', 1), ' ') "
            f"ELSE trim($1::VARCHAR, ' ') END, "
            f"CASE WHEN regexp_matches($1::VARCHAR, '{PAYER_SPLIT_RE}') "
            f"THEN trim(regexp_extract($1::VARCHAR, '{PAYER_EXTRACT_RE}', 2), ' ') "
            f"ELSE '' END",
            params=[c],
        ).fetchone()
        for c in cases
    ]
    assert spark_rows == duck_rows, list(zip(cases, spark_rows, duck_rows))


def test_trim_parity_spark_vs_duckdb(spark):
    """r13 finding, pinned per character: Spark F.trim strips ONLY
    0x20. DuckDB's bare trim ALSO strips Unicode Zs (NBSP U+00A0,
    EM SPACE U+2003) — so every oracle must use the two-arg
    trim(x, ' ') (_textsql.trim_sql). This test fails if either
    engine's trim semantics drift."""
    from clearcare_data_pipeline_spark.queries._textsql import trim_sql

    chars = {
        "space": " ", "tab": "\t", "nl": "\n", "vt": "\x0b",
        "ff": "\f", "cr": "\r", "nbsp": "\xa0", "emsp": " ",
        "lsep": " ",
    }
    probes = {nm: f"{ch}x{ch}" for nm, ch in chars.items()}
    df = spark.createDataFrame(
        [(nm, s) for nm, s in probes.items()], "nm: string, s: string"
    )
    spark_out = {
        r["nm"]: r["t"] for r in df.select("nm", F.trim("s").alias("t")).collect()
    }
    for nm, s in probes.items():
        duck = duckdb.sql(
            f"SELECT {trim_sql('$1::VARCHAR')}", params=[s]
        ).fetchone()[0]
        assert duck == spark_out[nm], (nm, repr(duck), repr(spark_out[nm]))
        # the divergence this guards against is REAL: bare trim differs
        bare = duckdb.sql("SELECT trim($1::VARCHAR)", params=[s]).fetchone()[0]
        if nm in ("nbsp", "emsp"):
            assert bare != duck, nm
    # only the space probe actually trims
    assert spark_out["space"] == "x"
    assert all(v != "x" for k, v in spark_out.items() if k != "space")
