"""Adversarial pass on the round-11 surfaces (VERDICT r11 next-round
ask #1): the SOURCE.json parquet-tail data fingerprint, the
dot_expr_fixed NULL-element semantics, and the count-form oracle's
pigeonhole equivalence pinned DIRECTLY on the distinct-signature
relation (not transitively through the pair listing)."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.queries import _oracle_expr as oe

SF = "/root/testdata/sf0.001"


# --- (a) SOURCE.json data fingerprint -----------------------------------


def _write(tmp, name, vals, rg=200):
    p = os.path.join(tmp, name)
    pq.write_table(
        pa.table({"k": pa.array(range(len(vals)), pa.int64()),
                  "v": pa.array(vals, pa.int64())}),
        p, row_group_size=rg,
    )
    return p


def test_fingerprint_small_file_reads_whole_file(tmp_path):
    """Files smaller than the 1 MiB tail window: seek clamps to 0 and
    the md5 covers the WHOLE file, so any one-byte change is caught."""
    d = str(tmp_path)
    _write(d, "t.parquet", [1, 2, 3])
    fp1 = oe.data_fingerprint(d)
    assert os.path.getsize(os.path.join(d, "t.parquet")) < (1 << 20)
    os.remove(os.path.join(d, "t.parquet"))
    _write(d, "t.parquet", [1, 2, 4])
    fp2 = oe.data_fingerprint(d)
    assert fp1["tables"]["t.parquet"] != fp2["tables"]["t.parquet"]


def test_fingerprint_detects_early_row_change_in_multi_rowgroup_file(tmp_path):
    """A change confined to the FIRST row group of a multi-row-group
    file still perturbs the tail: page byte-sizes shift, so every
    later column-chunk offset in the footer moves. Probed two ways in
    r12 (dictionary-order change and an in-dictionary swap deep in
    rg0) — both changed size and tail md5. The residual blind spot is
    a mutation that preserves EVERY compressed page size exactly,
    which no real regeneration of this data produces (regeneration
    rewrites the whole file; see test below for the byte-identical
    case)."""
    d = str(tmp_path)
    n = 5000
    vals = [i % 97 for i in range(n)]
    _write(d, "t.parquet", vals, rg=500)
    fp1 = oe.data_fingerprint(d)
    os.remove(os.path.join(d, "t.parquet"))
    v2 = list(vals)
    v2[100], v2[150] = v2[150], v2[100]  # inside row group 0 only
    _write(d, "t.parquet", v2, rg=500)
    fp2 = oe.data_fingerprint(d)
    assert fp1["tables"]["t.parquet"] != fp2["tables"]["t.parquet"]


def test_fingerprint_byte_identical_regeneration_is_not_stale(tmp_path):
    """Deterministic regeneration (same writer, same data) produces a
    byte-identical file — same fingerprint, correctly NOT flagged: the
    cache built from it is by definition still valid."""
    d = str(tmp_path)
    vals = [i % 97 for i in range(5000)]
    _write(d, "t.parquet", vals, rg=500)
    fp1 = oe.data_fingerprint(d)
    os.remove(os.path.join(d, "t.parquet"))
    _write(d, "t.parquet", vals, rg=500)
    assert oe.data_fingerprint(d) == fp1


def test_fingerprint_tail_window_is_length_bounded(tmp_path):
    """The tail read never raises on tiny files and hashes at most
    1 MiB of a large one (stat + one bounded read — the cheapness
    claim in the docstring)."""
    d = str(tmp_path)
    p = _write(d, "t.parquet", [7])
    fp = oe.data_fingerprint(d)
    size = os.path.getsize(p)
    with open(p, "rb") as f:
        whole = hashlib.md5(f.read()).hexdigest()
    assert fp["tables"]["t.parquet"] == {"size": size, "tail_md5": whole}


# --- (b) dot_expr_fixed NULL-element semantics --------------------------


@pytest.mark.slow
def test_dot_unrolled_and_fold_agree_on_null_element(spark):
    """The adversarial row VERDICT r11 asked for: size == dim but one
    element NULL. The per-row guard checks SIZES only, so this row
    takes the UNROLLED branch — which must still agree with the fold.
    It does, by SQL NULL propagation: any NULL term nulls the unrolled
    sum, and the fold's zip_with product is NULL for that slot, so
    acc + NULL nulls the fold too. Pinned here for dim=4 alongside
    ragged and clean rows, and cross-checked against DuckDB's
    list_reduce form (the oracle's _dot) below."""
    from clearcare_data_pipeline_spark.operators.similarity import (
        dot_expr,
        dot_expr_fixed,
    )

    rows = [
        ([1.0, 2.0, None, 4.0], [1.0, 1.0, 1.0, 1.0], "null_elem"),
        ([1.0, 2.0, 3.0, 4.0], [2.0, 2.0, 2.0, 2.0], "clean"),
        ([1.0, 2.0], [1.0, 1.0, 1.0, 1.0], "ragged"),
        ([None, None, None, None], [1.0, 1.0, 1.0, 1.0], "all_null"),
    ]
    df = spark.createDataFrame(
        [(a, b, tag) for a, b, tag in rows],
        "a: array<double>, b: array<double>, tag: string",
    )
    out = df.select(
        "tag",
        dot_expr(F.col("a"), F.col("b")).alias("fold"),
        dot_expr_fixed(F.col("a"), F.col("b"), 4).alias("unrolled"),
    ).collect()
    got = {r["tag"]: (r["fold"], r["unrolled"]) for r in out}
    assert got["null_elem"] == (None, None)
    assert got["all_null"] == (None, None)
    assert got["clean"] == (20.0, 20.0)
    # ragged: both branches route to the fold; zip_with NULL-pads the
    # short side so the sum is NULL on both
    assert got["ragged"] == (None, None)


def test_dot_null_element_matches_duckdb_oracle_form():
    """The SQL oracles compute dots with list_reduce over per-index
    products (queries/similarity.py _dot). Engine parity on the
    NULL-element row: DuckDB also yields NULL, so a corpus with a NULL
    element inside a right-sized embedding cannot split the engines —
    the pair's cosine is NULL in both and NULL >= threshold drops it
    in both."""
    import duckdb

    sql = (
        "SELECT list_reduce(list_transform(range(1, len(a) + 1), "
        "i -> a[i] * b[i]), (x, y) -> x + y) AS d "
        "FROM (SELECT [1.0, 2.0, NULL, 4.0]::DOUBLE[] AS a, "
        "[1.0, 1.0, 1.0, 1.0]::DOUBLE[] AS b)"
    )
    assert duckdb.sql(sql).fetchone()[0] is None


# --- (c) pigeonhole block-join == all-pairs, pinned directly ------------


@pytest.mark.slow
def test_pigeonhole_block_join_equals_all_pairs_on_distinct_sigs(spark):
    """The count-form oracle's argument (queries/textops.py): any pair
    at hamming <= 3 < 4 blocks agrees exactly on >= 1 of the 4 16-bit
    blocks, so the block-bucketed candidate join loses nothing.
    Previously pinned only transitively (listing == counts, listing ==
    brute oracle); here the equivalence is pinned DIRECTLY on the
    DISTINCT-signature relation the count form actually joins:
    brute-force all-pairs hamming over distinct signatures vs the
    pigeonhole simhash_near_dup_pairs over the same relation."""
    from clearcare_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )
    from clearcare_data_pipeline_spark.queries.textops import corpus_near_dups

    sigs = simhash_signatures(corpus_near_dups(spark, SF))
    distinct = sigs.select("simhash").distinct()
    rel = distinct.select(F.col("simhash").alias("doc_id"), "simhash")
    block = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_dup_pairs(rel, max_hamming=3).collect()
    }
    a = distinct.select(F.col("simhash").alias("a"))
    b = distinct.select(F.col("simhash").alias("b"))
    brute = {
        (r["a"], r["b"], r["hamming"])
        for r in a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn(
            "hamming", F.bit_count(F.col("a").bitwiseXOR(F.col("b")))
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert block == brute
    assert len(brute) > 0, "vacuous corpus: no near-dup signature pairs"
