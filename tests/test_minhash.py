"""MinHash affine-permutation scheme (operators/dedup.py).

The r6 rewrite computes ONE md5 per shingle and derives the k
permutations as exact 64-bit affine maps of its two 28-bit hex chunks
(mod 2^61-1). These tests pin the properties the oracle-parity and the
recall of the LSH pipeline rest on.
"""

from __future__ import annotations

import pytest

import duckdb
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.operators import dedup
from clearcare_data_pipeline_spark.operators.dedup import (
    MINHASH_MOD,
    SHINGLE_N,
    doc_shingles,
    lsh_band_keys,
    lsh_candidate_pairs,
    md5_chunks,
    minhash_consts,
    minhash_perm,
    minhash_signatures,
)


def _bands(docs):
    """The document banding every doc_* query runs."""
    return lsh_band_keys(minhash_signatures(doc_shingles(docs, n=SHINGLE_N)))


def test_minhash_values_in_modulus_range_and_distinct_seeds(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(doc_shingles(df, n=SHINGLE_N)).collect()
    assert len(sigs) == 24  # 2 docs x 12 seeds
    assert all(0 <= r.minhash < MINHASH_MOD for r in sigs)
    # permutations must actually differ seed-to-seed for a given doc
    per_doc = {}
    for r in sigs:
        per_doc.setdefault(r.doc_id, set()).add(r.minhash)
    assert all(len(v) > 1 for v in per_doc.values())


def test_minhash_consts_deterministic_and_distinct():
    a = minhash_consts(12)
    assert a == minhash_consts(12)
    assert len(set(a)) == 12
    assert all(a1 % 2 == 1 and a2 % 2 == 1 for a1, a2, _ in a)


def test_lsh_finds_planted_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " tail"
    other = "completely different words with nothing shared at all here zz yy xx qq"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = lsh_candidate_pairs(_bands(df)).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_affine_permutation_matches_duckdb_replay(spark):
    """The Spark-side hex-chunk extraction (md5_chunks) + modular
    arithmetic (minhash_perm) must be bit-equal to the DuckDB oracle
    formulation for the same shingle."""
    shingle = "alpha beta gamma delta epsilon"
    a1, a2, c = minhash_consts(3)[2]
    b1, b2 = md5_chunks(F.md5(F.lit(shingle)))
    spark_val = spark.range(1).select(minhash_perm(b1, b2, a1, a2, c)).collect()[0][0]
    duck_val = duckdb.sql(
        f"SELECT ({a1} * CAST(('0x' || substr(md5('{shingle}'), 1, 7)) AS BIGINT)"
        f" + {a2} * CAST(('0x' || substr(md5('{shingle}'), 8, 7)) AS BIGINT)"
        f" + {c}) % {MINHASH_MOD}"
    ).fetchone()[0]
    assert spark_val == duck_val


def _mk_corpus(spark, n_docs=30, seed=5):
    """Corpus with planted near-dup chains across the id split."""
    import random

    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        toks = [f"w{rng.randrange(25)}" for _ in range(rng.randint(8, 30))]
        rows.append((d, " ".join(toks)))
    # plant near-dups that straddle any midpoint split: copies of early
    # docs with a perturbed tail, and a fresh pair inside the tail half
    rows.append((n_docs + 1, rows[0][1] + " zz yy"))
    rows.append((n_docs + 2, rows[1][1] + " qq"))
    rows.append((n_docs + 3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    rows.append((n_docs + 4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u11"))
    return spark.createDataFrame(rows, "doc_id: long, text: string")


@pytest.mark.slow
def test_incremental_minhash_composes_exactly(spark):
    """r13 contract pin: history-then-batch ≡ one full-corpus run.
    The history stores band keys of ALL ingested docs (not just
    survivors) — that is what makes the smaller-id-wins rule compose
    row-for-row."""
    from clearcare_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = _mk_corpus(spark)
    empty_hist = spark.createDataFrame([], "band: int, band_key: string")

    # one-shot run over everything
    full = {
        r["doc_id"]
        for r in incremental_minhash_dedup(docs, empty_hist, _bands(docs))
        .select("doc_id")
        .collect()
    }

    # two-stage run: ingest ids < 15 first, then the rest with the
    # FULL first batch's band keys as history
    first = docs.where(F.col("doc_id") < 15)
    second = docs.where(F.col("doc_id") >= 15)
    s1 = {
        r["doc_id"]
        for r in incremental_minhash_dedup(first, empty_hist, _bands(first))
        .select("doc_id")
        .collect()
    }
    hist = _bands(first).select("band", "band_key").distinct()
    s2 = {
        r["doc_id"]
        for r in incremental_minhash_dedup(second, hist, _bands(second))
        .select("doc_id")
        .collect()
    }
    assert s1 | s2 == full
    assert s1 & s2 == set()
    # sanity: the planted near-dups were actually dropped somewhere
    dropped = {r["doc_id"] for r in docs.select("doc_id").collect()} - full
    assert {31, 32, 34} <= dropped or {31, 32}.issubset(dropped)


@pytest.mark.slow
def test_incremental_minhash_precomputed_bands_identical(spark):
    """The band frame in the shape q_doc_incremental_minhash passes it
    (repartitioned on (band, band_key), then localCheckpointed, and
    shared with the history side) is row-identical to a lazy banding
    subtree."""
    from clearcare_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = _mk_corpus(spark)
    hist = _bands(docs.where(F.col("doc_id") < 10)).select("band", "band_key").distinct()
    lazy = {
        r["doc_id"]
        for r in incremental_minhash_dedup(docs, hist, _bands(docs))
        .select("doc_id")
        .collect()
    }
    pre = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            docs, hist, _bands(docs).repartition("band", "band_key").localCheckpoint()
        )
        .select("doc_id")
        .collect()
    }
    assert pre == lazy and lazy


def test_incremental_minhash_short_and_empty_docs(spark):
    """Short docs emit ONE whole-text shingle (shingles_expr), so
    identical short docs are caught — smaller id wins; a unique short
    doc and an empty doc (no shingles at all) survive."""
    from clearcare_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "a b c d e f g h"), (4, "")],
        "doc_id: long, text: string",
    )
    hist = spark.createDataFrame([], "band: int, band_key: string")
    out = {r["doc_id"] for r in incremental_minhash_dedup(docs, hist, _bands(docs)).collect()}
    assert out == {1, 3, 4}


def test_jaccard_pairs_precomputed_hash_identical(spark, monkeypatch):
    """jaccard_pairs joins on the xxhash64 key doc_shingles precomputes
    (here inside a localCheckpoint, as q_doc_ngram_jaccard does); its
    output must equal the exact Jaccard of the STRING shingle sets of
    every candidate pair. The banding shape is forced small (6 hashes,
    2 rows per band) by patching the module constants."""
    from clearcare_data_pipeline_spark.operators.dedup import jaccard_pairs
    from clearcare_data_pipeline_spark.sources.tables import load_table

    monkeypatch.setattr(dedup, "NUM_HASHES", 6)
    monkeypatch.setattr(dedup, "ROWS_PER_BAND", 2)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = doc_shingles(docs, n=3).localCheckpoint()
    cands = lsh_candidate_pairs(lsh_band_keys(minhash_signatures(sh)))
    got = {(r.a, r.b): r.jaccard for r in jaccard_pairs(sh, cands, min_jaccard=0.5).collect()}
    sets = {}
    for r in sh.select("doc_id", "shingle").collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    want = {}
    for r in cands.collect():
        a, b = sets[r.a], sets[r.b]
        j = len(a & b) / len(a | b)
        if j >= 0.5:
            want[(r.a, r.b)] = j
    assert want and got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 5e-7 for k in want)
