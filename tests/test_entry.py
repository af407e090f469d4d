"""Driver-contract smoke tests: entry(), queries()/oracle_sql() wiring."""

from __future__ import annotations

import pytest

import duckdb

import __spark_entry__ as entrymod
from clearcare_data_pipeline_spark.schema import CANONICAL_COLUMNS, TESTDATA_TABLES


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.columns == CANONICAL_COLUMNS
    assert df.count() > 0


def test_oracle_keys_subset_of_queries():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 25


@pytest.mark.slow
def test_oracles_parse_in_duckdb():
    """Every oracle must at least be valid DuckDB SQL against the views."""
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name, sql in entrymod.oracle_sql().items():
        con.execute(f"SELECT * FROM ({sql}) LIMIT 1")


def test_queries_run_and_match_oracle_sample(spark):
    """Spot-check a representative subset end-to-end at sf0.001."""
    import sys

    sys.path.insert(0, "tools")
    from verify_local import compare

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    for name in [
        "q1_pricing_summary", "charges_rule_counts", "charges_score", "dedup_order_lines",
        # the vector operators: every emb_* query whose operator shares
        # a kernel in operators/similarity.py or operators/clustering.py
        "emb_semantic_dedup", "emb_kmeans_clusters", "emb_cosine_topk", "emb_ivf_topk",
        "emb_ivf_topk_nprobe2", "emb_near_dup_pairs", "emb_label_separation",
        # the text-hash operators: every query whose operator shares a
        # kernel in operators/dedup.py, joins.py or sampling.py
        "doc_minhash_lsh", "doc_ngram_jaccard", "doc_incremental_minhash",
        "doc_near_dup_clusters", "doc_simhash_near_dups", "doc_exact_dedup",
        "doc_incremental_dedup", "doc_decontamination", "doc_train_eval_split",
        "doc_hashed_tf", "fuzzy_linkage_banded",
    ]:
        sdf = q[name](spark, sf).toPandas()
        ddf = con.execute(o[name]).df()
        assert compare(sdf, ddf) == [], name


def test_word_cooccurrence_nonempty(spark):
    """Regression for the vacuously-green round-2 query: the rank-based
    vocabulary band must emit real pairs even at the smallest sf."""
    from clearcare_data_pipeline_spark.queries.textops2 import QUERIES

    out = QUERIES["doc_word_cooccurrence"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["w1"] < r["w2"] and r["n"] >= 1 for r in rows)
