"""cosine_topk broadcast guardrail (VERDICT r5 #7)."""

import pytest

from clearcare_data_pipeline_spark.operators import similarity


def _vecs(spark, n, prefix=0):
    rows = [(prefix + i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_routes_to_ivf_above_cap(spark, monkeypatch):
    called = {}
    real = similarity.ivf_topk_nprobe

    def spy(vectors, queries, **kw):
        called["hit"] = True
        return real(vectors, queries, **kw)

    monkeypatch.setattr(similarity, "ivf_topk_nprobe", spy)
    monkeypatch.setattr(similarity, "BRUTE_FORCE_QUERY_CAP", 3)
    out = similarity.cosine_topk(_vecs(spark, 20), _vecs(spark, 5, prefix=100), k=2)
    with pytest.warns(UserWarning, match="exceeds 3 rows; routing to ivf_topk_nprobe"):
        similarity.cosine_topk(_vecs(spark, 20), _vecs(spark, 5, prefix=100), k=2)
    assert called.get("hit")
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rn"]


def test_cosine_topk_stays_exact_under_cap(spark, monkeypatch):
    def boom(*a, **kw):
        raise AssertionError("brute-force path must not route below the cap")

    monkeypatch.setattr(similarity, "ivf_topk_nprobe", boom)
    out = similarity.cosine_topk(_vecs(spark, 20), _vecs(spark, 5, prefix=100), k=2)
    assert out.groupBy("query_id").count().count() == 5


def test_plane_family_distinct_beyond_cycle():
    """The base plane formula cycles with period 19 in j; the extended
    family must not duplicate planes (a duplicated plane adds a
    signature bit that can never split a bucket), while leaving every
    j < 19 plane bit-identical to the original formula."""
    planes = [tuple(similarity._plane(j)) for j in range(32)]
    assert len(set(planes)) == 32
    for j in range(19):
        base = tuple(float(((i * 37 + j * 101) % 19) - 9) for i in range(64))
        assert planes[j] == base


def test_refined_buckets_partition_and_leaf_cap(spark):
    """Adaptive refinement: buckets partition the corpus, identical
    vectors always share a leaf, and every leaf below the ladder's
    maximum depth respects LSH_LEAF_CAP."""
    import collections

    rows = [(i, [1.0, 2.0, 3.0]) for i in range(10)] + [
        (100 + i, [float(i % 7) - 3.0, float((i * 5) % 11), 1.0]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = similarity.refined_lsh_buckets(df).select("vec_id", "bucket").collect()
    assert len(got) == 50 and len({r.vec_id for r in got}) == 50
    by_bucket = collections.defaultdict(list)
    for r in got:
        by_bucket[r.bucket].append(r.vec_id)
    # the 10 identical vectors share one leaf
    clones = {r.bucket for r in got if r.vec_id < 10}
    assert len(clones) == 1
    levels = len(similarity.LSH_REFINE_LADDER)
    for b, members in by_bucket.items():
        if b % levels < levels - 1:
            assert len(members) <= similarity.LSH_LEAF_CAP


def test_near_dup_pairs_finds_planted_copies(spark):
    rows = [(i, [float(i % 7) + 1.0, float((i * 3) % 5), 1.0]) for i in range(35)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    copies = df.withColumn("vec_id", df.vec_id + 1000)
    out = similarity.lsh_near_dup_pairs(df.unionByName(copies), min_cosine=0.999999)
    pairs = {(r.a, r.b) for r in out.collect()}
    for i in range(35):
        assert (i, i + 1000) in pairs


def test_near_dup_crossover_ladder_branch_still_finds_copies(spark, monkeypatch):
    """Forcing the ladder branch (LSH_FLAT_MAX_N=0) on a small corpus
    must still surface every planted identical pair — identical
    vectors share the full signature, hence one leaf, at any depth.
    The ladder releases its signature and histogram caches: at most
    the eager checkpoint of the bucketed corpus may remain."""
    rows = [(i, [float(i % 9) - 4.0, float((i * 7) % 13), 2.0]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    copies = df.withColumn("vec_id", df.vec_id + 5000)
    monkeypatch.setattr(similarity, "LSH_FLAT_MAX_N", 0)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = similarity.lsh_near_dup_pairs(
        df.unionByName(copies), min_cosine=0.999999)
    pairs = {(r.a, r.b) for r in out.collect()}
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 1
    for i in range(60):
        assert (i, i + 5000) in pairs


def test_expr_and_pandas_signatures_agree_off_dimension(spark):
    """ADVICE r7 #1/#4: for vectors whose length differs from PLANE_DIM
    the expression path used to NULL out every dot (zip_with padding)
    and collapse all vectors into bucket 0; the pandas path used to
    np.stack-crash on ragged batches. Both must now produce the same
    plane-PREFIX signature for short, exact, long, and mixed lengths."""
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, -2.0, 3.0]),                       # short
        (2, [float((i * 7) % 11) - 5.0 for i in range(64)]),   # exact
        (3, [float((i * 5) % 13) - 6.0 for i in range(80)]),   # long
        (4, [-1.0] * 10),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    d = similarity.with_norm(df, "embedding")
    expr8 = similarity.lsh_buckets(df, num_planes=8)
    pandas8 = d.select(
        "vec_id", similarity._lsh_signature_pandas(8)(F.col("dvec")).alias("b")
    )
    got_e = {r.vec_id: r.bucket for r in expr8.collect()}
    got_p = {r.vec_id: r.b for r in pandas8.collect()}
    assert got_e == got_p
    # not everything collapsed into bucket 0
    assert set(got_e.values()) != {0}


def test_pandas_signature_truncates_to_plane_dim(spark):
    """A >PLANE_DIM vector must hash identically to its 64-dim prefix
    (the pm[:, :64] semantics), in both uniform and ragged batches."""
    from pyspark.sql import functions as F

    long_vec = [float((i * 7) % 11) - 5.0 for i in range(100)]
    rows = [(1, long_vec), (2, long_vec[:64]), (3, [1.0, 2.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(1)
    d = similarity.with_norm(df, "embedding")
    out = {
        r.vec_id: r.b
        for r in d.select(
            "vec_id", similarity._lsh_signature_pandas(32)(F.col("dvec")).alias("b")
        ).collect()
    }
    assert out[1] == out[2]


def test_bucket_oracle_agrees_beyond_plane_dim(spark):
    """ADVICE r8 #2: for vectors LONGER than PLANE_DIM the DuckDB twin
    used to NULL every plane dot (plane[i] is NULL past 64) and bucket
    everything to 0 while Spark computed real prefix bits. The clamped
    _dot_prefix must agree with lsh_buckets for short, exact, and long
    vectors alike."""
    import duckdb

    from clearcare_data_pipeline_spark.operators.similarity import (
        PLANE_DIM,
        lsh_buckets,
    )
    from clearcare_data_pipeline_spark.queries.similarity import _bucket_sql

    vecs = [
        [float((i * 7) % 5 - 2) for i in range(3)],          # short
        [float((i * 11) % 9 - 4) for i in range(PLANE_DIM)],  # exact
        [float((i * 13) % 7 - 3) for i in range(PLANE_DIM + 8)],  # long
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"])
    got_spark = {r["vec_id"]: r["bucket"] for r in lsh_buckets(df).collect()}
    con = duckdb.connect()
    got_duck = {}
    for i, v in enumerate(vecs):
        lit = "[" + ", ".join(repr(x) for x in v) + "]"
        sql = f"SELECT {_bucket_sql('dv')} AS b FROM (SELECT {lit} AS dv)"
        got_duck[i] = con.execute(sql).fetchone()[0]
    assert got_spark == got_duck
    assert got_duck[2] != 0  # long vectors no longer collapse to bucket 0



@pytest.mark.slow
def test_banded_one_band_equals_flat_pairs(spark):
    """band 0 is exactly the flat LSH_FLAT_PLANES-plane family, so
    n_bands=1 must reproduce lsh_near_dup_pairs' flat-branch pair set
    (the corpus is below LSH_FLAT_MAX_N)."""
    from pyspark.sql import functions as F

    from clearcare_data_pipeline_spark.operators.similarity import (
        lsh_banded_pairs,
        lsh_near_dup_pairs,
    )
    from clearcare_data_pipeline_spark.sources.tables import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    copies = vecs.where(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 500000
    )
    corpus = vecs.unionByName(copies)
    flat = {(r.a, r.b, r.cos_sim) for r in lsh_near_dup_pairs(corpus).collect()}
    banded = {(r.a, r.b, r.cos_sim) for r in lsh_banded_pairs(corpus, n_bands=1).collect()}
    assert flat == banded and len(flat) > 0


@pytest.mark.slow
def test_lsh_recall_gate_reaches_target(spark):
    """VERDICT r8 #6 'done' criterion: a recall >= 0.9 configuration
    demonstrated on planted near-dups (noisy copies at cos ~ 0.996 —
    exact copies always collide and would measure nothing). The
    6-band OR construction must beat the single flat band."""
    from clearcare_data_pipeline_spark.queries.similarity import (
        _MIN_COS,
        _recall_corpus,
        q_emb_lsh_recall,
    )
    from clearcare_data_pipeline_spark.operators.similarity import lsh_banded_pairs

    row = q_emb_lsh_recall(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_true"] >= 10
    assert row["recall"] >= 0.9
    corpus = _recall_corpus(spark, "/root/testdata/sf0.01")
    one = lsh_banded_pairs(corpus, min_cosine=_MIN_COS, n_bands=1).count()
    assert row["n_found"] > 0 and one <= row["n_found"]


@pytest.mark.slow
def test_flat_broadcast_gated_on_bytes(spark, monkeypatch):
    """ADVICE r9 #3: the flat branch's self-join broadcast is gated on
    estimated bytes (rows x dim x 8), not row count — wide embeddings
    skip the broadcast but keep the identical pair set."""
    rows = [(i, [float(i % 7) + 1.0, float((i * 3) % 5), 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    copies = df.withColumn("vec_id", df.vec_id + 1000)
    corpus = df.unionByName(copies)
    with_bcast = {(r.a, r.b) for r in similarity.lsh_near_dup_pairs(
        corpus, min_cosine=0.999999).collect()}
    monkeypatch.setattr(similarity, "LSH_BROADCAST_BYTES_CAP", 0)
    without = {(r.a, r.b) for r in similarity.lsh_near_dup_pairs(
        corpus, min_cosine=0.999999).collect()}
    assert with_bcast == without
    for i in range(30):
        assert (i, i + 1000) in without


def test_banded_pairs_precomputed_normed_identical(spark):
    """r14: lsh_banded_pairs(normed=...) must emit exactly the rows of
    the self-computed with_norm path — the hook only relocates where
    the (dvec, norm) pass runs."""
    from clearcare_data_pipeline_spark.operators.similarity import (
        lsh_banded_pairs,
        with_norm,
    )
    from clearcare_data_pipeline_spark.sources.tables import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    base = {
        (r.a, r.b, r.cos_sim)
        for r in lsh_banded_pairs(corpus, min_cosine=0.9, n_bands=3).collect()
    }
    n = with_norm(corpus, "embedding").select("vec_id", "dvec", "norm").localCheckpoint()
    hooked = {
        (r.a, r.b, r.cos_sim)
        for r in lsh_banded_pairs(corpus, min_cosine=0.9, n_bands=3, normed=n).collect()
    }
    assert hooked == base


def test_nearest_cell_is_null_without_a_defined_distance(spark):
    """A NULL embedding, or one with a NULL element, has no defined
    distance to any centroid: nearest_expr and ivf_cells_expr give NULL
    for it (the oracles' list_position(dists, list_min(dists)) does),
    instead of ranking the NULL-distance struct first as cell 0."""
    from pyspark.sql import functions as F

    cmat = F.array(F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(5.0), F.lit(5.0)))
    df = spark.createDataFrame(
        [("null_vec", None), ("null_elem", [1.0, None]), ("clean", [4.0, 4.0])],
        "tag: string, dvec: array<double>",
    )
    out = df.select(
        "tag",
        similarity.nearest_expr(F.col("dvec"), cmat).alias("nearest"),
        similarity.ivf_cells_expr(F.col("dvec"), cmat, 1).alias("cells1"),
        similarity.ivf_cells_expr(F.col("dvec"), cmat, 2).alias("cells2"),
    ).collect()
    got = {r.tag: (r.nearest, r.cells1, r.cells2) for r in out}
    assert got["null_vec"] == (None, None, None)
    assert got["null_elem"] == (None, None, None)
    assert got["clean"] == (1, [1], [1, 0])


def test_nprobe_oracle_cells_match_spark(spark):
    """The emb_ivf_topk_nprobe2 oracle's cell order over a distance list
    gives what nearest_expr and ivf_cells_expr give: the nearest cell and
    the cells probed, ties toward the lower cell. A vector with no
    defined distance has a NULL cell and probes nothing (the oracle's
    list_sort used to keep index order there and probe cells [0, 1])."""
    import duckdb
    from pyspark.sql import functions as F

    from clearcare_data_pipeline_spark.queries.similarity import _order_cells_sql

    cmat = F.array(*[F.array(F.lit(x), F.lit(y)) for x, y in [(0.0, 0.0), (5.0, 5.0), (0.0, 0.0)]])
    df = spark.createDataFrame(
        [("null_vec", None), ("null_elem", [1.0, None]), ("clean", [4.0, 4.0]), ("tie", [1.0, 1.0])],
        "tag: string, dvec: array<double>",
    )
    rows = df.select(
        "tag",
        similarity._dists_expr(F.col("dvec"), cmat).alias("dists"),
        similarity.nearest_expr(F.col("dvec"), cmat).alias("cell"),
        similarity.ivf_cells_expr(F.col("dvec"), cmat, 2).alias("probes"),
    ).collect()
    order = _order_cells_sql("($1::DOUBLE[])")
    got = {}
    for r in rows:
        dists = r.dists if r.dists is not None else [None, None, None]
        cell, probes = duckdb.sql(f"SELECT ({order})[1], ({order})[1:2]", params=[dists]).fetchone()
        assert (cell, probes) == (r.cell, r.probes or []), r.tag
        got[r.tag] = (cell, probes)
    assert got == {
        "null_vec": (None, []),
        "null_elem": (None, []),
        "clean": (1, [1, 0]),
        "tie": (0, [0, 2]),
    }
