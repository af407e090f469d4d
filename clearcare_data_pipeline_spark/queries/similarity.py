"""Embedding similarity queries with DuckDB oracles.

The oracle reproduces the exact sequential-fold dot product (DuckDB
``list_reduce`` over an index-ordered product list == Spark
``aggregate`` over ``zip_with``), so cosine scores are bit-identical
before the final round(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.operators.similarity import (
    NUM_PLANES,
    PLANE_DIM,
    _plane,
    cosine_topk,
    lsh_buckets,
    lsh_near_dup_pairs,
    sq_dist_expr,
    with_norm,
)
from clearcare_data_pipeline_spark.sources.tables import load_table

_TOPK = 5
_QUERY_MOD = 97
# Fixed evaluation workload (sf10 lesson): the query side is a FIXED
# sample — vec_id % 97 == 0 AND vec_id < 20000 (every id at sf <= 1,
# ~206 queries at any larger sf) — while the candidate corpus scales
# with the dataset. Without the bound the query count grows with n and
# every brute-force/recall evaluation is O(n_q x n) = quadratic in sf
# (measured: 56-102x wall time for 10x data at sf10). A recall@k or
# latency benchmark over a fixed query set is also what ANN evaluations
# actually run; per-query cost is what is being measured.
_QUERY_ID_BOUND = 20000
_NEAR_DUP_MOD = 50
_MIN_COS = 0.99


def _dot(a: str, b: str) -> str:
    return f"list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"


def _dot_prefix(a: str, b: str, maxlen: int) -> str:
    """Dot over at most the first ``maxlen`` dims of ``a`` (ADVICE r8
    #2): dotting a vector LONGER than a ``maxlen``-long plane literal
    with the plain ``_dot`` ranges over len(a), so ``b[i]`` for
    i > maxlen is NULL, the whole sum collapses to NULL, and every
    sign test falls to the ELSE branch — DuckDB would bucket long
    vectors to 0 while the Spark side (which slices both operands to
    min(len, PLANE_DIM)) computes real prefix bits. The clamp restores
    the prefix-dot semantics all three evaluators share for any
    dimension."""
    return (
        f"list_reduce(list_transform(range(1, least(len({a}), {maxlen}) + 1), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


_DV = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --- brute-force cosine top-k ------------------------------------------


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _emb(spark, sf_dir)
    queries = vecs.where((F.col("vec_id") % _QUERY_MOD == 0) & (F.col("vec_id") < _QUERY_ID_BOUND))
    return cosine_topk(vecs, queries, k=_TOPK)


_TOPK_ORACLE = f"""
WITH n AS (
  SELECT vec_id, dv, sqrt({_dot('dv', 'dv')}) AS nrm
  FROM (SELECT vec_id, {_DV} AS dv FROM embeddings)
),
q AS (SELECT * FROM n WHERE vec_id % {_QUERY_MOD} = 0 AND vec_id < {_QUERY_ID_BOUND}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({_dot('c.dv', 'q.dv')} / (c.nrm * q.nrm), 6) AS cos_sim
  FROM n c, q WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rn FROM ranked WHERE rn <= {_TOPK}
"""


# --- hyperplane LSH buckets --------------------------------------------


def q_emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_buckets(_emb(spark, sf_dir)).select("vec_id", "bucket")


def _bucket_sql(dv: str = "dv", n_planes: int = NUM_PLANES, plane_offset: int = 0) -> str:
    """``n_planes``-wide hyperplane-signature bucket as SQL (bit j set
    iff dot(v, plane_{offset+j}) >= 0, same plane family as the Spark
    side; a nonzero ``plane_offset`` selects a band's family for the
    OR construction). The dot is clamped to the PLANE_DIM prefix so
    >64-dim vectors hash like the Spark/pandas paths instead of
    NULLing to bucket 0 (see ``_dot_prefix``)."""
    terms = []
    for j in range(n_planes):
        plane = "[" + ", ".join(str(int(w)) for w in _plane(plane_offset + j)) + "]"
        terms.append(
            f"CASE WHEN {_dot_prefix(dv, plane, PLANE_DIM)} >= 0 "
            f"THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(terms)


_BUCKETS_ORACLE = f"""
SELECT vec_id, {_bucket_sql('dv')} AS bucket
FROM (SELECT vec_id, {_DV} AS dv FROM embeddings)
"""


# --- LSH-bucketed near-duplicate pairs ---------------------------------


def q_emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-copy corpus -> bucketed near-dup detection."""
    vecs = _emb(spark, sf_dir)
    copies = vecs.where(F.col("vec_id") % _NEAR_DUP_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return lsh_near_dup_pairs(vecs.unionByName(copies), min_cosine=_MIN_COS)


def _near_dup_oracle() -> str:
    """Twin of the count-keyed near-dup bucketing (r8): derives the
    corpus count and gates the two branch mappings to exclusivity —
    below LSH_FLAT_MAX_N the bucket is the deep signature mod
    2**LSH_FLAT_PLANES (prefixes nest, so this partitions identically
    to Spark's single fixed LSH_FLAT_PLANES-plane (15) pass — one
    below LSH_ARROW_MIN_PLANES, deliberately, so the flat branch stays
    on the codegen expression path); above it the adaptive
    prefix refinement replays exactly as before: widths per ladder
    prefix from the signature histogram, each signature mapped to its
    shortest at-most-LSH_LEAF_CAP prefix bucket (level-tagged ids).
    Only the final (a, b, cos_sim) pair set is compared, so the
    branches' different bucket-id domains are irrelevant."""
    from clearcare_data_pipeline_spark.operators.similarity import (
        LSH_FLAT_MAX_N,
        LSH_FLAT_PLANES,
        LSH_LEAF_CAP,
        LSH_REFINE_LADDER,
    )

    levels = len(LSH_REFINE_LADDER)
    full = LSH_REFINE_LADDER[-1]
    widths = ",\n".join(
        f"w{i} AS MATERIALIZED (SELECT sig % {2**p} AS p, sum(cnt) AS w "
        f"FROM sc GROUP BY 1)"
        for i, p in enumerate(LSH_REFINE_LADDER)
    )
    wjoins = " ".join(
        f"JOIN w{i} ON sc.sig % {2**p} = w{i}.p"
        for i, p in enumerate(LSH_REFINE_LADDER)
    )
    cases = " ".join(
        f"WHEN w{i}.w <= {LSH_LEAF_CAP} THEN (sc.sig % {2**p}) * {levels} + {i}"
        for i, p in enumerate(LSH_REFINE_LADDER[:-1])
    )
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT * FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % {_NEAR_DUP_MOD} = 0
),
n AS MATERIALIZED (
  SELECT vec_id, dv, sqrt({_dot('dv', 'dv')}) AS nrm,
         {_bucket_sql('dv', full)} AS sig
  FROM (SELECT vec_id, {_DV} AS dv FROM corpus)
),
sc AS MATERIALIZED (SELECT sig, count(*) AS cnt FROM n GROUP BY sig),
corpus_n AS (SELECT count(*) AS cn FROM corpus),
{widths},
mp AS MATERIALIZED (
  SELECT sc.sig, sc.sig % {2**LSH_FLAT_PLANES} AS bucket
  FROM sc WHERE (SELECT cn FROM corpus_n) <= {LSH_FLAT_MAX_N}
  UNION ALL
  SELECT sc.sig, CASE {cases} ELSE sc.sig * {levels} + {levels - 1} END AS bucket
  FROM sc {wjoins} WHERE (SELECT cn FROM corpus_n) > {LSH_FLAT_MAX_N}
),
nb AS MATERIALIZED (
  SELECT n.vec_id, n.dv, n.nrm, mp.bucket FROM n JOIN mp USING (sig)
)
SELECT l.vec_id AS a, r.vec_id AS b,
  round({_dot('l.dv', 'r.dv')} / (l.nrm * r.nrm), 6) AS cos_sim
FROM nb l JOIN nb r USING (bucket)
WHERE l.vec_id < r.vec_id
  AND round({_dot('l.dv', 'r.dv')} / (l.nrm * r.nrm), 6) >= {_MIN_COS}
"""


_NEAR_DUP_ORACLE = _near_dup_oracle()


# --- per-label aggregates ----------------------------------------------


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_norm(_emb(spark, sf_dir))
    return (
        d.select("label", F.posexplode("dvec").alias("pos", "v"))
        .withColumn("pos", F.col("pos").cast("long"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"), F.count(F.lit(1)).alias("n"))
    )


_CENTROIDS_ORACLE = f"""
SELECT label, pos, round(avg(dv[pos + 1]), 6) AS centroid_v, count(*) AS n
FROM (SELECT label, {_DV} AS dv FROM embeddings),
     (SELECT unnest(range(0, 64)) AS pos)
GROUP BY label, pos
"""


def q_emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_norm(_emb(spark, sf_dir))
    return d.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


_NORM_STATS_ORACLE = f"""
SELECT label, count(*) AS n,
  round(min(nrm), 6) AS min_norm,
  round(max(nrm), 6) AS max_norm
FROM (SELECT label, sqrt({_dot('dv', 'dv')}) AS nrm
      FROM (SELECT label, {_DV} AS dv FROM embeddings))
GROUP BY label
"""


QUERIES = {
    "emb_cosine_topk": q_emb_cosine_topk,
    "emb_lsh_buckets": q_emb_lsh_buckets,
    "emb_near_dup_pairs": q_emb_near_dup_pairs,
    "emb_label_centroids": q_emb_label_centroids,
    "emb_norm_stats": q_emb_norm_stats,
}

ORACLES = {
    "emb_cosine_topk": _TOPK_ORACLE,
    "emb_lsh_buckets": _BUCKETS_ORACLE,
    "emb_near_dup_pairs": _NEAR_DUP_ORACLE,
    "emb_label_centroids": _CENTROIDS_ORACLE,
    "emb_norm_stats": _NORM_STATS_ORACLE,
}


# --- IVF-cell ANN top-k -------------------------------------------------

from clearcare_data_pipeline_spark.operators.similarity import NUM_CENTROIDS, _centroid, ivf_topk


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _emb(spark, sf_dir)
    queries = vecs.where((F.col("vec_id") % _QUERY_MOD == 0) & (F.col("vec_id") < _QUERY_ID_BOUND))
    return ivf_topk(vecs, queries, k=_TOPK)


def _centroid_dist_sql(dv: str, c: int) -> str:
    lit = "[" + ", ".join(repr(w) for w in _centroid(c)) + "]"
    return (
        f"list_reduce(list_transform(range(1, len({dv}) + 1), "
        f"i -> ({dv}[i] - {lit}[i]) * ({dv}[i] - {lit}[i])), (x, y) -> x + y)"
    )


def _cell_sql(dv: str) -> str:
    dists = "[" + ", ".join(_centroid_dist_sql(dv, c) for c in range(NUM_CENTROIDS)) + "]"
    return f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT)"


_IVF_ORACLE = f"""
WITH n AS (
  SELECT vec_id, dv, sqrt({_dot('dv', 'dv')}) AS nrm, {_cell_sql('dv')} AS cell
  FROM (SELECT vec_id, {_DV} AS dv FROM embeddings)
),
q AS (SELECT * FROM n WHERE vec_id % {_QUERY_MOD} = 0 AND vec_id < {_QUERY_ID_BOUND}),
scored AS (
  SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id,
    round({_dot('c.dv', 'q.dv')} / (c.nrm * q.nrm), 6) AS cos_sim
  FROM n c JOIN q USING (cell) WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, cell, neighbor_id, cos_sim, rn FROM ranked WHERE rn <= {_TOPK}
"""

QUERIES["emb_ivf_topk"] = q_emb_ivf_topk
ORACLES["emb_ivf_topk"] = _IVF_ORACLE


# --- IVF with nprobe=2 (the recall lever) --------------------------------

from clearcare_data_pipeline_spark.operators.similarity import ivf_topk_nprobe  # noqa: E402

_NPROBE = 2


def q_emb_ivf_topk_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _emb(spark, sf_dir)
    queries = vecs.where((F.col("vec_id") % _QUERY_MOD == 0) & (F.col("vec_id") < _QUERY_ID_BOUND))
    return ivf_topk_nprobe(vecs, queries, k=_TOPK, nprobe=_NPROBE)


def _dists_list_sql(dv: str) -> str:
    return "[" + ", ".join(_centroid_dist_sql(dv, c) for c in range(NUM_CENTROIDS)) + "]"


def _order_cells_sql(dists: str) -> str:
    """The cells of a distance list, nearest first, ties toward the lower
    cell: ``ivf_cells_expr``'s order. A NULL distance is dropped, as
    ``list_min`` skips it, so a vector with no defined distance has no
    cells: a NULL cell (``[1]`` of an empty list) and no probes."""
    return (
        f"list_transform(list_sort(list_filter("
        f"list_transform(range(0, len({dists})), i -> {{'d': {dists}[i + 1], 'i': i}}), "
        f"s -> s.d IS NOT NULL)), s -> s.i)"
    )


_IVF_NPROBE_ORACLE = f"""
WITH base AS (
  SELECT vec_id, dv, sqrt({_dot('dv', 'dv')}) AS nrm, {_dists_list_sql('dv')} AS dists
  FROM (SELECT vec_id, {_DV} AS dv FROM embeddings)
),
cellified AS (
  SELECT vec_id, dv, nrm, {_order_cells_sql('dists')} AS order_cells
  FROM base
),
cand AS (
  SELECT vec_id, dv, nrm, CAST(order_cells[1] AS INT) AS cell FROM cellified
),
q AS (
  SELECT vec_id, dv, nrm, CAST(unnest(order_cells[1:{_NPROBE}]) AS INT) AS cell
  FROM cellified WHERE vec_id % {_QUERY_MOD} = 0 AND vec_id < {_QUERY_ID_BOUND}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({_dot('c.dv', 'q.dv')} / (c.nrm * q.nrm), 6) AS cos_sim
  FROM cand c JOIN q USING (cell) WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rn FROM ranked WHERE rn <= {_TOPK}
"""

QUERIES["emb_ivf_topk_nprobe2"] = q_emb_ivf_topk_nprobe2
ORACLES["emb_ivf_topk_nprobe2"] = _IVF_NPROBE_ORACLE


# --- int8 quantization error stats ---------------------------------------

from clearcare_data_pipeline_spark.operators.similarity import (  # noqa: E402
    quantization_error_stats,
)


def q_emb_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantization_error_stats(_emb(spark, sf_dir))


_QUANT_ORACLE = f"""
WITH base AS (
  SELECT label, dv,
    CASE WHEN list_max(list_transform(dv, x -> abs(x))) / 127.0 > 0
         THEN list_max(list_transform(dv, x -> abs(x))) / 127.0 ELSE 1.0 END AS qscale
  FROM (SELECT label, {_DV} AS dv FROM embeddings)
),
per_vec AS (
  SELECT label, qscale,
    list_max(list_transform(range(1, len(dv) + 1),
      i -> abs(floor(dv[i] / qscale + 0.5) * qscale - dv[i]))) AS max_abs_err
  FROM base
)
SELECT label, count(*) AS n,
  round(max(max_abs_err), 6) AS max_abs_err,
  round(min(qscale), 6) AS min_scale,
  round(max(qscale), 6) AS max_scale
FROM per_vec GROUP BY label
"""

QUERIES["emb_quantization_stats"] = q_emb_quantization_stats
ORACLES["emb_quantization_stats"] = _QUANT_ORACLE


# --- k-means clustering (operators/clustering.py) ----------------------

_KMEANS_K = 4
_KMEANS_ITERS = 3


def q_emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means assignments (k=4, 3 iterations,
    first-k init) — full per-vector cluster labels, verified against a
    DuckDB twin that replays the identical iterations as chained CTEs."""
    from clearcare_data_pipeline_spark.operators.clustering import kmeans_fit

    _cents, assigned = kmeans_fit(
        _emb(spark, sf_dir), k=_KMEANS_K, iters=_KMEANS_ITERS
    )
    return assigned


def _kmeans_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.clustering import kmeans_oracle_sql

    return kmeans_oracle_sql("embeddings", "embedding", "vec_id", _KMEANS_K, _KMEANS_ITERS)


QUERIES["emb_kmeans_clusters"] = q_emb_kmeans_clusters
ORACLES["emb_kmeans_clusters"] = _kmeans_oracle()


# --- SemDeDup: cluster-partitioned semantic deduplication ---------------

_SEMDEDUP_THRESHOLD = 0.99
_SEMDEDUP_ITERS = 2


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a planted-copy corpus: k-means partitions the
    space, then within each cluster any vector with cosine >= 0.99 to
    a lower-id vector is flagged as a semantic duplicate (the lower id
    is the kept representative). The planted exact copies (cos = 1.0,
    same cluster by determinism) are what the flag must catch.

    The partitioning is count-keyed (VERDICT r7 #3): flat auto-k
    Lloyd's up to SEMDEDUP_FLAT_MAX_N vectors (no multi-level driver
    round-trips — the ~8 s fixed hierarchy overhead dominated small
    corpora), hierarchical_assign beyond (recursive 32-way splitting,
    every assignment pass scoring at most 32 centroids per point —
    O(n log n), where the flat O(n x k) = O(n^2/32) assignment was 75x
    wall time for 10x data at sf10). The oracle derives the same count
    from the same corpus and replays whichever branch it selects, so
    the crossover can never desynchronize the engines."""
    from clearcare_data_pipeline_spark.operators.clustering import semantic_dedup

    vecs = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = vecs.where(F.col("vec_id") % _NEAR_DUP_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return semantic_dedup(
        vecs.unionByName(copies),
        iters=_SEMDEDUP_ITERS,
        threshold=_SEMDEDUP_THRESHOLD,
    )


def _semdedup_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.clustering import (
        semantic_partition_oracle_sql,
    )

    kmeans = semantic_partition_oracle_sql(
        "corpus", "embedding", "vec_id", iters=_SEMDEDUP_ITERS
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % {_NEAR_DUP_MOD} = 0
),
assign AS (SELECT vec_id, cluster FROM ({kmeans})),
n AS (
  SELECT vec_id, dv, sqrt({_dot('dv', 'dv')}) AS nrm
  FROM (SELECT vec_id, {_DV} AS dv FROM corpus)
),
d AS (SELECT n.vec_id, n.dv, n.nrm, a.cluster FROM n JOIN assign a USING (vec_id)),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM d a JOIN d b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round({_dot('a.dv', 'b.dv')} / (a.nrm * b.nrm), 6) >= {_SEMDEDUP_THRESHOLD}
)
SELECT d.vec_id, d.cluster, (dp.vec_id IS NOT NULL) AS is_dup
FROM d LEFT JOIN dups dp ON d.vec_id = dp.vec_id
"""


QUERIES["emb_semantic_dedup"] = q_emb_semantic_dedup
ORACLES["emb_semantic_dedup"] = _semdedup_oracle()


# --- ANN quality evaluation: recall@k of IVF vs brute force --------------


def q_emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF (nprobe=1) index against brute-force ground
    truth — the evaluation loop every ANN deployment runs before
    trading accuracy for speed. Composes the two existing operators
    and joins their result sets per query; the oracle composes the
    same two oracle queries as subqueries, so the measurement itself
    is verified end-to-end."""
    from clearcare_data_pipeline_spark.operators.similarity import ivf_topk

    vecs = _emb(spark, sf_dir)
    queries = vecs.where((F.col("vec_id") % _QUERY_MOD == 0) & (F.col("vec_id") < _QUERY_ID_BOUND))
    # The brute-force ground truth feeds TWO consumers (the hits join
    # and the qids distinct); repartitioning its tiny top-k output by
    # query_id makes both consumer subtrees canonicalize to one
    # Exchange, so the O(queries x corpus) scorer + its window run
    # once at runtime instead of once per consumer (r13; the exchange
    # moves k rows per query, nothing corpus-sized).
    exact = (
        cosine_topk(vecs, queries, k=_TOPK)
        .select("query_id", "neighbor_id")
        .repartition("query_id")
    )
    approx = ivf_topk(vecs, queries, k=_TOPK).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = exact.select("query_id").distinct()
    return (
        qids.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(_TOPK)), 6).alias("recall_at_k"),
        )
    )


_ANN_RECALL_ORACLE = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_TOPK_ORACLE})),
approx AS (SELECT query_id, neighbor_id FROM ({_IVF_ORACLE})),
hits AS (
  SELECT query_id, count(*) AS n_hits
  FROM exact JOIN approx USING (query_id, neighbor_id)
  GROUP BY query_id
)
SELECT q.query_id, coalesce(n_hits, 0) AS n_hits,
       round(coalesce(n_hits, 0) / {float(_TOPK)}, 6) AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) q LEFT JOIN hits USING (query_id)
"""

QUERIES["emb_ann_recall"] = q_emb_ann_recall
ORACLES["emb_ann_recall"] = _ANN_RECALL_ORACLE


# --- LSH recall@threshold vs brute-force ground truth (VERDICT r8 #6) ----
#
# The near-dup docstring's recall claim, made measurable like
# emb_ann_recall: plant NOISY copies (deterministic integer-pattern
# perturbation, cos ~ 0.995 — exact copies always collide and would
# measure nothing), take brute-force pairs >= threshold over a FIXED
# probe set as ground truth, and report what fraction the banded OR
# construction finds. 6 bands of 15 planes: per-band collision at
# cos 0.995 is ~0.63, OR-amplified to ~0.998 (the single flat band
# alone sits near 0.63 — the lever is the point of the query).

_LSH_RECALL_EPS = 0.008
_LSH_RECALL_BANDS = 6


def _recall_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clearcare_data_pipeline_spark.operators.similarity import as_double_vec

    vecs = _emb(spark, sf_dir).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("embedding")
    )
    pert = vecs.where(F.col("vec_id") % _NEAR_DUP_MOD == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + F.lit(_LSH_RECALL_EPS)
            * ((i.cast("bigint") * 7 + F.col("vec_id")) % 5 - 2).cast("double"),
        ).alias("embedding"),
    )
    return vecs.unionByName(pert)


def q_emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clearcare_data_pipeline_spark.operators.similarity import (
        lsh_banded_pairs,
        probed_dot,
    )

    corpus = _recall_corpus(spark, sf_dir)
    # ONE (vec_id, dvec, norm) pass serves all three corpus consumers
    # (r14, VERDICT r13 #5): the banded-signature leg and both
    # ground-truth legs below each re-ran the corpus scan + perturb +
    # norm fold otherwise, and the probe/candidate filter difference
    # means predicate pushdown would split any lazily shared subtree
    # (the r13 incremental-minhash finding) — so the narrow frame is
    # materialized once. localCheckpoint over persist(MEMORY_AND_DISK)
    # by measurement: same-JVM A/B medians 4.95 s base / 4.29 s
    # checkpoint / 5.81 s persist (lazy cache population races across
    # the concurrent consumer stages); stages 47 -> 31. ~530 B/row of
    # executor memory at dim 64 — the VERDICT r13 #8 trade, taken
    # knowingly for the measured win.
    n = (
        with_norm(corpus, "embedding")
        .select("vec_id", "dvec", "norm")
        .localCheckpoint()
    )
    # the ground-truth scorer is O(probes x corpus) dot products — the
    # r11 unrolled-dot fast path (bit-identical) applies here too;
    # probing the checkpointed frame keeps it one bounded job
    dot = probed_dot(n, "dvec")
    found = lsh_banded_pairs(
        corpus, min_cosine=_MIN_COS, n_bands=_LSH_RECALL_BANDS, dot=dot,
        normed=n,
    )
    # fixed probe set (the planted noisy copies of ids < bound): the
    # brute-force ground-truth half stays O(probes x corpus) — linear
    # in the corpus, same discipline as emb_ann_recall's query bound
    probes = n.where(
        (F.col("vec_id") >= 1000000) & (F.col("vec_id") - 1000000 < _QUERY_ID_BOUND)
    ).select(
        F.col("vec_id").alias("pid"), F.col("dvec").alias("pv"), F.col("norm").alias("pn")
    )
    cand = n.select(F.col("vec_id").alias("cid"), "dvec", "norm")
    gt = (
        cand.join(F.broadcast(probes), F.col("cid") != F.col("pid"))
        .where(
            F.round(dot(F.col("dvec"), F.col("pv")) / (F.col("norm") * F.col("pn")), 6)
            >= _MIN_COS
        )
        .select(F.least("pid", "cid").alias("a"), F.greatest("pid", "cid").alias("b"))
        .distinct()
    )
    tp = gt.join(found.select("a", "b"), ["a", "b"])
    return (
        gt.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("n_found")))
        .select(
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
        )
    )


def _lsh_recall_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.similarity import LSH_FLAT_PLANES

    band_sigs = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, dv, nrm, {k} AS band, "
        f"{_bucket_sql('dv', LSH_FLAT_PLANES, k * LSH_FLAT_PLANES)} AS bucket FROM n"
        for k in range(_LSH_RECALL_BANDS)
    )
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id, dv FROM (SELECT vec_id, {_DV} AS dv FROM embeddings)
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
    list_transform(range(1, len(dv) + 1),
      i -> dv[i] + {_LSH_RECALL_EPS} * CAST(((i - 1) * 7 + vec_id) % 5 - 2 AS DOUBLE)) AS dv
  FROM (SELECT vec_id, {_DV} AS dv FROM embeddings) WHERE vec_id % {_NEAR_DUP_MOD} = 0
),
n AS MATERIALIZED (
  SELECT vec_id, dv, sqrt({_dot('dv', 'dv')}) AS nrm FROM corpus
),
sigs AS MATERIALIZED (
{band_sigs}
),
found AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM sigs l JOIN sigs r USING (band, bucket)
  WHERE l.vec_id < r.vec_id
    AND round({_dot('l.dv', 'r.dv')} / (l.nrm * r.nrm), 6) >= {_MIN_COS}
),
probes AS (
  SELECT * FROM n WHERE vec_id >= 1000000 AND vec_id - 1000000 < {_QUERY_ID_BOUND}
),
gt AS MATERIALIZED (
  SELECT DISTINCT least(p.vec_id, c.vec_id) AS a, greatest(p.vec_id, c.vec_id) AS b
  FROM n c, probes p
  WHERE c.vec_id <> p.vec_id
    AND round({_dot('c.dv', 'p.dv')} / (c.nrm * p.nrm), 6) >= {_MIN_COS}
)
SELECT (SELECT count(*) FROM gt) AS n_true,
       (SELECT count(*) FROM gt JOIN found USING (a, b)) AS n_found,
       round((SELECT count(*) FROM gt JOIN found USING (a, b))
             / CAST((SELECT count(*) FROM gt) AS DOUBLE), 6) AS recall
"""


QUERIES["emb_lsh_recall"] = q_emb_lsh_recall
ORACLES["emb_lsh_recall"] = _lsh_recall_oracle()


# --- label separation: pairwise centroid distances -----------------------


def q_emb_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class separation: L2 distance between every
    pair of label centroids. Centroid components are rounded to 6
    decimals BEFORE the distance fold so both engines difference the
    identical numbers (plain double avg is partial-order-dependent at
    ~1e-13 — far below the rounding — while the distance of unrounded
    centroids would amplify it). Label count is tiny, so the pairwise
    stage is a broadcast self-join of a dimension-sized relation."""
    d = with_norm(_emb(spark, sf_dir))
    cents = (
        d.select("label", F.posexplode("dvec").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s.cv
            ).alias("cvec")
        )
    )
    a = cents.select(F.col("label").alias("label_a"), F.col("cvec").alias("va"))
    b = cents.select(F.col("label").alias("label_b"), F.col("cvec").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    dist = F.sqrt(sq_dist_expr(F.col("va"), F.col("vb")))
    return pairs.select("label_a", "label_b", F.round(dist, 6).alias("centroid_dist"))


_LABEL_SEP_ORACLE = f"""
WITH cent AS (
  SELECT label, pos, round(avg(dv[pos + 1]), 6) AS cv
  FROM (SELECT label, {_DV} AS dv FROM embeddings),
       (SELECT unnest(range(0, 64)) AS pos)
  GROUP BY label, pos
),
cvecs AS (SELECT label, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
  round(sqrt(list_reduce(list_transform(range(1, len(a.cvec) + 1),
        i -> (a.cvec[i] - b.cvec[i]) * (a.cvec[i] - b.cvec[i])), (x, y) -> x + y)), 6)
    AS centroid_dist
FROM cvecs a JOIN cvecs b ON a.label < b.label
"""

QUERIES["emb_label_separation"] = q_emb_label_separation
ORACLES["emb_label_separation"] = _LABEL_SEP_ORACLE
