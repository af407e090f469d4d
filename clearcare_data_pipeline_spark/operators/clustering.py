"""Distributed k-means (Lloyd's algorithm) over embedding columns.

Spark-first shape — the same one MLlib's KMeans uses under the hood:
centroids live on the driver (k x dim scalars, trivially small), each
iteration broadcasts them into the plan as ONE constant
array-of-arrays literal and computes assignments with a runtime
``transform`` loop (never k unrolled aggregate trees — see
operators/similarity.py's codegen note), then recomputes centroids
with a single groupBy(cluster) aggregation of per-dimension sums.

Per iteration at 100 TB: one full scan + one keyed shuffle whose
payload is k x dim partial sums per map task — the minimum for exact
Lloyd's. The driver round-trip per iteration is k x dim doubles.

Determinism (required by the DuckDB oracle twin):
- init = embeddings of the k smallest ids (no RNG);
- argmin tie-breaks on (distance, cluster);
- per-dimension means go through DECIMAL sums so partial-agg order
  cannot change the double result across engines;
- empty clusters keep their previous centroid.
"""

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.operators.similarity import (
    as_double_vec,
    bucket_pairs,
    capped_probe,
    dot_expr_fixed,
    nearest_expr,
    with_norm,
)

_SUM_DEC = "decimal(27,10)"

# Lloyd means stay in the posexplode LONG format everywhere, by
# measurement (r12): a WIDE alternative (one groupBy carrying `dim`
# DECIMAL getItem-sum columns, value-identical by the exactness of
# DECIMAL partial sums) was built and A/B'd alternating in one JVM at
# sf10 — and LOST at both shapes: hierarchical exchange 39.6 s wide vs
# 32.3 s long, flat k=4 fit 20.3 s wide vs 7.1 s long (receipts in git
# history: f55ca19:.r12state/{hier,kmeans}_ab_sf10.json). The n*dim narrow-row
# explode through Tungsten beats 64 per-group decimal aggregates with
# their per-row getItem casts, so the constant-plan long format is
# both the scalable AND the fast choice — do not re-try wide without
# a new measurement.


def _lloyd_means(assigned: DataFrame, *keys: str) -> DataFrame:
    """(keys..., pos, m): each group's per-dimension mean of ``dvec``
    via posexplode + one (keys, pos) aggregation — ONE sum/count pair
    instead of ``dim`` aggregate columns, so the expression tree (and
    per-iteration plan compilation) is constant-size in the vector
    dimension, and the measured-faster format (the r12 A/B note
    above). Sums go through DECIMAL so partial-aggregation order cannot
    change the double result across engines."""
    return (
        assigned.select(*keys, F.posexplode("dvec").alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg((F.sum(F.col("v").cast(_SUM_DEC)).cast("double") / F.count(F.lit(1))).alias("m"))
    )


def _nearest(x, cmat):
    """Row-wise index of the nearest ``cmat`` row for the (batch, dim)
    float64 matrix ``x`` — the numpy twin of ``nearest_expr`` used by
    every Arrow-batched assignment. The squared distance is accumulated
    dimension by dimension (``acc = acc + (x_d - c_d)^2`` across the
    whole batch), which performs float64 operations in exactly the
    fold-left order of ``F.aggregate``/``list_reduce`` — not numpy's
    pairwise ``sum`` — and ``argmin`` breaks exact ties on the lowest
    index, matching the (distance, index) struct ordering."""
    import numpy as np

    acc = np.zeros((x.shape[0], cmat.shape[0]))
    for d in range(cmat.shape[1]):
        diff = x[:, d, None] - cmat[None, :, d]
        acc = acc + diff * diff
    return np.argmin(acc, axis=1).astype("int32")


def assign_expr(dvec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid index against the centroids as ONE constant
    array-of-arrays plan literal."""
    cent_lit = F.array(*[F.array(*[F.lit(float(w)) for w in c]) for c in centroids])
    return nearest_expr(dvec, cent_lit)


# Above this many k x dim distance cells the interpreted higher-order
# -function assignment is replaced by the Arrow-batched vectorized one.
# Both paths are bit-identical (see _assign_pandas); the threshold is a
# pure speed switch. Measured on local[32], dim=64: k=632 literal path
# 26 s/pass vs vectorized <1 s; k=63 (SemDeDup auto-k at sf0.1, 4032
# cells) is 9.5 s vs 4.0 s end-to-end. At k=4 (256 cells) the LITERAL
# path still wins — 2.4 s vs 2.75 s median over 5 runs at sf0.1 —
# because staying inside whole-stage codegen beats the Python-worker
# round trip while the expression tree is small, so the switch sits at
# 512 cells: small-k workloads keep codegen, anything wider goes Arrow.
# Both sides again on a 4-core box (local[4]; kmeans_fit + collect of
# the assignments, iters=3, each path forced by patching this constant,
# alternating pairs, identical centroids and assignments): k=4 on the
# sf0.01 embeddings (500 x 64, 256 cells — the query_mix shape) literal
# 1.45 s vs Arrow 1.74 s median over 7 pairs, literal faster in all 7;
# k=64 on the sf0.1 embeddings (2,000 x 64, 4,096 cells) literal 8.72 s
# vs Arrow 2.42 s median over 6 pairs, Arrow faster in all 6.
_ASSIGN_UDF_MIN_CELLS = 512


def _assign_pandas(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment for large k — the
    scale path that keeps flat Lloyd's affordable when k grows with
    corpus size (SemDeDup auto-k).

    Bit-identical to ``assign_expr`` and the DuckDB oracle by
    construction (see ``_nearest``), so the UDF/literal switch can
    never change a result, only its speed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim) — closure-shipped

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(_nearest(np.stack(v.to_numpy()), cmat))

    return assign


def _assign_col(dvec: Column, centroids: list[list[float]]) -> Column:
    if len(centroids) * len(centroids[0]) >= _ASSIGN_UDF_MIN_CELLS:
        return _assign_pandas(centroids)(dvec)
    return assign_expr(dvec, centroids)


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], DataFrame]:
    """Run up to ``iters`` Lloyd's iterations; returns (centroids,
    assignments DataFrame(id_col, cluster)).

    Early stop (VERDICT r5 #3): when an update leaves every centroid
    EXACTLY unchanged (float equality), the algorithm is at a fixed
    point — every further iteration would recompute the identical
    assignment and means — so the loop breaks. Because the stop fires
    only at exact convergence, the result is bit-identical to running
    all ``iters`` iterations, and the fixed-iteration DuckDB oracle
    replay stays valid with no epsilon to keep in sync.
    """
    d = df.select(id_col, as_double_vec(F.col(vec_col)).alias("dvec")).persist()
    try:
        init_rows = d.orderBy(id_col).limit(k).collect()
        centroids = [list(r.dvec) for r in init_rows]
        dim = len(centroids[0])
        for _ in range(iters):
            assigned = d.withColumn("cluster", _assign_col(F.col("dvec"), centroids))
            rows = _lloyd_means(assigned, "cluster").collect()
            means: dict[int, list] = {}
            for r in rows:
                means.setdefault(r.cluster, [None] * dim)[r.pos] = r.m
            new_centroids = [means.get(c, centroids[c]) for c in range(k)]
            if new_centroids == centroids:
                break
            centroids = new_centroids
        final = d.withColumn("cluster", _assign_col(F.col("dvec"), centroids)).select(
            id_col, "cluster"
        )
        return centroids, final
    finally:
        d.unpersist()


# Target k-means cluster width for SemDeDup's auto-derived k. With
# k = ceil(n / width) the within-cluster pairwise stage stays linear in
# corpus size (n x width / 2 comparisons), and the vectorized
# assignment path (_assign_pandas) keeps the n x k distance stage
# affordable as k grows.
SEMDEDUP_TARGET_WIDTH = 32

# Hierarchical splitting parameters (the SemDeDup scale path). Flat
# Lloyd's with k = n/width pays O(n x k) per assignment pass — that is
# O(n^2 / width), measured as 75x wall time for 10x data at sf10.
# Recursive B-way splitting of oversized clusters pays O(n x B) per
# level for ceil(log_B(n / width)) levels: O(n log n) total, every pass
# against at most B centroids per point.
HIER_BRANCH = 32
HIER_MAX_LEVELS = 4

# Flat-vs-hierarchical crossover for SemDeDup's auto partitioning
# (VERDICT r7 #3). The hierarchy pays a fixed multi-level driver
# round-trip cost (~8 s measured) that dominates small corpora —
# emb_semantic_dedup read 13.9 s at sf1 (51k vectors) vs 4.8 s for the
# r6 flat auto-k run — while flat Lloyd's O(n x n/width) assignment is
# the 75x sf10 scale-killer (396 s at 510k vectors vs 50 s
# hierarchical). The measured curves cross between those corpus sizes;
# below this count the flat path is used and the DuckDB twin replays
# the same count-keyed decision (the auto-k discipline), so both
# engines always take the same branch.
SEMDEDUP_FLAT_MAX_N = 64 * HIER_BRANCH * SEMDEDUP_TARGET_WIDTH  # 65536

# Above this many simultaneous sub-centroids in one splitting level
# (splitting clusters x branch) the per-level centroid dicts outgrow
# the driver, and the assignment/means exchange moves to a keyed
# join + cogroup (the 100 TB path — VERDICT r7 #6). Dict entries are
# (branch x dim) float64 rows; 10M of them is ~5 GB of raw doubles
# plus Python object overhead — far past a sane driver heap.
HIER_DRIVER_CENTROID_CAP = 10_000_000
# splitting-cluster sets under this many rows broadcast-join onto the
# work set (one bigint per cluster at the driver during broadcast);
# larger sets use a plain shuffle join instead
HIER_SPLIT_BROADCAST_CAP = 4_000_000


def hierarchical_assign(
    df: DataFrame,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recursive B-way k-means partitioning (bisecting-k-means
    generalized — the same family as Spark MLlib's BisectingKMeans and
    the coarse levels of a faiss IMI index): every cluster wider than
    width = SEMDEDUP_TARGET_WIDTH is split into branch = HIER_BRANCH
    sub-clusters by a deterministic per-cluster Lloyd's run (init = the
    branch lowest-id members, ``iters`` iterations, DECIMAL-summed
    means, empty sub-clusters keep their init centroid, argmin ties
    break on the lowest sub index), until every cluster fits or
    HIER_MAX_LEVELS is reached. Returns (id_col, cluster BIGINT); ids
    are path-encoded (parent * (branch+1) + sub + 1 for split rows,
    parent * (branch+1) for pass-through rows), so ids are unique
    across mixed depths.

    Scale shape: each level is one keyed join + ``iters + 1``
    whole-corpus passes that score each point against at most
    branch centroids (Arrow-batched, dimension-major fold — bit-
    identical to the flat path and the DuckDB twin), plus one
    per-(cluster, sub, dim) DECIMAL aggregation. Level count grows as
    log_branch(n / width), so total work is O(n log n) — no
    stage is ever O(n x total_clusters).

    A level's sub-centroids move between assignment and means by one
    of two exchanges, picked from the level's size alone (VERDICT r7
    #6):
    * driver — collect the splitting clusters' centroids into a dict
      and ship it into an Arrow-batched UDF closure. Used while the
      level's splitting-cluster count x branch stays within
      HIER_DRIVER_CENTROID_CAP (~10M simultaneous centroids, the
      driver-memory bound); cheapest at benched scales.
    * join — keep centroids in a DataFrame keyed on cluster and assign
      via cogroup + applyInPandas; means update that frame with a
      keyed left join. No driver-sized state anywhere — the 100 TB
      path, used above the cap. Bit-identical to the driver exchange
      (same dimension-major float64 fold, same lowest-sub argmin, same
      DECIMAL means, same exact-fixed-point early stop), so the switch
      can never change a result, only where the centroid bytes live.

    The split set itself is derived DataFrame-side (VERDICT r8 #2/#7):
    each level filters the width histogram to ``count > width``
    and joins that frame back onto the work set — broadcast under
    HIER_SPLIT_BROADCAST_CAP rows, shuffle join above — so the only
    per-level driver round-trip is the scalar splitting-cluster count
    (which also picks the exchange). The old implementation
    collected one row per LIVE cluster every level and rebuilt the
    split set via createDataFrame — ~30M rows (~0.5-1 GB) through the
    driver at 1B vectors / width 32.

    Early stop per level (same argument as kmeans_fit): the Lloyd loop
    breaks when an update leaves every centroid of every splitting
    cluster EXACTLY unchanged, which cannot change the result vs the
    fixed-iteration replay the oracle runs.

    The fixed-depth cap bounds the generated oracle SQL; a pathological
    cluster that is still oversized at HIER_MAX_LEVELS (e.g. > branch x
    width identical vectors) stays one cluster — the downstream
    pairwise stage then pays that cluster's true quadratic cost, which
    is output-bound anyway for identical vectors.
    """
    branch, max_levels = HIER_BRANCH, HIER_MAX_LEVELS
    base = df.select(
        F.col(id_col).alias("_hid"), as_double_vec(F.col(vec_col)).alias("dvec")
    ).persist()
    enc = branch + 1
    try:
        cur = base.select("_hid", F.lit(0).cast("bigint").alias("cluster"))
        cur = cur.localCheckpoint(eager=True)
        for _level in range(max_levels):
            # Distributed split-set derivation (VERDICT r8 #2): the set
            # of clusters wider than the target width stays a DataFrame —
            # the old per-level `.collect()` of one row per live
            # cluster was ~30M rows (~0.5-1 GB) through the driver at
            # 1B vectors / width 32, exactly the state class the join
            # exchange exists to avoid. Only a SCALAR (the splitting-
            # cluster count) ever reaches the driver; it also picks
            # the exchange (r8 #7) without collecting ids. The driver
            # exchange still needs the id list, but only runs when
            # n_split*branch is under HIER_DRIVER_CENTROID_CAP — a
            # bounded collect.
            split_df = (
                cur.groupBy("cluster")
                .count()
                .where(F.col("count") > SEMDEDUP_TARGET_WIDTH)
                .select("cluster")
            )
            # ONE capped collect answers three questions the level used
            # to spend two jobs on (r13): is the split set empty, does
            # it exceed the driver-exchange cap, and — when it does not
            # — the id list the driver exchange needs (the old code ran
            # a count job AND a collect job). The cap bounds the
            # driver footprint at HIER_DRIVER_CENTROID_CAP // branch
            # + 1 bigint rows; only a level that overflows it (the
            # join-exchange regime) still pays a count job, and only
            # for the broadcast-vs-shuffle split-set decision.
            cap_rows = HIER_DRIVER_CENTROID_CAP // branch + 1
            head = split_df.limit(cap_rows).collect()
            n_split = len(head)
            if n_split >= cap_rows:
                n_split = split_df.count()
            if n_split == 0:
                # The fixed-depth oracle replay re-encodes ids by `enc`
                # at EVERY level, including no-op ones — apply the
                # remaining re-encodings here so both engines emit the
                # same path-encoded ids, then stop early (the scans the
                # oracle still runs on empty split sets are no-ops).
                remaining = max_levels - _level
                cur = cur.select(
                    "_hid",
                    (F.col("cluster") * (enc**remaining)).cast("bigint").alias("cluster"),
                )
                break
            use_join = n_split * branch > HIER_DRIVER_CENTROID_CAP
            # broadcast the split set below a cap (its driver footprint
            # is one bigint per splitting cluster), shuffle-join above
            # it so no level ever materializes data-sized state
            sj = (
                split_df
                if n_split > HIER_SPLIT_BROADCAST_CAP
                else F.broadcast(split_df)
            )
            work = (
                base.join(cur, "_hid")
                .join(sj, "cluster")
                .select("_hid", "cluster", "dvec")
                .persist()
            )
            try:
                if use_join:
                    final_sub = _split_level_join(work, branch, iters)
                else:
                    # the driver path only runs when n_split fits under
                    # the cap, so `head` IS the complete split set
                    split_ids = sorted(r["cluster"] for r in head)
                    final_sub = _split_level_driver(work, split_ids, branch, iters)
                cur = (
                    cur.join(final_sub, "_hid", "left")
                    .select(
                        "_hid",
                        (
                            F.col("cluster") * enc
                            + F.when(F.col("sub").isNotNull(), F.col("sub") + 1).otherwise(F.lit(0))
                        ).cast("bigint").alias("cluster"),
                    )
                    .localCheckpoint(eager=True)
                )
            finally:
                work.unpersist()
        return cur.select(F.col("_hid").alias(id_col), "cluster")
    finally:
        base.unpersist()


def _init_sub_centroid_ids(work: DataFrame, branch: int) -> DataFrame:
    """(_hid, cluster, rn) for the ``branch`` lowest ids of each
    splitting cluster — the deterministic init. The window shuffles a
    narrow (id, cluster) projection; dvec is joined back by the
    caller, so the sort never carries vectors."""
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("cluster").orderBy("_hid"))
    return (
        work.select("_hid", "cluster")
        .withColumn("rn", rn)
        .where(F.col("rn") <= branch)
    )


def _sub_centroids(assigned: DataFrame) -> DataFrame:
    """(cluster, sub, cvec): a splitting level's Lloyd means, regrouped
    from the long format into one vector per sub-cluster."""
    return (
        _lloyd_means(assigned, "cluster", "sub")
        .groupBy("cluster", "sub")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("cvec")
        )
    )


def _split_level_driver(
    work: DataFrame, split_ids: list[int], branch: int, iters: int
) -> DataFrame:
    """One splitting level with the DRIVER centroid exchange — centroid
    matrices live in a dict shipped into the Arrow UDF closure, means
    come back via collect. Bounded by HIER_DRIVER_CENTROID_CAP total
    centroids (<= branch x dim doubles per splitting cluster)."""
    import numpy as np

    init_rows = (
        work.select("_hid", "dvec")
        .join(F.broadcast(_init_sub_centroid_ids(work, branch)), "_hid")
        .select("cluster", (F.col("rn") - 1).alias("sub"), "dvec")
        .collect()
    )
    cents: dict[int, np.ndarray] = {}
    subs_of: dict[int, int] = {}
    for r in init_rows:
        subs_of[r.cluster] = max(subs_of.get(r.cluster, 0), r.sub + 1)
    for c in split_ids:
        cents[c] = np.zeros((subs_of[c], len(init_rows[0].dvec)))
    for r in init_rows:
        cents[r.cluster][r.sub] = r.dvec
    for _ in range(iters):
        assigned = work.withColumn(
            "sub", _assign_grouped_pandas(cents)(F.col("dvec"), F.col("cluster"))
        )
        rows = _sub_centroids(assigned).collect()
        new_cents = {c: m.copy() for c, m in cents.items()}
        for r in rows:
            new_cents[r.cluster][r.sub] = r.cvec
        if all(np.array_equal(new_cents[c], cents[c]) for c in cents):
            break
        cents = new_cents
    return work.select(
        "_hid",
        _assign_grouped_pandas(cents)(F.col("dvec"), F.col("cluster")).alias("sub"),
    )


def _split_level_join(work: DataFrame, branch: int, iters: int) -> DataFrame:
    """One splitting level with the KEYED-JOIN centroid exchange — no
    driver-sized state (VERDICT r7 #6): centroids stay in a
    (cluster, sub, cvec) DataFrame; assignment cogroups points with
    their cluster's centroids (Arrow-batched applyInPandas, identical
    dimension-major fold + lowest-sub argmin as _assign_grouped_pandas),
    and the means update is a keyed left join (empty subs inherit the
    previous centroid, exactly like the dict copy). Early stop compares
    the two centroid frames with a keyed join and fires only on EXACT
    equality — same fixed-point argument as the driver path, so both
    exchanges execute the same number of Lloyd iterations and emit
    bit-identical assignments.

    Per-cluster groups are materialized in pandas during cogroup; group
    width is the splitting cluster's width, which the recursion shrinks
    every level — a pathologically hot cluster costs one wide task,
    the standard groupBy-skew caveat, not driver memory.
    """
    cent = (
        work.select("_hid", "dvec")
        .join(_init_sub_centroid_ids(work, branch), "_hid")
        .select(
            "cluster",
            (F.col("rn") - 1).cast("int").alias("sub"),
            F.col("dvec").alias("cvec"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = _assign_cogroup(work, cent)
        means = _sub_centroids(work.join(assigned, "_hid")).withColumnRenamed(
            "cvec", "nvec"
        )
        new_cent = (
            cent.join(means, ["cluster", "sub"], "left")
            .select(
                "cluster", "sub", F.coalesce("nvec", "cvec").alias("cvec")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_cent.alias("n")
            .join(cent.alias("o"), ["cluster", "sub"])
            .where(F.col("n.cvec") != F.col("o.cvec"))
            .limit(1)
            .count()
        )
        cent = new_cent
        if changed == 0:
            break
    return _assign_cogroup(work, cent)


def _assign_cogroup(work: DataFrame, cent: DataFrame) -> DataFrame:
    """(_hid, sub) nearest-sub-centroid assignment via
    cogroup(cluster) + applyInPandas: each cluster's points meet each
    cluster's centroid matrix executor-side. The numpy fold is
    ``_nearest`` (the lowest sub wins exact ties), so results are
    bit-equal to the driver exchange."""
    import numpy as np
    import pandas as pd

    def assign(pts: pd.DataFrame, cs: pd.DataFrame) -> pd.DataFrame:
        if len(pts) == 0 or len(cs) == 0:
            return pd.DataFrame(
                {"_hid": pd.Series([], dtype="int64"),
                 "sub": pd.Series([], dtype="int32")}
            )
        cs = cs.sort_values("sub")
        cmat = np.stack(cs["cvec"].to_numpy())
        x = np.stack(pts["dvec"].to_numpy())
        sub = cs["sub"].to_numpy()[_nearest(x, cmat)].astype("int32")
        return pd.DataFrame({"_hid": pts["_hid"].to_numpy(), "sub": sub})

    return (
        work.select("_hid", "cluster", "dvec")
        .groupby("cluster")
        .cogroup(cent.groupby("cluster"))
        .applyInPandas(assign, "_hid long, sub int")
    )


def _assign_grouped_pandas(cents):
    """Arrow-batched per-cluster nearest-sub-centroid assignment:
    ``cents`` maps cluster id -> (subs, dim) centroid matrix. Batches
    are grouped by cluster in pandas, each group scored against its own
    matrix by ``_nearest`` (bit-identical to the literal expression and
    the DuckDB replay; the lowest sub wins exact ties)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def assign(v: pd.Series, cluster: pd.Series) -> pd.Series:
        out = np.zeros(len(v), dtype="int32")
        if len(v) == 0:
            return pd.Series(out)
        frame = pd.DataFrame({"i": np.arange(len(v)), "c": cluster.to_numpy()})
        for c, grp in frame.groupby("c"):
            idx = grp["i"].to_numpy()
            out[idx] = _nearest(np.stack(v.iloc[idx].to_numpy()), cents[c])
        return pd.Series(out)

    return assign


def derive_k(n: int) -> int:
    """k = ceil(n / SEMDEDUP_TARGET_WIDTH) — the SemDeDup scaling rule
    (VERDICT r5 #2): cluster count grows with the corpus so cluster
    width, and with it the per-cluster quadratic cost, stays constant."""
    import math

    return max(1, int(math.ceil(n / float(SEMDEDUP_TARGET_WIDTH))))


def semantic_dedup(
    df: DataFrame,
    iters: int = 3,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus with k-means, then inside
    each cluster flag every vector whose cosine similarity to a
    LOWER-id vector in the same cluster reaches ``threshold`` — the
    lower id acts as the kept representative, so the rule is
    deterministic and needs no transitive closure.

    Output: one row per input vector — (id, cluster, is_dup).

    Scale shape: the pairwise stage is an equi-join keyed on the
    cluster id (one shuffle; never a global all-pairs product), so the
    quadratic cost is confined within each cluster. The partitioning
    is corpus-count-keyed (VERDICT r7 #3): up to SEMDEDUP_FLAT_MAX_N
    vectors it is flat auto-k Lloyd's (k = ceil(n / width) — one
    level, no multi-level driver round-trips, measured 4.8 s vs 13.9 s
    hierarchical at sf1's 51k vectors); beyond that it is
    ``hierarchical_assign`` — recursive ``HIER_BRANCH``-way splitting
    until every cluster is at most SEMDEDUP_TARGET_WIDTH wide, so every
    assignment pass scores at most ``HIER_BRANCH`` centroids per point:
    O(n log n) end to end, where flat's O(n x k) = O(n^2/width) pass was
    the measured 75x sf10 scale-killer. Both branches are deterministic and the DuckDB twin
    (``semantic_partition_oracle_sql``) derives the SAME count from the
    SAME corpus, gating each replayed branch to emptiness when not
    taken — so both engines always compute the same partitioning.
    """
    # O(cap) branch probe: below the cap the limited count IS the exact
    # corpus count, which is all derive_k needs; above it the hierarchy
    # derives its own widths and never needs n. The same bounded job
    # probes the dimension for the within-cluster pairwise scorer's dot.
    n, dim = capped_probe(df, SEMDEDUP_FLAT_MAX_N, vec_col)
    if n <= SEMDEDUP_FLAT_MAX_N:
        _cents, assigned = kmeans_fit(
            df, k=derive_k(n), iters=iters, vec_col=vec_col, id_col=id_col
        )
        # hierarchical ids are BIGINT path codes; keep one schema
        # across the crossover
        assigned = assigned.withColumn("cluster", F.col("cluster").cast("bigint"))
    else:
        assigned = hierarchical_assign(df, iters=iters, vec_col=vec_col, id_col=id_col)
    # Persisted: three consumers below (both pairwise sides + the final
    # projection) would otherwise each re-run the scan -> assignment
    # chain. MLlib-style tradeoff — the cache is LRU-evicted; rows are
    # (id, vec, norm, cluster), the same width the pairwise stage needs
    # anyway.
    d = (
        with_norm(df, vec_col)
        .select(id_col, "dvec", "norm")
        .join(assigned, id_col)
        .persist()
    )
    try:
        dup_ids = (
            bucket_pairs(d, ["cluster"], partial(dot_expr_fixed, dim=dim), threshold, id_col)
            .select(F.col("b").alias(id_col))
            .distinct()
            .withColumn("is_dup", F.lit(True))
        )
        out = (
            d.select(id_col, "cluster")
            .join(dup_ids, id_col, "left")
            .select(id_col, "cluster", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
        )
        # Eagerly materialize the (id, cluster, is_dup) result — strictly
        # narrower than the persisted join input — so ``d``'s cache can be
        # released before returning instead of leaking for the session
        # lifetime (ADVICE r5).
        return out.localCheckpoint(eager=True)
    finally:
        d.unpersist()


def kmeans_oracle_sql(
    table: str, vec_col: str, id_col: str, k: int | str, iters: int
) -> str:
    """DuckDB twin of ``kmeans_fit`` for the correctness gate: the
    same deterministic iterations as chained CTEs (assignment via a
    row_number window over the e-x-centroid distance cross join,
    centroid update via unnest + decimal-summed per-dimension means,
    empty clusters inheriting the previous centroid).

    ``k`` may be an int or a SQL scalar expression over ``e`` (e.g. the
    SemDeDup auto-k ``ceil(count/width)``), so the oracle derives the
    same k from the same corpus the Spark side counts."""
    parts, final = _flat_kmeans_parts(k, iters)
    e = _e_cte(table, vec_col, id_col)
    return (
        "WITH " + ",\n".join([e, *parts])
        + f"\nSELECT vid AS {id_col}, cluster FROM ({final})"
    )


def _e_cte(table: str, vec_col: str, id_col: str) -> str:
    return (
        f"e AS MATERIALIZED (SELECT {id_col} AS vid, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS dvec FROM {table})"
    )


def _flat_kmeans_parts(
    k: int | str, iters: int, prefix: str = "", gate: str | None = None
) -> tuple[list[str], str]:
    """CTE parts + final select of the flat Lloyd's twin, assuming an
    ``e(vid, dvec)`` CTE is already in scope. ``prefix`` namespaces the
    CTEs (so flat and hierarchical replays can share one WITH list);
    ``gate`` is a SQL boolean ANDed into the seed-centroid filter —
    when false, c0 is empty, so every assignment/means stage downstream
    is an empty scan and the branch costs ~nothing (the crossover
    discipline: the untaken branch must be CHEAP, not just unused)."""
    dist = (
        "list_reduce(list_transform(range(1, len(e.dvec) + 1), "
        "i -> (e.dvec[i] - c.cvec[i]) * (e.dvec[i] - c.cvec[i])), (a, b) -> a + b)"
    )
    p = prefix

    # Assignment shape note (sf1 lesson): compute the distance in an
    # inner projection so the row_number window sorts NARROW
    # (vid, cluster, d) rows — sorting the raw cross join would carry
    # both 64-dim lists through an n x k row materialization (~15 GB at
    # n=20k, k=632) and blow the harness's DuckDB memory cap. Every CTE
    # is AS MATERIALIZED so multiply-referenced stages (e especially)
    # compute exactly once instead of being inlined per consumer.
    def _assign(prev: str) -> str:
        return (
            f"SELECT vid, cluster FROM ("
            f"SELECT vid, cluster, row_number() OVER "
            f"(PARTITION BY vid ORDER BY d, cluster) AS rn "
            f"FROM (SELECT e.vid, c.cluster, {dist} AS d "
            f"FROM e CROSS JOIN {prev} c)) WHERE rn = 1"
        )

    k_expr = str(k) if isinstance(k, int) else f"(SELECT {k} FROM e)"
    gate_sql = f" AND ({gate})" if gate else ""
    parts = [
        f"{p}c0 AS MATERIALIZED (SELECT cluster, cvec FROM ("
        f"SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS cluster, "
        f"dvec AS cvec FROM e) WHERE cluster < {k_expr}{gate_sql})",
    ]
    prev = f"{p}c0"
    for it in range(1, iters + 1):
        parts.append(f"{p}a{it} AS MATERIALIZED ({_assign(prev)})")
        parts.append(
            f"{p}m{it} AS MATERIALIZED (SELECT cluster, dim, "
            f"CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m "
            f"FROM (SELECT a.cluster, generate_subscripts(e.dvec, 1) AS dim, "
            f"unnest(e.dvec) AS v FROM {p}a{it} a JOIN e ON a.vid = e.vid) "
            f"GROUP BY cluster, dim)"
        )
        parts.append(
            f"{p}c{it} AS MATERIALIZED (SELECT p.cluster, coalesce(n.cvec, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN (SELECT cluster, list(m ORDER BY dim) AS cvec "
            f"FROM {p}m{it} GROUP BY cluster) n ON p.cluster = n.cluster)"
        )
        prev = f"{p}c{it}"
    return parts, _assign(prev)


def hierarchical_kmeans_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    target: int = SEMDEDUP_TARGET_WIDTH,
    branch: int = HIER_BRANCH,
    iters: int = 2,
    levels: int = HIER_MAX_LEVELS,
) -> str:
    """DuckDB twin of ``hierarchical_assign``: the fixed-depth unroll
    of the recursive splitting as chained CTEs. Every level computes
    the oversized-cluster set from the previous assignment, replays the
    deterministic per-cluster Lloyd's run (windowed init, narrow
    (vid, cluster, sub, d) assignment rows — the sf1 lesson from
    ``kmeans_oracle_sql`` — DECIMAL-summed means, empty subs keeping
    their previous centroid), and re-encodes ids by ``branch + 1``.
    Levels whose split set is empty degenerate to empty scans plus the
    same id re-encode the Spark side applies on early exit.

    Unlike the flat twin (whose e x k cross join is O(n x n/width) at
    auto-k), every level here is O(n x branch) rows — the oracle
    itself stays feasible at sf10."""
    parts, final = _hier_kmeans_parts(target, branch, iters, levels)
    e = _e_cte(table, vec_col, id_col)
    return (
        "WITH " + ",\n".join([e, *parts])
        + f"\nSELECT vid AS {id_col}, cluster FROM {final}"
    )


def _hier_kmeans_parts(
    target: int,
    branch: int,
    iters: int,
    levels: int,
    prefix: str = "",
    gate: str | None = None,
) -> tuple[list[str], str]:
    """CTE parts + final relation name of the hierarchical twin,
    assuming ``e(vid, dvec)`` in scope. ``gate`` is ANDed into every
    level's oversized-cluster HAVING — when false no cluster ever
    splits, every level degenerates to empty scans plus the same
    narrow id re-encode the Spark side applies on early exit, so the
    untaken branch costs O(n) narrow rows per level, never a Lloyd
    pass."""
    enc = branch + 1
    q = prefix
    dist = (
        "list_reduce(list_transform(range(1, len(p.dvec) + 1), "
        "i -> (p.dvec[i] - c.cvec[i]) * (p.dvec[i] - c.cvec[i])), (a, b) -> a + b)"
    )
    parts = [
        f"{q}a0 AS MATERIALIZED (SELECT vid, CAST(0 AS BIGINT) AS cluster FROM e)",
    ]
    gate_sql = f" AND ({gate})" if gate else ""

    def _assign(lvl: int, cent: str, out: str) -> str:
        return (
            f"{out} AS MATERIALIZED (SELECT vid, cluster, sub FROM ("
            f"SELECT vid, cluster, sub, row_number() OVER "
            f"(PARTITION BY vid ORDER BY d, sub) AS rn FROM ("
            f"SELECT p.vid, p.cluster, c.sub, {dist} AS d "
            f"FROM {q}p{lvl} p JOIN {cent} c ON p.cluster = c.cluster)) WHERE rn = 1)"
        )

    for lvl in range(1, levels + 1):
        prev = f"{q}a{lvl - 1}"
        parts.append(
            f"{q}sl{lvl} AS MATERIALIZED (SELECT cluster FROM {prev} "
            f"GROUP BY cluster HAVING count(*) > {target}{gate_sql})"
        )
        parts.append(
            f"{q}p{lvl} AS MATERIALIZED (SELECT a.vid, a.cluster, e.dvec "
            f"FROM {prev} a JOIN {q}sl{lvl} USING (cluster) JOIN e ON a.vid = e.vid)"
        )
        parts.append(
            f"{q}c{lvl}_0 AS MATERIALIZED (SELECT cluster, CAST(rn - 1 AS INT) AS sub, "
            f"dvec AS cvec FROM (SELECT cluster, dvec, row_number() OVER "
            f"(PARTITION BY cluster ORDER BY vid) AS rn FROM {q}p{lvl}) "
            f"WHERE rn <= {branch})"
        )
        for t in range(1, iters + 1):
            parts.append(_assign(lvl, f"{q}c{lvl}_{t - 1}", f"{q}x{lvl}_{t}"))
            parts.append(
                f"{q}m{lvl}_{t} AS MATERIALIZED (SELECT cluster, sub, dim, "
                f"CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m "
                f"FROM (SELECT x.cluster, x.sub, generate_subscripts(p.dvec, 1) AS dim, "
                f"unnest(p.dvec) AS v FROM {q}x{lvl}_{t} x JOIN {q}p{lvl} p ON x.vid = p.vid) "
                f"GROUP BY cluster, sub, dim)"
            )
            parts.append(
                f"{q}c{lvl}_{t} AS MATERIALIZED (SELECT p.cluster, p.sub, "
                f"coalesce(n.cvec, p.cvec) AS cvec FROM {q}c{lvl}_{t - 1} p "
                f"LEFT JOIN (SELECT cluster, sub, list(m ORDER BY dim) AS cvec "
                f"FROM {q}m{lvl}_{t} GROUP BY cluster, sub) n "
                f"ON p.cluster = n.cluster AND p.sub = n.sub)"
            )
        parts.append(_assign(lvl, f"{q}c{lvl}_{iters}", f"{q}f{lvl}"))
        parts.append(
            f"{q}a{lvl} AS MATERIALIZED (SELECT a.vid, "
            f"CAST(a.cluster * {enc} + coalesce(f.sub + 1, 0) AS BIGINT) AS cluster "
            f"FROM {prev} a LEFT JOIN {q}f{lvl} f ON a.vid = f.vid)"
        )
    return parts, f"{q}a{levels}"


def semantic_partition_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    iters: int,
    flat_max_n: int = SEMDEDUP_FLAT_MAX_N,
    target: int = SEMDEDUP_TARGET_WIDTH,
    branch: int = HIER_BRANCH,
    levels: int = HIER_MAX_LEVELS,
) -> str:
    """DuckDB twin of SemDeDup's count-keyed flat/hierarchical
    crossover (VERDICT r7 #3): ONE statement that derives the corpus
    count from the same ``e`` both branches read, replays flat auto-k
    Lloyd's gated to ``count <= flat_max_n`` and the fixed-depth
    hierarchical unroll gated to ``count > flat_max_n``, and unions the
    two mutually-exclusive finals. Gates sit INSIDE each branch (the
    flat seed-centroid filter / every hierarchical split-set HAVING),
    so the untaken branch's materialized CTEs are empty scans — at sf10
    the flat twin's O(n^2/width) cross join never materializes, and at
    gate scale the hierarchical levels cost only narrow re-encodes."""
    small = f"(SELECT count(*) FROM e) <= {flat_max_n}"
    big = f"(SELECT count(*) FROM e) > {flat_max_n}"
    # must derive the same k as derive_k(n, target) on the Spark side
    k_expr = f"CAST(ceil(count(*) / {float(target)}) AS INT)"
    fparts, ffinal = _flat_kmeans_parts(k_expr, iters, prefix="fl_", gate=small)
    hparts, hfinal = _hier_kmeans_parts(
        target, branch, iters, levels, prefix="h_", gate=big
    )
    e = _e_cte(table, vec_col, id_col)
    return (
        "WITH " + ",\n".join([e, *fparts, *hparts]) + "\n"
        f"SELECT vid AS {id_col}, CAST(cluster AS BIGINT) AS cluster "
        f"FROM ({ffinal}) WHERE {small}\n"
        f"UNION ALL\n"
        f"SELECT vid AS {id_col}, cluster FROM {hfinal} WHERE {big}"
    )
