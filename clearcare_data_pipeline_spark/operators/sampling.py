"""Dataset splitting and sampling for training pipelines.

``hash_split`` is the reproducibility-critical one: train/eval
membership must be a pure function of the record id — stable across
runs, engines, partitionings, and re-shuffles — so it is derived from
md5 hex digits via position arithmetic (portable to any engine; the
SQL oracle reproduces it exactly). Never use rand() for split
membership: resampling on every run leaks eval data into training.

``stratified_sample`` wraps Spark's per-stratum Bernoulli sampling
(seeded, but implementation-specific — use for size control, not for
membership that must be reproducible elsewhere).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def md5_hex_digit(h: Column, pos: Column | int) -> Column:
    """Value 0..15 of the md5 hex digit at 1-based ``pos`` of ``h``, by
    position in the digit alphabet — the oracles replay it as
    ``strpos(_HEX, substr(h, pos, 1)) - 1``."""
    return F.instr(F.lit(_HEX), F.substring(h, pos, 1)) - 1


def hash_bucket_expr(id_col: Column, num_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, num_buckets) from the first 4 md5
    hex digits of the id — engine-portable (no engine-specific hash
    function), uniform enough for split ratios."""
    h = F.md5(id_col.cast("string").cast("binary"))
    val = F.lit(0)
    for i in range(1, 5):
        val = val * 16 + md5_hex_digit(h, i)
    return val % num_buckets


def hash_split(
    df: DataFrame, id_col: str = "doc_id", train_pct: int = 90
) -> DataFrame:
    """Adds a ``split`` column: 'train' for buckets < train_pct, else
    'eval'. Membership is a pure function of the id."""
    bucket = hash_bucket_expr(F.col(id_col))
    return df.withColumn(
        "split", F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("eval"))
    )


def hash_bucket_sql(col: str, num_buckets: int = 100) -> str:
    """DuckDB mirror of hash_bucket_expr."""
    h = f"md5(CAST({col} AS VARCHAR))"
    val = "0"
    for i in range(1, 5):
        val = f"({val}) * 16 + (strpos('{_HEX}', substr({h}, {i}, 1)) - 1)"
    return f"(({val}) % {num_buckets})"


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (seeded). Spark-internal
    determinism only — do not oracle-compare or persist as membership."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def hash_topk_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size uniform-without-replacement sample of exactly
    min(k, group size) rows per group, as a pure function of the ids.

    Rank rows inside each group by (md5 of id, id) and keep the first
    ``k``: because the md5 order is pseudorandom and independent of the
    grouping, the selection is uniform; because it is derived from the
    id alone it is reproducible across runs, engines, partitionings,
    and data arrival order — the property ``sampleBy`` cannot give
    (see stratified_sample). The standard tool for capping a dominant
    source's contribution to a training mix at a known size.

    Cost: one hash-partitioned sort per group (window row_number) —
    a single shuffle, no driver involvement, any scale.
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )
