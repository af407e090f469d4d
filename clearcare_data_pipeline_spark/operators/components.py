"""Connected components over candidate-pair edges (dedup clustering).

After MinHash-LSH emits near-duplicate pairs, clustering them picks one
canonical document per group. Components are computed by iterative
min-label propagation — each iteration is one join + aggregate, the
standard large-graph pattern (label exchange along edges), driver-side
loop until fixpoint. At 100 TB scale each iteration is a keyed shuffle;
iteration count is O(diameter), small for near-dup clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed frame.
    ``DataFrame.unpersist`` only reaches the cache manager, which a
    local checkpoint never enters; its blocks belong to the RDD under
    the frame's plan."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    max_iters: int = 50,
) -> DataFrame:
    """(id, component) where component = min node id reachable.

    ``nodes``: one column ``id``; ``edges``: columns ``a``, ``b``
    (undirected). Loops until no label changes; ``max_iters`` is a
    safety bound only — hitting it without convergence raises rather
    than silently returning wrong labels. Each iteration's label frame
    is ``localCheckpoint``-ed, so the logical plan never nests one join
    per iteration (lineage truncation for high-diameter components),
    and the previous iteration's checkpoint is released once the next
    is computed: the returned frame is the one checkpoint left, and a
    failed or non-converging run leaves none.
    """
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    held: list[DataFrame] = []
    try:
        for _ in range(max_iters):
            neighbor_min = (
                sym.join(labels, sym.b == labels.id)
                .groupBy("a")
                .agg(F.min("component").alias("nbr_component"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
                .select(
                    "id",
                    F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))).alias(
                        "component"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            held.append(new_labels)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            for f in held[:-1]:
                _release_checkpoint(f)
            del held[:-1]
            labels = new_labels
            if changed == 0:
                held.clear()
                return labels
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters}; "
            "raise max_iters (component diameter exceeds the bound)"
        )
    finally:
        for f in held:
            _release_checkpoint(f)
