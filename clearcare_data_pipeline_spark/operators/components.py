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
    than silently returning wrong labels. Every 5th iteration the label
    frame is ``localCheckpoint``-ed so the logical plan doesn't nest one
    join per iteration (lineage truncation for high-diameter
    components).
    """
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    for it in range(1, max_iters + 1):
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
        )
        if it % 5 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within max_iters={max_iters}; "
        "raise max_iters (component diameter exceeds the bound)"
    )
