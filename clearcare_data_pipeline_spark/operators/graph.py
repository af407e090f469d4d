"""Iterative PageRank as DataFrame joins (fixed iteration count).

The companion to operators/components.py's connected components: per
iteration, contributions flow along edges (one keyed join + one keyed
aggregation) and ranks rebuild against the node list — the exact
dataflow GraphX/Pregel runs, expressed relationally so Catalyst/AQE
schedule it. Driver involvement is a single node count (a scalar).

At 100 TB the per-iteration cost is one shuffle of the edge list keyed
by source plus one keyed sum by destination; persist() breaks lineage
growth across iterations the same way components.py does.

Determinism note (oracle parity): all arithmetic is IEEE double with
the same expression shape as the SQL twin; neighbor-contribution sums
are partial-order-dependent only at ~1e-16 relative — far below the
round(6) at the output edge. Damping terms compute as 0.15/N inside
both engines (never a pre-rounded Python float literal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Ranks over a directed edge list; returns (node, pr).

    Dangling nodes (no out-edges) contribute nothing (classic
    simplified formulation — mirrors the SQL twin exactly).

    ``edges`` is persisted here: its lineage (often an expensive
    derivation — the registered query's is a distinct-pair self-join
    over lineitem) is otherwise recomputed by every consumer (node
    list, out-degrees, and each iteration's contribution join —
    iters + 2 times). Spark unpersist is not reference-counted, so a
    caller-supplied cache must survive this call: we only persist (and
    later unpersist) when the frame arrived uncached (ADVICE r6).
    """
    from pyspark import StorageLevel

    we_persisted_edges = edges.storageLevel == StorageLevel.NONE
    if we_persisted_edges:
        edges = edges.persist()
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    iter_frames = []
    try:
        n = nodes.count()
        outdeg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
        base = F.lit(1.0 - damping) / F.lit(float(n))
        pr = nodes.withColumn("pr", F.lit(1.0) / F.lit(float(n)))
        for _ in range(iters):
            contribs = (
                edges.join(pr, edges[src] == pr["node"])
                .join(outdeg, src)
                .select(F.col(dst).alias("node"), (F.col("pr") / F.col("outdeg")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            pr = nodes.join(contribs, "node", "left").select(
                "node",
                (base + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("pr"),
            ).persist()
            iter_frames.append(pr)
        # Narrow (node, pr) checkpoint lets every cache — edges, nodes,
        # and the per-iteration rank frames — release now rather than
        # leak past return, on success and on failure alike (ADVICE r5
        # discipline).
        return pr.localCheckpoint()
    finally:
        for f in iter_frames:
            f.unpersist()
        nodes.unpersist()
        if we_persisted_edges:
            edges.unpersist()
