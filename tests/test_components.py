"""connected_components: long-diameter convergence + safety bound."""

import pytest
from pyspark import StorageLevel

from clearcare_data_pipeline_spark.operators.components import connected_components


def _chain(spark, n):
    """Path graph 0-1-2-...-(n-1): single component, diameter n-1."""
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    return nodes, edges


@pytest.mark.slow
def test_long_chain_converges(spark):
    # Diameter 29: ~30 checkpointed label iterations, each releasing
    # the one before it.
    nodes, edges = _chain(spark, 30)
    out = connected_components(nodes, edges).collect()
    assert len(out) == 30
    assert {r["component"] for r in out} == {0}


def test_nonconvergence_raises(spark):
    nodes, edges = _chain(spark, 12)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iters=3)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_components_leave_only_the_result_checkpoint(spark):
    """A 12-node chain runs 12 label iterations: every superseded label
    frame is released, and the returned labels are the one local
    checkpoint left — not a cached frame held for the session."""
    nodes, edges = _chain(spark, 12)
    before = _persisted(spark)
    out = connected_components(nodes, edges)
    assert {r["component"] for r in out.collect()} == {0}
    assert out.storageLevel == StorageLevel.NONE
    assert _persisted(spark) - before <= 1


def test_components_release_everything_on_failure(spark):
    nodes, edges = _chain(spark, 12)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iters=3)
    assert _persisted(spark) - before <= 0


def test_pagerank_leaves_only_the_result_checkpoint(spark):
    from clearcare_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    before = _persisted(spark)
    out = pagerank(edges, iters=3)
    assert len(out.collect()) == 3
    assert _persisted(spark) - before <= 1


def test_pagerank_releases_iteration_frames_on_failure(spark, monkeypatch):
    """The final checkpoint fails after the per-iteration rank frames
    were materialized: none of pagerank's caches may survive."""
    from clearcare_data_pipeline_spark.operators.graph import pagerank

    def failing_checkpoint(self, *args, **kwargs):
        self.count()
        raise RuntimeError("injected checkpoint failure")

    edges = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    before = _persisted(spark)
    monkeypatch.setattr(type(edges), "localCheckpoint", failing_checkpoint)
    with pytest.raises(RuntimeError, match="injected"):
        pagerank(edges, iters=3)
    assert _persisted(spark) - before <= 0


def test_two_components(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (4, 5)], "a long, b long"
    )
    labels = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


@pytest.mark.slow
def test_pagerank_star_graph(spark):
    """Hub of a star graph must outrank the leaves; ranks stay in a
    simplex-ish range under the no-dangling-redistribution form."""
    from clearcare_data_pipeline_spark.operators.graph import pagerank

    # leaves 2..5 all point at hub 1; hub points back at leaf 2
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2)], "src long, dst long"
    )
    pr = {r.node: r.pr for r in pagerank(edges, iters=10).collect()}
    # mass cycles between hub and leaf 2; both must dominate the
    # in-edge-less leaves, which stay at the base rank and equal
    assert pr[1] > pr[3] and pr[2] > pr[3]
    assert abs(pr[3] - pr[4]) < 1e-12 and abs(pr[4] - pr[5]) < 1e-12
    assert abs(pr[3] - 0.15 / 5) < 1e-12


def test_pagerank_symmetric_pair(spark):
    from clearcare_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    pr = {r.node: r.pr for r in pagerank(edges, iters=5).collect()}
    # perfectly symmetric: both hold 1/2 of the mass at every iteration
    assert abs(pr[1] - 0.5) < 1e-12 and abs(pr[2] - 0.5) < 1e-12


def test_pagerank_preserves_caller_cache(spark):
    """A caller-cached edges frame must stay cached after pagerank
    returns (ADVICE r6: unpersist is not reference-counted)."""
    from pyspark import StorageLevel

    from clearcare_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long").persist()
    try:
        edges.count()
        pagerank(edges, iters=2).collect()
        assert edges.storageLevel != StorageLevel.NONE
    finally:
        edges.unpersist()
