"""Session defaults that shape memory use."""

from pyspark.sql import functions as F


def _broadcast_data_sizes(spark) -> list[str]:
    """The "data size" metric of every BroadcastExchange in the
    session's most recent SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    exec_id = execs.apply(execs.size() - 1).executionId()
    values = store.executionMetrics(exec_id)
    nodes = store.planGraph(exec_id).allNodes()
    sizes = []
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if node.name() != "BroadcastExchange":
            continue
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "data size":
                sizes.append(values.get(m.accumulatorId()).get())
    return sizes


def test_wide_key_broadcast_relation_is_small(spark):
    """A (bigint, int) join key does not pack into one long, so the
    broadcast side is built in a BytesToBytesMap, which takes one whole
    Tungsten page. At Spark's page size derived from the default heap
    (64 MiB) a 100-row table held 64 MiB in the block store until the
    context cleaner dropped it."""
    small = spark.range(100).select(F.col("id").alias("k"), F.col("id").cast("int").alias("n"))
    big = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), (F.col("id") % 100).cast("int").alias("n")
    )
    assert big.join(F.broadcast(small), ["k", "n"]).count() == 1000
    sizes = _broadcast_data_sizes(spark)
    assert len(sizes) == 1
    value, unit = sizes[0].split()
    assert unit in ("B", "KiB") or (unit == "MiB" and float(value) <= 8), sizes
