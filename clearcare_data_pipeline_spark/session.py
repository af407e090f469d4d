"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
are the ones we would ship as cluster defaults (AQE on, skew-join
handling on, Arrow on, UTC session time zone so results are
timezone-stable and comparable against UTC-naive engines like DuckDB).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")


def _default_heap_gib() -> int:
    """Driver -Xmx in GiB: 1 per local core, floor 8, clamped to half
    of physical RAM (ADVICE r7 #3: on a high-core/low-RAM host, e.g.
    96 cores / 64 GB, the unclamped max(8, cpu_count) let the heap
    grow past physical memory and the OS OOM-killer took the JVM where
    the old 8g cap would merely have spilled). SPARK_DRIVER_MEMORY
    still overrides everything."""
    cores = max(8, os.cpu_count() or 8)
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_gib = int(line.split()[1]) // (1024 * 1024)
                    break
            else:
                return cores
    except OSError:
        return cores
    return max(2, min(cores, mem_gib // 2))


def get_spark(app_name: str = "clearcare-spark") -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    Shuffle partitions = the machine's core count: at local test scale
    one partition per core avoids over-parallelizing tiny shuffles; on a
    real cluster AQE coalescing (enabled) sizes them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(os.cpu_count() or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode runs driver AND all executor threads in ONE JVM,
        # so the heap scales with the thread count: 1 GiB per local
        # core, floor 8g, clamped to half of physical RAM (see
        # _default_heap_gib). -Xmx is a cap, not a reservation, so small
        # runs pay nothing; sf10-sized runs (60M-row shuffles + pinned
        # broadcast codebooks across 32 threads) get headroom instead
        # of spilling. (An earlier note here blamed GC churn for 4-6x
        # sf1 bench outliers; -Xlog:gc* later exonerated GC — the
        # outliers were a leftover JVM from a killed run competing for
        # cores, now guarded against in bench.py. A/B at sf1 measured
        # 8g vs 32g as a wash on a quiet machine.) On a real cluster
        # the driver carries no executor threads and deployments
        # override this knob (SPARK_DRIVER_MEMORY).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", f"{_default_heap_gib()}g"),
        )
        # The verify harness collects multi-million-row results via
        # toPandas; the 1g default aborts a >1 GiB collect at sf1 (and
        # the severed Arrow stream then surfaces as confusing
        # ArrowMemoryErrors on later queries).
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_DRIVER_MAX_RESULT_SIZE", "8g"),
        )
        .config("spark.ui.enabled", "false")
        # Parquet scans: 128 MiB split targets keep partitions
        # executor-memory-safe at large SF while remaining the right
        # granularity for local[32] over small files.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Tungsten page size. Spark derives it from heap / cores (64 MiB
        # with the default heap above on 4 cores), and a broadcast hash
        # relation whose keys do not pack into one long (q5's supplier
        # side, the MinHash band table) takes one whole page: 64 MiB
        # for 100 or 2,200 rows, held in the block store until the
        # context cleaner gets to it. 4 MiB still addresses 32 GiB per
        # task.
        .config("spark.buffer.pageSize", "4m")
    )
    return builder.getOrCreate()


def _gateway():
    """The live py4j gateway, or None where there is none (no JVM yet,
    or Spark Connect, whose Columns are plain Python)."""
    return SparkContext._gateway


def gateway_cache(build: Callable[..., T]) -> Callable[..., T]:
    """A ``functools.cache`` for builders of Columns that do not change
    from one campus to the next.

    A classic Column is a handle on a JVM object, and building one costs
    a py4j round trip per function applied. A builder whose output
    depends only on its hashable arguments and on import-time constants
    can build once and serve every later plan: Spark gives a Column's
    expressions fresh IDs each time a plan uses it. Keys must come from
    a small fixed set (column names of the canonical schema, subsets of
    them), never from a file's own content such as its header, which
    differs from one hospital to the next and would only grow the memo.

    The entries are tagged with the gateway object they were built on
    and dropped when ``SparkContext._gateway`` holds a different one.
    PySpark itself never swaps the gateway within a process (it sets it
    once and ``stop()`` keeps it), so the check guards only against code
    that resets ``SparkContext._gateway`` to start a new JVM; a JVM that
    dies under the same gateway object is not detected. With no gateway
    (Spark Connect) it is a plain memo. Results are shared: callers must
    not mutate a returned list or dict. A builder that reads a module
    constant tests patch at call time must stay uncached."""
    memo = functools.cache(build)
    owner = [None]

    @functools.wraps(build)
    def cached(*args):
        gateway = _gateway()
        if gateway is not owner[0]:
            memo.cache_clear()
            owner[0] = gateway
        return memo(*args)

    return cached
