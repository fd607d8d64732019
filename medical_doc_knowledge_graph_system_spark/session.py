"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; all settings are
chosen to be cluster-valid (AQE, Arrow, skew-join) rather than local hacks.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd


def _default_driver_mem() -> str:
    """48g, or half the host's physical memory when that is smaller. In
    local mode the driver JVM holds every executor, and G1 grows the heap
    towards its cap rather than collecting: with a cap above physical
    memory the OS kills the driver before the GC runs (a 4-core, 16 GB
    host reached 15 GB RSS halfway through the test suite)."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb // 2)}m"


# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). A cache below a session's working set of distinct plans
# recompiles most of them on every pass, and the JIT then warms each new
# class from scratch. The cache evicts per segment (4 segments of
# bound / 4), so it thrashes below its nominal size: the bound must sit
# well above the working set. Measured on a 4-core host with
# tools/jit_probe.py, codegen compiles per warm pass:
#   perfbench tour (build + retrieve + graph + dedup, one session, ~332
#   classes): 100 -> ~450, 250 -> 308, 500 / 1000 / 2000 -> 8. The 8 (remap's
#   size probe and multi_source_shortest_paths) are new classes on every
#   call whatever the bound.
#   analytics (~111 classes): 100 -> 57-73, 250 / 500 / 2000 -> 0;
#   build (~92 classes): 100 -> 38, 500 -> 4.
# The memory cost does not show at 500: after all 294 __spark_entry__
# gates in one session (tools/heap_probe.py --mode gates, sf0.01),
# 100 -> 500 read Metaspace 205 -> 207 MB and CodeHeaps 129 -> 127 MB;
# tier-1 suite peak driver RSS 4283 -> 4564 MB (one noisy run each); no
# "CodeCache is full" in either.
CODEGEN_CACHE_ENTRIES = 500


def get_spark(
    app_name: str = "mdkgs_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or max(int(cores) * 2, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # accept HashPartitioning on a subset of the join keys for
        # co-partitioned joins: lets url-bucketed warehouse tables join on
        # (url, chunk_id) with no Exchange. Safe here — the subset key (url)
        # is the bucketing key itself, so per-partition skew is identical to
        # the bucket layout already chosen.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # a static conf: it must be set before the session exists
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def literal_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small static table (code-level dictionary) as a JVM-only plan:
    Range(1) + inline(array(struct(lit, ...), ...)).

    `createDataFrame(list)` plans as `Scan ExistingRDD` over a Python RDD,
    so every scan of it starts a Python worker job. This frame has no
    Python in its plan. Use it for static dictionaries of a few hundred
    rows at most: every value is a literal in the plan, so data-sized
    results belong in `createDataFrame`."""
    if not rows:
        raise ValueError("literal_frame needs at least one row")
    schema = T.StructType.fromDDL(ddl)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, schema.fields, strict=True)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, numPartitions=1).select(F.inline(F.array(*structs)))


# The driver-vs-distributed bound: inputs of at most this many rows are
# fetched by driver_rows and solved in driver memory.
DRIVER_MAX_ROWS = 500_000

# connected_components' tighter edge bound. Its driver path also fetches
# every node and returns one row per node as a LocalTableScan, and that
# cost grows past the distributed loop's. Measured on a 4-core host,
# local[4], pinned inputs, clusters of 4 nodes with 3 random edges each,
# timed through _canonical_per_component(...).count(), warm minimum of
# 6-8 alternating reps: 200k edges / 267k nodes, driver 4.05 s vs
# distributed 4.11 s; 450k edges / 600k nodes, 9.28 s vs 6.53 s.
CC_DRIVER_MAX_EDGES = 200_000


def driver_rows(df: DataFrame, max_rows: int | None = None) -> pd.DataFrame | None:
    """``df`` as a pandas frame when it has at most DRIVER_MAX_ROWS rows
    (or the tighter ``max_rows``), else None: the caller runs its
    distributed path.

    One evaluation of the (usually unpinned) lineage: a single
    ``limit(bound + 1)`` fetch, not a size probe followed by a second
    fetch, so under the bound the fetch is the complete frame. The bounds
    are read at call time and DRIVER_MAX_ROWS caps ``max_rows``, so
    setting ``session.DRIVER_MAX_ROWS`` moves every driver choice at once.

    Why the driver: a name dictionary, a merge-candidate edge list or a KG
    vocabulary graph is bounded by distinct terms, orders of magnitude
    smaller than the corpus, and the reference serves the same questions
    from one Neo4j server. On the driver they are one job; a distributed
    loop pays ~0.3 s of scheduling latency per round or hop.

    Why Arrow: above the bound the fetched rows are thrown away. At
    500,001 rows an Arrow toPandas costs ~0.2 s over a bare count, where a
    Row collect costs ~2.5-3.5 s (4-core host)."""
    bound = DRIVER_MAX_ROWS if max_rows is None else min(max_rows, DRIVER_MAX_ROWS)
    pdf = df.limit(bound + 1).toPandas()
    return None if len(pdf) > bound else pdf


def pin_rows(df: DataFrame) -> tuple[DataFrame, int]:
    """(``df`` pinned by an eager localCheckpoint, its row count).

    The count is an Observation on the pin's own job, so an iterative
    loop learns its frontier or node count without a separate count() or
    take(1) job over the pinned frame. A frame that is empty, statically
    or after a filter, counts 0."""
    obs = Observation()
    pinned = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return pinned, obs.get["n"]
