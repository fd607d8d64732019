"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; all settings are
chosen to be cluster-valid (AQE, Arrow, skew-join) rather than local hacks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _default_driver_mem() -> str:
    """48g, or half the host's physical memory when that is smaller. In
    local mode the driver JVM holds every executor, and G1 grows the heap
    towards its cap rather than collecting: with a cap above physical
    memory the OS kills the driver before the GC runs (a 4-core, 16 GB
    host reached 15 GB RSS halfway through the test suite)."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb // 2)}m"


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
