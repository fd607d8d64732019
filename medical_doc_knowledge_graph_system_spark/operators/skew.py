"""Skew-aware helpers: salted joins, hot-group-safe top-k and ranking.

The datagen plants a Zipf head entity, and the north rule wants that skew
handled explicitly. Algebraic aggregates (count/sum/min/max) need no helper
here: Spark's map-side partial aggregation already ships at most one row
per hot key per map task, so a plain groupBy().agg() is the skew-safe form,
and a salt on top only multiplies the partial rows that get shuffled. What
partial aggregation cannot do is split a hot key of a JOIN or of a
per-group WINDOW; the helpers below do that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def shuffle_width(spark, factor: int = 1) -> int:
    """The cluster-tuned repartition target for Arrow/compute stages:
    max(spark.sql.shuffle.partitions, defaultParallelism * factor).

    Use this — NOT an .rdd partition probe — when the input lineage may
    contain exchanges: under AQE, DataFrame.rdd forces the upstream shuffle
    stages to execute just to read a partition count, and the subsequent
    action re-executes them (no exchange reuse across query executions).
    shuffle.partitions is the width every shuffle in the job gets anyway,
    and on a real cluster it is sized to the data. Platforms that set the
    conf to a non-numeric value ("auto" under auto-optimized shuffle) fall
    back to defaultParallelism * factor."""
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_width = 0
    return max(conf_width, spark.sparkContext.defaultParallelism * factor)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition narrow inputs so CPU-heavy per-row map stages (shingle
    explode + k×md5, token hashing) use the whole cluster.

    Web-scale inputs arrive in thousands of file splits and are returned
    UNCHANGED — the check is metadata-only and the repartition never fires.
    It fires only when the scan yields fewer splits than cores (small files,
    single-row-group parquet — parquet cannot split inside a row group), in
    which case the shuffled data is by definition small.

    Safe on any frame: the .rdd partition probe is metadata-only for a plain
    scan, but under AQE it would EXECUTE the upstream shuffle stages of an
    exchange-bearing plan — so plans that already contain a SHUFFLE exchange
    are detected (physical planning only, no jobs) and returned unchanged:
    every shuffle already runs at shuffle-width parallelism, and the probe
    (or an extra repartition) would only add cost. A plan whose only exchange
    is a BroadcastExchange does NOT bail out (ADVICE r3): there the probe
    side's partitioning comes from the scan — possibly one split — and the
    probe's cost is just building the (by-definition small) broadcast side.
    ReusedExchange is also excluded from the bail-out (ADVICE r4): the plan
    string does not reveal the reused exchange's kind, and the common case
    in these pipelines is a reused BROADCAST exchange; a reused shuffle
    would at worst re-run at shuffle width (the pre-r3 conservative cost),
    never produce a wrong result.
    For hand-tuned widths on shuffle-bearing plans use shuffle_width()
    directly (chunk_pages / extract_features do)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    if re.search(r"(?<!Broadcast)(?<!Reused)Exchange", plan):
        return df
    sc = df.sparkSession.sparkContext
    n = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Hot-group-safe per-group top-k: a per-(group, input-partition)
    row_number prunes every partition to k candidates BEFORE the global
    per-group window, so a Zipf-headed group's reducer sorts at most
    k × num_partitions rows instead of the group's full size (a single
    `row_number over (partition by group)` puts the entire hot group on one
    reducer — the window-function analogue of the skewed join).

    Identical results to the single-window version: the global top-k of a
    group is contained in the union of its per-partition top-k's, and
    `order_cols` must be a TOTAL order (no ties) so both phases are
    deterministic. Phase-1's window key (group, partition-id) is skew-free
    by construction — no key exceeds its partition's size."""
    part = df.withColumn("__pid", F.spark_partition_id())
    w1 = Window.partitionBy(*group_cols, "__pid").orderBy(*order_cols)
    cand = (
        part.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
        .drop("__r1", "__pid")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return cand.withColumn(rank_col, F.row_number().over(w2)).where(
        F.col(rank_col) <= k
    )


def salted_join_big_small(
    big: DataFrame, small: DataFrame, key: str, how: str = "left"
) -> DataFrame:
    """Skew-safe shuffle join: replicate the small side across DEFAULT_SALTS
    salts and join on (key, salt). Used when the small side is too large to
    broadcast but the big side's key is skewed (remap above
    REMAP_BROADCAST_MAX).

    The SHUFFLE_HASH hint is unconditional: the join exists for a small
    side that cannot broadcast, and at test scale the replicated small side
    would still fit the broadcast threshold, so without the hint the
    measured plan would silently be the wrong (broadcast) one."""
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(DEFAULT_SALTS))
    )
    replicated = (
        small.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(DEFAULT_SALTS - 1))))
        .withColumn("__salt", F.col("__salt").cast("long"))
        .hint("shuffle_hash")
    )
    return salted_big.join(replicated, [key, "__salt"], how).drop("__salt")


def global_rank_bucketed(
    df: DataFrame,
    bucket_col: Column,
    order_cols: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Global row_number() without a global sort: the two-phase prefix-sum
    pattern applied to RANKING. `bucket_col` must be a coarse integer key
    where LARGER values rank FIRST and every row of a larger bucket ranks
    before any row of a smaller one (e.g. floor(score/W) for a
    score-descending rank; negate it for an ascending rank); `order_cols`
    is the exact total order and must sort bucket-compatibly.

    Phase 1 ranks each bucket independently (parallel, spill-safe window
    per bucket); phase 2 computes each bucket's global offset with an
    exclusive prefix sum over the |buckets|-row totals frame — the only
    single-partition window, bounded by the bucket fan-out, never by the
    data. A plain `row_number() OVER (ORDER BY ...)` funnels the ENTIRE
    table through one reducer — the thing this exists to avoid at 100 TB.
    """
    b = df.withColumn("__bkt", bucket_col.cast("long"))
    w_local = Window.partitionBy("__bkt").orderBy(*order_cols)
    local = b.withColumn("__lr", F.row_number().over(w_local))
    # bucket totals ordered by ranking priority: the first order_col's
    # direction determines whether higher buckets rank first
    w_off = Window.orderBy(F.col("__bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__tot"))
        .select(
            "__bkt",
            F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "__bkt")
        .withColumn(rank_col, (F.col("__lr") + F.col("__off")).cast("long"))
        .drop("__bkt", "__lr", "__off")
    )
