"""Structured Streaming surface.

The reference is a synchronous batch system (SURVEY §2.H: no streaming
operators), so the required analogue is resumability (pipeline checkpoints).
This module adds the natural Spark extensions on top:

  * incremental page ingest: readStream over a pages directory ->
    foreachBatch reusing the SAME batch operators (chunk + extract), with
    idempotent per-batch-directory writes (overwrite of batch_id=N) so that
    checkpoint replay after a crash yields exactly-once table contents —
    new Common-Crawl snapshots flow into mentions_raw/triples_raw without
    reprocessing old pages; resolution + materialization run as periodic
    batch compaction (the Kappa-style pattern).
  * watermarked tumbling-window aggregation over the events stream —
    the standard late-data-tolerant streaming aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.chunk import chunk_pages
from ..operators.extract import chunk_features, mention_rows, triple_rows

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def incremental_ingest(
    spark: SparkSession,
    pages_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Stream pages_dir (parquet files) -> chunks/mentions/triples tables.

    foreachBatch reuses the exact batch operators, so streaming and batch
    ingests are byte-identical per url. Writes are idempotent: each batch
    lands in its own batch_id=N partition directory with mode overwrite, so
    a batch replayed after a crash (foreachBatch is at-least-once — the
    stream checkpoint commits AFTER the function returns) rewrites the same
    directory instead of appending duplicates. Checkpoint replay + idempotent
    writes = exactly-once table contents.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        chunks = chunk_pages(batch_df)
        chunks.persist()
        features = chunk_features(chunks, with_embedding=False)
        features.persist()
        # batch_id is stable across replays of the same epoch — overwrite of
        # the per-batch partition dir makes the replayed write a no-op
        for df, table in (
            (chunks, "chunks"),
            (mention_rows(features), "mentions_raw"),
            (triple_rows(features), "triples_raw"),
        ):
            df.write.mode("overwrite").parquet(
                os.path.join(warehouse_root, table, f"batch_id={batch_id}")
            )
        features.unpersist()
        chunks.unpersist()

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_graph(spark: SparkSession, warehouse_root: str) -> dict:
    """Periodic batch compaction after incremental ingest: re-resolve over
    the accumulated raw tables and MERGE the graph tables by their natural
    keys (nodes on (label, name), edges on (src, dst, rel_type) — the
    reference's uniqueness-constraint upsert identities,
    app/graph/schema_setup.py:18-28). Safe to run repeatedly; the streaming
    appends plus this compaction give the same graph as a batch run."""
    from pyspark.sql import functions as F

    from ..operators.materialize import build_edges, build_nodes, dedup_mentions
    from ..operators.resolve import build_name_map, remap
    from ..sources.warehouse import Warehouse

    wh = Warehouse(warehouse_root)
    mentions_raw = wh.read(spark, "mentions_raw")
    triples_raw = wh.read(spark, "triples_raw")
    # triples' subj/obj ⊆ mention names (extract_chunk pairs a chunk's
    # mentions), so mentions_raw covers the dictionary
    name_map = build_name_map(mentions_raw.select("name").distinct()).localCheckpoint()
    mentions = dedup_mentions(remap(mentions_raw, name_map, "name"))
    triples = remap(triples_raw, name_map, "subj", "obj")
    wh.merge_upsert(build_nodes(mentions), "nodes", ["label", "name"])
    wh.merge_upsert(build_edges(triples), "edges", ["src", "dst", "rel_type"])
    return {
        "nodes": wh.read(spark, "nodes").count(),
        "edges": wh.read(spark, "edges").count(),
    }


def consume_changes(
    spark: SparkSession,
    warehouse_root: str,
    table: str,
    state_path: str,
    process_fn,
) -> dict:
    """One poll of a CDC consumer over the bucketed-warehouse change feed
    (r5): read every bucket rewritten since the persisted watermark
    (Warehouse.read_changes_since — pure committed metadata), run
    process_fn(changes_df), then atomically advance the watermark.

    Delivery contract (same as incremental_ingest's foreachBatch): the
    watermark advances ONLY after process_fn returns, so a crash between
    processing and the watermark write replays the same window next poll —
    at-least-once delivery, exactly-once EFFECTS when process_fn writes
    idempotently (e.g. merge_upsert keyed on the row identity, or an
    overwrite keyed on the watermark). Each replayed/caught-up window reads
    each changed bucket ONCE at its latest content, so reprocessing cost is
    O(changed buckets), never O(table).

    Returns {"from": v, "to": v', "rows": n} for observability."""
    import json as _json

    from ..sources.warehouse import Warehouse

    wh = Warehouse(warehouse_root)
    last = -1
    if os.path.exists(state_path):
        with open(state_path) as f:
            last = _json.load(f)["version"]
    cur = wh.current_version(table)
    if last < 0:
        # first poll: the whole current table is the backlog
        last = 0
    if cur <= last:
        return {"from": last, "to": cur, "rows": 0}
    changes = wh.read_changes_since(spark, table, last)
    n = changes.count()
    process_fn(changes)
    tmp = state_path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({"version": cur, "table": table}, f)
    os.replace(tmp, state_path)
    return {"from": last, "to": cur, "rows": n}


def windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate over a stream of events files:
    (window_start, event_type, n_events, sum_value). Late rows beyond the
    watermark are dropped; state is bounded."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_windows_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "3650 days",
) -> DataFrame:
    """Native streaming session windows: `F.session_window` under a
    watermark — the MERGING window state (sessions extend and merge as
    events arrive, the one window kind whose streaming state cannot be
    keyed by a fixed window start). Emission is append-mode: a session row
    is emitted exactly once, when the watermark passes its close.

    Two deliberate choices for deterministic finite replays of the
    unbounded source:
      * the huge default watermark delay means NO real row is ever dropped
        as late whatever order the files/batches arrive in — arrival order
        can reorder state updates but never the final merged sessions;
      * the caller flushes the tail by appending a far-future SENTINEL row
        as the last batch: the global watermark jumps past every real
        session's close, so every session is finalized and emitted (the
        standard drain-by-watermark pattern; filter the sentinel key out
        of the drained sink).

    Event-time column `ts` is cast to ltz timestamp (watermarks require
    it; sessions run in UTC so the cast is wall-clock identity); min/max
    event times are aggregated from a copy so the watermark column itself
    never appears in an aggregate."""
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts2", F.col("ts"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts2").alias("t0"),
            F.max("ts2").alias("t1"),
        )
    )


def run_windowed_counts_available_now(
    spark: SparkSession,
    events_path: str,
    query_name: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Execute the windowed streaming aggregate over an existing events
    parquet (file or directory) with Trigger.AvailableNow and a
    complete-mode memory sink; returns the drained result as a batch
    DataFrame.

    This is the driver-gated entry for the streaming family: AvailableNow
    processes everything currently present and stops, so the result is
    deterministic and equal to the batch GROUP BY — exactly what the DuckDB
    oracle checks. File-source quirks handled: a single-file path streams
    via its parent directory + pathGlobFilter (the file source requires a
    directory basePath), and a timestamp_ntz event-time column is cast to
    timestamp (watermarks require ltz; sessions run in UTC so the cast is
    wall-clock identity)."""
    reader = spark.readStream
    if os.path.isdir(events_path):
        base = events_path
    else:
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        base = os.path.dirname(events_path)
    schema = spark.read.parquet(events_path).schema
    stream = (
        reader.schema(schema)
        .parquet(base)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour_str"),
        "event_type",
        "n_events",
        "sum_value",
    )


def upsert_sink(wh, name: str, keys: list[str]):
    """A foreachBatch MERGE sink into a warehouse table — the Structured
    Streaming -> Iceberg `MERGE INTO` pattern — with a BATCH-ID FENCE for
    exactly-once effects.

    Why merge alone isn't enough: foreachBatch is at-least-once (the stream
    checkpoint commits AFTER the function returns), and while re-merging
    the SAME batch is idempotent, a replay of an OLDER batch after a newer
    one has applied would clobber newer rows for shared keys —
    last-writer-wins inverted. The fence (a tmp+rename sidecar recording
    the highest applied batch id, written AFTER the merge commits) makes
    replays of any batch <= the fence a no-op:

      crash after merge, before fence  -> replay re-merges identical rows
                                          (idempotent) and re-writes the
                                          fence: same table either way;
      replay of an older batch         -> skipped at the fence.

    Iceberg parity: this is exactly Iceberg's snapshot-property
    commit-fencing for streaming writers (spark.sql streaming-watermark /
    wap.id dedup). Returns the function to pass to
    `stream.writeStream.foreachBatch(...)`.
    """
    import json

    fence_path = wh.path(f"{name}.sink.json")

    def _last_applied() -> int:
        if not os.path.exists(fence_path):
            return -1
        with open(fence_path) as f:
            return json.load(f)["last_batch"]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _last_applied():
            return  # replayed or out-of-order epoch: already in the table
        if not batch_df.isEmpty():
            wh.merge_upsert(batch_df, name, keys)
        tmp = fence_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_batch": batch_id}, f)
        os.replace(tmp, fence_path)

    return _process
