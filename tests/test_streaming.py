"""Structured Streaming tests: incremental ingest equals batch ingest
(byte-identical per url, exactly-once on restart), watermarked windowed
aggregate equals the batch groupBy."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
    incremental_ingest,
    windowed_event_counts,
)


def test_incremental_ingest_matches_batch(spark, pages_parquet, tmp_path):
    pages_dir = str(tmp_path / "pages_stream")
    os.makedirs(pages_dir)
    shutil.copy(pages_parquet, os.path.join(pages_dir, "part-000.parquet"))

    wh = str(tmp_path / "wh_stream")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_ingest(spark, pages_dir, wh, ckpt)
    q.awaitTermination(120)

    from medical_doc_knowledge_graph_system_spark.operators.chunk import chunk_pages
    from medical_doc_knowledge_graph_system_spark.operators.extract import (
        chunk_features,
        triple_rows,
    )

    batch_pages = spark.read.parquet(pages_parquet)
    batch_chunks = {
        (r.chunk_id, r.text) for r in chunk_pages(batch_pages).collect()
    }
    stream_chunks = {
        (r.chunk_id, r.text) for r in spark.read.parquet(f"{wh}/chunks").collect()
    }
    assert stream_chunks == batch_chunks

    batch_triples = {
        (r.chunk_id, r.subj, r.pred, r.obj)
        for r in triple_rows(chunk_features(chunk_pages(batch_pages))).collect()
    }
    stream_triples = {
        (r.chunk_id, r.subj, r.pred, r.obj)
        for r in spark.read.parquet(f"{wh}/triples_raw").collect()
    }
    assert stream_triples == batch_triples

    # restart with the same checkpoint: no new files -> no duplicate appends
    n_before = spark.read.parquet(f"{wh}/chunks").count()
    q2 = incremental_ingest(spark, pages_dir, wh, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(f"{wh}/chunks").count() == n_before

    # crash-replay window: batch written but stream commit not yet recorded
    # (foreachBatch is at-least-once). Deleting the commit marker forces the
    # engine to replay the batch with the SAME batch_id on restart; the
    # per-batch-directory overwrite must keep table contents exactly-once.
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q3 = incremental_ingest(spark, pages_dir, wh, ckpt)
    q3.awaitTermination(60)
    assert spark.read.parquet(f"{wh}/chunks").count() == n_before
    assert spark.read.parquet(f"{wh}/triples_raw").count() == len(batch_triples)


def test_compact_graph_matches_batch(spark, pages_parquet, warehouse50, tmp_path):
    """Streaming appends + compaction == batch pipeline graph."""
    import os

    from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
        compact_graph,
    )

    pages_dir = str(tmp_path / "pages_c")
    os.makedirs(pages_dir)
    shutil.copy(pages_parquet, os.path.join(pages_dir, "part-000.parquet"))
    wh = str(tmp_path / "wh_c")
    q = incremental_ingest(spark, pages_dir, wh, str(tmp_path / "ck_c"))
    q.awaitTermination(120)

    stats = compact_graph(spark, wh)
    # re-run: idempotent
    stats2 = compact_graph(spark, wh)
    assert stats == stats2

    batch_root, _ = warehouse50
    batch_nodes = {
        (r.label, r.name, r.n_mentions)
        for r in spark.read.parquet(f"{batch_root}/nodes").collect()
    }
    got_nodes = {
        (r.label, r.name, r.n_mentions) for r in spark.read.parquet(f"{wh}/nodes").collect()
    }
    assert got_nodes == batch_nodes
    batch_edges = {
        (r.src, r.dst, r.rel_type, r.n_occurrences)
        for r in spark.read.parquet(f"{batch_root}/edges").collect()
    }
    got_edges = {
        (r.src, r.dst, r.rel_type, r.n_occurrences)
        for r in spark.read.parquet(f"{wh}/edges").collect()
    }
    assert got_edges == batch_edges


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    events_src = "/root/testdata/sf0.001/events.parquet"
    events_dir = str(tmp_path / "events_stream")
    os.makedirs(events_dir)
    shutil.copy(events_src, os.path.join(events_dir, "part-000.parquet"))

    out = windowed_event_counts(spark, events_dir)
    q = (
        out.writeStream.format("memory")
        .queryName("ev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from ev_counts").collect()
    }
    want = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(events_src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .collect()
    }
    assert got == want


def test_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState chunk dedup: a chunk re-delivered in a later
    microbatch is emitted exactly once."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
        dedup_chunk_stream,
    )

    src = str(tmp_path / "chunk_stream")
    os.makedirs(src)

    def write_batch(name, rows):
        t = pa.table(
            {
                "chunk_id": pa.array([r[0] for r in rows], pa.string()),
                "url": pa.array([r[1] for r in rows], pa.string()),
                "chunk_idx": pa.array([r[2] for r in rows], pa.int32()),
                "text": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        pq.write_table(t, os.path.join(src, name))

    write_batch("b0.parquet", [("c1", "u1", 0, "a"), ("c2", "u1", 1, "b"), ("c3", "u2", 0, "c")])

    schema = "chunk_id string, url string, chunk_idx int, text string"
    sink = str(tmp_path / "dedup_sink")

    def run_stream():
        q = (
            dedup_chunk_stream(
                spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    got1 = [r.chunk_id for r in spark.read.parquet(sink).collect()]
    assert sorted(got1) == ["c1", "c2", "c3"]

    # second delivery: c2 and c3 repeated, c4 new — state survives via the
    # stream checkpoint; only the genuinely new chunk is emitted
    write_batch("b1.parquet", [("c2", "u1", 1, "b"), ("c3", "u2", 0, "c"), ("c4", "u2", 1, "d")])
    run_stream()
    got2 = [r.chunk_id for r in spark.read.parquet(sink).collect()]
    assert sorted(got2) == ["c1", "c2", "c3", "c4"], got2


def test_stateful_dedup_bounded_window(spark, tmp_path):
    """The recent-window state contract: with max_state_entries=2 per shard,
    a re-delivery WITHIN the window is suppressed, a re-delivery OLDER than
    the window is re-emitted (and left to the batch MERGE), and state never
    exceeds the cap — replayed across more batches than the window holds."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
        dedup_chunk_stream,
    )

    src = str(tmp_path / "chunk_stream_w")
    os.makedirs(src)

    def write_batch(name, rows):
        t = pa.table(
            {
                "chunk_id": pa.array([r[0] for r in rows], pa.string()),
                "url": pa.array([r[1] for r in rows], pa.string()),
                "chunk_idx": pa.array([r[2] for r in rows], pa.int32()),
                "text": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        pq.write_table(t, os.path.join(src, name))

    schema = "chunk_id string, url string, chunk_idx int, text string"
    sink = str(tmp_path / "dedup_sink_w")

    def run_stream():
        q = (
            dedup_chunk_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                n_shards=1,  # one shard so the window applies to all chunks
                max_state_entries=2,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck_w"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # same url everywhere -> same shard; chunk_ids long enough to exercise
    # the 16-char prefix storage
    c = [f"chunk-{i:02d}-0123456789abcdef" for i in range(4)]
    write_batch("b0.parquet", [(c[1], "u", 0, "a"), (c[2], "u", 1, "b")])
    run_stream()
    # window now [c1, c2]
    write_batch("b1.parquet", [(c[2], "u", 1, "b"), (c[3], "u", 2, "c")])
    run_stream()
    # c2 within window -> suppressed; c3 emitted; window now [c2, c3], c1 evicted
    write_batch("b2.parquet", [(c[1], "u", 0, "a"), (c[3], "u", 2, "c")])
    run_stream()
    # c1 is OLDER than the window -> re-emitted; c3 within -> suppressed
    got = sorted(r.chunk_id for r in spark.read.parquet(sink).collect())
    assert got == sorted([c[1], c[2], c[3], c[1]]), got


def test_available_now_drain_matches_batch(spark):
    """run_windowed_counts_available_now over the driver's single-file events
    parquet (timestamp_ntz) drains to exactly the batch hourly aggregate —
    the stream_hourly driver-gate contract."""
    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
        run_windowed_counts_available_now,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    out = run_windowed_counts_available_now(spark, path, "t_stream_hourly")
    batch = (
        spark.read.parquet(path)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour_str"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_dedup_prefix_is_the_dedup_key():
    """Emission matches the prefix-keyed state contract (ADVICE r3): two
    DISTINCT chunk_ids sharing a 16-char md5 prefix emit once even within a
    single microbatch, and eager eviction keeps state at the cap with `seen`
    in sync (a same-batch re-delivery of an evicted prefix re-emits).
    Unit-level: drives the pandas state function directly with a stub
    GroupState (no stream machinery needed for the contract)."""
    import pandas as pd

    from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
        _make_dedup_fn,
    )

    class StubState:
        exists = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, t):
            self.stored = t
            self.exists = True

    def batch(rows):
        return pd.DataFrame(rows, columns=["chunk_id", "url", "chunk_idx", "text"])

    fn = _make_dedup_fn(2)
    st = StubState()
    # a/b share the first 16 chars; only the first emits
    twin_a = "PFX0123456789abc-a"
    twin_b = "PFX0123456789abc-b"
    out = list(fn((0,), [batch([(twin_a, "u", 0, "x"), (twin_b, "u", 1, "y")])], st))
    assert [r for o in out for r in o["chunk_id"]] == [twin_a]
    assert list(st.stored[0]) == [twin_a[:16]]

    # one batch bigger than the window: state lands AT the cap (eager
    # eviction), and a re-delivery of the evicted oldest chunk inside the
    # SAME later chunk-list re-emits (seen stays in sync with the window)
    cs = [f"c{i:x}" * 8 for i in range(4)]  # 16-char distinct ids
    out = list(
        fn(
            (0,),
            [
                batch([(c, "u", i, "t") for i, c in enumerate(cs[:3])]),
                batch([(cs[0], "u", 0, "t"), (cs[3], "u", 3, "t")]),
            ],
            st,
        )
    )
    emitted = [r for o in out for r in o["chunk_id"]]
    # cs[0..2] fresh; then cs[0] was evicted when cs[2] arrived (cap=2) so it
    # re-emits; cs[3] fresh
    assert emitted == [cs[0], cs[1], cs[2], cs[0], cs[3]]
    assert len(st.stored[0]) == 2


def test_consume_changes_poll_loop_and_replay(spark, tmp_path):
    """r5 CDC consumer: first poll processes the whole backlog; subsequent
    polls see only the buckets the intervening commits rewrote; an idle
    poll processes nothing; a crash BEFORE the watermark write replays the
    same window (at-least-once), which idempotent sinks absorb."""
    import pytest

    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse
    from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
        consume_changes,
    )

    root = str(tmp_path / "wh")
    state = str(tmp_path / "cdc_state.json")
    wh = Warehouse(root)
    wh.write_bucketed(
        spark.createDataFrame(
            [(f"u{i}", 0) for i in range(16)], "url string, v int"
        ),
        "t",
        n_buckets=4,
    )
    seen: dict[str, int] = {}

    def sink(df):
        seen.update({r.url: r.v for r in df.collect()})  # idempotent by key

    r1 = consume_changes(spark, root, "t", state, sink)
    assert r1["rows"] == 16 and len(seen) == 16  # full backlog
    r_idle = consume_changes(spark, root, "t", state, sink)
    assert r_idle["rows"] == 0

    wh.merge_upsert(
        spark.createDataFrame([("u3", 1)], "url string, v int"), "t", ["url"]
    )
    wh.merge_upsert(
        spark.createDataFrame([("u5", 2)], "url string, v int"), "t", ["url"]
    )
    # crash mid-poll: process_fn raises AFTER reading -> watermark untouched
    with pytest.raises(RuntimeError):
        consume_changes(
            spark, root, "t", state,
            lambda df: (_ for _ in ()).throw(RuntimeError("sink crash")),
        )
    r2 = consume_changes(spark, root, "t", state, sink)  # replayed window
    assert 0 < r2["rows"] < 16  # only the touched buckets, not the table
    assert seen["u3"] == 1 and seen["u5"] == 2
    assert consume_changes(spark, root, "t", state, sink)["rows"] == 0


def test_kmv_stream_fold_equals_batch_sketch(spark, tmp_path):
    """Streaming KMV across 3 microbatches == the batch kmv_distinct on
    the full input (merge associativity), and the per-key state/emission
    carries a strictly increasing n_rows for latest-row selection."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.functions.sketches import (
        kmv_distinct,
    )
    from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
        kmv_stream,
    )

    src = str(tmp_path / "kmv_stream")
    os.makedirs(src)
    rows = [("a", v % 57) for v in range(300)] + [("b", v % 9) for v in range(90)]
    for i in range(3):
        part = rows[i::3]
        t = pa.table(
            {
                "event_type": pa.array([r[0] for r in part], pa.string()),
                "user_id": pa.array([r[1] for r in part], pa.int64()),
            }
        )
        pq.write_table(t, os.path.join(src, f"b{i}.parquet"))

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        kmv_stream(stream, k=16)
        .writeStream.format("memory")
        .queryName("kmv_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tbl = spark.table("kmv_test")
    # 3 batches x 2 keys touched each -> 6 emissions, n_rows increasing
    per_key = {
        r.event_type: sorted(x.n_rows for x in tbl.where(F.col("event_type") == r.event_type).collect())
        for r in tbl.select("event_type").distinct().collect()
    }
    assert per_key["a"] == [100, 200, 300] and per_key["b"] == [30, 60, 90]
    last = tbl.groupBy("event_type").agg(
        F.max_by("n_min", "n_rows").alias("n_min"),
        F.max_by("h_k", "n_rows").alias("h_k"),
    )
    got = {(r.event_type, r.n_min, r.h_k) for r in last.collect()}
    batch = kmv_distinct(
        spark.createDataFrame(rows, "event_type string, user_id long"),
        ["event_type"],
        "user_id",
        k=16,
    )
    expect = {(r.event_type, r.n_min, r.h_k) for r in batch.collect()}
    assert got == expect


def test_session_windows_stream_merges_across_batches_and_flushes(spark, tmp_path):
    """Native streaming session windows: a session whose events span two
    microbatches MERGES in the state store; the far-future sentinel batch
    advances the watermark past every real session so append mode emits
    them all (the drain-by-watermark flush)."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
        session_windows_stream,
    )

    def write(path, rows, mtime):
        t = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        )
        pq.write_table(t, path)
        os.utime(path, (mtime, mtime))

    base = dt.datetime(2024, 1, 5, 10, 0, 0)

    def m(mins):
        return base + dt.timedelta(minutes=mins)

    src = str(tmp_path / "sess_stream")
    os.makedirs(src)
    now = time.time()
    # user 1's single session spans the file boundary (10:10 -> 10:20 is
    # within the 30-min gap); user 2 has two separate singleton sessions
    write(os.path.join(src, "a.parquet"), [(1, m(0)), (1, m(10)), (2, m(0))], now - 100)
    write(os.path.join(src, "b.parquet"), [(1, m(20)), (1, m(25)), (2, m(90))], now - 50)
    write(
        os.path.join(src, "z_sentinel.parquet"),
        [(-1, dt.datetime(2150, 1, 1))],
        now,
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        session_windows_stream(stream)
        .writeStream.format("memory")
        .queryName("sessnat_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.n_events, r.t0, r.t1)
        for r in spark.table("sessnat_test").where("user_id >= 0").collect()
    }
    assert got == {
        (1, 4, m(0), m(25)),
        (2, 1, m(0), m(0)),
        (2, 1, m(90), m(90)),
    }


def test_hll_stream_fold_equals_batch_sketch(spark, tmp_path):
    """Streaming HLL across 3 microbatches == the batch hll_distinct on
    the full input (register MAX is associative+commutative+idempotent);
    n_rows strictly increases per touched key for latest-row selection."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.functions.sketches import (
        hll_distinct,
        hll_estimate,
        hll_regs_to_moments,
    )
    from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
        hll_stream,
    )

    src = str(tmp_path / "hll_stream")
    os.makedirs(src)
    rows = [("a", str(v % 211)) for v in range(600)] + [
        ("b", str(v % 13)) for v in range(90)
    ]
    for i in range(3):
        part = rows[i::3]
        t = pa.table(
            {
                "event_type": pa.array([r[0] for r in part], pa.string()),
                "ud": pa.array([r[1] for r in part], pa.string()),
            }
        )
        pq.write_table(t, os.path.join(src, f"b{i}.parquet"))

    stream = (
        spark.readStream.schema("event_type string, ud string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        hll_stream(stream, "ud")
        .writeStream.format("memory")
        .queryName("hll_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tbl = spark.table("hll_test")
    per_key = {
        r.event_type: sorted(
            x.n_rows
            for x in tbl.where(F.col("event_type") == r.event_type).collect()
        )
        for r in tbl.select("event_type").distinct().collect()
    }
    assert per_key["a"] == [200, 400, 600] and per_key["b"] == [30, 60, 90]
    last = tbl.groupBy("event_type").agg(
        F.max_by("regs", "n_rows").alias("regs")
    )
    n_regs, sum_q = hll_regs_to_moments(F.col("regs"))
    got = {
        (r.event_type, r.n_regs, r.zero_regs, r.denom_q, r.hll_est)
        for r in hll_estimate(
            last.select("event_type", n_regs.alias("n_regs"), sum_q.alias("sum_q")),
            ["event_type"],
        ).collect()
    }
    batch = hll_distinct(
        spark.createDataFrame(rows, "event_type string, ud string"),
        ["event_type"],
        "ud",
    )
    expect = {
        (r.event_type, r.n_regs, r.zero_regs, r.denom_q, r.hll_est)
        for r in batch.collect()
    }
    assert got == expect


def test_hist_stream_fold_equals_batch_sketch(spark, tmp_path):
    """Streaming histogram cells across 3 microbatches: update-mode
    emission of a NATIVE streaming count is monotone per (key, bin), so
    max(c) over the drained sink is the final cell value and the shared
    hist_estimate yields exactly the batch sketch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.functions.sketches import (
        hist_bin,
        hist_estimate,
        hist_quantiles,
    )

    src = str(tmp_path / "hist_stream")
    os.makedirs(src)
    rows = [("a", float(v % 97)) for v in range(300)] + [
        ("b", float(3 + v % 7)) for v in range(60)
    ]
    for i in range(3):
        part = rows[i::3]
        t = pa.table(
            {
                "event_type": pa.array([r[0] for r in part], pa.string()),
                "value": pa.array([r[1] for r in part], pa.float64()),
            }
        )
        pq.write_table(t, os.path.join(src, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.groupBy(
            "event_type", hist_bin(F.col("value"), 0.0, 128.0, 128).alias("bin")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .writeStream.format("memory")
        .queryName("hist_fold_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cells = spark.table("hist_fold_test").groupBy("event_type", "bin").agg(
        F.max("c").alias("c")
    )
    got = {
        tuple(r)
        for r in hist_estimate(cells, ["event_type"], 0.0, 128.0, 7).collect()
    }
    batch = hist_quantiles(
        spark.createDataFrame(rows, "event_type string, value double"),
        ["event_type"],
        "value",
        lo=0.0,
        hi=128.0,
        bits=7,
    )
    assert got == {tuple(r) for r in batch.collect()}


# ── __spark_entry__._drain_stream: the file-staged stream gate harness ──────


@pytest.fixture
def drain_env(spark, tmp_path, monkeypatch):
    """Staging dirs land in tmp_path; shuffle partitions start at 5, so a
    leaked drain setting (8) is visible."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _staging_dirs(root):
    return [p for p in os.listdir(root) if p.startswith("mdkgs_")]


def test_drain_stream_replays_frames_in_list_order(spark, tmp_path, drain_env):
    """Frames of 3, 1 and 2 rows drained through a running count: each
    frame is one microbatch, so the update-mode emissions are the prefix
    sums in list order (every other order gives a different set). The
    shuffle-partition setting is restored and the staging dir removed."""
    import __spark_entry__ as entry

    frames = [spark.range(0, 3), spark.range(3, 4), spark.range(4, 6)]
    out = entry._drain_stream(
        spark,
        str(tmp_path),
        "drain_order",
        [frames],
        lambda st: st.groupBy().count(),
        "update",
    )
    assert sorted(r["count"] for r in out.collect()) == [3, 4, 6]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert _staging_dirs(tmp_path) == []


def _raise_in_build(st):
    raise ValueError("build failed")


def _fail_in_drain(st):
    return st.select(F.assert_true(F.col("id") < 0))


@pytest.mark.parametrize("build", [_raise_in_build, _fail_in_drain])
def test_drain_stream_cleans_up_when_build_fails(spark, tmp_path, drain_env, build):
    """A build that raises while planning, or a query that fails inside the
    drain (after the 8-partition setting is applied): either way the old
    shuffle-partition setting is back and the staging dir is gone."""
    import __spark_entry__ as entry

    with pytest.raises(Exception):
        entry._drain_stream(
            spark,
            str(tmp_path),
            "drain_fail",
            [[spark.range(2), spark.range(2, 4)]],
            build,
            "append",
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert _staging_dirs(tmp_path) == []
