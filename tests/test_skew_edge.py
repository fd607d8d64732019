"""Skew-handling and edge-case tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from medical_doc_knowledge_graph_system_spark.corelib.textproc import chunk_page
from medical_doc_knowledge_graph_system_spark.operators.skew import salted_join_big_small


def test_salted_join_equals_plain(spark):
    big = spark.createDataFrame(
        [("hot" if i % 3 else f"k{i}", i) for i in range(1000)], "k string, x int"
    )
    small = spark.createDataFrame([("hot", 1), ("k1", 2), ("missing", 3)], "k string, y int")
    plain = {(r.k, r.x, r.y) for r in big.join(small, "k", "left").collect()}
    got = {(r.k, r.x, r.y) for r in salted_join_big_small(big, small, "k").collect()}
    assert got == plain


def test_topk_per_group_equals_single_window(spark):
    """Two-phase hot-group-safe top-k == the single per-group window, on a
    Zipf-headed fixture (one group holds 90% of rows) spread across many
    input partitions so the per-partition prune genuinely fires."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.operators.skew import (
        topk_per_group,
    )

    df = (
        spark.range(2000)
        .select(
            F.col("id"),
            F.when(F.col("id") % 10 < 9, F.lit("head")).otherwise(
                F.concat(F.lit("tail"), (F.col("id") % 7).cast("string"))
            ).alias("grp"),
        )
        .repartition(16)
    )
    order = [F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()]
    got = {
        (r.grp, r.id): r.rank
        for r in topk_per_group(df, ["grp"], order, 5).collect()
    }
    w = Window.partitionBy("grp").orderBy(*order)
    want = {
        (r.grp, r.id): r.rank
        for r in df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    }
    assert got == want and len(want) == 5 * 8  # head + 7 tail groups


def test_chunker_edge_cases():
    # null text and null html -> no chunks, no crash
    assert chunk_page("u", None, None) == []
    # html-only page chunks from stripped text
    out = chunk_page("u", None, b"<html><body><p>hello world</p></body></html>")
    assert len(out) == 1 and out[0]["text"] == "hello world"
    # pathological whitespace / unicode survive deterministically
    weird = "café — résumé\n\n中文 text"
    a, b = chunk_page("u", weird), chunk_page("u", weird)
    assert a == b and len(a) == 2


def test_pipeline_head_entity_skew_counts(spark, warehouse50, oracle50):
    """The Zipf head entity's mention count (a plain groupBy, relieved by
    map-side partial aggregation) must equal the oracle's count."""
    root, _ = warehouse50
    nodes = {
        (r.label, r.name): r.n_mentions
        for r in spark.read.parquet(f"{root}/nodes").collect()
    }
    from collections import Counter

    want = Counter((m["label"], m["name"]) for m in oracle50["mentions"])
    assert nodes == dict(want)
    # sanity: the head entity really is the hottest key
    head = max(nodes.items(), key=lambda kv: kv[1])
    assert head[0][1] == "Hypertension"


def test_remap_salted_path_equals_broadcast(spark, monkeypatch):
    """remap's automatic salted fallback (map exceeds REMAP_BROADCAST_MAX)
    must produce exactly what the broadcast path produces — including
    unmapped names passing through and multi-column remaps."""
    from medical_doc_knowledge_graph_system_spark.operators import resolve
    from medical_doc_knowledge_graph_system_spark.operators.resolve import remap

    df = spark.createDataFrame(
        [("a", "b", 1), ("b", "zz", 2), ("zz", "a", 3)],
        "subj string, obj string, n int",
    )
    nm = spark.createDataFrame(
        [("a", "A"), ("b", "B")], "name string, canonical string"
    )
    want = sorted(map(tuple, remap(df, nm, "subj", "obj").collect()))
    monkeypatch.setattr(resolve, "REMAP_BROADCAST_MAX", 1)
    got = sorted(map(tuple, remap(df, nm, "subj", "obj").collect()))
    assert got == want == [("A", "B", 1), ("B", "zz", 2), ("zz", "A", 3)]


def test_global_rank_bucketed_equals_bare_window(spark):
    import random

    from pyspark.sql import Window
    from medical_doc_knowledge_graph_system_spark.operators.skew import (
        global_rank_bucketed,
    )

    rng = random.Random(3)
    rows = [(i, rng.randrange(500)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, score long").repartition(7)
    order = [F.desc("score"), F.asc("doc_id")]
    want = {
        (r.doc_id, r.rank)
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    for width in (1, 16, 100_000):
        got = {
            (r.doc_id, r.rank)
            for r in global_rank_bucketed(
                df, F.floor(F.col("score") / width), order
            ).collect()
        }
        assert got == want, f"width={width}"
