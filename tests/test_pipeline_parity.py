"""End-to-end parity gates (BASELINE.md):
  * byte-identical extracted chunk text per url vs the single-process oracle
  * triple P/R >= 0.95 on distinct (subj, pred, obj)
  * mention-set equality
  * resumability: kill-and-resume completes from checkpoints
"""

from __future__ import annotations

import pytest

from medical_doc_knowledge_graph_system_spark.corelib.oracle import (
    precision_recall,
    triple_set,
)


def _rows(spark, root, name):
    return spark.read.parquet(f"{root}/{name}").collect()


def test_chunks_byte_identical(spark, warehouse50, oracle50):
    root, _ = warehouse50
    got = {
        r.chunk_id: (r.url, r.chunk_idx, r.text, r.start_char, r.end_char)
        for r in _rows(spark, root, "chunks")
    }
    want = {
        c["chunk_id"]: (c["url"], c["chunk_idx"], c["text"], c["start_char"], c["end_char"])
        for c in oracle50["chunks"]
    }
    assert got == want


def test_triple_precision_recall(spark, warehouse50, oracle50):
    root, _ = warehouse50
    got = {(r.subj, r.pred, r.obj) for r in _rows(spark, root, "triples")}
    want = triple_set(oracle50["triples"])
    p, r = precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_mentions_equal(spark, warehouse50, oracle50):
    root, _ = warehouse50
    got = {
        (r.chunk_id, r.name, r.label, r.confidence, r.start_char)
        for r in _rows(spark, root, "mentions")
    }
    want = {
        (m["chunk_id"], m["name"], m["label"], m["confidence"], m["start_char"])
        for m in oracle50["mentions"]
    }
    assert got == want


def test_name_map_matches_oracle(spark, warehouse50, oracle50):
    root, _ = warehouse50
    got = {r.name: r.canonical for r in _rows(spark, root, "name_map")}
    assert got == oracle50["name_map"]


def test_nodes_edges_consistent(spark, warehouse50):
    root, _ = warehouse50
    nodes = _rows(spark, root, "nodes")
    edges = _rows(spark, root, "edges")
    node_ids = {n.node_id for n in nodes}
    assert len(node_ids) == len(nodes)  # (label, name) unique -> unique ids
    for e in edges:
        assert e.src in node_ids and e.dst in node_ids
        assert 0.0 <= e.confidence <= 1.0 and e.n_occurrences >= 1


def test_resume_from_checkpoint(spark, pages_parquet, tmp_path):
    """Kill-and-resume: run the first stages, delete downstream outputs,
    resume — the pipeline must skip completed stages and finish."""
    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    root = str(tmp_path / "wh")
    pages = spark.read.parquet(pages_parquet)
    stats1 = run_pipeline(spark, pages, root)

    # simulate a crash after 'mentions_raw': drop everything downstream
    wh = Warehouse(root)
    import json

    ck = wh._meta_path("_checkpoints")
    lines = [json.loads(line) for line in open(ck)]
    keep = {"chunks", "mentions_raw"}
    with open(ck, "w") as f:
        for rec in lines:
            if rec["stage"] in keep:
                f.write(json.dumps(rec) + "\n")
    for stage in ("triples_raw", "name_map", "mentions", "triples", "nodes", "edges", "provenance_edges"):
        wh.drop(stage)

    stats2 = run_pipeline(spark, pages, root, resume=True)
    for k in ("chunks", "mentions", "triples", "nodes", "edges"):
        assert stats1[k] == stats2[k], k


def test_partition_metrics_written(spark, warehouse50):
    import json
    import os

    root, _ = warehouse50
    p = os.path.join(root, "_metrics.jsonl")
    assert os.path.exists(p)
    recs = [json.loads(line) for line in open(p)]
    stages = {r["stage"] for r in recs}
    assert {"chunks", "mentions_raw", "triples"} <= stages
    assert all(r["rows"] >= 0 and "partition_id" in r for r in recs)


def test_url_group_checkpointing(spark, pages_parquet, warehouse50, tmp_path):
    """Per-partition-group resume: ingest in 3 url-hash groups; kill one
    group's checkpoint; resume recomputes only that group and the final
    graph equals the ungrouped run."""
    import json
    import os

    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    pages = spark.read.parquet(pages_parquet)
    root = str(tmp_path / "wh_g")
    stats = run_pipeline(spark, pages, root, url_groups=3)

    base_root, base_stats = warehouse50
    assert stats["chunks"] == base_stats["chunks"]
    got = {
        (r.chunk_id, r.text) for r in spark.read.parquet(f"{root}/chunks__g0")
        .union(spark.read.parquet(f"{root}/chunks__g1"))
        .union(spark.read.parquet(f"{root}/chunks__g2"))
        .collect()
    }
    want = {(r.chunk_id, r.text) for r in spark.read.parquet(f"{base_root}/chunks").collect()}
    assert got == want

    # simulate crash during group 1: drop its output + checkpoint record
    wh = Warehouse(root)
    ck = wh._meta_path("_checkpoints")
    recs = [json.loads(l) for l in open(ck)]
    with open(ck, "w") as f:
        for rec in recs:
            if rec["stage"] not in ("chunks__g1",) and rec["stage"] not in (
                "mentions_raw", "triples_raw", "name_map", "mentions",
                "triples", "nodes", "edges", "provenance_edges",
            ):
                f.write(json.dumps(rec) + "\n")
    for s in ("chunks__g1", "mentions_raw", "triples_raw", "name_map",
              "mentions", "triples", "nodes", "edges", "provenance_edges"):
        wh.drop(s)

    stats2 = run_pipeline(spark, pages, root, resume=True, url_groups=3)
    assert stats2["chunks"] == stats["chunks"]
    assert stats2["triples"] == stats["triples"]


def test_recrawled_urls_latest_wins(spark, tmp_path):
    """Duplicate urls (re-crawls): the latest warc_ts version is ingested
    once — reference MERGE-by-key upsert semantics (queries.py:9-31) — and
    Spark matches the oracle on the deduped corpus. Crawls with equal
    warc_ts fall back to the greatest text, as in the oracle's key."""
    import datetime as dt

    from medical_doc_knowledge_graph_system_spark.corelib.oracle import (
        run_pipeline as oracle_run,
    )
    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline

    rows = [
        ("https://x/1", dt.datetime(2025, 1, 1), None, "old text about Aspirin", "en"),
        ("https://x/1", dt.datetime(2025, 1, 2), None, "new text about Hypertension", "en"),
        ("https://x/2", dt.datetime(2025, 1, 1), None, "Peter Fern takes Metformin", "en"),
        ("https://x/3", dt.datetime(2025, 1, 3), None, "alpha note on Aspirin", "en"),
        ("https://x/3", dt.datetime(2025, 1, 3), None, "beta Metformin", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    root = str(tmp_path / "wh_dup")
    run_pipeline(spark, pages, root)
    chunks = {(r.chunk_id, r.text) for r in spark.read.parquet(f"{root}/chunks").collect()}
    texts = {t for _, t in chunks}
    assert "new text about Hypertension" in texts
    assert "old text about Aspirin" not in texts  # superseded crawl dropped
    assert "beta Metformin" in texts  # equal warc_ts: greatest text wins
    assert "alpha note on Aspirin" not in texts

    docs = [
        (r.url, r.warc_ts, r.text_chars)
        for r in spark.read.parquet(f"{root}/documents").collect()
    ]
    assert sorted(docs) == [
        ("https://x/1", dt.datetime(2025, 1, 2), len("new text about Hypertension")),
        ("https://x/2", dt.datetime(2025, 1, 1), len("Peter Fern takes Metformin")),
        ("https://x/3", dt.datetime(2025, 1, 3), len("beta Metformin")),
    ]

    oracle = oracle_run(
        [
            {"url": u, "warc_ts": ts, "text": t}
            for u, ts, _, t, _ in rows
        ]
    )
    assert chunks == {(c["chunk_id"], c["text"]) for c in oracle["chunks"]}


def test_bucketed_pipeline_matches_plain(spark, pages_parquet, warehouse50, tmp_path):
    """bucket_by_url writes the chunk-family tables url-hash bucketed; the
    graph must be identical to the plain-parquet run and downstream url-keyed
    joins must plan with no Exchange."""
    from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
        provenance_citations,
    )
    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    pages = spark.read.parquet(pages_parquet)
    root = str(tmp_path / "wh_b")
    stats = run_pipeline(spark, pages, root, bucket_by_url=4)
    base_root, base_stats = warehouse50
    for k in ("chunks", "mentions", "triples", "nodes", "edges", "provenance_edges"):
        assert stats[k] == base_stats[k], k

    wh = Warehouse(root)
    got = {(r.chunk_id, r.text) for r in wh.read(spark, "chunks").collect()}
    want = {
        (r.chunk_id, r.text)
        for r in spark.read.parquet(f"{base_root}/chunks").collect()
    }
    assert got == want

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cites = provenance_citations(
            wh.read(spark, "provenance_edges"), wh.read(spark, "chunks")
        )
        plan = physical_plan_string(cites)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert cites.count() == stats["provenance_edges"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_normalize_urls_collapses_variant_fetches(spark, tmp_path):
    """normalize_urls=True: utm-tagged / mixed-case / fragment variants of
    one page canonicalize to the same url BEFORE latest-crawl-wins dedup,
    so they become ONE document (URL-level dedup, the crawl pipeline's
    first dedup tier); the surviving text is the latest crawl's."""
    from datetime import datetime

    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline

    pages = spark.createDataFrame(
        [
            (
                "https://example.com/a?utm_source=feed",
                datetime(2024, 1, 1),
                None,
                "older fetch. aspirin treats migraine.",
                "en",
            ),
            (
                "HTTPS://WWW.Example.com/a#frag",
                datetime(2024, 2, 1),
                None,
                "newer fetch. aspirin treats migraine.",
                "en",
            ),
            (
                "https://example.com/b",
                datetime(2024, 1, 1),
                None,
                "another page. ibuprofen treats headache.",
                "en",
            ),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root = str(tmp_path / "wh_norm")
    stats = run_pipeline(spark, pages, root, normalize_urls=True)
    assert stats["documents"] == 2
    docs = {r.url for r in spark.read.parquet(f"{root}/documents").collect()}
    assert docs == {"https://example.com/a", "https://example.com/b"}
    # latest crawl won the canonical slot
    texts = " ".join(
        r.text for r in spark.read.parquet(f"{root}/chunks").collect()
    )
    assert "newer fetch" in texts and "older fetch" not in texts


# -- raw extraction tables vs the oracle's per-chunk rows ----------------------

_RAW_RUNS = {"plain": {}, "open_vocab": {"open_vocab": True}, "bucketed": {"bucket_by_url": 4}}


def _oracle_raw(chunks, open_vocab=False):
    """Multisets of the rows mentions_raw, triples_raw and chunk_embeddings
    must hold: extract_chunk's rows per chunk and the float32 cast of
    embed_name(text)."""
    from collections import Counter

    import numpy as np

    from medical_doc_knowledge_graph_system_spark.corelib.extract import extract_chunk
    from medical_doc_knowledge_graph_system_spark.corelib.similarity import embed_name

    mentions, triples, embeddings = Counter(), Counter(), Counter()
    for c in chunks:
        ms, ts = extract_chunk(c["chunk_id"], c["url"], c["text"], open_vocab=open_vocab)
        mentions.update(
            (c["chunk_id"], c["url"], m["name"], m["label"], m["confidence"], m["start_char"], m["method"])
            for m in ms
        )
        triples.update(
            (c["chunk_id"], c["url"], t["subj"], t["subj_label"], t["pred"], t["obj"], t["obj_label"], t["confidence"])
            for t in ts
        )
        vec = np.asarray(embed_name(c["text"]), dtype=np.float32).tolist()
        embeddings[(c["chunk_id"], c["url"], tuple(vec))] += 1
    return {"mentions_raw": mentions, "triples_raw": triples, "chunk_embeddings": embeddings}


def _table_rows(spark, root, name):
    from collections import Counter

    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    rows = Warehouse(root).read(spark, name).collect()
    return Counter(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows)


@pytest.mark.parametrize("run", list(_RAW_RUNS))
def test_raw_tables_equal_oracle_rows(spark, pages_parquet, warehouse50, oracle50, tmp_path, run):
    """mentions_raw, triples_raw and chunk_embeddings hold exactly the
    oracle's per-chunk rows (confidence, start_char, method, labels, the
    float32 embedding), as multisets and in the tables' column order."""
    from medical_doc_knowledge_graph_system_spark.operators.extract import (
        MENTION_SCHEMA,
        TRIPLE_SCHEMA,
    )
    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    root = warehouse50[0]
    if run != "plain":
        root = str(tmp_path / run)
        run_pipeline(spark, spark.read.parquet(pages_parquet), root, **_RAW_RUNS[run])
    want = _oracle_raw(oracle50["chunks"], open_vocab=run == "open_vocab")
    wh = Warehouse(root)
    assert wh.read(spark, "mentions_raw").columns == MENTION_SCHEMA.fieldNames()
    assert wh.read(spark, "triples_raw").columns == TRIPLE_SCHEMA.fieldNames()
    assert dict(wh.read(spark, "chunk_embeddings").dtypes)["embedding"] == "array<float>"
    for name, rows in want.items():
        assert sum(rows.values()) > 0, name  # the fixture must exercise the table
        assert _table_rows(spark, root, name) == rows, name


@pytest.mark.parametrize("missing", ["chunk_embeddings", "triples_raw"])
def test_resume_rebuilds_one_feature_table(spark, pages_parquet, warehouse50, tmp_path, missing):
    """Crash with only one of the three feature-pass tables missing: resume
    rebuilds the pin, recomputes only that stage, and every table equals
    the uninterrupted run's."""
    import json
    import shutil

    from medical_doc_knowledge_graph_system_spark.pipeline import STAGES, run_pipeline
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    base_root = warehouse50[0]
    root = str(tmp_path / "wh")
    shutil.copytree(base_root, root)
    wh = Warehouse(root)
    ck = wh._meta_path("_checkpoints")
    recs = [json.loads(line) for line in open(ck)]
    with open(ck, "w") as f:
        for rec in recs:
            if rec["stage"] != missing:
                f.write(json.dumps(rec) + "\n")
    wh.drop(missing)
    n_before = len(recs) - 1

    run_pipeline(spark, spark.read.parquet(pages_parquet), root, resume=True)
    rerun = [json.loads(line)["stage"] for line in open(ck)][n_before:]
    assert rerun == [missing]
    for stage in STAGES:
        assert _table_rows(spark, root, stage) == _table_rows(spark, base_root, stage), stage
