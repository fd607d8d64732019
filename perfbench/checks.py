"""Correctness checks, run outside every timed region.

Each check returns the number of failed operations it found, so the
result line can report failures per operation attempted.
"""

from __future__ import annotations

import os

import duckdb

from medical_doc_knowledge_graph_system_spark.corelib import graphalgs
from medical_doc_knowledge_graph_system_spark.corelib.extract import extract_chunk
from medical_doc_knowledge_graph_system_spark.evaluation import evaluate
from medical_doc_knowledge_graph_system_spark.operators.retrieval import (
    MAX_BUNDLE_EDGES,
    MAX_BUNDLE_NODES,
    _PATH_TARGET_LABELS,
)

from check_oracle import value_hash

MAX_CITATIONS = 25


def expected_stage_rows(pages_rows: list[dict], o: dict) -> dict[str, int]:
    """Row count of every pipeline stage, from the single-process oracle's
    output o = corelib.oracle.run_pipeline(pages_rows)."""
    n_raw = sum(
        len(extract_chunk(c["chunk_id"], c["url"], c["text"])[0]) for c in o["chunks"]
    )
    mentions, triples = o["mentions"], o["triples"]
    return {
        "documents": len({p["url"] for p in pages_rows}),
        "chunks": len(o["chunks"]),
        "chunk_embeddings": len(o["chunks"]),
        "mentions_raw": n_raw,
        "triples_raw": len(triples),
        "name_map": len(o["name_map"]),
        "mentions": len(mentions),
        "triples": len(triples),
        "nodes": len({(m["name"], m["label"]) for m in mentions}),
        "edges": len(
            {(t["subj"], t["subj_label"], t["pred"], t["obj"], t["obj_label"]) for t in triples}
        ),
        "provenance_edges": len(mentions),
    }


def stage_rows_ok(stats: dict, expected: dict[str, int]) -> bool:
    return all(stats.get(k) == v for k, v in expected.items())


def warehouse_ok(spark, warehouse_root: str, pages_rows: list[dict]) -> bool:
    """Triple P/R and chunk byte-identity against the oracle, all exactly 1."""
    m = evaluate(spark, warehouse_root, pages_rows, max_pages=len(pages_rows))
    return (
        m["chunk_byte_identity"] == 1.0
        and m["triple_precision"] == 1.0
        and m["triple_recall"] == 1.0
    )


def expected_paths(edge_rows: list, node_rows: list, seed_ids: list[str]) -> list[list[str]]:
    """The reasoning paths build_context must return, recomputed with the
    in-memory BFS over the collected edges and nodes."""
    adj = graphalgs.adjacency(
        [(e.src, e.dst, e.rel_type) for e in edge_rows]
        + [(e.dst, e.src, e.rel_type) for e in edge_rows]
    )
    targets = [
        n.node_id
        for n in sorted(
            (n for n in node_rows if n.label in _PATH_TARGET_LABELS),
            key=lambda n: (-n.n_mentions, n.node_id),
        )[:5]
    ]
    seeds = seed_ids[:3]
    by_pair = {(s, t): (p, r) for s, t, _, p, r in graphalgs.multi_source_paths(adj, seeds, targets, 5)}
    names = {n.node_id: n.name for n in node_rows}
    paths = []
    for s in seeds:
        for t in targets:
            if t == s or len(paths) >= 5 or (s, t) not in by_pair:
                continue
            p, r = by_pair[(s, t)]
            chain = []
            for i, nid in enumerate(p):
                chain.append(names.get(nid, nid))
                if i < len(r):
                    chain.append(f"-[{r[i]}]-")
            paths.append(chain)
    return paths


def bundle_failures(bundle, edge_rows, node_rows, is_complex: bool, matches_nothing: bool) -> int:
    """0 if the bundle respects the caps, orders citations by confidence,
    is empty for a question that matches nothing and carries exactly the
    reference reasoning paths; else 1."""
    conf = [c.confidence for c in bundle.citations]
    ok = (
        len(bundle.neighborhood_nodes) <= MAX_BUNDLE_NODES
        and len(bundle.neighborhood_edges) <= MAX_BUNDLE_EDGES
        and len(bundle.citations) <= MAX_CITATIONS
        and conf == sorted(conf, reverse=True)
        and not (matches_nothing and bundle.seed_entities)
    )
    if ok and bundle.seed_entities:
        seed_ids = [s.node_id for s in bundle.seed_entities]
        want = expected_paths(edge_rows, node_rows, seed_ids) if is_complex else []
        ok = bundle.reasoning_paths == want
    return 0 if ok else 1


class LeafOracle:
    """DuckDB oracle hashes of the gate leaves over one documents table."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]):
        self.con = duckdb.connect()
        path = os.path.join(sf_dir, "documents.parquet")
        self.con.sql(f"create view documents as select * from '{path}'")
        self.sql = oracle_sql

    def hash(self, leaf: str) -> tuple[int, str]:
        res = self.con.sql(self.sql[leaf])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        return len(rows), value_hash(cols, rows)

    def close(self) -> None:
        self.con.close()


def spark_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    return len(rows), value_hash(cols, rows)
