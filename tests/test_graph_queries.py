"""Graph retrieval operator tests over a small hand-built graph with known
structure (k-hop, shortest path, all-paths, condition chain, provenance,
stats — SURVEY §2.C8-C16, D1/D2)."""

from __future__ import annotations

import pytest


from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
    all_paths,
    condition_chain,
    entity_lookup,
    graph_stats,
    k_hop,
    next_chunk_join,
    shortest_path,
)

# chain: A -r1- B -r2- C -r3- D, plus A -r4- E
EDGES = [
    ("A", "B", "r1"),
    ("B", "C", "r2"),
    ("C", "D", "r3"),
    ("A", "E", "r4"),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string, rel_type string")


def _seed(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "node_id string")


def test_k_hop_min_hops(spark, edges):
    out = {r.node_id: r.hops for r in k_hop(edges, _seed(spark, "A"), max_hops=3).collect()}
    assert out == {"B": 1, "E": 1, "C": 2, "D": 3}


def test_k_hop_rel_filter(spark, edges):
    out = {
        r.node_id: r.hops
        for r in k_hop(edges, _seed(spark, "A"), 3, allowed_rel_types=["r1", "r2"]).collect()
    }
    assert out == {"B": 1, "C": 2}


def test_shortest_path(spark, edges):
    rows = shortest_path(edges, "A", "D").collect()
    assert len(rows) == 1
    assert rows[0].hops == 3 and rows[0].path == ["A", "B", "C", "D"]
    assert rows[0].rels == ["r1", "r2", "r3"]
    assert shortest_path(edges, "A", "Z").count() == 0
    assert shortest_path(edges, "A", "A").count() == 0  # same-node guard


def test_shortest_path_picks_lexicographic_min(spark):
    # two equal-hop routes A-B-D and A-C-D: must return the min path, not an
    # arbitrary one (the frontier keeps min(struct(path, rels)) per node so
    # the result is deterministic and oracle-comparable)
    e = spark.createDataFrame(
        [("A", "C", "x"), ("C", "D", "x"), ("A", "B", "x"), ("B", "D", "x")],
        "src string, dst string, rel_type string",
    )
    rows = shortest_path(e, "A", "D").collect()
    assert rows[0].path == ["A", "B", "D"] and rows[0].hops == 2


def test_multi_source_shortest_paths_matches_per_pair(spark):
    """One-BFS multi-source path resolution (VERDICT r2 #4) must return,
    per pair, the min over all simple paths of (hops, path, rels) — the
    same hops and lexicographically-min path a per-pair search finds —
    across ties, unreachable targets, paths through other targets, and
    seed==target exclusion. The reference is the exhaustive simple-path
    enumeration (the kg_shortest_path oracle's semantics), which shares no
    code with the BFS engine."""
    from medical_doc_knowledge_graph_system_spark.corelib import graphalgs
    from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
        multi_source_shortest_paths,
    )

    rows = [
        ("A", "B", "x"), ("B", "D", "x"),       # tie route 1 to D
        ("A", "C", "x"), ("C", "D", "x"),       # tie route 2 to D
        ("D", "F", "y"),                        # F only via target D
        ("B", "E", "y"),
        ("Z1", "Z2", "z"),                      # disconnected island
    ]
    e = spark.createDataFrame(rows, "src string, dst string, rel_type string")
    seeds = ["A", "B"]
    targets = ["D", "E", "F", "Z2", "A"]
    got = {
        (r.seed_id, r.target_id): (r.hops, list(r.path), list(r.rels))
        for r in multi_source_shortest_paths(e, seeds, targets, max_hops=5).collect()
    }
    adj = graphalgs.adjacency(
        [(a, b, r) for a, b, r in rows] + [(b, a, r) for a, b, r in rows]
    )
    want = {}
    for s in seeds:
        for t in targets:
            if s == t:
                continue
            paths = graphalgs.all_simple_paths(adj, s, t, 5, 10**6)
            if paths:
                want[(s, t)] = paths[0]
    assert got == want
    # sanity on the fixture: the tie resolved lexicographically, F reached
    # through target D, the island unreachable
    assert got[("A", "D")] == (2, ["A", "B", "D"], ["x", "x"])
    assert got[("A", "F")][0] == 3
    assert ("A", "Z2") not in got


def test_all_paths(spark):
    # diamond: A-B-D and A-C-D
    e = spark.createDataFrame(
        [("A", "B", "x"), ("B", "D", "x"), ("A", "C", "x"), ("C", "D", "x")],
        "src string, dst string, rel_type string",
    )
    rows = all_paths(e, "A", "D", max_hops=4, max_paths=5).collect()
    paths = {tuple(r.path) for r in rows}
    assert paths == {("A", "B", "D"), ("A", "C", "D")}
    assert all(r.hops == 2 for r in rows)


def test_condition_chain(spark):
    triples = spark.createDataFrame(
        [
            ("Hypertension", "Condition", "TREATED_WITH", "Lisinopril", "Medication"),
            ("Hypertension", "Condition", "TREATED_WITH", "Aspirin", "Medication"),
            ("Hypertension", "Condition", "MANIFESTS_AS", "Headache", "Symptom"),
            ("Asthma", "Condition", "MANIFESTS_AS", "Wheeze", "Symptom"),
        ],
        "subj string, subj_label string, rel_type string, obj string, obj_label string",
    )
    out = {r.condition: (r.medications, r.symptoms) for r in condition_chain(triples).collect()}
    assert out["Hypertension"] == (["Aspirin", "Lisinopril"], ["Headache"])
    assert out["Asthma"] == ([], ["Wheeze"])


def test_next_chunk_window(spark):
    chunks = spark.createDataFrame(
        [("c0", "u", 0, 0), ("c1", "u", 1, 100), ("d0", "v", 0, 0)],
        "chunk_id string, url string, chunk_idx int, start_char int",
    )
    out = {r.chunk_id: r.next_chunk_id for r in next_chunk_join(chunks).collect()}
    assert out == {"c0": "c1", "c1": None, "d0": None}


def test_graph_stats_and_lookup(spark, warehouse50):
    root, _ = warehouse50
    nodes = spark.read.parquet(f"{root}/nodes")
    edges = spark.read.parquet(f"{root}/edges")
    stats = graph_stats(nodes, edges).collect()
    assert sum(r.n_nodes for r in stats) == nodes.count()
    assert all(r.n_edges == edges.count() for r in stats)
    hit = entity_lookup(nodes, "Hypertension").collect()
    assert len(hit) == 1 and hit[0].label == "Condition"


def test_provenance_citations(spark, warehouse50):
    from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
        provenance_citations,
    )

    root, _ = warehouse50
    prov = spark.read.parquet(f"{root}/provenance_edges")
    chunks = spark.read.parquet(f"{root}/chunks")
    docs = spark.read.parquet(f"{root}/documents")
    out = provenance_citations(prov, chunks, documents=docs, limit=20)
    rows = out.collect()
    assert 0 < len(rows) <= 20
    confs = [r.confidence for r in rows]
    assert confs == sorted(confs, reverse=True)
    # every citation traceable: chunk text + document metadata present (C14)
    assert all(r.source_text and r.warc_ts is not None for r in rows)


def _random_graph(spark, n_nodes=24, n_edges=60, seed=7):
    """Seeded pseudo-random multigraph (parallel edges + varied rel types)
    for driver-vs-distributed equality tests."""
    import random

    rng = random.Random(seed)
    rows = [
        (
            f"n{rng.randrange(n_nodes):02d}",
            f"n{rng.randrange(n_nodes):02d}",
            f"r{rng.randrange(5)}",
        )
        for _ in range(n_edges)
    ]
    rows = [(a, b, r) for a, b, r in rows if a != b]
    return spark.createDataFrame(rows, "src string, dst string, rel_type string")


def _distributed(monkeypatch):
    """Lower the driver fetch bound to 0 rows: every non-empty input takes
    the distributed path."""
    from medical_doc_knowledge_graph_system_spark import session

    monkeypatch.setattr(session, "DRIVER_MAX_ROWS", 0)


@pytest.mark.parametrize("seed", [7, 23])
def test_shortest_path_driver_equals_distributed(spark, monkeypatch, seed):
    """The sub-threshold in-memory BFS (corelib/graphalgs.py) must return
    exactly what the distributed frontier loop returns — hops, path, rels —
    across many (src, dst) pairs of random multigraphs, including
    unreachable pairs."""
    g = _random_graph(spark, seed=seed)
    pairs = [("n00", "n13"), ("n05", "n20"), ("n01", "n02"), ("n03", "n99")]
    local = [shortest_path(g, s, t, max_hops=4).collect() for s, t in pairs]
    _distributed(monkeypatch)
    for (src, dst), loc in zip(pairs, local):
        dist = shortest_path(g, src, dst, max_hops=4).collect()
        assert [tuple(r) for r in loc] == [tuple(r) for r in dist], (src, dst, seed)


def test_all_paths_driver_equals_distributed(spark, monkeypatch):
    g = _random_graph(spark)
    pairs = [("n00", "n13"), ("n05", "n20"), ("n03", "n99")]
    local = [all_paths(g, s, t, max_hops=3, max_paths=7).collect() for s, t in pairs]
    _distributed(monkeypatch)
    for (src, dst), loc in zip(pairs, local):
        dist = all_paths(g, src, dst, max_hops=3, max_paths=7).collect()
        assert [tuple(r) for r in loc] == [tuple(r) for r in dist], (src, dst)


def test_multi_source_driver_equals_distributed(spark, monkeypatch):
    from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
        multi_source_shortest_paths,
    )

    g = _random_graph(spark)
    seeds, targets = ["n00", "n05", "n11"], ["n13", "n20", "n05"]
    key = lambda r: (r.seed_id, r.target_id)
    local = sorted(multi_source_shortest_paths(g, seeds, targets, 4).collect(), key=key)
    _distributed(monkeypatch)
    dist = sorted(multi_source_shortest_paths(g, seeds, targets, 4).collect(), key=key)
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]
