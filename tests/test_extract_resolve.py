"""Extractor + resolver unit tests (reference semantics:
extractor schema validity, alias map behavior per tests/test_ingestion.py:124-129,
resolver dedup-keeps-max-confidence D3, transitive merge property
entity_resolver.py:139-141)."""

from __future__ import annotations

from medical_doc_knowledge_graph_system_spark.corelib.extract import (
    extract_chunk,
    extract_mentions,
    extract_triples,
)
from medical_doc_knowledge_graph_system_spark.corelib.gazetteer import (
    ENTITY_LABELS,
    GAZETTEER,
    REL_PATTERNS,
)
from medical_doc_knowledge_graph_system_spark.corelib.resolve import (
    alias_canonical,
    build_name_map,
    canonical_choice,
)
from medical_doc_knowledge_graph_system_spark.corelib.similarity import (
    cosine,
    embed_name,
    fuzzy_match,
    token_sort_ratio,
)


def test_mention_detection_longest_first():
    ms = extract_mentions("took nitroglycerin sl for chest pain after heart attack")
    names = {m["name"] for m in ms}
    # "nitroglycerin sl" (alias surface) wins over bare "nitroglycerin"
    assert "nitroglycerin sl" in names and "Nitroglycerin" not in names
    assert "Chest Pain" in names and "heart attack" in names


def test_token_boundary():
    assert extract_mentions("ahtnb") == []  # htn inside a word is not a mention
    assert {m["name"] for m in extract_mentions("htn.")} == {"htn"}


def test_labels_valid():
    ms = extract_mentions("Peter Fern has Hypertension and takes Aspirin")
    assert all(m["label"] in ENTITY_LABELS for m in ms)
    assert {m["label"] for m in ms} == {"Patient", "Condition", "Medication"}


def test_triples_follow_patterns():
    ms = extract_mentions("Peter Fern has Hypertension and takes Aspirin; Headache too")
    ts = extract_triples(ms)
    allowed = {(s, p, o) for s, p, o in REL_PATTERNS}
    for t in ts:
        assert (t["subj_label"], t["pred"], t["obj_label"]) in allowed
        assert 0.0 <= t["confidence"] <= 1.0
    preds = {t["pred"] for t in ts}
    assert {"HAS_CONDITION", "TAKES_MEDICATION", "TREATED_WITH", "EXHIBITS_SYMPTOM"} <= preds


def test_within_chunk_dedup_max_confidence():
    # same entity via direct (0.95) and alias (0.85) form -> direct conf kept
    m, _ = extract_chunk("c1", "u", "Hypertension and more Hypertension and htn")
    hyp = [x for x in m if x["name"] == "Hypertension"]
    assert len(hyp) == 1 and hyp[0]["confidence"] == 0.95


def test_alias_canonical():
    assert alias_canonical("HTN ") == "Hypertension"
    assert alias_canonical("heart attack") == "Myocardial Infarction"
    assert alias_canonical("unknown thing") == "unknown thing"


def test_canonical_choice_total_order():
    assert canonical_choice(["abc", "ab"]) == "abc"  # longer wins
    assert canonical_choice(["abd", "abc"]) == "abc"  # tie -> lexicographically first
    assert canonical_choice(["x"]) == "x"


def test_name_map_transitive_merge():
    # alias -> canonical -> semantic merge chain must be transitive
    nm = build_name_map(["heart attack", "Myocardial Infarction", "Acute Myocardial Infarction"])
    assert len(set(nm.values())) == 1
    assert nm["heart attack"] == "Acute Myocardial Infarction"


def test_name_map_identity_for_distinct():
    nm = build_name_map(["Aspirin", "Colonoscopy"])
    assert nm == {"Aspirin": "Aspirin", "Colonoscopy": "Colonoscopy"}


def test_fuzzy_and_semantic_primitives():
    assert token_sort_ratio("Chest Pain", "pain chest") == 100.0
    assert fuzzy_match("Hypertension", "Hypertension")
    assert not fuzzy_match("Aspirin", "Colonoscopy")
    e = embed_name("Hypertension")
    assert abs(sum(v * v for v in e) - 1.0) < 1e-9  # L2-normalized
    assert cosine(e, e) > 0.999


def test_gazetteer_labels_closed():
    assert set(GAZETTEER.values()) <= set(ENTITY_LABELS)


def _min_label_oracle(names, pairs):
    """Union-find ground truth for the CC contract: comp = the smallest
    member; edges with an endpoint outside `names` are ignored."""
    parent = {n: n for n in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a not in parent or b not in parent:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_members = {}
    for n in names:
        comp_members.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp_members.values() for n in ms}


def test_distributed_cc_matches_driver_path(spark):
    """The iterative min-label-propagation CC must equal the driver
    union-find on the same graph (both paths of operators.resolve
    connected_components)."""
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        _cc_iterative,
        connected_components,
    )

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",), ("lonely",)], "name string"
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string"
    )
    it = {r.name: r.comp for r in _cc_iterative(nodes, edges).collect()}
    drv = {r.name: r.comp for r in connected_components(nodes, edges).collect()}
    assert it == drv == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "lonely": "lonely"}


def test_distributed_name_map_matches_oracle(spark):
    """The fully distributed LSH+CC resolution path must equal the shared
    single-process implementation on the same name set."""
    from medical_doc_knowledge_graph_system_spark.corelib.resolve import (
        build_name_map as oracle_nm,
    )
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        build_name_map_distributed,
    )

    names = [
        "htn", "Hypertension", "heart attack", "Myocardial Infarction",
        "Acute Myocardial Infarction", "Aspirin", "asa", "Colonoscopy",
        "Chest Pain", "Substernal Chest Pain", "bp", "Blood Pressure",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r.name: r.canonical for r in build_name_map_distributed(df).collect()}
    assert got == oracle_nm(names)


def test_distributed_name_map_template_heavy(spark):
    """LSH must stay near-linear on template-heavy name sets (shared words
    make naive banding degenerate to O(n^2) candidates) — regression for the
    bucket-cap rule; result must still equal the oracle."""
    from medical_doc_knowledge_graph_system_spark.corelib.resolve import (
        build_name_map as oracle_nm,
    )
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        build_name_map_distributed,
    )

    names = sorted(
        {f"Entity {chr(65 + i % 26)} Number {i}" for i in range(700)}
        | {f"Entity {chr(65 + i % 26)} Number {i} Inc" for i in range(0, 700, 3)}
    )
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r.name: r.canonical for r in build_name_map_distributed(df).collect()}
    want = oracle_nm(names)
    assert got == want
    assert sum(1 for k, v in want.items() if k != v) > 100  # real merges happened


def test_large_small_star_cc_matches_min_label_and_handles_chains(spark):
    """_cc_large_small_star must equal _cc_iterative and the union-find
    min-label ground truth on a random graph, AND converge on a chain whose
    diameter far exceeds _cc_iterative's default iteration bound (the
    documented case min-label propagation fail-louds on)."""
    import random

    import pytest

    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        _cc_iterative,
        _cc_large_small_star,
    )

    rng = random.Random(5)
    names = [f"n{i:02d}" for i in range(30)]
    pairs = [
        (rng.choice(names), rng.choice(names)) for _ in range(25)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    nodes = spark.createDataFrame([(n,) for n in names], "name string")
    edges = spark.createDataFrame(pairs, "a string, b string")
    star = {r.name: r.comp for r in _cc_large_small_star(nodes, edges).collect()}
    it = {r.name: r.comp for r in _cc_iterative(nodes, edges).collect()}
    assert star == it == _min_label_oracle(names, pairs)

    # 60-node chain: diameter 59 — min-label propagation at its default
    # bound fail-louds; large-star/small-star converges in O(log n) rounds
    chain_names = [f"c{i:02d}" for i in range(60)]
    chain_pairs = [(chain_names[i], chain_names[i + 1]) for i in range(59)]
    cn = spark.createDataFrame([(n,) for n in chain_names], "name string")
    ce = spark.createDataFrame(chain_pairs, "a string, b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_iterative(cn, ce)
    star_chain = {r.name: r.comp for r in _cc_large_small_star(cn, ce).collect()}
    assert star_chain == {n: "c00" for n in chain_names}


def _cc_both_paths(nodes, edges):
    """(_cc_iterative rows, connected_components driver-path rows), each
    sorted — both paths must honour the same contract."""
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        _cc_iterative,
        connected_components,
    )

    return (
        sorted(tuple(r) for r in _cc_iterative(nodes, edges).collect()),
        sorted(tuple(r) for r in connected_components(nodes, edges).collect()),
    )


def test_cc_ignores_edges_outside_nodes(spark):
    """An edge whose endpoint is not a node contributes nothing: no row for
    the stray endpoint, and its label does not leak into the component."""
    nodes = spark.createDataFrame([("b",), ("c",), ("d",)], "name string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "z"), ("y", "z")], "a string, b string"
    )
    it, drv = _cc_both_paths(nodes, edges)
    assert it == drv == [("b", "b"), ("c", "b"), ("d", "d")]


def test_cc_duplicate_node_names_give_one_row_each(spark):
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("c",), ("c",), ("c",)], "name string"
    )
    edges = spark.createDataFrame([("b", "c")], "a string, b string")
    it, drv = _cc_both_paths(nodes, edges)
    assert it == drv == [("a", "a"), ("b", "b"), ("c", "b")]


def test_cc_self_loops_duplicate_edges_isolated_and_bigint_names(spark):
    """Self-loops and repeated (or mirrored) edges change nothing, isolated
    nodes label themselves, and bigint ids keep their type end to end."""
    ids = list(range(10, 0, -1))
    pairs = [(9, 3), (3, 9), (9, 3), (3, 5), (5, 5), (7, 8), (8, 8), (10, 10)]
    nodes = spark.createDataFrame([(i,) for i in ids], "name bigint")
    edges = spark.createDataFrame(pairs, "a bigint, b bigint")
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        _cc_iterative,
    )

    assert _cc_iterative(nodes, edges).dtypes == [("name", "bigint"), ("comp", "bigint")]
    it, drv = _cc_both_paths(nodes, edges)
    assert it == drv == sorted(_min_label_oracle(ids, pairs).items())
    assert dict(it)[9] == 3 and dict(it)[8] == 7 and dict(it)[10] == 10


def test_cc_hub_star_and_chains_match_union_find(spark):
    """A 5,000-leaf hub (the skewed reducer key) with a chain hanging off
    one leaf, plus a separate chain: the component minimum has to travel
    the chain, through the hub and out to every leaf."""
    leaves = [f"l{i:04d}" for i in range(5000)]
    chain1 = [f"c{i}" for i in range(8)]
    chain2 = [f"d{i}" for i in range(10)]
    pairs = [("h", leaf) for leaf in leaves]
    pairs += list(zip(chain1, chain1[1:])) + [(chain1[-1], leaves[-1])]
    pairs += list(zip(chain2, chain2[1:]))
    names = ["h"] + leaves + chain1 + chain2
    nodes = spark.createDataFrame([(n,) for n in names], "name string")
    edges = spark.createDataFrame(pairs, "a string, b string")
    it, drv = _cc_both_paths(nodes, edges)
    want = sorted(_min_label_oracle(names, pairs).items())
    assert it == drv == want
    assert {c for _, c in want} == {"c0", "d0"}
