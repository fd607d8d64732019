"""Whole-graph analytics (operators/graph_analytics.py): known-answer and
randomized-equality tests for every operator of the module — ranking,
triangle family, peeling, traversal and structure.

The driver gate (kg_pagerank / kg_triangles) proves exact DuckDB parity on
the term graph; these tests prove the operators on graphs with known closed
answers and on a seeded random graph against an independent driver-side
oracle (numpy power iteration / set-intersection triangle count), so the
distributed implementations are pinned by something that shares no code
with them.
"""

from __future__ import annotations

import random
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
    butterflies,
    pagerank,
    triangle_stats,
)

pytestmark = pytest.mark.usefixtures("spark")


def _edges_df(spark, edges):
    return spark.createDataFrame(sorted(edges), "a string, b string")


K4_PENDANT = [
    ("a", "b"), ("a", "c"), ("a", "d"),
    ("b", "c"), ("b", "d"), ("c", "d"),
    ("d", "e"),
]


def test_triangles_k4_pendant(spark):
    got = {r.name: (r.n_tri, r.clust) for r in triangle_stats(_edges_df(spark, K4_PENDANT)).collect()}
    # a, b, c: corners of K4 only -> 3 triangles, deg 3 -> clust 2*3/6 = 1.0
    # d: in K4 plus the pendant edge -> 3 triangles, deg 4 -> 2*3/12 = 0.5
    # e: pendant, deg 1 -> 0 triangles, clust defined as 0.0
    assert got == {
        "a": (3, 1.0), "b": (3, 1.0), "c": (3, 1.0), "d": (3, 0.5), "e": (0, 0.0)
    }


def _pr_oracle(edges, iterations=8, d=0.85):
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = [[] for _ in nodes]
    for a, b in edges:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    deg = [len(a) for a in adj]
    n = len(nodes)
    r = [1.0 / n] * n
    for _ in range(iterations):
        nr = [(1.0 - d) / n] * n
        for i, ns in enumerate(adj):
            for j in ns:
                nr[i] += d * r[j] / deg[j]
        r = nr
    return {v: round(r[idx[v]] * n, 4) for v in nodes}


def _tri_oracle(edges):
    nodes = sorted({x for e in edges for x in e})
    nbrs = {v: set() for v in nodes}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    tri = {v: 0 for v in nodes}
    for v in nodes:
        for u in nbrs[v]:
            tri[v] += sum(1 for w in nbrs[v] & nbrs[u] if w > u)
    out = {}
    for v in nodes:
        dg = len(nbrs[v])
        out[v] = (tri[v], round(2.0 * tri[v] / (dg * (dg - 1)), 4) if dg >= 2 else 0.0)
    return out


def test_pagerank_k4_pendant(spark):
    got = {r.name: r.rank_norm for r in pagerank(_edges_df(spark, K4_PENDANT)).collect()}
    assert got == _pr_oracle(K4_PENDANT)


def test_random_graph_matches_driver_oracles(spark):
    """Seeded G(n, m) graph, ~200 nodes / 600 edges, against independent
    driver-side oracles. Exercises the groupBy contribution sum, the
    degree-orientation tie-breaks, and zero-triangle / isolated-from-
    triangles nodes."""
    rng = random.Random(20260817)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = set()
    while len(edges) < 600:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    df = _edges_df(spark, edges)

    got_tri = {r.name: (r.n_tri, r.clust) for r in triangle_stats(df).collect()}
    assert got_tri == _tri_oracle(edges)

    got_pr = {r.name: r.rank_norm for r in pagerank(df).collect()}
    want_pr = _pr_oracle(edges)
    assert set(got_pr) == set(want_pr)
    # float summation order differs (per-map-task partial sums vs the
    # sequential loop); 4dp rounding can still straddle a boundary in
    # principle, so compare at 4dp with a 1-ulp-of-rounding tolerance.
    for v, w in want_pr.items():
        assert abs(got_pr[v] - w) <= 1e-4 + 1e-9, (v, got_pr[v], w)


def _ppr_oracle(edges, seeds, iterations=8, d=0.85):
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = [[] for _ in nodes]
    for a, b in edges:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    deg = [len(a) for a in adj]
    n = len(nodes)
    p = [1.0 / len(seeds) if v in seeds else 0.0 for v in nodes]
    r = list(p)
    for _ in range(iterations):
        nr = [(1.0 - d) * pv for pv in p]
        for i, ns in enumerate(adj):
            for j in ns:
                nr[i] += d * r[j] / deg[j]
        r = nr
    return {v: round(r[idx[v]] * n, 4) for v in nodes}


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """Restart mass on a seed set: ranks must match the numpy recurrence
    and decay with distance from the seeds (the retrieval-side semantics:
    importance relative to the query entities)."""
    # two K4s bridged by a path: d -(bridge)- e - f -(bridge)- g, seeds in
    # the left clique only
    edges = K4_PENDANT + [("e", "f"), ("f", "g"), ("g", "h"), ("g", "i"), ("h", "i")]
    seeds = {"a", "b"}
    df = _edges_df(spark, edges)
    sdf = spark.createDataFrame([(s,) for s in sorted(seeds)], "name string")
    got = {r.name: r.rank_norm for r in pagerank(df, seeds=sdf).collect()}
    want = _ppr_oracle(edges, seeds)
    assert set(got) == set(want)
    for v, w in want.items():
        assert abs(got[v] - w) <= 1e-4 + 1e-9, (v, got[v], w)
    # proximity ordering: seed > seed-adjacent > far side of the bridge
    assert got["a"] > got["d"] > got["f"] > got["i"]


def _wpr_oracle(edges_w, iterations=8, d=0.85):
    """Weighted recurrence: W(u) = sum of incident weights; each neighbor
    receives (r(u)/W(u)) * w_uv — same operand order as the operator."""
    nodes = sorted({x for a, b, _ in edges_w for x in (a, b)})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = [[] for _ in nodes]
    for a, b, w in edges_w:
        adj[idx[a]].append((idx[b], w))
        adj[idx[b]].append((idx[a], w))
    W = [sum(w for _, w in ns) for ns in adj]
    n = len(nodes)
    r = [1.0 / n] * n
    for _ in range(iterations):
        nr = [(1.0 - d) / n] * n
        for i, ns in enumerate(adj):
            for j, w in ns:
                nr[i] += d * (r[j] / W[j]) * w
        r = nr
    return {v: round(r[idx[v]] * n, 4) for v in nodes}


def test_weighted_pagerank_matches_oracle(spark):
    # triangle with one heavy edge plus a pendant: the heavy edge's
    # endpoints must outrank the light corner
    edges_w = [("a", "b", 10), ("a", "c", 1), ("b", "c", 1), ("c", "d", 2)]
    df = spark.createDataFrame(edges_w, "a string, b string, wt long")
    got = {r.name: r.rank_norm for r in
           pagerank(df, weight_col="wt").collect()}
    want = _wpr_oracle(edges_w)
    assert set(got) == set(want)
    for v, w in want.items():
        assert abs(got[v] - w) <= 1e-4 + 1e-9, (v, got[v], w)
    assert got["a"] > got["c"] and got["b"] > got["c"]


def test_weighted_pagerank_random_graph(spark):
    rng = random.Random(47)
    seen = {}
    while len(seen) < 150:
        a, b = rng.sample([f"n{i:02d}" for i in range(60)], 2)
        seen[(min(a, b), max(a, b))] = rng.randrange(1, 9)
    edges_w = sorted((a, b, w) for (a, b), w in seen.items())
    df = spark.createDataFrame(edges_w, "a string, b string, wt long")
    got = {r.name: r.rank_norm for r in pagerank(df, weight_col="wt").collect()}
    want = _wpr_oracle(edges_w)
    assert set(got) == set(want)
    for v, w in want.items():
        assert abs(got[v] - w) <= 1e-4 + 1e-9, (v, got[v], w)


def test_weighted_pagerank_unit_weights_equals_unweighted(spark):
    """wt=1 everywhere must reproduce the unweighted ranks bit-for-bit
    (deg == weight sum, share * 1 is exact in IEEE)."""
    df = _edges_df(spark, K4_PENDANT)
    dfw = df.select("a", "b", F.lit(1).cast("long").alias("wt"))
    unw = {r.name: r.rank_norm for r in pagerank(df).collect()}
    wtd = {r.name: r.rank_norm for r in pagerank(dfw, weight_col="wt").collect()}
    assert unw == wtd


def _lp_oracle(edges):
    import math

    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    eset = set(edges)
    out = {}
    for u in nbrs:
        for v in nbrs:
            if u >= v or (u, v) in eset:
                continue
            common = nbrs[u] & nbrs[v]
            if not common:
                continue
            cn = len(common)
            aa = sum(1.0 / math.log(len(nbrs[w])) for w in common)
            jac = cn / (len(nbrs[u]) + len(nbrs[v]) - cn)
            out[(u, v)] = (cn, round(aa, 4), round(jac, 4))
    return out


def test_link_prediction_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        link_prediction,
    )

    # path a-b-c plus b-d: non-adjacent pairs through b: (a,c), (a,d), (c,d)
    edges = [("a", "b"), ("b", "c"), ("b", "d")]
    got = {(r.u, r.v): (r.cn, r.adamic_adar, r.jaccard) for r in
           link_prediction(_edges_df(spark, edges)).collect()}
    assert got == _lp_oracle(edges)
    # deg(b)=3 -> every score is 1/ln(3); jaccard 1/1 (deg 1 endpoints)
    import math
    assert got[("a", "c")] == (1, round(1.0 / math.log(3), 4), 1.0)


def test_link_prediction_random_graph(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        link_prediction,
    )

    rng = random.Random(59)
    edges = sorted({tuple(sorted(rng.sample([f"v{i:02d}" for i in range(40)], 2)))
                    for _ in range(120)})
    got = {(r.u, r.v): (r.cn, r.adamic_adar, r.jaccard) for r in
           link_prediction(_edges_df(spark, edges)).collect()}
    want = _lp_oracle(edges)
    assert set(got) == set(want)
    for k, (cn, aa, jac) in want.items():
        gcn, gaa, gjac = got[k]
        assert gcn == cn, (k, gcn, cn)
        assert abs(gaa - aa) <= 1e-4 + 1e-9, (k, gaa, aa)
        assert gjac == jac, (k, gjac, jac)


def test_link_prediction_center_cap_subsets_exact(spark):
    """max_center_deg only PRUNES candidates (wedges through hot centers);
    every surviving pair's scores must be computed from capped wedges only
    — the documented approximation contract."""
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        link_prediction,
    )

    # hub h connects l0..l5 (deg 6); a separate square with a diagonal path
    edges = [("h", f"l{i}") for i in range(6)] + [("p", "q"), ("q", "r")]
    edges = sorted((min(a, b), max(a, b)) for a, b in edges)
    df = _edges_df(spark, edges)
    exact = {(r.u, r.v) for r in link_prediction(df).collect()}
    capped = {(r.u, r.v) for r in
              link_prediction(df, max_center_deg=3).collect()}
    # hub wedges (15 leaf pairs) pruned; the deg-2 center q survives
    assert capped == {("p", "r")}
    assert ("p", "r") in exact and len(exact) == 16


def test_pagerank_empty_seed_set_raises(spark):
    df = _edges_df(spark, K4_PENDANT)
    empty = spark.createDataFrame([], "name string")
    with pytest.raises(ValueError, match="non-empty seed set"):
        pagerank(df, seeds=empty)


def test_star_graph_hub_skew(spark):
    """Zipf-hub shape: one center joined to 50 leaves. No triangles anywhere;
    the center's rank must dominate; the hub's contribution sum, combined
    from per-map-task partial sums, must still produce the exact closed-form
    ranks (star PageRank has a 2-cycle closed form)."""
    edges = [("hub", f"leaf{i:02d}") for i in range(50)]
    edges = [(min(a, b), max(a, b)) for a, b in edges]
    tri = {r.name: r.n_tri for r in triangle_stats(_edges_df(spark, edges)).collect()}
    assert set(tri.values()) == {0}
    pr = {r.name: r.rank_norm for r in pagerank(_edges_df(spark, edges)).collect()}
    want = _pr_oracle(edges)
    assert pr == want
    assert pr["hub"] > 10 * pr["leaf00"]


def test_kcore_k4_pendant(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import kcore

    # 2-core of K4 + pendant = the K4 itself (e peeled round 1, every
    # remaining node then has degree 3)
    got = {r.name: r.deg for r in kcore(_edges_df(spark, K4_PENDANT), k=2).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_chain_fully_peels(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import kcore

    chain = [(f"n{i}", f"n{i + 1}") for i in range(6)]
    assert kcore(_edges_df(spark, chain), k=2, rounds=8).count() == 0


def test_kcore_convergence_mode_equals_fixed_budget(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import kcore

    rng = random.Random(11)
    edges = {tuple(sorted((f"v{rng.randrange(30)}", f"v{rng.randrange(30)}")))
             for _ in range(60)}
    edges = [(a, b) for a, b in edges if a != b]
    fixed = {(r.name, r.deg) for r in kcore(_edges_df(spark, edges), k=3, rounds=12).collect()}
    conv = {(r.name, r.deg) for r in kcore(_edges_df(spark, edges), k=3, rounds=None).collect()}
    assert fixed == conv
    # independent oracle: iterative peeling on plain python sets
    es = set(map(tuple, edges))
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= 3}
        nes = {(a, b) for a, b in es if a in keep and b in keep}
        if nes == es:
            break
        es = nes
    exp_deg = {}
    for a, b in es:
        exp_deg[a] = exp_deg.get(a, 0) + 1
        exp_deg[b] = exp_deg.get(b, 0) + 1
    assert conv == set(exp_deg.items())


def _ktruss_oracle(edges, k, rounds=None):
    """Iterative support peel on python sets; rounds=None -> fixpoint."""
    es = {tuple(e) for e in edges}
    done = 0
    while rounds is None or done < rounds:
        nbrs = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        nes = {(a, b) for a, b in es if len(nbrs[a] & nbrs[b]) >= k - 2}
        if nes == es and rounds is None:
            break
        es = nes
        done += 1
    nbrs = {}
    for a, b in es:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    return {(a, b): len(nbrs[a] & nbrs[b]) for a, b in es}


def test_ktruss_k4_pendant(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import ktruss

    # 4-truss of K4 + pendant = the K4 (every K4 edge sits in 2 triangles;
    # the pendant edge sits in none)
    got = {(r.a, r.b): r.supp for r in
           ktruss(_edges_df(spark, K4_PENDANT), k=4).collect()}
    want = {(a, b): 2 for a, b in K4_PENDANT if (a, b) != ("d", "e")}
    assert got == want
    # 5-truss (supp >= 3) peels everything
    assert ktruss(_edges_df(spark, K4_PENDANT), k=5, rounds=8).count() == 0


def test_ktruss_cascading_peel(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import ktruss

    # two K4s sharing one edge: the shared edge has support 4 but each K4
    # edge only 2 — the 5-truss must cascade to empty (dropping the outer
    # edges strips the shared edge's support)
    k4a = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    k4b = [("c", "d"), ("c", "e"), ("c", "f"), ("d", "e"), ("d", "f"), ("e", "f")]
    edges = sorted(set(k4a + k4b))
    assert ktruss(_edges_df(spark, edges), k=5, rounds=None).count() == 0
    # the 4-truss keeps everything (every edge in >= 2 triangles)
    got = {(r.a, r.b): r.supp for r in
           ktruss(_edges_df(spark, edges), k=4, rounds=None).collect()}
    assert got == _ktruss_oracle(edges, 4)


def test_ktruss_random_graph_convergence_equals_fixed(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import ktruss

    rng = random.Random(67)
    edges = sorted({tuple(sorted(rng.sample([f"v{i:02d}" for i in range(25)], 2)))
                    for _ in range(140)})
    df = _edges_df(spark, edges)
    conv = {(r.a, r.b): r.supp for r in ktruss(df, k=4, rounds=None).collect()}
    fixed = {(r.a, r.b): r.supp for r in ktruss(df, k=4, rounds=12).collect()}
    assert conv == _ktruss_oracle(edges, 4)
    assert fixed == conv
    # the gate's fixed-4-round budget matches the 4-round python unroll
    four = {(r.a, r.b): r.supp for r in ktruss(df, k=4, rounds=4).collect()}
    assert four == _ktruss_oracle(edges, 4, rounds=4)


def _dijkstra(edges, source):
    """Exact SSSP on python dicts (binary-heap Dijkstra); edges are
    (a, b, w) undirected."""
    import heapq

    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def _wedges_df(spark, edges):
    return spark.createDataFrame(sorted(edges), "a string, b string, w long")


def test_sssp_known_answer_and_round_semantics(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import sssp

    # a -1- b -1- c -1- d, plus a -5- d direct: 3-hop path wins (3 < 5),
    # but only once rounds >= 3
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("a", "d", 5)]
    df = _wedges_df(spark, edges)
    full = {r.name: r.dist for r in sssp(df, "a", "w", rounds=4).collect()}
    assert full == {"a": 0, "b": 1, "c": 2, "d": 3}
    # after 1 round only direct edges are relaxed
    one = {r.name: r.dist for r in sssp(df, "a", "w", rounds=1).collect()}
    assert one == {"a": 0, "b": 1, "d": 5}
    # after 2 rounds the 2-edge path to c lands; d still via the direct edge
    two = {r.name: r.dist for r in sssp(df, "a", "w", rounds=2).collect()}
    assert two == {"a": 0, "b": 1, "c": 2, "d": 5}


def test_sssp_random_graph_matches_dijkstra(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import sssp

    rng = random.Random(41)
    pairs = sorted({tuple(sorted(rng.sample([f"v{i:02d}" for i in range(30)], 2)))
                    for _ in range(120)})
    edges = [(a, b, rng.randint(1, 20)) for a, b in pairs]
    got = {r.name: r.dist for r in
           sssp(_wedges_df(spark, edges), "v00", "w", rounds=29).collect()}
    assert got == _dijkstra(edges, "v00")


def test_sssp_unit_weights_equal_bfs_hops(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import sssp

    rng = random.Random(43)
    pairs = sorted({tuple(sorted(rng.sample([f"v{i:02d}" for i in range(20)], 2)))
                    for _ in range(50)})
    df = _edges_df(spark, pairs)
    got = {r.name: r.dist for r in sssp(df, "v00", rounds=19).collect()}
    assert got == _dijkstra([(a, b, 1) for a, b in pairs], "v00")
    # unreachable nodes are absent, not infinite
    assert all(n in {a for p in pairs for a in p} for n in got)


def test_ktruss_k2_raises(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import ktruss

    with pytest.raises(ValueError, match="k >= 3"):
        ktruss(_edges_df(spark, K4_PENDANT), k=2)


def test_hits_star_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import hits

    de = spark.createDataFrame([("a", "c"), ("b", "c")], "src string, dst string")
    got = {r.name: (r.hub_norm, r.auth_norm) for r in hits(de, iterations=8).collect()}
    # a, b: pure hubs sharing all hub mass (N=3 -> 1.5 each); c: the only
    # authority (3.0); zero cross-scores
    assert got == {"a": (1.5, 0.0), "b": (1.5, 0.0), "c": (0.0, 3.0)}


def test_hits_matches_numpy_power_iteration(spark):
    import numpy as np

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import hits

    rng = random.Random(23)
    edges = sorted({(f"v{rng.randrange(25)}", f"v{rng.randrange(25)}") for _ in range(80)})
    edges = [(s, d) for s, d in edges if s != d]
    de = spark.createDataFrame(edges, "src string, dst string")
    got = {r.name: (r.hub_norm, r.auth_norm) for r in hits(de, iterations=8).collect()}

    names = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(names)}
    A = np.zeros((len(names), len(names)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(names))
    for _ in range(8):
        a = A.T @ h
        h = A @ a
    n = float(len(names))
    hub = h * n / h.sum()
    auth = a * n / a.sum()
    assert set(got) == set(names)
    for nm in names:
        gh, ga = got[nm]
        assert abs(gh - hub[idx[nm]]) <= 2e-4, (nm, gh, hub[idx[nm]])
        assert abs(ga - auth[idx[nm]]) <= 2e-4, (nm, ga, auth[idx[nm]])


def test_lpa_two_cliques_with_bridge(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        label_propagation,
    )

    # two triangles joined by one bridge edge: LPA must find two
    # communities labeled by each clique's lexicographic minimum
    edges = [("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
             ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
             ("a3", "b1")]
    got = {r.name: r.community for r in
           label_propagation(_edges_df(spark, edges), rounds=4).collect()}
    assert got["a1"] == got["a2"] == got["a3"] == "a1"
    assert got["b1"] == got["b2"] == got["b3"] == "a1" or \
        got["b2"] == got["b3"] == got["b1"]
    # the b-clique converges to ONE label regardless of which


def test_lpa_matches_python_oracle(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        label_propagation,
    )

    rng = random.Random(31)
    edges = sorted({tuple(sorted((f"v{rng.randrange(20)}", f"v{rng.randrange(20)}")))
                    for _ in range(40)})
    edges = [(a, b) for a, b in edges if a != b]
    got = {r.name: r.community for r in
           label_propagation(_edges_df(spark, edges), rounds=4).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            new[n] = min(cnt, key=lambda l: (-cnt[l], l))
        labels = new
    assert got == labels


# ── closeness / eccentricity ─────────────────────────────────────────────────


def _bfs_oracle(edges, rounds=8):
    """Driver-side BFS closeness sharing no code with the operator."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for src in adj:
        dist = {src: 0}
        q = collections.deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= rounds:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        n_reach = len(dist) - 1
        sum_d = sum(dist.values())
        ecc = max(dist.values())
        clo = round(n_reach / sum_d, 4) if sum_d else 0.0
        out[src] = (n_reach, sum_d, ecc, clo)
    return out


def test_closeness_path_graph(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        closeness,
    )

    # path a-b-c-d: ends ecc 3, sum 1+2+3=6 -> clo 0.5; middles ecc 2,
    # sum 1+1+2=4 -> clo 0.75
    got = {
        r.name: (r.n_reach, r.sum_d, r.ecc, r.closeness)
        for r in closeness(
            _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        ).collect()
    }
    assert got["a"] == (3, 6, 3, 0.5)
    assert got["b"] == (3, 4, 2, 0.75)
    assert got == _bfs_oracle([("a", "b"), ("b", "c"), ("c", "d")])


def test_closeness_random_graph_matches_bfs(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        closeness,
    )

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(70)
        }
    )
    got = {
        r.name: (r.n_reach, r.sum_d, r.ecc, r.closeness)
        for r in closeness(_edges_df(spark, edges)).collect()
    }
    assert got == _bfs_oracle(edges)


def test_closeness_rounds_cap_truncates(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        closeness,
    )

    # path of length 3 with rounds=1: each node sees only direct neighbors
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    got = {
        r.name: (r.n_reach, r.ecc)
        for r in closeness(_edges_df(spark, edges), rounds=1).collect()
    }
    assert got == {"a": (1, 1), "b": (2, 1), "c": (2, 1), "d": (1, 1)}


def test_closeness_sources_subset(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        closeness,
    )

    edges = [("a", "b"), ("b", "c")]
    src = spark.createDataFrame([("a",)], "name string")
    got = {r.name for r in closeness(_edges_df(spark, edges), sources=src).collect()}
    assert got == {"a"}


# ── assortativity ────────────────────────────────────────────────────────────


def test_assortativity_star_is_negative(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        assortativity,
    )

    # star K1,4: every edge joins deg-4 hub to deg-1 leaf -> r = -1
    star = [("hub", f"l{i}") for i in range(4)]
    row = assortativity(_edges_df(spark, star)).collect()[0]
    assert row.m_ends == 8 and row.r_assort == -1.0


def test_assortativity_regular_graph_is_null(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        assortativity,
    )

    # cycle: all degrees equal -> zero variance -> NULL
    cyc = [("a", "b"), ("b", "c"), ("c", "a")]
    row = assortativity(_edges_df(spark, cyc)).collect()[0]
    assert row.m_ends == 6 and row.r_assort is None


def test_assortativity_random_graph_matches_numpy(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        assortativity,
    )

    import collections
    import math

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(30)]
    edges = sorted(
        {tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)}
    )
    deg = collections.Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    want = round(
        (m * sxy - sx * sy)
        / (math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)),
        4,
    )
    row = assortativity(_edges_df(spark, edges)).collect()[0]
    assert row.m_ends == m and row.r_assort == pytest.approx(want, abs=1e-9)


# ── modularity ───────────────────────────────────────────────────────────────


def _labels_df(spark, pairs):
    return spark.createDataFrame(sorted(pairs), "name string, community string")


def test_modularity_two_cliques_perfect_partition(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        modularity,
    )

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"), ("d", "f"), ("e", "f")]
    labels = [(n, "c1") for n in "abc"] + [(n, "c2") for n in "def"]
    rows = {r.community: r for r in modularity(_edges_df(spark, edges), _labels_df(spark, labels)).collect()}
    # m=6; each community: e_in=3, deg_tot=6 -> q = 3/6 - (6/12)^2 = 0.25
    for c in ("c1", "c2"):
        assert (rows[c].n_nodes, rows[c].e_in, rows[c].deg_tot) == (3, 3, 6)
        assert rows[c].q_c == 0.25


def test_modularity_single_community_is_zero(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        modularity,
    )

    edges = K4_PENDANT
    labels = [(n, "all") for n in "abcde"]
    rows = modularity(_edges_df(spark, edges), _labels_df(spark, labels)).collect()
    assert len(rows) == 1
    r = rows[0]
    # e_in = m and deg_tot = 2m -> q = 1 - 1 = 0 for any graph
    assert (r.n_nodes, r.e_in, r.deg_tot, r.q_c) == (5, 7, 14, 0.0)


def test_modularity_community_without_internal_edges(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        modularity,
    )

    # 'b' alone in its own community: e_in 0, deg 2 of m=2 edges
    edges = [("a", "b"), ("b", "c")]
    labels = [("a", "x"), ("c", "x"), ("b", "y")]
    rows = {r.community: r for r in modularity(_edges_df(spark, edges), _labels_df(spark, labels)).collect()}
    assert (rows["y"].e_in, rows["y"].deg_tot) == (0, 2)
    assert rows["y"].q_c == round(0.0 - (2 / 4) * (2 / 4), 4)


# ── maximal independent set ──────────────────────────────────────────────────


def _mis_python(edges, rounds):
    """Independent driver-side simulator of the deterministic Luby rule."""
    import hashlib

    def pri(n):
        return hashlib.md5(n.encode()).hexdigest() + n

    und = {x for e in edges for x in e}
    adj = {n: set() for n in und}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for r in range(1, rounds + 1):
        mis = {
            u
            for u in und
            if all(v not in und or pri(u) < pri(v) for v in adj[u])
        }
        rem = {v for u in mis for v in adj[u] if v in und}
        for u in mis:
            out[u] = ("mis", r)
        for v in rem:
            out[v] = ("removed", r)
        und -= mis | rem
    for u in und:
        out[u] = ("undecided", -1)
    return out


def test_mis_matches_python_simulator_random(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        maximal_independent_set,
    )

    rnd = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = sorted(
        {
            tuple(sorted(rnd.sample(nodes, 2)))
            for _ in range(120)
        }
    )
    got = {
        r.name: (r.status, r.mis_round)
        for r in maximal_independent_set(_edges_df(spark, edges), rounds=4).collect()
    }
    assert got == _mis_python(edges, 4)


def test_mis_is_independent_and_maximal_when_converged(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        maximal_independent_set,
    )

    rnd = random.Random(11)
    nodes = [f"m{i:02d}" for i in range(30)]
    edges = sorted({tuple(sorted(rnd.sample(nodes, 2))) for _ in range(60)})
    rows = maximal_independent_set(_edges_df(spark, edges), rounds=8).collect()
    status = {r.name: r.status for r in rows}
    assert set(status) == {x for e in edges for x in e}
    assert "undecided" not in status.values()  # 8 rounds converge at n=30
    mis = {n for n, s in status.items() if s == "mis"}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independence: no edge inside the MIS
    assert not any(b in mis for a in mis for b in adj[a])
    # maximality: every non-MIS node has a MIS neighbor
    assert all(adj[n] & mis for n, s in status.items() if s == "removed")


def test_mis_path_graph_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        maximal_independent_set,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    got = {
        r.name: (r.status, r.mis_round)
        for r in maximal_independent_set(_edges_df(spark, edges), rounds=4).collect()
    }
    assert got == _mis_python(edges, 4)


def test_harmonic_path_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        harmonic,
    )

    # path a-b-c-d: H(a) = 1 + 1/2 + 1/3 (quantized 10000+5000+3333),
    # H(b) = 1 + 1 + 1/2
    got = {
        r.name: (r.n_reach, r.h_q, r.harmonic)
        for r in harmonic(
            _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        ).collect()
    }
    assert got["a"] == (3, 18333, 1.8333)
    assert got["b"] == (3, 25000, 2.5)
    assert got["c"] == got["b"] and got["d"] == got["a"]


def test_harmonic_random_graph_matches_bfs(spark):
    from collections import deque

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        harmonic,
    )

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(35)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(55)})
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for s in adj:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        h_q = sum(10000 // d for d in dist.values() if d >= 1)
        expect[s] = (len(dist) - 1, h_q, round(h_q / 10000.0, 4))
    got = {
        r.name: (r.n_reach, r.h_q, r.harmonic)
        for r in harmonic(_edges_df(spark, edges)).collect()
    }
    assert got == expect


def test_harmonic_disconnected_and_sources(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        harmonic,
    )

    # two components: harmonic is well-defined (unreached contribute 0) --
    # the property closeness lacks; sources restricts the output rows
    edges = [("a", "b"), ("c", "d"), ("d", "e")]
    got = {r.name: r.harmonic for r in harmonic(_edges_df(spark, edges)).collect()}
    assert got["a"] == 1.0 and got["c"] == 1.5
    src = spark.createDataFrame([("a",), ("d",)], "name string")
    sub = harmonic(_edges_df(spark, edges), sources=src).collect()
    assert {r.name for r in sub} == {"a", "d"}


def _bc_python(edges, rounds=8, sources=None, scale=10000):
    """Quantized-Brandes simulator mirroring `betweenness` exactly:
    BIGINT sigma, per-level delta_q = sum((sv*(scale+dq_w))//sw)."""
    from collections import defaultdict

    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    srcs = [n for n in nodes if sources is None or n in sources]
    bc = {n: 0 for n in nodes}
    for s in srcs:
        dist = {s: 0}
        sigma = {s: 1}
        frontier = [s]
        for r in range(rounds):
            nxt: dict[str, int] = defaultdict(int)
            for v in frontier:
                for w in adj[v]:
                    if w not in dist:
                        nxt[w] += sigma[v]
            if not nxt:
                break
            for w, c in nxt.items():
                dist[w] = r + 1
                sigma[w] = c
            frontier = list(nxt)
        delta: dict[str, int] = {}
        for lev in range(rounds - 1, 0, -1):
            for v in [n for n in dist if dist[n] == lev]:
                succ = [w for w in adj[v] if dist.get(w) == lev + 1]
                if not succ:
                    continue
                total = sum(
                    (sigma[v] * (scale + delta.get(w, 0))) // sigma[w]
                    for w in succ
                )
                delta[v] = total
                bc[v] += total
    return {n: (bc[n], round(bc[n] / scale, 4)) for n in nodes}


def test_betweenness_path_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        betweenness,
    )

    # path a-b-c-d: Brandes raw sum = 2x pair betweenness; b and c each
    # sit on 2 of the 6 unordered pairs -> bc_q 40000, endpoints 0
    got = {
        r.name: (r.bc_q, r.bc)
        for r in betweenness(
            _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        ).collect()
    }
    assert got == {
        "a": (0, 0.0),
        "b": (40000, 4.0),
        "c": (40000, 4.0),
        "d": (0, 0.0),
    }


def test_betweenness_star_and_diamond(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        betweenness,
    )

    # star: hub on every leaf pair (3 pairs, x2) = 60000; leaves 0
    star = [("h", "l1"), ("h", "l2"), ("h", "l3")]
    got = {r.name: r.bc_q for r in betweenness(_edges_df(spark, star)).collect()}
    assert got == {"h": 60000, "l1": 0, "l2": 0, "l3": 0}
    # diamond (= C4) a-b, a-c, b-d, c-d: every node carries 1/2 of its
    # opposite pair's two equal paths — sigma splits 2-ways, each side
    # contributes (1*(10000+0))//2 = 5000 twice
    diamond = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    got = {
        r.name: r.bc_q for r in betweenness(_edges_df(spark, diamond)).collect()
    }
    assert got == {"a": 10000, "b": 10000, "c": 10000, "d": 10000}
    assert got == {k: v[0] for k, v in _bc_python(diamond).items()}


def test_betweenness_random_graph_matches_simulator(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        betweenness,
    )

    rng = random.Random(17)
    nodes = [f"n{i}" for i in range(30)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(50)})
    got = {
        r.name: (r.bc_q, r.bc)
        for r in betweenness(_edges_df(spark, edges)).collect()
    }
    assert got == _bc_python(edges)


def test_betweenness_disconnected_sources_and_round_cap(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        betweenness,
    )

    edges = [("a", "b"), ("c", "d"), ("d", "e")]
    got = {r.name: r.bc_q for r in betweenness(_edges_df(spark, edges)).collect()}
    # d bridges the only c-e pair (x2); components never mix
    assert got == {"a": 0, "b": 0, "c": 0, "d": 20000, "e": 0}
    # sources restricts accumulation to the sampled origins (output still
    # covers every node)
    src = spark.createDataFrame([("c",)], "name string")
    sub = {
        r.name: r.bc_q
        for r in betweenness(_edges_df(spark, edges), sources=src).collect()
    }
    assert sub == {"a": 0, "b": 0, "c": 0, "d": 10000, "e": 0}
    assert sub == {
        k: v[0] for k, v in _bc_python(edges, sources={"c"}).items()
    }
    # rounds cap truncates the BFS horizon, matching the simulator
    path = [(f"p{i}", f"p{i+1}") for i in range(6)]
    capped = {
        r.name: r.bc_q
        for r in betweenness(_edges_df(spark, path), rounds=3).collect()
    }
    assert capped == {k: v[0] for k, v in _bc_python(path, rounds=3).items()}


def _walks_python(edges, steps=8, sources=None):
    import hashlib

    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for s in sorted(adj):
        if sources is not None and s not in sources:
            continue
        cur = s
        out[(s, 0)] = s
        for t in range(steps):
            nxt = min(
                adj[cur],
                key=lambda v: (
                    int(
                        hashlib.md5(f"{s}:{t}:{cur}:{v}".encode()).hexdigest()[:12],
                        16,
                    ),
                    v,
                ),
            )
            out[(s, t + 1)] = nxt
            cur = nxt
    return out


def test_walks_match_simulator_and_stay_on_edges(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        deterministic_walks,
    )

    rng = random.Random(23)
    nodes = [f"n{i}" for i in range(25)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)})
    got = {
        (r.name, r.step): r.node
        for r in deterministic_walks(_edges_df(spark, edges), steps=5).collect()
    }
    assert got == _walks_python(edges, steps=5)
    es = {frozenset(e) for e in edges}
    for (s, t), v in got.items():
        if t >= 1:
            assert frozenset({got[(s, t - 1)], v}) in es  # every hop is an edge


def test_walks_sources_and_determinism_across_partitioning(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        deterministic_walks,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    src = spark.createDataFrame([("a",), ("d",)], "name string")
    df = _edges_df(spark, edges)
    one = {
        tuple(r)
        for r in deterministic_walks(df.repartition(1), steps=6, sources=src).collect()
    }
    many = {
        tuple(r)
        for r in deterministic_walks(df.repartition(7), steps=6, sources=src).collect()
    }
    assert one == many
    assert {r[0] for r in one} == {"a", "d"}
    assert one == {
        (s, t, v) for (s, t), v in _walks_python(edges, steps=6, sources={"a", "d"}).items()
    }


def test_effective_diameter_path_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        effective_diameter,
    )

    # path a-b-c-d-e, all sources: d-counts 1:8, 2:6, 3:4, 4:2 (20 pairs,
    # sum 40); 90% of 20 = 18 -> first cum >= 18 is d=3; diameter 4
    r = effective_diameter(
        _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    ).collect()[0]
    assert (r.n_pairs, r.sum_d, r.mean_d, r.diameter, r.eff_d) == (
        20, 40, 2.0, 4, 3,
    )


def test_effective_diameter_random_graph_matches_bfs(spark):
    import random
    from collections import deque

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        effective_diameter,
    )

    rng = random.Random(23)
    nodes = [f"n{i}" for i in range(30)]
    edges = {
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dists = []
    for s in adj:
        seen = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            if seen[u] >= 8:
                continue
            for v in adj[u]:
                if v not in seen:
                    seen[v] = seen[u] + 1
                    dq.append(v)
        dists.extend(d for d in seen.values() if d >= 1)
    n = len(dists)
    counts = sorted(dists)
    cum, eff = 0, None
    by = {}
    for d in counts:
        by[d] = by.get(d, 0) + 1
    for d in sorted(by):
        cum += by[d]
        if eff is None and 100 * cum >= 90 * n:
            eff = d
    r = effective_diameter(_edges_df(spark, edges), q_pct=90).collect()[0]
    assert (r.n_pairs, r.sum_d, r.diameter, r.eff_d) == (
        n, sum(dists), max(dists), eff,
    )
    assert r.mean_d == round(sum(dists) / n, 4)


def test_effective_diameter_sources_subset(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        effective_diameter,
    )

    # restrict sources to {a}: pairs are a's distances only (1, 2, 2)
    src = spark.createDataFrame([("a",)], "name string")
    r = effective_diameter(
        _edges_df(spark, [("a", "b"), ("b", "c"), ("b", "d")]), sources=src
    ).collect()[0]
    assert (r.n_pairs, r.sum_d, r.diameter, r.eff_d) == (3, 5, 2, 2)


# ── butterflies ──────────────────────────────────────────────────────────────


def _brute_butterflies(incid):
    left = sorted({d for d, _ in incid})
    nb = {d: {s for dd, s in incid if dd == d} for d in left}
    per = {}
    for d1, d2 in combinations(left, 2):
        c = len(nb[d1] & nb[d2])
        if c >= 2:
            bfly = c * (c - 1) // 2
            for d in (d1, d2):
                cop, tot = per.get(d, (0, 0))
                per[d] = (cop + 1, tot + bfly)
    return sorted((d, c, b) for d, (c, b) in per.items())


def test_butterflies_known_answer_and_brute_force(spark):
    # K_{2,2} on (1,2)x(a,b) = exactly 1 butterfly; doc 3 shares only one
    # shingle with each -> in no butterfly; shingle 'z' is df=1 (below
    # the window); 'w' has df=4 but stays under MAX_SHINGLE_DF
    incid = [
        (1, "a"), (1, "b"), (2, "a"), (2, "b"),
        (3, "a"), (3, "z"),
        (1, "w"), (2, "w"), (3, "w"), (4, "w"),
    ]
    df = spark.createDataFrame(incid, "doc_id bigint, shingle string")
    got = sorted(
        (r.doc_id, r.n_copair, r.n_bfly) for r in butterflies(df).collect()
    )
    assert got == _brute_butterflies(incid)
    # docs 1 and 2 share {a, b, w} -> C(3,2)=3 butterflies each from that
    # pair alone; 1-3 and 2-3 share {a, w} -> 1 more each
    assert got == [(1, 2, 4), (2, 2, 4), (3, 2, 2)]


def test_butterflies_df_cap_drops_frequent_shingles(spark, monkeypatch):
    # with the cap at 2 the df-3 shingles are excluded and no butterfly
    # survives
    from medical_doc_knowledge_graph_system_spark.functions import dedup

    incid = [(1, "a"), (2, "a"), (3, "a"), (1, "b"), (2, "b"), (3, "b")]
    df = spark.createDataFrame(incid, "doc_id bigint, shingle string")
    monkeypatch.setattr(dedup, "MAX_SHINGLE_DF", 2)
    assert butterflies(df).count() == 0
    monkeypatch.setattr(dedup, "MAX_SHINGLE_DF", 3)
    assert butterflies(df).count() == 3


# ── greedy_coloring ──────────────────────────────────────────────────────────


def _py_jp_coloring(edges, rounds=4):
    nodes = sorted({v for e in edges for v in e})
    adj = {v: set() for v in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    colors = {}
    uncolored = set(nodes)
    for r in range(1, rounds + 1):
        take = {
            v
            for v in uncolored
            if all(w not in uncolored or v > w for w in adj[v])
        }
        for v in take:
            colors[v] = r
        uncolored -= take
    return colors


def test_coloring_matches_python_and_is_proper(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        greedy_coloring,
    )

    rng = random.Random(19)
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(200)
            )
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["name"]: r["color"] for r in greedy_coloring(df, rounds=4).collect()}
    expect = _py_jp_coloring(edges, rounds=4)
    assert got == expect
    # properness: no colored edge endpoint pair shares a color
    for a, b in edges:
        if a in got and b in got:
            assert got[a] != got[b]


def test_coloring_path_graph_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        greedy_coloring,
    )

    # path 1-2-3-4-5: round 1 colors {5}, round 2 {4}, round 3 {3}, ...
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "a long, b long"
    )
    got = {r["name"]: r["color"] for r in greedy_coloring(df, rounds=4).collect()}
    assert got == {5: 1, 4: 2, 3: 3, 2: 4}  # node 1 left uncolored by budget


# ── dyad_census ──────────────────────────────────────────────────────────────


def test_dyad_census_counts(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        dyad_census,
    )

    edges = [
        ("p", "a", "b"),
        ("p", "b", "a"),  # mutual
        ("p", "a", "c"),  # asym
        ("p", "c", "c"),  # self loop dropped
        ("p", "a", "b"),  # duplicate dropped
        ("q", "x", "y"),  # asym
    ]
    df = spark.createDataFrame(edges, "pred string, subj string, obj string")
    out = {
        r["pred"]: r
        for r in dyad_census(df, "subj", "obj", ["pred"]).collect()
    }
    assert out["p"]["mutual"] == 1 and out["p"]["asym"] == 1
    assert abs(out["p"]["reciprocity"] - 2 / 3) < 1e-12
    assert out["q"]["mutual"] == 0 and out["q"]["reciprocity"] == 0.0


def test_dyad_census_fully_mutual(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        dyad_census,
    )

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, "subj string, obj string")
    r = dyad_census(df, "subj", "obj").collect()[0]
    assert r["mutual"] == 2 and r["asym"] == 0 and r["reciprocity"] == 1.0


# ── scc_by_closure ───────────────────────────────────────────────────────────


def test_scc_cycles_and_chain(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        scc_by_closure,
    )

    # cycle {a,b,c}, cycle {d,e}, chain f->g; a->d bridges the cycles
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "e"), ("e", "d"),
        ("a", "d"), ("f", "g"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["name"]: r for r in scc_by_closure(df, rounds=6).collect()}
    assert out["a"]["scc_id"] == out["b"]["scc_id"] == out["c"]["scc_id"] == "a"
    assert out["a"]["scc_size"] == 3
    assert out["d"]["scc_id"] == out["e"]["scc_id"] == "d"
    assert out["d"]["scc_size"] == 2
    assert out["f"]["scc_size"] == 1 and out["g"]["scc_size"] == 1
    # the bridge must NOT merge the two cycles
    assert out["a"]["scc_id"] != out["d"]["scc_id"]


def test_scc_matches_python_tarjan_on_random_digraph(spark):
    import random as _r

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        scc_by_closure,
    )

    rng = _r.Random(43)
    nodes = [f"n{i:02d}" for i in range(15)]
    edges = list(
        {
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(40)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["name"]: r["scc_id"] for r in scc_by_closure(df, rounds=15).collect()}

    # reference: Tarjan via iterative Kosaraju
    from collections import defaultdict

    fwd, bwd = defaultdict(list), defaultdict(list)
    ns = set()
    for a, b in edges:
        fwd[a].append(b)
        bwd[b].append(a)
        ns |= {a, b}

    def reach(start, adj):
        seen, stack = {start}, [start]
        while stack:
            for w in adj[stack.pop()]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return seen

    exp = {}
    for v in ns:
        scc = reach(v, fwd) & reach(v, bwd)
        exp[v] = min(scc)
    assert got == exp


# ── degree_discount_seeds ────────────────────────────────────────────────────


def test_degree_discount_avoids_adjacent_hubs(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        degree_discount_seeds,
    )

    # star around h1 (deg 5) adjacent to h2 (deg 4, shares leaves);
    # far clique {x,y,z}. After picking h1, h2's dd = 4 - 2 = 2, ties x/y/z
    edges = [("h1", f"l{i}") for i in range(4)] + [("h1", "h2")]
    edges += [("h2", f"l{i}") for i in range(3)]
    edges += [("x", "y"), ("y", "z"), ("x", "z")]
    df = spark.createDataFrame(edges, "a string, b string")
    out = {r["sel_rank"]: r for r in degree_discount_seeds(df, k=3).collect()}
    assert out[1]["name"] == "h1" and out[1]["dd"] == 5
    # h2 raw deg 4 but one selected neighbor -> dd = 2; ties with x/y/z
    # and 'h2' < 'x' so h2 still picked second at dd=2
    assert out[2]["dd"] == 2
    assert out[2]["name"] == "h2"
    # leaves have dd = 2 - 2*2 = -2; clique members keep dd = 2 -> 'x'
    assert out[3]["name"] == "x" and out[3]["dd"] == 2
    # verify via exhaustive recompute
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    picked, t = [], defaultdict(int)
    for _ in range(3):
        cand = sorted(
            ((len(adj[v]) - 2 * t[v], v) for v in adj if v not in picked),
            key=lambda p: (-p[0], p[1]),
        )[0]
        picked.append(cand[1])
        for u in adj[cand[1]]:
            t[u] += 1
    assert [out[i]["name"] for i in (1, 2, 3)] == picked


# ── count_4cliques ───────────────────────────────────────────────────────────


def _py_count4(edges):
    from itertools import combinations

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    tri = c4 = 0
    for t in combinations(nodes, 3):
        if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]:
            tri += 1
    for q in combinations(nodes, 4):
        if all(y in adj[x] for x, y in combinations(q, 2)):
            c4 += 1
    return tri, c4


def test_count4_known_graphs(spark):
    from itertools import combinations

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        count_4cliques,
    )

    # K5 has C(5,3)=10 triangles and C(5,4)=5 four-cliques
    k5 = list(combinations("abcde", 2))
    df = spark.createDataFrame(k5, "a string, b string")
    r = count_4cliques(df).collect()[0]
    assert (r["n_edges"], r["n_triangles"], r["n_cliques4"]) == (10, 10, 5)


def test_count4_matches_bruteforce_random(spark):
    import random as _r

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        count_4cliques,
    )

    rng = _r.Random(53)
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = sorted(
        {
            tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
            for _ in range(45)
        }
    )
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "a string, b string")
    r = count_4cliques(df).collect()[0]
    tri, c4 = _py_count4(edges)
    assert (r["n_triangles"], r["n_cliques4"]) == (tri, c4)


# ── rich_club ────────────────────────────────────────────────────────────────


def test_rich_club_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        rich_club,
    )

    # hub clique 0-1-2-3 (complete) + pendant spokes to drive degrees up
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    edges += [(0, 10), (0, 11), (1, 12), (2, 13), (3, 14)]
    edges += [(1, 15), (2, 16), (3, 17)]  # lift the clique to degree 5
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["k"]: r for r in rich_club(df, ks=(1, 2, 4)).collect()}

    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for k in (1, 2, 4):
        rich = {v for v, d in deg.items() if d > k}
        if len(rich) < 2:
            assert k not in got
            continue
        ek = sum(1 for a, b in edges if a in rich and b in rich)
        assert got[k]["n_nodes"] == len(rich)
        assert got[k]["n_edges"] == ek
        assert abs(got[k]["phi"] - 2 * ek / (len(rich) * (len(rich) - 1))) < 1e-9
    # the degree>4 club is exactly the clique: phi == 1
    assert got[4]["phi"] == 1.0
