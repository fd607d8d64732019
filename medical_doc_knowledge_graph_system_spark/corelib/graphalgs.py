"""Exact in-memory graph traversals (no Spark imports — corelib invariant).

Driver-side counterparts of the distributed path loops in
operators/graph_queries.py, used within the driver fetch bound
(session.DRIVER_MAX_ROWS): a KG vocabulary graph is bounded by the canonical
term dictionary, orders of magnitude smaller than the corpus, which is why
the reference serves the same traversals from a single Neo4j server
(app/retrieval/path_reasoning.py:15-43). Two traversals over one
``adjacency`` dict:

- ``multi_source_paths``: shortest paths per (seed, target) pair —
  level-synchronous BFS per seed, lexicographically-min (path, rels) per
  node per level, visited pruning (reference C11, and C13 seed→target
  paths; ``graph_queries.shortest_path`` is its one-pair case);
- ``all_simple_paths``: every cycle-free path up to max_hops, no visited
  pruning (reference C12).

Semantics are EXACTLY the distributed loops', proven equal by
tests/test_graph_queries.py's driver-vs-distributed equality tests. Python
tuple-of-str comparison matches Spark's array<string> ordering (element-wise
code-point compare; all paths within a level share one length, so the
shorter-prefix rule never fires).
"""

from __future__ import annotations

from collections import defaultdict


def adjacency(edge_rows) -> dict[str, list[tuple[str, str]]]:
    """(x, y, rel_type) triples -> adjacency dict x -> [(y, rel), ...].

    Input is the already-symmetrized undirected edge list (both directions
    present), exactly what operators/graph_queries.undirected() collects."""
    adj: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for x, y, rel in edge_rows:
        adj[x].append((y, rel))
    return adj


def all_simple_paths(
    adj: dict[str, list[tuple[str, str]]],
    src: str,
    dst: str,
    max_hops: int,
    max_paths: int,
) -> list[tuple[int, list[str], list[str]]]:
    """All simple paths src -> dst up to max_hops, ordered by
    (hops, path, rels), first max_paths. Paths through dst are not extended
    (the distributed loop drops y == dst rows from the next frontier)."""
    out: list[tuple[int, tuple[str, ...], tuple[str, ...]]] = []
    frontier: list[tuple[tuple[str, ...], tuple[str, ...]]] = [((src,), ())]
    for hop in range(1, max_hops + 1):
        nxt: list[tuple[tuple[str, ...], tuple[str, ...]]] = []
        for p, r in frontier:
            for m, rel in adj.get(p[-1], ()):
                if m in p:  # cycle-free: array_contains(path, next) analogue
                    continue
                c = (p + (m,), r + (rel,))
                if m == dst:
                    out.append((hop, c[0], c[1]))
                else:
                    nxt.append(c)
        frontier = nxt
        if not frontier:
            break
    out.sort()
    return [(h, list(p), list(r)) for h, p, r in out[:max_paths]]


def multi_source_paths(
    adj: dict[str, list[tuple[str, str]]],
    seeds: list[str],
    targets: list[str],
    max_hops: int,
) -> list[tuple[str, str, int, list[str], list[str]]]:
    """Per (seed, target) pair with seed != target: first-arrival hop +
    lexicographically-min (path, rels) among min-hop paths; unreachable
    pairs are absent. One BFS per seed serves all its targets; targets keep
    expanding as intermediates, matching the distributed loop, which never
    removes hit nodes from the frontier."""
    found: list[tuple[str, str, int, list[str], list[str]]] = []
    tset = set(targets)
    for s in sorted(set(seeds)):
        want = {t for t in tset if t != s}
        if not want:
            continue
        frontier: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
            s: ((s,), ())
        }
        visited = {s}
        for hop in range(1, max_hops + 1):
            cand: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {}
            for n, (p, r) in frontier.items():
                for m, rel in adj.get(n, ()):
                    c = (p + (m,), r + (rel,))
                    if m not in cand or c < cand[m]:
                        cand[m] = c
            for t in sorted(want & cand.keys()):
                p, r = cand[t]
                found.append((s, t, hop, list(p), list(r)))
            want -= cand.keys()
            frontier = {m: c for m, c in cand.items() if m not in visited}
            if not want or not frontier:
                break
            visited |= frontier.keys()
    return found
