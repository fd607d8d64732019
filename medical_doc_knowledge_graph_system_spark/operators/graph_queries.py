"""Graph retrieval operators over the materialized nodes/edges tables.

Spark-first re-expression of the reference's Cypher retrieval patterns
(app/retrieval/*): k-hop expansion, relationship-constrained traversal, BFS
shortest path, all-paths enumeration, provenance joins, graph stats.
Recursion has no Catalyst primitive, so variable-length expansions are
driver-orchestrated loops of DataFrame joins (k <= 6, SURVEY §2.C8-C13) —
each iteration is a distributed join, only loop control lives on the driver.
The path traversals (shortest paths, all paths) first try
session.driver_rows on the undirected edge list: within its bound they run
as exact in-memory BFS on the driver (corelib/graphalgs.py), and only a
larger graph pays the distributed loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corelib import graphalgs
from ..session import driver_rows, pin_rows


def _try_collect_adjacency(adj: DataFrame) -> dict[str, list[tuple[str, str]]] | None:
    """The symmetric (x, y, rel_type) list as a driver adjacency dict, or
    None when session.driver_rows finds it over the bound (the caller runs
    its distributed loop). Path traversals on the driver are exact
    in-memory BFS (corelib/graphalgs.py), proven equal to the distributed
    loops by tests/test_graph_queries.py."""
    rows = driver_rows(adj.select("x", "y", "rel_type"))
    if rows is None:
        return None
    return graphalgs.adjacency(rows.itertuples(index=False, name=None))


def undirected(edges: DataFrame) -> DataFrame:
    """Edge list as symmetric (x, y, rel_type) — Cypher's -[*]- semantics."""
    fwd = edges.select(F.col("src").alias("x"), F.col("dst").alias("y"), "rel_type")
    rev = edges.select(F.col("dst").alias("x"), F.col("src").alias("y"), "rel_type")
    return fwd.union(rev)


def _pin(adj: DataFrame) -> DataFrame:
    """Cache the adjacency list for the duration of an iterative traversal.

    BFS loops evaluate adj 1-3× per hop (expand, target probe, emptiness
    check); without pinning, an adjacency built from an expensive lineage
    (e.g. the mention self-join behind doc_triples) is recomputed every
    evaluation. MEMORY_AND_DISK spills rather than OOMs on a huge edge list —
    the standard iterative-graph pattern (GraphFrames does the same). Callers
    unpersist in a finally block so long sessions don't accumulate state."""
    from pyspark import StorageLevel

    return adj.persist(StorageLevel.MEMORY_AND_DISK)


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 2,
    allowed_rel_types: list[str] | None = None,
    limit: int = 100,
) -> DataFrame:
    """(node_id, hops): distinct neighbors within max_hops of any seed,
    min-hop per node, ordered by hops (reference C8,
    app/retrieval/k_hop_expansion.py:20-48: ORDER BY hops LIMIT 100; D8
    min-hop dedup). With allowed_rel_types set this is the
    relationship-constrained traversal (C9,
    app/retrieval/relationship_filter.py:19-47) — the type filter is pushed
    into every expansion step.

    seeds: DataFrame with column node_id.
    """
    adj = undirected(edges)
    if allowed_rel_types:
        adj = adj.where(F.col("rel_type").isin(allowed_rel_types))
    adj = _pin(adj.select("x", "y").distinct())

    # frontiers are broadcast while small (seed neighborhoods usually are);
    # beyond the threshold fall back to a shuffle join — a BFS frontier on a
    # web graph can explode, and force-broadcasting it would OOM executors.
    broadcast_limit = 100_000

    try:
        frontier, frontier_n = pin_rows(seeds.select(F.col("node_id").alias("y")).distinct())
        reached = frontier.select("y", F.lit(0).alias("hops"))
        for hop in range(1, max_hops + 1):
            f = frontier.hint("broadcast") if frontier_n <= broadcast_limit else frontier
            nxt = adj.join(f, adj.x == f.y).select(adj.y.alias("y")).distinct()
            # min-hop semantics: drop nodes already reached at a smaller hop
            nxt, frontier_n = pin_rows(nxt.join(reached.select("y"), "y", "left_anti"))
            if frontier_n == 0:
                break
            reached = reached.union(nxt.select("y", F.lit(hop).alias("hops")))
            frontier = nxt
        return (
            reached.where(F.col("hops") > 0)
            .select(F.col("y").alias("node_id"), "hops")
            .orderBy("hops", "node_id")
            .limit(limit)
        )
        # safe to return lazily: reached is a union of localCheckpoint()ed
        # frontiers, so evaluating it later never re-touches the unpinned adj
    finally:
        adj.unpersist()


def shortest_path(
    edges: DataFrame,
    src_id: str,
    dst_id: str,
    max_hops: int = 6,
) -> DataFrame:
    """BFS shortest path src -> dst (undirected), one row:
    (hops, path: array<node_id>, rels: array<rel_type>) or empty.
    Reference C11 (app/retrieval/path_reasoning.py:15-29, shortestPath *..6).
    The one-seed, one-target case of multi_source_shortest_paths; src == dst
    leaves no pair to resolve, so the same-node guard (path_reasoning.py:66)
    yields the empty result.
    """
    return multi_source_shortest_paths(edges, [src_id], [dst_id], max_hops).select(
        "hops", "path", "rels"
    )


def multi_source_shortest_paths(
    edges: DataFrame,
    seed_ids: list[str],
    target_ids: list[str],
    max_hops: int = 5,
) -> DataFrame:
    """ALL (seed, target) shortest paths in ONE BFS loop: the frontier
    carries seed_id, so s seeds × t targets resolve in max_hops driver
    rounds instead of s*t sequential BFS invocations (each a multi-job
    loop — the r2 verdict's driver-latency sink in _reasoning_paths).

    Returns (seed_id, target_id, hops, path, rels): per pair, the minimum
    hop count and the lexicographically-min path at that hop (reference C11
    semantics, app/retrieval/path_reasoning.py:15-29) — the per-seed
    traversal (visited set, min-path-per-node frontier) is
    target-independent and targets only observe their first-arrival hop.
    Within session.DRIVER_MAX_ROWS undirected edges: exact in-memory BFS on
    the fetched edge list. Above: frontier loop of distributed joins — path
    arrays on the frontier, visited anti-join, early exit once every pair
    is resolved."""
    spark = edges.sparkSession
    remaining = {(s, t) for s in seed_ids for t in target_ids if s != t}
    out_schema = (
        "seed_id string, target_id string, hops int, "
        "path array<string>, rels array<string>"
    )
    if not remaining:
        return spark.createDataFrame([], out_schema)
    local_adj = _try_collect_adjacency(undirected(edges))
    if local_adj is not None:
        return spark.createDataFrame(
            graphalgs.multi_source_paths(local_adj, seed_ids, target_ids, max_hops),
            out_schema,
        )
    adj = _pin(undirected(edges))
    frontier = spark.createDataFrame(
        [(s, s, [s], []) for s in sorted({s for s, _ in remaining})],
        "seed_id string, y string, path array<string>, rels array<string>",
    )
    visited = frontier.select("seed_id", "y")
    # targets are a bounded caller-supplied list -> an isin() filter, not a
    # join: no broadcast exchange, and the probe collapses into the same
    # tiny collect as the emptiness check
    target_set = sorted({t for _, t in remaining})
    found: list[tuple] = []
    try:
        for hop in range(1, max_hops + 1):
            # TWO driver rounds per hop (r4; was 5 in r2, 4 in r3): expand ->
            # min-per-(seed,node) -> visited anti-join in ONE
            # materialization, then one tiny collect over the checkpoint
            # serves both the target hits and the emptiness check (a
            # limit(1) marker row signals non-empty). Probing the
            # anti-joined frontier is equivalent to probing the raw
            # expansion: a (seed, target) first-arrival is by definition
            # not in visited, and later re-arrivals were already discarded
            # from `remaining` at first arrival.
            frontier = (
                adj.join(frontier.hint("broadcast"), adj.x == frontier.y)
                .select(
                    frontier.seed_id,
                    adj.y.alias("y"),
                    F.concat("path", F.array(adj.y)).alias("path"),
                    F.concat("rels", F.array("rel_type")).alias("rels"),
                )
                # lexicographically-min path per (seed, node): every prefix of
                # a min shortest path is itself min, so these compose
                .groupBy("seed_id", "y")
                .agg(F.min(F.struct("path", "rels")).alias("pr"))
                .select(
                    "seed_id",
                    "y",
                    F.col("pr.path").alias("path"),
                    F.col("pr.rels").alias("rels"),
                )
                .join(visited, ["seed_id", "y"], "left_anti")
                .localCheckpoint()
            )
            probe = (
                frontier.where(F.col("y").isin(target_set))
                .select(F.lit(1).alias("m"), "seed_id", "y", "path", "rels")
                .unionByName(
                    frontier.limit(1).select(
                        F.lit(0).alias("m"), "seed_id", "y", "path", "rels"
                    )
                )
                .collect()
            )
            for r in probe:
                if r.m == 1 and (r.seed_id, r.y) in remaining:
                    remaining.discard((r.seed_id, r.y))
                    found.append((r.seed_id, r.y, hop, r.path, r.rels))
            if not remaining or not probe:
                break
            # per-hop frontiers are disjoint by construction (each anti-joins
            # everything before it), so visited grows by plain union of
            # checkpointed frames — no distinct, no per-hop job
            visited = visited.union(frontier.select("seed_id", "y"))
        return spark.createDataFrame(found, out_schema)
    finally:
        adj.unpersist()


def all_paths(
    edges: DataFrame,
    src_id: str,
    dst_id: str,
    max_hops: int = 4,
    max_paths: int = 5,
) -> DataFrame:
    """All simple paths src -> dst up to max_hops, ORDER BY hops LIMIT n
    (reference C12, path_reasoning.py:31-43). Cycle-free via
    array_contains(path, next) check instead of a visited set (path-distinct,
    not node-distinct). Same driver/distributed threshold as
    multi_source_shortest_paths."""
    spark = edges.sparkSession
    local_adj = _try_collect_adjacency(undirected(edges))
    if local_adj is not None:
        return spark.createDataFrame(
            graphalgs.all_simple_paths(local_adj, src_id, dst_id, max_hops, max_paths),
            "hops int, path array<string>, rels array<string>",
        )
    adj = _pin(undirected(edges))
    frontier = spark.createDataFrame(
        [(src_id, [src_id], [])], "y string, path array<string>, rels array<string>"
    )
    found = spark.createDataFrame([], "hops int, path array<string>, rels array<string>")
    try:
        for hop in range(1, max_hops + 1):
            expanded = (
                adj.join(frontier.hint("broadcast"), adj.x == frontier.y)
                .where(~F.array_contains("path", adj.y))
                .select(
                    adj.y.alias("y"),
                    F.concat("path", F.array(adj.y)).alias("path"),
                    F.concat("rels", F.array("rel_type")).alias("rels"),
                )
                .localCheckpoint()
            )
            hits = expanded.where(F.col("y") == dst_id).select(
                F.lit(hop).alias("hops"), "path", "rels"
            )
            found = found.union(hits)
            frontier = expanded.where(F.col("y") != dst_id)
            if frontier.isEmpty():
                break
        # found unions localCheckpoint()ed per-hop results — lazy return is
        # safe after unpersist
        return found.orderBy("hops", "path", "rels").limit(max_paths)
    finally:
        adj.unpersist()


def condition_chain(edges: DataFrame) -> DataFrame:
    """Per condition: collected medications and symptoms (reference C10,
    relationship_filter.py:50-61: OPTIONAL MATCH + collect(DISTINCT ...))."""
    treated = edges.where(F.col("rel_type") == "TREATED_WITH")
    manifests = edges.where(F.col("rel_type") == "MANIFESTS_AS")
    conditions = (
        edges.where(F.col("subj_label") == "Condition")
        .select(F.col("subj").alias("condition"))
        .union(
            edges.where(F.col("obj_label") == "Condition").select(
                F.col("obj").alias("condition")
            )
        )
        .distinct()
    )
    meds = treated.groupBy(F.col("subj").alias("condition")).agg(
        F.sort_array(F.collect_set("obj")).alias("medications")
    )
    syms = manifests.groupBy(F.col("subj").alias("condition")).agg(
        F.sort_array(F.collect_set("obj")).alias("symptoms")
    )
    return (
        conditions.join(meds, "condition", "left")
        .join(syms, "condition", "left")
        .select(
            "condition",
            F.coalesce("medications", F.array().cast("array<string>")).alias("medications"),
            F.coalesce("symptoms", F.array().cast("array<string>")).alias("symptoms"),
        )
    )


def provenance_citations(
    provenance_edges: DataFrame,
    chunks: DataFrame,
    documents: DataFrame | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Citations: SOURCED_FROM ⋈ chunks [⋈ documents], ordered by confidence
    desc (reference C14, app/retrieval/provenance.py:19-47: entity ->
    SOURCED_FROM -> chunk -> BELONGS_TO -> document). The BELONGS_TO hop is
    the url column on chunks (SURVEY §1.4); passing the documents dim
    completes the 3-way join with document metadata.

    The join keys include url alongside chunk_id — semantically redundant
    (chunk_id is a pure function of (url, chunk_idx)) but it lets url-hash
    bucketed warehouse tables co-locate the join with NO Exchange (Spark
    accepts HashPartitioning(url) for join keys ⊇ {url})."""
    out = (
        provenance_edges.join(
            chunks.select(
                "url", "chunk_id", F.col("text").alias("source_text"), "start_char"
            ),
            on=(provenance_edges.dst == chunks.chunk_id)
            & (provenance_edges.url == chunks.url),
        )
        .select(
            F.col("name").alias("entity_name"),
            "label",
            "source_text",
            provenance_edges.url.alias("source_url"),
            "confidence",
            "extraction_method",
        )
    )
    if documents is not None:
        out = out.join(
            documents.select(
                F.col("url").alias("source_url"), "warc_ts", F.col("lang").alias("doc_lang")
            ),
            "source_url",
        )
    out = out.orderBy(F.desc("confidence"), "entity_name", "source_url")
    return out.limit(limit) if limit else out


def next_chunk_join(chunks: DataFrame) -> DataFrame:
    """Each chunk with its continuation (reference C15/A9: NEXT edges become
    a lead() window over (url, chunk_idx) — no self-join, no edge table)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("chunk_idx")
    return chunks.select(
        "chunk_id",
        "url",
        "chunk_idx",
        "start_char",
        F.lead("chunk_id").over(w).alias("next_chunk_id"),
    )


def graph_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Node count by label + total edges (reference D1/D2,
    app/graph/queries.py:185-195)."""
    by_label = nodes.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    totals = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return by_label.crossJoin(totals).orderBy(F.desc("n_nodes"), "label")


def entity_lookup(nodes: DataFrame, name: str) -> DataFrame:
    """Point lookup by name (reference C16, app/main.py:187-193)."""
    return nodes.where(F.col("name") == name).limit(1)
