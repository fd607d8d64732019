"""Whole-graph analytics over the materialized KG edge set.

The reference serves its graph from one Neo4j instance, where global
analytics (centrality, clustering structure) come from APOC/GDS calls on
the single box (SURVEY §2 non-goal for the *serving* surface). At
10^12-document scale the entity graph itself is cluster-sized, so the
Spark-native engine carries them as first-class distributed operators:

- ranking: ``pagerank`` (global, personalized, weighted) and ``hits`` —
  power iteration as join + one groupBy sum per round (map-side partial
  aggregation sends a head entity's reducer one row per map task, not its
  whole neighbor list), lineage kept flat with ``localCheckpoint`` (the
  GraphFrames/Pregel shape);
- triangle family: ``triangle_stats``, ``ktruss``, ``count_4cliques`` and
  ``link_prediction``/``rich_club`` over one pinned degree frame
  (``_degrees``). Triangles come from ONE enumerator: ``_oriented``
  directs each edge by (deg, name) rank and ``_triangles`` closes the
  wedges, so a Zipf-headed hub with degree d contributes O(d) oriented
  wedges, not O(d^2);
- peeling: ``kcore`` and ``ktruss`` share the ``_peel`` loop (fixed budget
  or run to convergence);
- traversal: ``closeness``, ``harmonic``, ``effective_diameter`` (on
  ``_ms_bfs_dists``), ``betweenness``, ``deterministic_walks``, ``sssp``
  and ``label_propagation``; the first five and LPA read one pinned
  mirrored adjacency (``_adjacency``) with its origin restriction
  (``_origins``);
- structure: ``assortativity``, ``modularity``, ``greedy_coloring``,
  ``maximal_independent_set``, ``butterflies``, ``dyad_census``,
  ``scc_by_closure`` and ``degree_discount_seeds``.

Undirected operators take the same edge-list contract as the CC operators:
``edges`` with columns (a, b), a < b, distinct (``hits``, ``dyad_census``
and ``scc_by_closure`` read a directed (src, dst) list, ``butterflies`` a
bipartite (doc_id, shingle) incidence frame). Each pins the
(tiny, vocabulary-sized) edge frame before fanning it out: Catalyst reuses
nothing across union/self-join branches (CLAUDE.md late-r2), so an
unpinned corpus-derived lineage would re-run per reference.

Pin rule. A loop makes two decisions at a pin, and each has one home:

- width: a pin keyed for a later join or aggregate goes through ``_pin``,
  which spreads it over ``PIN_PARTITIONS`` hash partitions first. On
  Spark 4.1 the pin drops the hash partitioning itself, but the width
  stays: it is the task count of every stage that reads the pin;
- row count: a loop that needs its node or frontier count reads it from
  the pin's own job (``session.pin_rows``, an Observation), never from a
  separate count or take probe job.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dedup import rare_pairs
from ..session import literal_frame, pin_rows

PAGERANK_DAMPING = 0.85

# Partition count of every keyed pin (``_pin``), read at call time. A fixed
# 8, not skew.shuffle_width: at local[16] with 32 shuffle partitions the
# derived width (32) was slower on all three loops measured (sf0.1,
# bench_extra-style noop sink, 4 alternating reps per side, warm minimum,
# 4-core host): kg_closeness 10.30 s at 8 vs 10.93 s at 32, kg_lpa 3.86 vs
# 3.98 s, kg_hits 5.41 vs 5.82 s. The pinned frames are node- or
# frontier-sized, so more partitions add tasks, not parallel work.
PIN_PARTITIONS = 8

# r6: iterative loops checkpoint every PIN_EVERY rounds instead of every
# round (each localCheckpoint is a job barrier; the lineage between pins is
# additive-in-bits for the loops that use this, so plan size and Catalyst
# stats stay bounded). Applies only to loops WITHOUT self-derivative joins —
# peel/truss loops keep their per-round pins (CLAUDE.md stats-explosion
# gotcha).
PIN_EVERY = 4


def _mirrored(e0: DataFrame) -> DataFrame:
    """Symmetric (x, y) view of the pinned a<b edge list."""
    return e0.select(F.col("a").alias("x"), F.col("b").alias("y")).union(
        e0.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )


def _pin(df: DataFrame, *keys: str, rows: bool = False) -> DataFrame | tuple[DataFrame, int]:
    """``df`` hash-spread by ``keys`` over PIN_PARTITIONS partitions and
    pinned — the one width rule of this module. With ``rows=True`` it
    returns (pinned, row count), the count read from the pin's own job."""
    spread = df.repartition(PIN_PARTITIONS, *keys)
    return pin_rows(spread) if rows else spread.localCheckpoint()


def _union_all(frames: list[DataFrame]) -> DataFrame:
    """Left-deep positional union of same-shape frames."""
    return reduce(DataFrame.unionAll, frames)


def _degrees(e0: DataFrame) -> DataFrame:
    """Pinned (name, deg) frame of the pinned a<b edge list — also its node
    list."""
    return _pin(
        _mirrored(e0).groupBy(F.col("x").alias("name")).agg(F.count(F.lit(1)).alias("deg")),
        "name",
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """Pinned mirrored (x, y) adjacency of the undirected (a, b) edge list,
    keyed by x. Without the pin width the pin keeps the union's partition
    count and the first BFS frontier starts on one partition (measured
    14-27% slower on the BFS family at sf0.1)."""
    e0 = edges.select("a", "b").localCheckpoint()
    return _pin(_mirrored(e0), "x")


def _origins(
    adj: DataFrame, sources: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(nodes, origins) of a pinned adjacency: the distinct node list, and
    the traversal origins — the nodes named by the first column of
    ``sources``, or every node when it is None."""
    nodes = adj.select(F.col("x").alias("name")).distinct()
    if sources is None:
        return nodes, nodes
    return nodes, nodes.join(
        sources.select(F.col(sources.columns[0]).alias("name")), "name"
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = PAGERANK_DAMPING,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over the undirected graph, fixed-iteration power method.

    ``weight_col`` (a positive numeric column on ``edges``) switches to the
    WEIGHTED recurrence: deg(u) becomes the weight sum W(u) and each
    neighbor receives (r(u)/W(u)) * w_uv — rank flows proportionally to
    edge strength (for the KG term graph, n_docs co-occurrence counts).
    With weight_col=None the plan is byte-identical to the unweighted
    operator (count aggregate, no weight column shipped per edge).

    Node set = endpoints of ``edges`` (every node therefore has degree >= 1
    after mirroring, so there is no dangling-mass term and the update is
    exactly  r'(v) = (1-d)*p(v) + d * sum_{u~v} r(u)/deg(u)  — the same
    closed recurrence the DuckDB oracle unrolls). p is uniform over all
    nodes (global PageRank), or — when ``seeds`` (a one-column ``name``
    frame) is given — uniform over the seed set (PERSONALIZED PageRank:
    restart mass concentrates on the seeds, so rank_norm measures
    importance *relative to the query entities*, the retrieval-side use).
    Returns (name, rank_norm) where rank_norm = rank * N (mean 1.0),
    rounded to 4dp — N-invariant scaling keeps the driver's 4dp float
    convention meaningful at any graph size.

    Scale shape: one shuffle per iteration (the contribution aggregate,
    whose map-side partial sum caps a head entity's reducer input at one
    row per map task), constant-width lineage via localCheckpoint, no
    driver data path at all (the loop is count-free: a fixed iteration
    budget is the power-method contract; N and the seed count come from
    their pins).
    """
    cols = ["a", "b"] + ([weight_col] if weight_col else [])
    e0 = edges.select(*cols).localCheckpoint()
    if weight_col is None:
        mirror = _mirrored(e0)
        deg_agg = F.count(F.lit(1)).alias("deg")
    else:
        mirror = e0.select(
            F.col("a").alias("x"), F.col("b").alias("y"), F.col(weight_col).alias("wt")
        ).union(
            e0.select(
                F.col("b").alias("x"), F.col("a").alias("y"), F.col(weight_col).alias("wt")
            )
        )
        deg_agg = F.sum("wt").alias("deg")
    # deg is also the node list; rank/deg is pre-divided once per round so
    # the per-edge join carries a single double.
    deg, n_nodes = _pin(
        mirror.groupBy(F.col("x").alias("name")).agg(deg_agg), "name", rows=True
    )
    if n_nodes == 0:
        return deg.select("name", F.lit(0.0).alias("rank_norm"))
    adj = _pin(mirror, "x")
    if seeds is None:
        # uniform restart: p(v) = 1/N, a plan-time constant
        base_col = F.lit((1.0 - damping) / float(n_nodes))
        init_col = F.lit(1.0 / float(n_nodes))
        deg_p = deg.withColumn("__base", base_col).withColumn("__init", init_col)
    else:
        # personalized restart: p uniform over the seed set. seed count is
        # driver-side (query entities — a handful); the membership join
        # broadcasts. Non-seed nodes restart with 0 mass and are ranked
        # purely by proximity to the seeds.
        seed_set, n_seeds = pin_rows(seeds.select(F.col("name").alias("__sn")).distinct())
        if n_seeds == 0:
            raise ValueError("personalized pagerank requires a non-empty seed set")
        p_val = 1.0 / float(n_seeds)
        is_seed = F.col("__sn").isNotNull()
        deg_p = (
            deg.join(F.broadcast(seed_set), deg.name == F.col("__sn"), "left")
            .select(
                "name",
                "deg",
                F.when(is_seed, F.lit((1.0 - damping) * p_val))
                .otherwise(F.lit(0.0))
                .alias("__base"),
                F.when(is_seed, F.lit(p_val)).otherwise(F.lit(0.0)).alias("__init"),
            )
            .localCheckpoint()
        )
    # ranks carries deg and the per-node restart term so each round is
    # exactly 2 joins (contribution gather + node-list reattach), not 3 —
    # share = rank/deg needs no join.
    ranks = deg_p.select("name", "deg", "__base", F.col("__init").alias("rank"))
    # weighted: each neighbor receives share * w_uv (share is rank/W(u), so
    # the per-edge multiply restores rank * w_uv / W(u)); unweighted: the
    # share column IS the contribution.
    edge_val = (
        F.col("share") if weight_col is None else (F.col("share") * F.col("wt"))
    )
    # r6 (VERDICT #4, guide §2.6): checkpoint every PIN_EVERY rounds, not
    # every round — each localCheckpoint is a full job barrier, and on
    # small-to-medium graphs the per-round barrier dominates the round's
    # actual work. The unrolled lineage between pins is additive-in-bits
    # (rank joins node-list + aggregate — no self-derivative join), so the
    # ktruss stats-explosion gotcha does not apply; values are identical
    # (same expression DAG, measured hash-equal at pin_every 1/2/4/none).
    for _i in range(iterations):
        shares = ranks.select("name", (F.col("rank") / F.col("deg")).alias("share"))
        contrib = (
            adj.join(shares, adj.x == shares.name)
            .groupBy("y")
            .agg(F.sum(edge_val).alias("in_share"))
        )
        # every node has an in-edge (mirrored graph, deg >= 1) so an inner
        # join against deg_p (the node list) loses nothing; the left join
        # is belt-and-braces for a future directed caller.
        ranks = deg_p.join(contrib, deg_p.name == contrib.y, "left").select(
            "name",
            "deg",
            "__base",
            (
                F.col("__base")
                + F.lit(damping) * F.coalesce("in_share", F.lit(0.0))
            ).alias("rank"),
        )
        if (_i + 1) % PIN_EVERY == 0 and _i != iterations - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "name", F.round(F.col("rank") * F.lit(float(n_nodes)), 4).alias("rank_norm")
    )


def _oriented(e0: DataFrame, deg: DataFrame) -> DataFrame:
    """Pinned degree-ordered orientation (src, dst, dst_deg) of the pinned
    a<b edge list: edge {a, b} is directed from the endpoint with the
    smaller (deg, name) pair to the larger. Every triangle then has exactly
    one node with two out-edges (its minimum-rank corner), and a degree-d
    Zipf hub is the source of few edges — the property that keeps the
    wedge self-join alive at web scale.
    """
    da, db = deg.alias("da"), deg.alias("db")
    with_deg = (
        e0.join(da, F.col("a") == F.col("da.name"))
        .join(db, F.col("b") == F.col("db.name"))
        .select(
            "a", "b", F.col("da.deg").alias("deg_a"), F.col("db.deg").alias("deg_b")
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    ).localCheckpoint()


def _triangles(oriented: DataFrame) -> DataFrame:
    """Enumerate each triangle of an ``_oriented`` edge frame exactly once
    as (u, v, w) — vertices in (deg, name) rank order, NOT name order, so
    u -> v, u -> w and v -> w are all oriented edges. (wedge at the
    minimum-rank corner u) ∩ (closing oriented edge) hits each triangle
    exactly once; wedge fan-out is bounded by the smaller endpoint degree.
    The result is pinned: every caller reads it more than once, and Spark
    reuses no exchange across those branches.
    """
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedge (src -> v, src -> w) with v before w in (deg, name) rank order;
    # the closing edge {v, w} is then oriented v -> w by construction.
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).where(
        (F.col("o1.dst_deg") < F.col("o2.dst_deg"))
        | (
            (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
            & (F.col("o1.dst") < F.col("o2.dst"))
        )
    )
    closer = oriented.select(
        F.col("src").alias("c_src"), F.col("dst").alias("c_dst")
    )
    return wedges.join(
        closer,
        (F.col("o1.dst") == F.col("c_src")) & (F.col("o2.dst") == F.col("c_dst")),
    ).select(
        F.col("o1.src").alias("u"), F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w")
    ).localCheckpoint()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient.

    Triangle enumeration via ``_triangles`` (degree-ordered orientation);
    clust = 2*T / (deg*(deg-1)) for deg >= 2 else 0.0, rounded to 4dp.

    Scale shape: 2 shuffles to orient (degree join on each endpoint), one
    self-join on the wedge apex whose fan-out is bounded by min-endpoint
    degree, one broadcast-size-agnostic closing join on (v, w) — the
    standard MR triangle enumeration.
    """
    e0 = edges.select("a", "b").localCheckpoint()
    deg = _degrees(e0)
    tris = _triangles(_oriented(e0, deg))
    per_node = (
        tris.select(F.col("u").alias("name"))
        .union(tris.select(F.col("v").alias("name")))
        .union(tris.select(F.col("w").alias("name")))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(per_node, "name", "left")
        .select(
            "name",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce("n_tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - F.lit(1))),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clust"),
        )
    )


def link_prediction(edges: DataFrame, max_center_deg: int | None = None) -> DataFrame:
    """Common-neighbor link prediction over the undirected (a, b) edge list.

    For every NON-adjacent pair (u, v) with at least one common neighbor:
    - ``cn``           = |N(u) ∩ N(v)|
    - ``adamic_adar``  = sum over common neighbors w of 1/ln(deg(w))
      (Adamic–Adar: rare shared neighbors are stronger evidence), 4dp
    - ``jaccard``      = cn / (deg(u) + deg(v) - cn), 4dp

    The KG-completion use: score candidate missing edges of the entity
    graph by neighborhood overlap (the standard non-embedding baselines).

    Scale shape: one wedge self-join through the common neighbor (the
    center), one algebraic (count + sum) aggregate on the pair, one
    left-anti join against the existing edge set, two broadcast-size-
    agnostic degree reattaches. The wedge fan-out is O(deg(w)^2) per
    center — the one quadratic term; ``max_center_deg`` excludes
    super-hub centers (a degree-10^5 stopword-like entity contributes
    ~1/ln(10^5) ≈ 0.09 to AA but 10^10 wedge pairs — production runs cap
    it; the gate query runs exact so the oracle is closed-form). Centers
    have deg >= 2 by construction so ln(deg) > 0 always.
    """
    e0 = edges.select("a", "b").localCheckpoint()
    deg = _degrees(e0)
    ctr = _mirrored(e0).join(deg, F.col("x") == F.col("name")).select(
        "x", "y", F.col("deg").alias("wdeg")
    )
    if max_center_deg is not None:
        ctr = ctr.where(F.col("wdeg") <= max_center_deg)
    ctr = _pin(ctr, "x")
    c1, c2 = ctr.alias("c1"), ctr.alias("c2")
    wedges = c1.join(
        c2, (F.col("c1.x") == F.col("c2.x")) & (F.col("c1.y") < F.col("c2.y"))
    ).select(
        F.col("c1.y").alias("u"), F.col("c2.y").alias("v"),
        F.col("c1.wdeg").alias("wdeg"),
    )
    cand = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum(F.lit(1.0) / F.log(F.col("wdeg"))).alias("aa"),
    )
    nonadj = cand.join(
        e0, (cand.u == e0.a) & (cand.v == e0.b), "left_anti"
    )
    du = deg.select(F.col("name").alias("__du"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("name").alias("__dv"), F.col("deg").alias("deg_v"))
    return (
        nonadj.join(du, nonadj.u == F.col("__du"))
        .join(dv, nonadj.v == F.col("__dv"))
        .select(
            "u", "v", "cn",
            F.round("aa", 4).alias("adamic_adar"),
            F.round(
                F.col("cn") / (F.col("deg_u") + F.col("deg_v") - F.col("cn")), 4
            ).alias("jaccard"),
        )
    )


def greedy_coloring(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic distributed greedy coloring (Jones–Plassmann 1993
    with node ids as priorities): round r colors every still-uncolored
    node whose id exceeds ALL its uncolored neighbors' ids (or that has
    no uncolored neighbor left), then removes colored nodes and their
    edges. Ids as priorities make the schedule deterministic — exactly
    oracle-able by unrolling — where classic JP randomizes. The result
    is a proper coloring of whatever is colored: two adjacent nodes can
    never be colored in the same round (one's id exceeds the other's).

    ``rounds`` fixes the budget (uncolored nodes after the budget are
    simply not emitted — the fixed-iteration convention of kcore/
    pagerank); the fixpoint round count is the longest monotone-id path,
    O(log n) w.h.p. on random orders.

    Scale shape: per round ONE max-neighbor aggregate (algebraic —
    map-side partials absorb hub skew) and LEFT SEMI edge filters
    against the shrinking uncolored set (semi keeps Catalyst's size
    estimate at the left side — the ktruss stats-explosion lesson);
    node and edge frames re-pinned each round so lineage stays flat.

    Output: (name, color) for every node colored within the budget,
    color in [1, rounds].
    """
    e = edges.select("a", "b").localCheckpoint()
    nodes = _pin(_mirrored(e).select(F.col("x").alias("v")).distinct(), "v")
    out = None
    for r in range(1, int(rounds) + 1):
        nbmax = (
            _mirrored(e)
            .groupBy(F.col("x").alias("v"))
            .agg(F.max("y").alias("__mx"))
        )
        j = nodes.join(nbmax, "v", "left").localCheckpoint(eager=True)
        is_local_max = F.col("__mx").isNull() | (F.col("v") > F.col("__mx"))
        colored = j.where(is_local_max).select(
            "v", F.lit(r).cast("int").alias("color")
        )
        out = colored if out is None else out.union(colored)
        nodes = j.where(~is_local_max).select("v").localCheckpoint()
        e = (
            e.join(nodes.select(F.col("v").alias("a")), "a", "left_semi")
            .join(nodes.select(F.col("v").alias("b")), "b", "left_semi")
            .localCheckpoint()
        )
    return out.select(F.col("v").alias("name"), "color")


def _peel(
    e: DataFrame, peel_round: Callable[[DataFrame], DataFrame], rounds: int | None
) -> DataFrame:
    """Apply ``peel_round`` to the pinned edge frame and pin its result,
    ``rounds`` times, or with rounds=None until a round keeps the edge
    count (read from each round's pin) — the shared loop of ``kcore`` and
    ``ktruss``."""
    if rounds is not None:
        for _ in range(rounds):
            e = peel_round(e).localCheckpoint()
        return e
    prev_edges = -1
    while True:
        e, n = pin_rows(peel_round(e))
        if n == prev_edges:
            return e
        prev_edges = n


def kcore(edges: DataFrame, k: int = 2, rounds: int | None = 8) -> DataFrame:
    """k-core peeling over the undirected (a, b) edge list.

    Each round drops every node of degree < k and every edge touching one;
    the fixpoint is the classic k-core subgraph. ``rounds`` fixes the peel
    budget (count-free loop, exactly oracle-able by unrolling — the same
    fixed-iteration convention as ``pagerank``); ``rounds=None`` peels to
    convergence, reading each round's edge count from its pin (the
    production mode — peel depth is bounded by the graph's degeneracy
    ordering length, in practice tens of rounds on web graphs). Returns
    (name, deg): the surviving nodes with their degree in the peeled
    subgraph.

    Scale shape: per round, one degree aggregate (algebraic min/count —
    map-side partials absorb hub skew) and two semi-join filters on the
    checkpointed edge frame; lineage stays flat via localCheckpoint, and
    the edge set only ever shrinks.
    """

    def peel_round(e: DataFrame) -> DataFrame:
        deg = (
            _mirrored(e)
            .groupBy(F.col("x").alias("name"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("name").localCheckpoint()
        ka = keep.select(F.col("name").alias("a"))
        kb = keep.select(F.col("name").alias("b"))
        return e.join(ka, "a").join(kb, "b").select("a", "b")

    e = _peel(edges.select("a", "b").localCheckpoint(), peel_round, rounds)
    return (
        _mirrored(e)
        .groupBy(F.col("x").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support of the pinned a<b edge list: (a, b, supp)
    for every edge in >= 1 triangle. Each enumerated triangle credits its
    three edges; pairs are re-normalized with least/greatest because
    ``_triangles`` orders vertices by (deg, name) rank, not name."""
    tris = _triangles(_oriented(e, _degrees(e)))
    pairs = (
        tris.select(F.col("u").alias("p"), F.col("v").alias("q"))
        .union(tris.select(F.col("u").alias("p"), F.col("w").alias("q")))
        .union(tris.select(F.col("v").alias("p"), F.col("w").alias("q")))
    )
    return (
        pairs.select(F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
    )


def ktruss(edges: DataFrame, k: int = 4, rounds: int | None = 4) -> DataFrame:
    """k-truss peeling over the undirected (a, b) edge list.

    Each round recomputes per-EDGE triangle support and drops every edge in
    fewer than k-2 triangles; the fixpoint is the classic k-truss — the
    cohesion notion one level above k-core (an edge survives only if its
    endpoints share >= k-2 common surviving neighbors, so trusses are
    locally dense where cores can be stars of stars). ``rounds`` fixes the
    peel budget (count-free loop, exactly oracle-able by unrolling);
    ``rounds=None`` peels to convergence (edge count read from each pin).
    Returns (a, b, supp): surviving edges with their support in the final
    subgraph.

    Scale shape: per round one triangle enumeration (degree-ordered
    orientation — wedge fan-out bounded by the smaller endpoint degree),
    one algebraic per-edge count, one filtering SEMI join; the edge set
    only ever shrinks and lineage stays flat via localCheckpoint. This is
    the standard distributed k-truss (triangle-support peel), whose round
    count in practice is small because dropping an edge only reduces
    support of edges in shared triangles.

    The per-round filter MUST be a LEFT SEMI join, not an inner/left join
    + filter: localCheckpoint carries the pre-checkpoint sizeInBytes
    ESTIMATE onto the new leaf, and Catalyst's join size estimate is the
    product of its children — an inner filtering join multiplies e's own
    estimate into itself ~x10 per round, so the BigInt bit-length grows
    exponentially with rounds and stats computation itself becomes the
    bottleneck (measured: 567 -> 5,095 -> 45,855... bits; round 4 planning
    burned 35 CPU-minutes in BigInteger.multiply). Semi-join output size is
    estimated as the LEFT side only, so e's estimate stays constant across
    rounds. Same reason kcore (semi-join peel) never hit this.
    """
    if k < 3:
        raise ValueError("k-truss requires k >= 3 (k-2 >= 1 triangle per edge)")

    def peel_round(e: DataFrame) -> DataFrame:
        # supp only contains edges in >= 1 triangle, and k - 2 >= 1, so
        # semi-joining on the pre-filtered support keys == the left-join +
        # coalesce(supp, 0) >= k - 2 filter.
        keep = _edge_support(e).where(F.col("supp") >= k - 2)
        return e.join(keep, ["a", "b"], "semi")

    e = _peel(edges.select("a", "b").localCheckpoint(), peel_round, rounds)
    supp = _edge_support(e)
    return (
        e.join(supp, ["a", "b"], "left")
        .select("a", "b", F.coalesce("supp", F.lit(0)).cast("long").alias("supp"))
    )


def sssp(
    edges: DataFrame,
    source: str,
    weight_col: str | None = None,
    rounds: int = 8,
) -> DataFrame:
    """Single-source shortest path by fixed-round Bellman-Ford relaxation
    over the undirected (a, b[, weight]) edge list; integer weights ONLY,
    so every distance is a BIGINT min-plus sum — bit-exact across engines
    (the float-free analogue of what kg_pagerank does for the 4dp floats).
    ``weight_col=None`` means unit weights (hop counts). Returns
    (name, dist) for every node reachable within ``rounds`` edges; after
    ``rounds`` >= the graph's hop diameter this is the exact SSSP (each
    round extends the relaxed-path length bound by one edge — the classic
    Bellman-Ford invariant).

    Scale shape: per round ONE shuffle join (frontier x adjacency, the
    standard distributed Bellman-Ford / Pregel relaxation) + one algebraic
    min aggregate (map-side partials absorb hub skew), lineage flattened
    per round via localCheckpoint. The dist frame never exceeds |V| rows
    and the relax join never exceeds sum-of-degrees rows per round, so the
    per-round cost is bounded by |E| regardless of round count. Stats
    growth across rounds is additive-in-bits (dist x und product once per
    round), not multiplicative — safe from the ktruss stats explosion.
    """
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("w")
    e0 = edges.select("a", "b", w).localCheckpoint()
    und = _pin(
        e0.select(F.col("a").alias("x"), F.col("b").alias("y"), "w").union(
            e0.select(F.col("b").alias("x"), F.col("a").alias("y"), "w")
        ),
        "x",
    )
    dist = literal_frame(edges.sparkSession, [(source, 0)], "name string, dist bigint")
    for _ in range(rounds):
        relax = dist.join(und, dist["name"] == und["x"]).select(
            F.col("y").alias("name"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            relax.unionByName(dist)
            .groupBy("name")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def hits(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED (src, dst) edge list.

    Classic Kleinberg recurrence with a fixed iteration budget:
    a_k(v) = sum_{u->v} h_{k-1}(u);  h_k(u) = sum_{u->v} a_k(v).
    No per-round normalization — every intermediate stays an exact integer
    sum (the loop is pure adds), and a single final L1 normalization
    rescales to mean 1.0 over the node set (hub_norm / auth_norm, 4dp) —
    the same N-invariant convention as pagerank's rank_norm.

    Scale shape mirrors pagerank: two shuffles per round (gather into
    authorities, scatter back into hubs), each one groupBy sum whose
    map-side partial aggregate caps a Zipf hub's reducer input at one row
    per map task, localCheckpoint every PIN_EVERY rounds, count-free loop
    (N comes from the node list's pin).
    Frames stay SPARSE inside the loop (a node missing from h/a contributes
    exactly 0 through the inner joins); the full node set is reattached
    once at the end.
    """
    e0 = edges.select("src", "dst").localCheckpoint()
    nodes, n_nodes = _pin(
        e0.select(F.col("src").alias("name"))
        .union(e0.select(F.col("dst").alias("name")))
        .distinct(),
        "name",
        rows=True,
    )
    if n_nodes == 0:
        return nodes.select(
            "name", F.lit(0.0).alias("hub_norm"), F.lit(0.0).alias("auth_norm")
        )
    e_src = _pin(e0, "src")
    e_dst = _pin(e0, "dst")

    h = nodes.select("name", F.lit(1.0).alias("h"))
    a = None
    # r6 (VERDICT #4): pin every PIN_EVERY rounds instead of twice per round
    # (16 job barriers -> ~4). In-loop each frame is consumed exactly once
    # by the next step, so the unrolled lineage evaluates once; the LAST
    # round always pins because h and a are each read twice afterwards
    # (L1-sum collect + final join).
    for _i in range(iterations):
        hs = h.select(F.col("name").alias("__hn"), "h")
        a = (
            e_src.join(hs, e_src.src == F.col("__hn"))
            .groupBy(F.col("dst").alias("name"))
            .agg(F.sum("h").alias("a"))
        )
        as_ = a.select(F.col("name").alias("__an"), "a")
        h = (
            e_dst.join(as_, e_dst.dst == F.col("__an"))
            .groupBy(F.col("src").alias("name"))
            .agg(F.sum("a").alias("h"))
        )
        if (_i + 1) % PIN_EVERY == 0 or _i == iterations - 1:
            a = a.localCheckpoint()
            h = h.localCheckpoint()
    # both L1 sums in one job: one aggregate over the union of the pins (a
    # None sum, from an empty frame, reads as 0 below)
    s_h, s_a = (
        h.select("h")
        .unionByName(a.select("a"), allowMissingColumns=True)
        .agg(F.sum("h"), F.sum("a"))
        .collect()[0]
    )
    n_lit = F.lit(float(n_nodes))
    return (
        nodes.join(h, "name", "left")
        .join(a, "name", "left")
        .select(
            "name",
            (
                F.round(F.coalesce("h", F.lit(0.0)) * n_lit / F.lit(float(s_h)), 4)
                if s_h
                else F.lit(0.0)
            ).alias("hub_norm"),
            (
                F.round(F.coalesce("a", F.lit(0.0)) * n_lit / F.lit(float(s_a)), 4)
                if s_a
                else F.lit(0.0)
            ).alias("auth_norm"),
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation communities over the undirected (a, b)
    edge list — the classic near-linear community detector (Raghavan et
    al.), made fully deterministic: every node starts as its own label and
    each round adopts the most frequent label among its NEIGHBORS, ties
    broken by lexicographically smallest label. A fixed round budget keeps
    the loop count-free and exactly oracle-able (the same convention as
    pagerank/kcore); synchronous + fixed rounds also sidesteps the
    classic LPA caveats (update-order nondeterminism, bipartite
    oscillation) because both engines run the identical recurrence.

    Returns (name, community). Everything is integer counts and string
    mins — no floats anywhere, so parity is bit-exact by construction.

    Scale shape: per round one join (neighbor-label gather), one algebraic
    count aggregate, one per-node top-1 window (partitioned by node — never
    global); lineage flattened per round via localCheckpoint.
    """
    adj = _adjacency(edges)
    nodes, _ = _origins(adj, None)
    labels = _pin(nodes.withColumn("label", F.col("name")), "name")
    w_top = Window.partitionBy("name").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    # r6 (VERDICT #4): pin every PIN_EVERY rounds — labels is consumed
    # exactly once per round, so the unrolled lineage evaluates once and
    # only the job-barrier count changes
    for _i in range(rounds):
        nl = adj.join(labels.select(F.col("name").alias("__ln"), "label"),
                      adj.x == F.col("__ln"))
        cnt = (
            nl.select(F.col("y").alias("name"), "label")
            .groupBy("name", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("__rn", F.row_number().over(w_top))
            .where(F.col("__rn") == 1)
            .select("name", "label")
        )
        if (_i + 1) % PIN_EVERY == 0 and _i != rounds - 1:
            labels = labels.localCheckpoint()
    return labels.select("name", F.col("label").alias("community"))


def _ms_bfs_dists(
    edges: DataFrame, rounds: int, sources: DataFrame | None
) -> DataFrame:
    """Multi-source BFS distance frame (src, node, d) over the undirected
    (a, b) edge list — the shared engine under `closeness`, `harmonic` and
    `effective_diameter`.
    Per round ONE join of the (src, node)-keyed frontier against the
    pinned mirrored adjacency, a distinct, and a LEFT ANTI against the
    visited union (anti-join keeps the Catalyst size estimate bounded by
    the left side — the r5 stats-explosion rule); frontiers are disjoint
    by construction so `visited` is a plain union of checkpointed
    frontiers, never re-joined with itself."""
    adj = _adjacency(edges)
    _, origins = _origins(adj, sources)
    frontier = _pin(
        origins.select(
            F.col("name").alias("src"),
            F.col("name").alias("node"),
            F.lit(0).cast("int").alias("d"),
        ),
        "src",
        "node",
    )
    layers = [frontier]
    for r in range(rounds):
        frontier, n = pin_rows(
            frontier.join(adj, frontier.node == adj.x)
            .select("src", F.col("y").alias("node"))
            .distinct()
            .join(_union_all(layers).select("src", "node"), ["src", "node"], "left_anti")
            .select("src", "node", F.lit(r + 1).cast("int").alias("d"))
        )
        layers.append(frontier)
        # empty frontier => every later round is empty too: exiting early
        # is result-identical to the fixed budget
        if n == 0:
            break
    return _union_all(layers)


def closeness(
    edges: DataFrame,
    rounds: int = 8,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Closeness centrality + eccentricity via multi-source BFS: one
    simultaneous frontier expansion carrying (src, node, d) state, exactly
    the multi_source_shortest_paths shape but from EVERY source at once.
    Returns (name, n_reach, sum_d, ecc, closeness) with
    closeness = n_reach / sum_d over the reachable set (the Wasserman-Faust
    per-component convention, zeros for nothing reachable) and
    ecc = max distance seen within the round budget — exact whenever
    ``rounds`` >= the graph's diameter (reference analogue: Neo4j GDS
    closeness on the single box).

    ``sources`` restricts the BFS origins (closeness at web scale is
    customarily estimated from a hash-sampled source set — pass the sample
    here; default = all nodes, the exact mode the gate oracles).

    Scale shape: per round ONE join of the (src, node)-keyed frontier
    against the pinned mirrored adjacency, a distinct on the (src, node)
    key (map-side partials), and a LEFT ANTI against the visited union —
    anti-join keeps the Catalyst size estimate bounded by the left side
    (the r5 stats-explosion rule). Frontiers are disjoint by construction,
    so `visited` is a plain union of checkpointed frontiers, never
    re-joined with itself. State is O(sources x reachable): full-graph
    exact closeness is quadratic by definition — that cost lives in the
    explicitly-passed source sample, not hidden in the plan.
    """
    dist = _ms_bfs_dists(edges, rounds, sources)
    agg = dist.groupBy(F.col("src").alias("name")).agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_reach"),
        F.sum("d").cast("long").alias("sum_d"),
        F.max("d").cast("long").alias("ecc"),
    )
    return agg.select(
        "name",
        "n_reach",
        "sum_d",
        "ecc",
        F.when(
            F.col("sum_d") > 0, F.round(F.col("n_reach") / F.col("sum_d"), 4)
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def harmonic(
    edges: DataFrame,
    rounds: int = 8,
    sources: DataFrame | None = None,
    scale: int = 10000,
) -> DataFrame:
    """Harmonic centrality over the undirected (a, b) edge list:
    H(u) = sum over reachable v != u of 1/d(u, v) — the centrality that,
    unlike closeness, is well-defined on DISCONNECTED graphs (unreachable
    nodes contribute 0 instead of poisoning the mean; Boldi & Vigna 2014
    argue it is the axiomatically sound variant for web graphs). Same
    multi-source BFS engine as `closeness`; `sources` restricts origins
    (the hash-sampled estimator mode at scale).

    Returns (name, n_reach, h_q, harmonic): every 1/d term is quantized to
    floor(scale/d) — d is a small BIGINT, so the quantized terms and their
    SUM h_q are exact integers (order-free; no float ever enters the
    aggregate) — and harmonic = h_q/scale rounded 4dp is the ONE
    closed-form double per row. scale MUST be 10^4 so h_q/scale has at
    most 4 decimal digits: round(x, 4) is then boundary-free — a 5th
    decimal of exactly 5 (e.g. 1269995/10^5) is rounded HALF_UP by Spark
    but half-even by Python, and that ambiguity cannot arise when the
    quantity being rounded is already exact at 4dp.
    """
    dist = _ms_bfs_dists(edges, rounds, sources)
    agg = dist.groupBy(F.col("src").alias("name")).agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_reach"),
        F.sum(
            F.when(
                F.col("d") >= 1, F.floor(F.lit(float(scale)) / F.col("d"))
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("h_q"),
    )
    return agg.select(
        "name",
        "n_reach",
        "h_q",
        F.round(F.col("h_q") / F.lit(float(scale)), 4).alias("harmonic"),
    )


def effective_diameter(
    edges: DataFrame,
    rounds: int = 8,
    sources: DataFrame | None = None,
    q_pct: int = 90,
) -> DataFrame:
    """Effective diameter (the Leskovec et al. graphs-over-time metric):
    the smallest distance d such that >= q_pct% of reachable (src, node)
    pairs lie within d — the hop-plot summary that, unlike the exact
    diameter, is robust to one long stray path. Same multi-source BFS
    engine and hash-sampled `sources` estimator mode as closeness /
    harmonic (reference analogue: the graph-shape statistics around
    `app/services/graph_service.py::get_statistics`).

    Returns ONE row (n_pairs, sum_d, mean_d, diameter, eff_d): pair count,
    exact distance sum, mean distance (the closed-form double), max
    distance within the round budget, and the q_pct-percentile distance.
    The percentile threshold is the pure-integer comparison
    100·cum >= q_pct·n — no float ever enters the selection.

    Scale shape: everything after the BFS runs on the per-distance count
    frame — at most `rounds` rows, so the global window is a bounded
    single-task job, not a data-sized sort.
    """
    dist = _ms_bfs_dists(edges, rounds, sources).where(
        F.col("d") >= 1
    )
    byd = dist.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byd.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy())
    )
    agg = cum.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.sum(F.col("d") * F.col("c")).cast("long").alias("sum_d"),
        F.max("d").cast("long").alias("diameter"),
        F.min(
            F.when(
                F.lit(100) * F.col("cum") >= F.lit(q_pct) * F.col("n"),
                F.col("d"),
            )
        )
        .cast("long")
        .alias("eff_d"),
    )
    return agg.select(
        "n_pairs",
        "sum_d",
        F.round(F.col("sum_d") / F.col("n_pairs"), 4).alias("mean_d"),
        "diameter",
        "eff_d",
    )


def betweenness(
    edges: DataFrame,
    rounds: int = 8,
    sources: DataFrame | None = None,
    scale: int = 10000,
) -> DataFrame:
    """Sampled Brandes betweenness centrality (Brandes 2001) over the
    undirected (a, b) edge list: for each source s, a level-synchronous
    BFS counts sigma(s, v) = #shortest s->v paths, then the dependency
    recursion delta(v) = sum over shortest-path successors w of
    (sigma_v / sigma_w) * (1 + delta(w)) accumulates backward from the
    deepest level; bc(v) = sum over sources of delta(s, v). ``sources``
    restricts the origins — the Brandes-Pich sampled estimator that makes
    betweenness tractable at scale (exact all-sources betweenness is
    Theta(nm) by definition; the cost lives in the explicit sample).
    Reference analogue: Neo4j GDS betweenness on the single box.

    Parity convention (the kg_sssp integer pattern): sigma values are
    exact BIGINTs (sums of path counts); delta is quantized at each level
    as delta_q(v) = sum over succ w of (sigma_v * (scale + delta_q(w)))
    div sigma_w — pure positive-BIGINT floor division, so every per-level
    sum is order-free and `div` == DuckDB `//` bit-for-bit. No float
    enters any aggregate; bc = bc_q/scale with scale = 10^4 is already
    exact at 4dp, so the final round is boundary-free (the `harmonic`
    argument). bc_q is the RAW accumulated dependency over the given
    sources (with all sources on an undirected graph, classical bc is
    bc_q/2; with a sample it is the estimator numerator).

    Scale shape: the forward pass is the `_ms_bfs_dists` frontier loop
    with a sigma-summing aggregate fused into each round (map-side
    partials absorb in-degree skew); the DAG successor frame is built
    ONCE from the unioned checkpointed layers and pinned; each backward
    level is ONE slice-join against the previous level's checkpointed
    delta — per-round lineage is flat, and every loop join is additive
    in the Catalyst size estimate (no self-join growth, the r5
    stats-explosion rule).
    """
    adj = _adjacency(edges)
    nodes, srcs = _origins(adj, sources)
    frontier = _pin(
        srcs.select(
            F.col("name").alias("src"),
            F.col("name").alias("node"),
            F.lit(0).cast("int").alias("d"),
            F.lit(1).cast("long").alias("sigma"),
        ),
        "src",
        "node",
    )
    layers = [frontier]
    for r in range(rounds):
        visited = _union_all([layer.select("src", "node") for layer in layers])
        frontier, n = pin_rows(
            frontier.join(adj, frontier.node == adj.x)
            .select("src", F.col("y").alias("node"), "sigma")
            .join(visited, ["src", "node"], "left_anti")
            .groupBy("src", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .select(
                "src", "node", F.lit(r + 1).cast("int").alias("d"), "sigma"
            )
        )
        layers.append(frontier)
        if n == 0:
            break
    dist = _union_all(layers)
    # shortest-path DAG successors: v (level d) -> w (level d+1), built
    # once and pinned; carries both endpoint sigmas for the backward pass
    dv = dist.select(
        "src",
        F.col("node").alias("v"),
        F.col("d").alias("dv"),
        F.col("sigma").alias("sv"),
    )
    dw = dist.select(
        "src",
        F.col("node").alias("w"),
        F.col("d").alias("dw"),
        F.col("sigma").alias("sw"),
    )
    dag = _pin(
        dv.join(adj, dv.v == adj.x)
        .select("src", "v", "dv", "sv", F.col("y").alias("w"))
        .join(dw, ["src", "w"])
        .where(F.col("dw") == F.col("dv") + 1)
        .select("src", "v", "dv", "sv", "w", "sw"),
        "src",
        "w",
    )
    term = F.expr(f"(sv * ({int(scale)} + coalesce(dq, 0))) div sw")
    prev: DataFrame | None = None
    contribs = []
    for lev in range(rounds - 1, 0, -1):
        sl = dag.where(F.col("dv") == lev)
        if prev is None:
            sl = sl.withColumn("dq", F.lit(None).cast("long"))
        else:
            sl = sl.join(
                prev.select("src", F.col("node").alias("w"), "dq"),
                ["src", "w"],
                "left",
            )
        delta_lev = (
            sl.groupBy("src", F.col("v").alias("node"))
            .agg(F.sum(term).cast("long").alias("dq"))
            .localCheckpoint()
        )
        prev = delta_lev
        contribs.append(delta_lev)
    if not contribs:  # rounds < 2: no interior node can exist
        return nodes.select(
            "name",
            F.lit(0).cast("long").alias("bc_q"),
            F.lit(0.0).alias("bc"),
        )
    bc = _union_all(contribs).groupBy("node").agg(F.sum("dq").cast("long").alias("bc_q"))
    return nodes.join(bc, nodes.name == bc.node, "left").select(
        "name",
        F.coalesce(F.col("bc_q"), F.lit(0)).cast("long").alias("bc_q"),
        F.round(
            F.coalesce(F.col("bc_q"), F.lit(0)) / F.lit(float(scale)), 4
        ).alias("bc"),
    )


def deterministic_walks(
    edges: DataFrame,
    steps: int = 8,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Deterministic graph-walk sampling: one walk per source over the
    undirected (a, b) edge list, where the walker at node u on step t
    moves to argmin over neighbors v of md5("src:t:u:v") — the
    node2vec/DeepWalk sampling primitive (walk corpora feeding skip-gram
    embeddings) with the uniform draw replaced by a content-addressed
    pseudorandom choice any engine reproduces bit-for-bit (the md5
    convention, invariant #3). Walks may backtrack, exactly like the
    unbiased p=q=1 node2vec walk; the mirrored adjacency means a
    non-isolated walker never dead-ends.

    Returns (name, step, node): the walk position per source per step,
    step 0 = the source itself. ``sources`` restricts walk origins (at
    corpus scale walks are sampled per shard, not per node).

    Scale shape: the walk state is ONE row per active source; each step is
    one frontier-adjacency join plus ONE algebraic min (min over the
    (hash, neighbor) struct — a map-side-combinable aggregate, so a hub's
    candidate fan-out collapses before the shuffle). Lineage is flattened
    per step with localCheckpoint; all joins are additive in the Catalyst
    size estimate.
    """
    adj = _adjacency(edges)
    _, srcs = _origins(adj, sources)
    cur = _pin(srcs.select(F.col("name").alias("src"), F.col("name").alias("node")), "src")
    layers = [cur.select("src", F.lit(0).cast("int").alias("step"), "node")]
    for t in range(steps):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("src").cast("string"),
                        F.lit(str(t)),
                        F.col("node").cast("string"),
                        F.col("y").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        nxt = (
            cur.join(adj, cur.node == adj.x)
            .select("src", "node", "y")
            .select("src", h.alias("h"), "y")
            .groupBy("src")
            .agg(F.min(F.struct("h", "y")).alias("m"))
            .select("src", F.col("m.y").alias("node"))
            .localCheckpoint()
        )
        cur = nxt
        layers.append(
            cur.select("src", F.lit(t + 1).cast("int").alias("step"), "node")
        )
    return _union_all(layers).select(F.col("src").alias("name"), "step", "node")


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman's r): Pearson correlation of the
    endpoint degrees over the MIRRORED edge ends. Every moment (M, Sx, Sy,
    Sxy, Sxx, Syy) is an exact BIGINT sum — aggregation-order-free — and
    the correlation is ONE closed-form double expression over those six
    integers, so cross-engine parity is structural. Returns a single row
    (m_ends, r_assort), r rounded 4dp (NULL for degenerate variance, e.g.
    a regular graph).

    Scale shape: one degree aggregate, two hash joins to decorate the edge
    ends, one algebraic 6-sum aggregate. The degree frame is node-sized;
    at dimension scale Spark's statistics pick broadcast on their own.
    """
    e0 = edges.select("a", "b").localCheckpoint()
    deg = (
        _mirrored(e0)
        .groupBy(F.col("x").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ends = (
        _mirrored(e0)
        .join(deg.select(F.col("name").alias("x"), F.col("deg").alias("dx")), "x")
        .join(deg.select(F.col("name").alias("y"), F.col("deg").alias("dy")), "y")
    )
    m = ends.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    num = m.m * m.sxy - m.sx * m.sy
    den = F.sqrt(m.m * m.sxx - m.sx * m.sx) * F.sqrt(m.m * m.syy - m.sy * m.sy)
    return m.select(
        F.col("m").alias("m_ends"),
        F.when(den > 0, F.round(num / den, 4)).alias("r_assort"),
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity contributions of a node partition over the
    undirected (a, b) edge list: Q_c = e_c/m - (deg_c/(2m))^2 (Newman),
    where e_c counts edges internal to community c, deg_c sums member
    degrees and m is the total edge count; sum(q_c) over the output is the
    partition's modularity Q. Composes with `label_propagation` as the
    community-quality evaluation step. `labels` must be (name, community)
    covering every node of the edge list.

    Returns (community, n_nodes, e_in, deg_tot, q_c) — every aggregate an
    exact BIGINT, q_c the ONE closed-form double per row (rounded 4dp), so
    cross-engine parity is structural (the assortativity convention).

    Scale shape: one degree aggregate, two hash joins to decorate edge
    endpoints with labels (node-sized build sides — Spark statistics
    broadcast them when small), one count per community, and a 1-row m
    frame broadcast into the final projection. No window, no global sort.
    """
    e0 = edges.select("a", "b").localCheckpoint()
    lab = labels.select("name", "community").localCheckpoint()
    deg = (
        _mirrored(e0)
        .groupBy(F.col("x").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    m = e0.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = lab.select(F.col("name").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("name").alias("b"), F.col("community").alias("cb"))
    ein = (
        e0.join(la, "a")
        .join(lb, "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    degc = (
        lab.join(deg, "name")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("deg_tot"),
        )
    )
    half = F.col("deg_tot") / (F.lit(2) * F.col("m"))
    return (
        degc.join(ein, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
            "deg_tot",
            # + 0.0 normalizes IEEE -0.0 cross-engine (identity elsewhere)
            (
                F.round(
                    F.coalesce("e_in", F.lit(0)) / F.col("m") - half * half, 4
                )
                + F.lit(0.0)
            ).alias("q_c"),
        )
    )


def maximal_independent_set(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic Luby-style maximal independent set over the undirected
    (a, b) edge list: each round, every still-undecided node whose priority
    is a strict minimum among its undecided neighbors joins the MIS and
    knocks its neighbors out; priorities are md5(name)||name (unique by
    construction, so the strict-min rule is total and both engines agree
    without any tuple comparison). Fixed round budget keeps the loop
    count-free and exactly oracle-able (the pagerank/kcore convention);
    Luby's analysis gives O(log n) expected rounds to full decision.

    Returns (name, status, mis_round): status in ('mis', 'removed',
    'undecided'), mis_round = the deciding round (1-based) or -1 while
    undecided. Strings and integers only — bit-exact parity.

    Scale shape: per round ONE algebraic min per node (neighbor-priority
    gather, map-side partials absorb hubs), one LEFT SEMI neighbor
    knock-out, LEFT SEMI edge restriction (estimate = left side only — the
    ktruss stats-explosion fix), lineage flattened per round.
    """
    e0 = edges.select("a", "b").localCheckpoint()
    pri = _pin(
        _mirrored(e0)
        .select(F.col("x").alias("name"))
        .distinct()
        .withColumn("p", F.concat(F.md5("name"), F.col("name"))),
        "name",
    )
    e = (
        _mirrored(e0)
        .join(pri.select(F.col("name").alias("y"), F.col("p").alias("py")), "y")
        .select("x", "y", "py")
        .localCheckpoint()
    )
    und = pri
    decided: list[DataFrame] = []
    for r in range(1, int(rounds) + 1):
        nb = e.groupBy(F.col("x").alias("name")).agg(F.min("py").alias("mn"))
        mis = (
            und.join(nb, "name", "left")
            .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("name")
            .localCheckpoint()
        )
        rem = (
            e.join(mis.select(F.col("name").alias("x")), "x", "left_semi")
            .select(F.col("y").alias("name"))
            .distinct()
            .localCheckpoint()
        )
        decided.append(
            mis.select(
                "name", F.lit("mis").alias("status"), F.lit(r).cast("long").alias("mis_round")
            )
        )
        decided.append(
            rem.select(
                "name",
                F.lit("removed").alias("status"),
                F.lit(r).cast("long").alias("mis_round"),
            )
        )
        gone = mis.union(rem)
        und = und.join(gone, "name", "left_anti").localCheckpoint()
        e = (
            e.join(und.select(F.col("name").alias("x")), "x", "left_semi")
            .join(und.select(F.col("name").alias("y")), "y", "left_semi")
            .localCheckpoint()
        )
    undecided = und.select(
        "name",
        F.lit("undecided").alias("status"),
        F.lit(-1).cast("long").alias("mis_round"),
    )
    return _union_all([undecided, *decided])


def butterflies(incid: DataFrame) -> DataFrame:
    """Per-document butterfly (bipartite 4-cycle) counts over a distinct
    (doc_id, shingle) incidence frame — the bipartite cousin of
    `triangle_stats`. A butterfly (d1, d2, s1, s2) is two documents sharing
    two shingles: the cohesion motif of a doc<->shingle blocking graph
    (many butterflies between two docs = robust near-duplicate evidence;
    the Sanei-Mehri et al. 2018 vertex-priority counting identity: for
    each document pair with n common shingles, C(n, 2) butterflies).

    Scale shape: wedges are enumerated from the shingle side by
    `dedup.rare_pairs`, so only shingles inside the dedup family's df
    window (2 <= df <= dedup.MAX_SHINGLE_DF) pair documents and the
    self-join is never all-pairs; the common-shingle count n and
    n*(n-1)/2 are pure BIGINT algebra (no floats anywhere). Output:
    (doc_id, n_copair, n_bfly) for documents in >= 1 butterfly.
    """
    # pin the incidence before rare_pairs derives the df aggregate and the
    # filter join from it — unpinned, each re-runs the corpus scan/explode
    # during the filtered side's own materialization
    pairs = rare_pairs(incid.select("doc_id", "shingle").localCheckpoint())
    bf = pairs.select(
        "a",
        "b",
        F.expr("(n * (n - 1)) div 2").alias("bfly"),
        F.when(F.col("n") >= 2, F.lit(1)).otherwise(F.lit(0)).alias("cop"),
    )
    per = (
        bf.select(F.col("a").alias("doc_id"), "bfly", "cop")
        .unionAll(bf.select(F.col("b").alias("doc_id"), "bfly", "cop"))
        .groupBy("doc_id")
        .agg(
            F.sum("cop").cast("long").alias("n_copair"),
            F.sum("bfly").cast("long").alias("n_bfly"),
        )
    )
    return per.where(F.col("n_bfly") > 0)


def dyad_census(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    keys: list[str] | None = None,
) -> DataFrame:
    """Holland-Leinhardt dyad census of a DIRECTED edge list, per key group:
    mutual pairs (both directions present), asymmetric pairs (exactly one),
    and the reciprocity ratio 2M / (2M + A) — the fraction of directed
    edges whose reverse also exists. In the KG the per-predicate census
    separates symmetric relations (related_to) from inherently directed
    ones (causes, treats) — the same signal kg_rel_cardinality reads from
    cardinality, read from edge mirroring instead.

    Shape: distinct directed edges (self-loops dropped), canonicalized to
    an unordered pair via least/greatest, one count per pair (1 or 2),
    one k-row aggregate. All counts exact BIGINTs; reciprocity is ONE
    closed-form division.
    """
    keys = list(keys or [])
    e = (
        edges.select(*keys, F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    pair = e.groupBy(
        *keys,
        F.least("s", "d").alias("lo"),
        F.greatest("s", "d").alias("hi"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_dir"))
    g = pair.groupBy(*keys).agg(
        F.sum(F.when(F.col("n_dir") == 2, 1).otherwise(0))
        .cast("long")
        .alias("mutual"),
        F.sum(F.when(F.col("n_dir") == 1, 1).otherwise(0))
        .cast("long")
        .alias("asym"),
    )
    recip = (F.lit(2) * F.col("mutual")).cast("double") / (
        F.lit(2) * F.col("mutual") + F.col("asym")
    ).cast("double")
    return g.select(*keys, "mutual", "asym", recip.alias("reciprocity"))


def scc_by_closure(
    edges: DataFrame,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list via
    forward-closure signatures: two nodes are in the same SCC iff their
    reflexive forward-closure SETS are equal (u ∈ R(u) always, so
    R(u) = R(v) ⟹ v ∈ R(u) and u ∈ R(v) — mutual reachability; the
    converse holds because same-SCC nodes reach exactly the same set).
    The signature is md5 of the sorted closure members, grouped to assign
    scc_id = min member name per signature.

    ``rounds`` bounds reachability at `rounds` hops — exact whenever the
    graph's directed diameter fits (the gazetteer-bounded entity graph
    sits around 4). Closure state is O(V · avg-reach) pairs — this is the
    bounded-vocabulary SCC (entity/term graphs), not a web-graph SCC;
    for billions of nodes use iterative FW-BW trimming instead.

    Scale shape: per round ONE join against the pinned edge frame +
    union + distinct (additive lineage — no self-join of a frame with
    its own derivative, so no stats explosion), localCheckpoint per
    round. Returns (name, scc_id, scc_size).
    """
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("x").alias("v"))
        .union(e.select(F.col("y").alias("v")))
        .distinct()
    )
    reach = nodes.select("v", F.col("v").alias("w")).localCheckpoint(
        eager=True
    )
    for _ in range(int(rounds)):
        step = reach.join(e, reach["w"] == e["x"]).select(
            reach["v"], e["y"].alias("w")
        )
        reach = reach.union(step).distinct().localCheckpoint(eager=True)
    sigs = reach.groupBy("v").agg(
        F.md5(F.array_join(F.array_sort(F.collect_list("w")), "|")).alias(
            "sig"
        )
    )
    wsig = Window.partitionBy("sig")
    return sigs.select(
        F.col("v").alias("name"),
        F.min("v").over(wsig).alias("scc_id"),
        F.count(F.lit(1)).over(wsig).cast("long").alias("scc_size"),
    )


def degree_discount_seeds(
    edges: DataFrame, k: int = 4
) -> DataFrame:
    """Influence-maximization seed selection by degree discount (the
    p→0 limit of Chen et al. 2009 DegreeDiscountIC): greedily pick the
    node maximizing  dd(v) = deg(v) − 2·t(v)  (t = already-selected
    neighbors), name tiebreak — the 'pick hubs, but not adjacent hubs'
    heuristic that beats plain top-degree seeding.

    Pure integer state (deg, t), so the k TakeOrdered(1) rounds unroll
    exactly (the kcenter pattern); each round is one 1-row broadcast
    join to bump t on the picked node's neighbors. Undirected (a, b)
    edge list. Returns (sel_rank, name, dd) — dd at selection time.
    """
    e0 = edges.select("a", "b").distinct().localCheckpoint(eager=True)
    adj = _mirrored(e0).localCheckpoint(eager=True)
    state = (
        adj.groupBy(F.col("x").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select("name", "deg", F.lit(0).cast("long").alias("t"))
        .localCheckpoint(eager=True)
    )
    picks = None
    for i in range(1, int(k) + 1):
        dd = (F.col("deg") - F.lit(2) * F.col("t")).cast("long")
        pick = (
            state.select("name", dd.alias("dd"))
            .orderBy(F.desc("dd"), F.asc("name"))
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("sel_rank"),
                F.col("name"),
                "dd",
            )
            .localCheckpoint(eager=True)
        )
        picks = pick if picks is None else picks.union(pick)
        nbrs = adj.join(
            F.broadcast(pick.select(F.col("name").alias("__p"))),
            F.col("x") == F.col("__p"),
        ).select(F.col("y").alias("__n"))
        state = (
            state.join(
                F.broadcast(pick.select(F.col("name").alias("__p"))),
                state["name"] == F.col("__p"),
                "left_anti",
            )
            .join(
                F.broadcast(nbrs.distinct()),
                state["name"] == F.col("__n"),
                "left",
            )
            .select(
                "name",
                "deg",
                (
                    F.col("t")
                    + F.when(F.col("__n").isNotNull(), 1).otherwise(0)
                ).cast("long").alias("t"),
            )
            .localCheckpoint(eager=True)
        )
    return picks


def count_4cliques(edges: DataFrame) -> DataFrame:
    """Global 4-clique count over the undirected (a, b) edge list, by
    degree-ordered orientation (Chiba-Nishizeki): enumerate each triangle
    once as (u, v, w) with ``_oriented`` + ``_triangles`` (fan-out bounded
    by the SMALLER endpoint degree — the shape that survives Zipf hubs),
    then extend it by the apexes p with p→u, p→v, p→w. Every 4-clique is
    counted exactly once, from its minimum-rank corner p (its orientation
    order is unique). Pure integer counting.

    Returns one row: (n_edges, n_triangles, n_cliques4).
    """
    e0 = edges.select("a", "b").distinct().localCheckpoint(eager=True)
    eo = _oriented(e0, _degrees(e0))
    tri = _triangles(eo)
    n_tri = tri.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    # extend: apex p with p -> u, p -> v, p -> w completes a 4-clique
    j1 = tri.join(
        eo.select(F.col("src").alias("p"), F.col("dst").alias("tu")),
        F.col("u") == F.col("tu"),
    ).select("p", "u", "v", "w")
    j2 = j1.join(
        eo.select(F.col("src").alias("p2"), F.col("dst").alias("tv")),
        (F.col("p") == F.col("p2")) & (F.col("v") == F.col("tv")),
    ).select("p", "u", "v", "w")
    j3 = j2.join(
        eo.select(F.col("src").alias("p3"), F.col("dst").alias("tw")),
        (F.col("p") == F.col("p3")) & (F.col("w") == F.col("tw")),
    )
    n_c4 = j3.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_cliques4"))
    n_e = e0.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return n_e.crossJoin(n_tri).crossJoin(n_c4)


def rich_club(edges: DataFrame, ks: tuple[int, ...] = (1, 2, 4, 8)) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (N_k*(N_k-1)) over an
    undirected (a, b) edge list: among nodes of degree > k, the fraction of
    possible edges present — the hub-interconnection diagnostic (Colizza
    2006). Pure BIGINT counts + ONE division per k; rows with N_k < 2 are
    dropped (phi undefined).

    Scale shape: one degree aggregate, one two-sided degree join on the
    edge list, then the k dimension is a broadcast explode over the SAME
    joined frame — adding a k never re-reads the graph.
    Output: (k, n_nodes, n_edges, phi)."""
    e = edges.select("a", "b").localCheckpoint(eager=True)
    deg = _degrees(e)
    kdim = F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k")
    nodes_k = (
        deg.select("deg", kdim)
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    ej = (
        e.join(deg.select(F.col("name").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("name").alias("b"), F.col("deg").alias("db")), "b")
    )
    edges_k = (
        ej.select("da", "db", kdim)
        .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    j = nodes_k.join(edges_k, "k", "left").select(
        "k",
        "n_nodes",
        F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
    )
    phi = (
        F.lit(2.0)
        * F.col("n_edges").cast("double")
        / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))).cast("double")
    )
    return j.where(F.col("n_nodes") >= 2).select(
        "k", "n_nodes", "n_edges", phi.alias("phi")
    )
