"""Distributed entity resolution: alias broadcast join + LSH blocking +
connected-components union-find + canonical remap.

Reference semantics: app/ingestion/entity_resolver.py:102-143 (see
corelib.resolve for the exact three-stage contract). This module is the
distributed execution of the SAME blocking/merge logic:

  pass 0  broadcast hash join against the alias dictionary (C1; BASELINE.json
          requires broadcasting this dimension).
  pass 1  MinHash-LSH band keys (pandas UDF, corelib.similarity) -> explode ->
          self-join on band key -> exact token_sort_ratio filter on the
          blocked candidate pairs only (C2) -> connected components.
  pass 2  SimHash band keys over deterministic embeddings -> candidate pairs
          -> cosine >= 0.85 filter (C3) -> connected components.

Connected components run as an iterative DataFrame min-label propagation
(GraphFrames-style, SURVEY §4.2.5) with localCheckpoint() per iteration to
truncate lineage. Name-graph components have tiny diameter (merge chains),
so the loop converges in a handful of iterations; at 10^12-doc scale the
vertex set is *distinct names*, orders of magnitude smaller than mentions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corelib.gazetteer import ALIASES
from ..corelib.similarity import (
    fuzzy_match,
    minhash_band_keys,
    semantic_match,
    simhash_band_keys,
)
from .. import session
from ..session import literal_frame


# Exactly the characters Python str.strip() removes (str.isspace() == True),
# so the distributed alias-join key normalization matches corelib.resolve.
# alias_canonical's name.lower().strip() byte for byte — F.trim strips ASCII
# space only, and Java's \s misses \x1c-\x1f and unicode spaces.
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def _strip_lower(col) -> F.Column:
    """Columnar equivalent of Python name.lower().strip()."""
    return F.btrim(F.lower(col), F.lit(_PY_WHITESPACE))


@F.pandas_udf(T.ArrayType(T.StringType()))
def _minhash_bands(names: pd.Series) -> pd.Series:
    return names.map(minhash_band_keys)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _simhash_bands(names: pd.Series) -> pd.Series:
    return names.map(simhash_band_keys)


@F.pandas_udf(T.BooleanType())
def _fuzzy_ok(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([fuzzy_match(x, y) for x, y in zip(a, b)])


@F.pandas_udf(T.BooleanType())
def _semantic_ok(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([semantic_match(x, y) for x, y in zip(a, b)])


def alias_dim(spark) -> DataFrame:
    """The alias dictionary as a (alias_key, alias_canonical) dimension."""
    return literal_frame(
        spark, sorted(ALIASES.items()), "alias_key string, alias_canonical string"
    )


def candidate_pairs(names: DataFrame, band_udf) -> DataFrame:
    """names(name) -> (a, b) pairs sharing any LSH band key, a < b, distinct.

    The banded frame is checkpointed so the band UDF runs once, not once per
    self-join side. Buckets larger than similarity.MAX_LSH_BUCKET are dropped
    before the self-join (non-discriminative bands would otherwise produce
    O(bucket^2) pairs on template-heavy name sets) — the exact rule the
    oracle's corelib.resolve.candidate_pairs applies, so parity holds.
    """
    from ..corelib.similarity import MAX_LSH_BUCKET

    banded = names.select(
        "name", F.explode(band_udf("name")).alias("band")
    ).localCheckpoint()
    small_bands = (
        banded.groupBy("band")
        .agg(F.count_distinct("name").alias("__n"))
        .where((F.col("__n") >= 2) & (F.col("__n") <= MAX_LSH_BUCKET))
        .select("band")
    )
    pruned = banded.join(small_bands, "band", "left_semi")
    left = pruned.alias("l")
    right = pruned.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band")) & (F.col("l.name") < F.col("r.name")),
        )
        .select(F.col("l.name").alias("a"), F.col("r.name").alias("b"))
        .distinct()
    )


def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """nodes(name), edges(a,b) -> (name, comp).

    Hybrid execution: the vertex set is *distinct names* and the edge set is
    LSH-blocked merge candidates — usually orders of magnitude smaller than
    the corpus. If session.driver_rows fetches the edges within
    session.CC_DRIVER_MAX_EDGES (one evaluation of their lineage), solve
    exactly on the driver with the same union-find the oracle uses;
    otherwise run distributed min-label propagation (_cc_iterative's
    one-shuffle rounds). The nodes are fetched unbounded on the driver
    path: only the edge count picks the path. Both paths produce
    identical components, ignore edges with an endpoint outside `nodes` and
    give one row per distinct node name. The driver result is a pandas
    frame, so it plans as a LocalTableScan.
    """
    edge_rows = session.driver_rows(edges.select("a", "b"), session.CC_DRIVER_MAX_EDGES)
    if edge_rows is None:
        return _cc_iterative(nodes, edges, max_iter)
    # .tolist() gives plain Python values: bigint doc ids stay ints
    names = nodes.select("name").toPandas()["name"].tolist()
    parent = {n: n for n in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edge_rows["a"].tolist(), edge_rows["b"].tolist()):
        if a not in parent or b not in parent:
            continue  # endpoint outside `nodes`: ignored, as _cc_iterative
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for n in names:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)  # comp = min name, as iterative path
    comp = sorted((n, roots[find(n)]) for n in parent)
    # the schema follows the node id type: doc-id (bigint) graphs use the
    # same path as name (string) graphs
    t = dict(nodes.dtypes)["name"]
    return nodes.sparkSession.createDataFrame(
        pd.DataFrame(comp, columns=["name", "comp"]), schema=f"name {t}, comp {t}"
    )


def _cc_iterative(nodes: DataFrame, edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Distributed CC by min-label propagation in Pregel-style rounds.

    comp is the lexicographically smallest name in the component. Edges
    with an endpoint outside `nodes` are ignored, and duplicate node names
    give one output row each. The loop bound is a safety net: merge
    components converge in O(diameter) rounds.

    The vertex state (name, comp, nbrs, active) is pinned once: `edges`
    mirrored in a single explode and collected per name, plus one self row
    per node. A round is one shuffle and one job barrier: the neighbour
    lists of the vertices whose label changed last round are exploded into
    (nbr, comp) messages, unioned with the self rows, and one groupBy(name)
    keeps min(comp), the self row's nbrs and the old comp. A label only
    falls, so a vertex that did not change has already sent its current
    label. Groups without a self row (messages to a name outside `nodes`)
    are dropped. The number of changed labels is read from an Observation on
    the round's eager localCheckpoint, so convergence costs no probe job.

    No salt and no joins: min is algebraic, so map-side partial aggregation
    caps a hub's reducer input at one row per map task (the argument
    _cc_large_small_star also relies on). No repartition before the pins:
    on Spark 4.1 a localCheckpoint drops hash partitioning, so a
    repartition there only adds an exchange
    (tests/test_plans.py::test_local_checkpoint_drops_hash_partitioning).

    Algorithm choice: min-label propagation rather than large-star /
    small-star. Entity-merge components are alias/variant clusters with
    diameter ≲ 4, where this converges in a handful of one-shuffle rounds.
    Chain-shaped components need _cc_large_small_star (O(log n) rounds);
    the interface (nodes, edges) -> (name, comp) is the only contract.
    """
    t = dict(nodes.dtypes)["name"]
    mirrored = edges.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("name"), F.col("b").alias("nbr")),
                F.struct(F.col("b").alias("name"), F.col("a").alias("nbr")),
            )
        )
    )
    state = (
        mirrored.select("name", "nbr", F.lit(False).alias("__self"))
        .unionByName(
            nodes.select("name", F.lit(None).cast(t).alias("nbr"), F.lit(True).alias("__self"))
        )
        .groupBy("name")
        .agg(F.collect_set("nbr").alias("nbrs"), F.max("__self").alias("__self"))
        .where("__self")
        .select("name", F.col("name").alias("comp"), "nbrs", F.lit(True).alias("active"))
        .localCheckpoint()
    )
    for _round in range(max_iter):
        msgs = state.where("active").select(
            F.explode("nbrs").alias("name"),
            "comp",
            F.lit(None).cast(f"array<{t}>").alias("nbrs"),
            F.lit(None).cast(t).alias("__old"),
        )
        selfs = state.select("name", "comp", "nbrs", F.col("comp").alias("__old"))
        obs = Observation()
        state = (
            msgs.unionByName(selfs)
            .groupBy("name")
            .agg(
                F.min("comp").alias("comp"),
                F.first("nbrs", ignorenulls=True).alias("nbrs"),
                F.min("__old").alias("__old"),
            )
            .where(F.col("nbrs").isNotNull())
            .withColumn("active", F.col("comp") < F.col("__old"))
            .observe(obs, F.count_if("active").alias("changed"))
            .select("name", "comp", "nbrs", "active")
            .localCheckpoint()
        )
        if obs.get["changed"] == 0:
            break
    else:
        # Returning partially-propagated labels would silently split
        # components (name_map drift vs the oracle's union-find) — fail loud.
        raise RuntimeError(
            f"connected components did not converge in {max_iter} iterations; "
            "a component has diameter > max_iter — raise max_iter or use "
            "_cc_large_small_star (O(log n) rounds on any diameter)"
        )
    return state.select("name", "comp")


def _cc_large_small_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Two-phase large-star / small-star CC — the O(log n)-round companion
    to _cc_iterative for LARGE-DIAMETER components (a chain of length d
    needs d rounds of min-label propagation but only ~log d star rounds).
    Same contract: (nodes, edges (a, b)) -> (name, comp) with comp = the
    lexicographically smallest member — pytest-pinned equal to both
    _cc_iterative and the union-find oracle, including a chain graph far
    beyond _cc_iterative's default iteration bound.

    Each round: large-star hangs every neighbor v > u onto
    m = min(N(u) ∪ {u}); small-star hangs the v <= u neighbors (and u
    itself) onto m; converged when the directed edge set reaches its
    fixpoint (a forest of stars centered at component minima). min is an
    algebraic aggregate, so Spark's map-side partial aggregation absorbs
    hot-node degree skew without explicit salting. Public-paper algorithm
    (Kiveris et al., 'Connected Components in MapReduce and Beyond')."""

    def _bi(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _mins(bi: DataFrame) -> DataFrame:
        return (
            bi.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )

    def _large_star(e: DataFrame) -> DataFrame:
        bi = _bi(e)
        cand = bi.join(_mins(bi), "u")
        return (
            cand.where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        bi = _bi(e)
        withm = bi.join(_mins(bi), "u")
        hung = withm.where(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_link = withm.select("u", F.col("m").alias("v"))
        return (
            hung.union(self_link)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    E = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for i in range(max_iter):
        new_E = _small_star(_large_star(E)).localCheckpoint()
        # ONE probe job per round: symmetric difference, first row only
        # (both exceptAll legs scan the two checkpointed frames). Round 0
        # always changes on any non-star input — skip its probe.
        changed = 1
        if i > 0:
            changed = (
                new_E.exceptAll(E)
                .union(E.exceptAll(new_E))
                .limit(1)
                .count()
            )
        E = new_E
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds"
        )
    # fixpoint is a star forest: every non-center points at its component
    # min; centers (and isolated nodes) label themselves
    centers = E.groupBy("u").agg(F.min("v").alias("comp"))
    nodes = nodes.select("name").distinct()  # one row per distinct name
    return nodes.join(centers, nodes.name == centers.u, "left").select(
        "name", F.coalesce("comp", "name").alias("comp")
    )


def _canonical_per_component(members: DataFrame) -> DataFrame:
    """(name, comp) -> (name, canonical): longest name wins, ties -> name asc
    (deterministic total order, corelib.resolve.canonical_choice)."""
    canon = members.groupBy("comp").agg(
        F.min_by("name", F.struct((-F.length("name")).alias("nl"), F.col("name"))).alias(
            "canonical"
        )
    )
    return members.join(F.broadcast(canon), "comp").select("name", "canonical")


def _merge_pass(names: DataFrame, band_udf, match_udf) -> DataFrame:
    """One blocking+verify+CC pass: names(name) -> (name, canonical)."""
    pairs = candidate_pairs(names, band_udf)
    edges = pairs.where(match_udf("a", "b"))
    members = connected_components(names, edges)
    return _canonical_per_component(members)


def build_name_map(names: DataFrame) -> DataFrame:
    """distinct names(name) -> (name, canonical). Mirrors
    corelib.resolve.build_name_map stage for stage.

    Hybrid execution (same rationale as connected_components): the input is
    the *distinct name dictionary*, not the mention stream. When
    session.driver_rows fetches it, run the shared single-process
    resolution (corelib.resolve.build_name_map — literally the oracle code);
    beyond the bound, the fully distributed LSH + CC path below. Identical
    results by construction; the distributed path is exercised in tests
    via build_name_map_distributed and a lowered session.DRIVER_MAX_ROWS.
    """
    head = session.driver_rows(names)
    if head is None:
        return build_name_map_distributed(names)
    from ..corelib.resolve import build_name_map as oracle_name_map

    # a pandas frame plans as LocalTableScan: no Python task on any scan
    # of the map (createDataFrame(list) is a Python-RDD scan)
    nm = sorted(oracle_name_map(head["name"].tolist()).items())
    return names.sparkSession.createDataFrame(
        pd.DataFrame(nm, columns=["name", "canonical"]),
        schema="name string, canonical string",
    )


def build_name_map_distributed(names: DataFrame) -> DataFrame:
    """Fully distributed three-stage resolution (the 10^12-doc path)."""
    spark = names.sparkSession
    # pass 0: broadcast alias join (first-wins over fuzzy, resolver.py:111-114)
    m0 = (
        names.join(
            F.broadcast(alias_dim(spark)),
            _strip_lower(F.col("name")) == F.col("alias_key"),
            "left",
        )
        .select("name", F.coalesce("alias_canonical", "name").alias("m0"))
        .localCheckpoint()
    )
    # pass 1: fuzzy over distinct stage-1 names
    s1 = m0.select(F.col("m0").alias("name")).distinct().localCheckpoint()
    m1 = _merge_pass(s1, _minhash_bands, _fuzzy_ok).withColumnRenamed("canonical", "m1")
    # pass 2: semantic over distinct stage-2 names
    s2 = m1.select(F.col("m1").alias("name")).distinct().localCheckpoint()
    m2 = _merge_pass(s2, _simhash_bands, _semantic_ok).withColumnRenamed("canonical", "m2")

    return (
        m0.join(m1.withColumnRenamed("name", "m0"), "m0")
        .join(m2.withColumnRenamed("name", "m1"), "m1")
        .select("name", F.col("m2").alias("canonical"))
    )


# Above this many map entries the broadcast would strain executor memory
# (~100 bytes/entry -> ~2 GB at the bound); the salted shuffle join takes
# over. Read at call time. The two paths are value-identical
# (test_remap_salted_path_equals_broadcast).
REMAP_BROADCAST_MAX = 20_000_000


def remap(df: DataFrame, name_map: DataFrame, *cols: str) -> DataFrame:
    """Replace each of *cols by its canonical.

    The name_map is a dictionary of distinct names — broadcast kills the
    head-entity key skew that a shuffle join on `name` would suffer (the
    Zipf head appears in a large fraction of mentions). When the map
    outgrows REMAP_BROADCAST_MAX (open-vocabulary dictionaries at corpus
    scale), the join switches AUTOMATICALLY to the salted shuffle-hash join
    (skew.salted_join_big_small): the salt re-splits the hot key across
    reducers, which the plain shuffle join would concentrate. The size
    probe is a LIMIT count — O(bound) rows scanned once, no full count.
    """
    use_broadcast = (
        name_map.limit(REMAP_BROADCAST_MAX + 1).count() <= REMAP_BROADCAST_MAX
    )
    out = df
    for c in cols:
        nm = name_map.select(
            F.col("name").alias(f"__k_{c}"), F.col("canonical").alias(f"__v_{c}")
        )
        if use_broadcast:
            out = out.join(F.broadcast(nm), out[c] == F.col(f"__k_{c}"), "left")
        else:
            from .skew import salted_join_big_small

            out = salted_join_big_small(
                out.withColumn(f"__k_{c}", F.col(c)),
                nm,
                f"__k_{c}",
                how="left",
            )
        out = out.withColumn(c, F.coalesce(f"__v_{c}", c)).drop(
            f"__k_{c}", f"__v_{c}"
        )
    return out
