"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship KG-construction query at sf0.001.
`queries()` — one entry per implemented operator family (SURVEY.md §2 +
training-data-pipeline ops), each over /root/testdata parquet tables.
`oracle_sql()` — exact ANSI-SQL DuckDB equivalents; SQL for the gazetteer /
pattern-driven queries is generated from the same dicts the Spark code uses,
so the two sides cannot drift.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medical_doc_knowledge_graph_system_spark.functions import webkg
from medical_doc_knowledge_graph_system_spark.functions.dedup import (
    MAX_DEDUP_BUCKET,
    MINHASH_SEEDS,
    exact_dup_flags_expr,
    minhash_band_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
    neardup_pairs_signblock,
    rerank_score_filter_cap,
    topk_cosine,
    topk_cosine_ivf,
)
from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
    all_paths,
    k_hop,
    multi_source_shortest_paths,
    shortest_path,
)
from medical_doc_knowledge_graph_system_spark.functions.curate import (
    curate_docs,
    sample_stratified,
    sample_to_token_budget,
)
from medical_doc_knowledge_graph_system_spark.functions.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
    resize_plan,
)
from medical_doc_knowledge_graph_system_spark.functions.textfns import (
    LANG_MARKERS,
    _EN_STOPWORDS,
    BPE_ISH_PATTERN,
    with_bpe_token_count,
    with_fingerprint,
    with_lang_guess,
    eval_suite_grams,
    ngram_decontam,
    ngram_decontam_against,
    with_repetition,
    with_rolling_hash,
    with_quality_score,
    with_token_stats,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _drain_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    sources: list[list[DataFrame]],
    build: Callable[..., DataFrame],
    mode: str,
) -> DataFrame:
    """Replay each source's frames as a file stream and drain
    `build(*streams)` into the memory table `{name}_{tag}`, which is
    returned.

    Each source is staged in its own directory, one parquet file per frame:
    the first frame via repartition(1) (a single-split testdata scan is ONE
    partition, which coalesce can't split) in overwrite mode, later frames
    via coalesce(1) in append mode. File mtimes are pinned in list order, so
    at maxFilesPerTrigger=1 the frames replay in list order, one microbatch
    each: state genuinely crosses batches and a sentinel frame listed last
    lands in the last batch. Every stream reads its source with the schema
    of that source's first frame. The drain runs `availableNow` in output
    `mode` ("update" or "append") at 8 shuffle partitions (captured at
    stream start, so also the state-store partition count); the previous
    setting is restored afterwards, also when the drain fails.

    The staging dir is unique per run: concurrent gate runs must not share
    a source path (an overwrite would delete files another run's stream has
    already listed). It is removed after the drain, since the memory sink
    holds the result rows.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = tempfile.mkdtemp(prefix=f"mdkgs_{name}_{tag}_")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        now = time.time()
        streams = []
        for j, frames in enumerate(sources):
            src = os.path.join(base, str(j))
            staged: set[str] = set()
            for i, frame in enumerate(frames):
                if i == 0:
                    frame.repartition(1).write.mode("overwrite").parquet(src)
                else:
                    frame.coalesce(1).write.mode("append").parquet(src)
                t = now - 100 + 10 * i
                for p in set(glob.glob(os.path.join(src, "part-*.parquet"))) - staged:
                    os.utime(p, (t, t))
                    staged.add(p)
            streams.append(
                spark.readStream.schema(frames[0].schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
        out = build(*streams)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        sq = (
            out.writeStream.format("memory")
            .queryName(f"{name}_{tag}")
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(f"{name}_{tag}")


def _dbl_emb(df: DataFrame) -> DataFrame:
    return df.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))


def _queries_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _dbl_emb(_t(spark, sf_dir, "embeddings"))
    return emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triple extraction + aggregation over sf0.001 documents."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return (
        webkg.doc_triples(docs)
        .orderBy(F.desc("n_docs"), "subj", "pred", "obj")
        .limit(100)
    )


# ── queries ──────────────────────────────────────────────────────────────────


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # KG construction over documents (operator families A, B, C, D)
    q["kg_mentions"] = lambda s, d: webkg.doc_mentions(_t(s, d, "documents"))
    q["kg_mention_counts"] = lambda s, d: webkg.mention_counts(_t(s, d, "documents"))
    q["kg_triples"] = lambda s, d: webkg.doc_triples(_t(s, d, "documents"))
    q["kg_cooccur_topk"] = lambda s, d: webkg.cooccur_topk(_t(s, d, "documents"))
    q["kg_khop2"] = lambda s, d: webkg.khop2(_t(s, d, "documents"))
    q["kg_chunks"] = lambda s, d: webkg.chunk_docs(_t(s, d, "documents"))
    q["kg_provenance"] = lambda s, d: webkg.provenance(_t(s, d, "documents"))

    # C4-at-scale (VERDICT r2 #6): canonical remap when the name_map EXCEEDS
    # the broadcast threshold — the salted shuffle-hash join from
    # operators/skew.py, exercised as the MEASURED plan (SHUFFLE_HASH hint:
    # at gate scale the replicated map would otherwise broadcast and the
    # skew machinery would go untested). The big side is the raw token
    # stream (Zipf-headed: stopwords dominate); the salt spreads each hot
    # token across 16 join reducers. The count after it is a plain groupBy:
    # partial aggregation already ships one row per hot key per map task.
    def kg_remap_salted(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            salted_join_big_small,
        )

        toks = _t(s, d, "documents").select(
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("name")
        )
        # pin the dictionary: it shares the exploded-token lineage with the
        # big side, and Catalyst gives zero cross-branch exchange reuse
        # (CLAUDE.md late-r2) — without the pin the corpus is scanned and
        # exploded twice
        nm = (
            toks.select("name")
            .distinct()
            .select("name", F.md5("name").alias("canonical_id"))
            .localCheckpoint()
        )
        joined = salted_join_big_small(toks, nm, "name", how="inner")
        return joined.groupBy("canonical_id").count().select(
            "canonical_id", F.col("count").alias("n_mentions")
        )

    q["kg_remap_salted"] = kg_remap_salted

    def _kg_term_graph(s, d):
        """(nodes(name), edges(a, b)): the term triple graph, a < b, no
        self-loops; nodes are all mentioned terms, so sparsely connected
        terms surface as their own components. Neither frame is made
        distinct: both CC operators collapse repeated names and edges
        themselves, and a distinct here would cost a shuffle each."""
        docs = _t(s, d, "documents")
        # one corpus scan total: the mention frame feeds the triple
        # self-join (2 refs) AND the node set (1 ref) — pin it
        m = webkg.doc_mentions(docs).localCheckpoint()
        edges = (
            webkg.doc_triples(docs, mentions=m)
            .select(
                F.least("subj", "obj").alias("a"),
                F.greatest("subj", "obj").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
        )
        nodes = m.select(F.col("term").alias("name"))
        return nodes, edges

    # C3 at the gate: DISTRIBUTED connected components (iterative min-label
    # propagation — the >200k-edge production path, previously pytest-only)
    # over the term triple graph. comp = lexicographic min term of the
    # component, matching the union-find oracle convention.
    def kg_components(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.resolve import (
            _cc_iterative,
        )

        return _cc_iterative(*_kg_term_graph(s, d))

    q["kg_components"] = kg_components

    # C3 alternative shape (r4): large-star/small-star CC — the O(log n)-
    # round algorithm that also converges on large-diameter components
    # where min-label propagation needs O(diameter) rounds. Same graph,
    # same oracle as kg_components (the answer is
    # implementation-independent).
    def kg_components_star(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.resolve import (
            _cc_large_small_star,
        )

        return _cc_large_small_star(*_kg_term_graph(s, d))

    q["kg_components_star"] = kg_components_star

    def _kg_mention_sets(s, d):
        """(ms, cnt): DISTINCT per-doc mention sets (sorted (term, label)
        structs) with their doc counts — the r6 dedup that lets every
        edge/weight derivation fan out over |distinct sets| x |set|^2
        instead of |docs| x |mentions/doc|^2 (guide §2.3: aggregate before
        the expensive step). Counts preserved so weighted consumers get
        identical sums."""
        docs = _t(s, d, "documents")
        m = webkg.doc_mentions(docs)
        return (
            m.groupBy("doc_id")
            .agg(F.sort_array(F.collect_set(F.struct("term", "label"))).alias("ms"))
            .groupBy("ms")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .localCheckpoint()
        )

    def _kg_pattern_pairs(s, msets):
        """One row per (set, subj, obj, pred, cnt) under the relation
        patterns — the exact per-doc enumeration doc_triples makes, grouped
        by distinct mention set."""
        pat = s.createDataFrame(
            webkg.WEB_REL_PATTERNS,
            schema="src_label string, pred string, dst_label string",
        )
        e1 = msets.select("ms", "cnt", F.explode("ms").alias("s1")).select(
            "ms", "cnt", F.col("s1.term").alias("subj"), F.col("s1.label").alias("s_lbl")
        )
        e2 = e1.select(
            "ms", "cnt", "subj", "s_lbl", F.explode("ms").alias("s2")
        ).select(
            "ms",
            "cnt",
            "subj",
            "s_lbl",
            F.col("s2.term").alias("obj"),
            F.col("s2.label").alias("o_lbl"),
        )
        return e2.join(
            F.broadcast(pat),
            (F.col("s_lbl") == F.col("src_label"))
            & (F.col("o_lbl") == F.col("dst_label")),
        ).where(F.col("subj") != F.col("obj"))

    def _kg_edge_graph(s, d):
        """Shared fixture for the whole-graph analytics gates: the distinct
        undirected (a < b) term edge set from the triple graph — one corpus
        scan.

        r6 (guide §2.3): the EDGE SET needs no per-pair counts, so the r5
        doc-level pattern self-join (docs x mentions^2 rows before the
        aggregate) is replaced by pair generation over DISTINCT per-doc
        mention sets: an edge exists iff SOME doc mentions both endpoints
        with pattern-compatible labels, which depends only on the mention
        set — identical edges, fan-out |distinct sets| x |set|^2 instead of
        |docs| x |mentions/doc|^2."""
        return (
            _kg_pattern_pairs(s, _kg_mention_sets(s, d))
            .select(
                F.least("subj", "obj").alias("a"),
                F.greatest("subj", "obj").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    # Whole-graph analytics (operators/graph_analytics.py, r5): PageRank as
    # a fixed-8-iteration power method — join + one groupBy sum per round,
    # localCheckpoint-flattened lineage, count-free loop. The oracle
    # unrolls the identical recurrence as 8 DuckDB CTEs; rank_norm = rank*N
    # (mean 1.0) keeps the shared 4dp float convention scale-invariant.
    def kg_pagerank(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            pagerank,
        )

        return pagerank(_kg_edge_graph(s, d), iterations=8)

    q["kg_pagerank"] = kg_pagerank

    # WEIGHTED PageRank over the same term graph: edge weight = total
    # n_docs supporting the undirected pair (summed across predicates and
    # directions), W(u) = incident weight sum replaces deg(u), and each
    # neighbor receives (r(u)/W(u)) * w_uv — rank flows proportionally to
    # co-occurrence strength. The oracle unrolls the identical weighted
    # recurrence; the per-edge term is written (rank/deg)*wt on BOTH sides
    # (same IEEE operand order).
    def kg_pagerank_weighted(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            pagerank,
        )

        # r6: identical weights from the distinct-mention-set enumeration
        # (each (subj, pred, obj) row of a set contributes that set's doc
        # count — the same per-doc rows doc_triples aggregated)
        we = (
            _kg_pattern_pairs(s, _kg_mention_sets(s, d))
            .groupBy(
                F.least("subj", "obj").alias("a"),
                F.greatest("subj", "obj").alias("b"),
            )
            .agg(F.sum("cnt").alias("wt"))
        )
        return pagerank(we, iterations=8, weight_col="wt")

    q["kg_pagerank_weighted"] = kg_pagerank_weighted

    # PERSONALIZED PageRank: restart mass uniform over a 2-term seed set
    # (the two lexicographically smallest graph nodes — deterministic and
    # data-derived at any SF), so rank_norm measures importance RELATIVE to
    # the query entities — the retrieval-side ranking. Exercises the
    # seeds= path of pagerank(): per-node restart term carried on the rank
    # frame, broadcast seed-membership join, non-seed nodes ranked purely
    # by proximity. The oracle unrolls the identical recurrence with the
    # per-node base joined back per round; base = (1.0 - 0.85) * (1.0/ns)
    # in the SAME operand order as the Spark plan-time literal.
    def kg_ppr(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            pagerank,
        )

        e = _kg_edge_graph(s, d).localCheckpoint()
        nodes = (
            e.select(F.col("a").alias("name"))
            .union(e.select(F.col("b").alias("name")))
            .distinct()
        )
        seeds = nodes.orderBy("name").limit(2)
        return pagerank(e, iterations=8, seeds=seeds)

    q["kg_ppr"] = kg_ppr

    # Weighted single-source shortest path (fixed-6-round Bellman-Ford):
    # edge cost = (1000 + wt - 1) div wt over the co-occurrence weight wt =
    # sum(n_docs) per undirected pair — strong co-occurrence is cheap, so
    # dist ranks entities by association strength from the seed, the
    # KG-retrieval "proximity" ranking with weights (kg_shortest_path is
    # the unweighted hop version). ALL-INTEGER min-plus arithmetic: parity
    # with the unrolled oracle is bit-exact by construction. div/// are
    # both floor division on positive BIGINTs.
    def kg_sssp(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            sssp,
        )

        # r6: same weights via the distinct-mention-set enumeration
        we = (
            _kg_pattern_pairs(s, _kg_mention_sets(s, d))
            .groupBy(
                F.least("subj", "obj").alias("a"),
                F.greatest("subj", "obj").alias("b"),
            )
            .agg(F.sum("cnt").alias("wt"))
            .select(
                "a", "b", F.expr("(1000 + wt - 1) div wt").alias("cost")
            )
        )
        return sssp(we, source="slow", weight_col="cost", rounds=6)

    q["kg_sssp"] = kg_sssp

    # Common-neighbor link prediction (KG completion baselines): for every
    # NON-adjacent term pair sharing >= 1 neighbor, cn / Adamic-Adar /
    # Jaccard. One wedge self-join through the common neighbor + one
    # algebraic pair aggregate + an anti-join against the edge set; the
    # oracle computes the identical closed-form scores (integer wedge
    # counts; the only floats are 1/ln(deg) sums and one exact division,
    # 4dp on both sides).
    def kg_linkpred(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            link_prediction,
        )

        return link_prediction(_kg_edge_graph(s, d))

    q["kg_linkpred"] = kg_linkpred

    # k-truss: fixed-4-round per-EDGE triangle-support peel (k=3 -> every
    # surviving edge in >= 1 triangle among survivors), then the final
    # support report — the cohesion notion one level above kg_kcore, over
    # the DOC-SIMILARITY graph where the peel genuinely cascades at every
    # SF (117->28 / 130->18 / 10316->2282 edges; the term graphs are
    # degenerate — triple graph bipartite = 0 triangles, co-occurrence =
    # complete K24). The oracle unrolls the identical rounds (direct a<b<c
    # triangle enumeration per round, MATERIALIZED against DuckDB CTE
    # inlining).
    def kg_ktruss(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            ktruss,
        )

        return ktruss(_kg_docgraph(s, d), k=3, rounds=4)

    q["kg_ktruss"] = kg_ktruss

    def _kg_docgraph(s, d):
        """Doc-similarity graph: (a, b) doc_id pairs sharing >= 3 rare
        shingles — ngram_jaccard_pairs' blocking stage as a graph. Sparse
        and SF-scaling where every TERM graph over this corpus is
        degenerate (the 24-term co-occurrence graph is complete at every
        SF, the triple graph bipartite); trusses/triangles here separate
        robust duplicate clusters from LSH chaining artifacts."""
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            shingle_overlap_edges,
        )

        return shingle_overlap_edges(_t(s, d, "documents"), min_shared=3)

    def _kg_docgraph_sources(g):
        """The sampled BFS sources of the doc-similarity graph: every node
        with doc_id % 31 == 0."""
        return (
            g.select(F.col("a").alias("name"))
            .unionAll(g.select(F.col("b").alias("name")))
            .distinct()
            .where(F.col("name") % 31 == 0)
        )

    # Per-node triangle counts + local clustering coefficient via
    # degree-ordered orientation (wedge fan-out bounded by the SMALLER
    # endpoint degree — the shape that survives Zipf hubs), over the
    # doc-similarity graph (see _kg_docgraph: the term graphs are
    # degenerate, all-1.0 or all-0 clust). The oracle enumerates triangles
    # directly from the a<b edge list; the count is
    # implementation-independent.
    def kg_triangles(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            triangle_stats,
        )

        return triangle_stats(_kg_docgraph(s, d))

    q["kg_triangles"] = kg_triangles

    # fixed-8-round k-core peeling (graph_analytics.kcore): each round drops
    # nodes of degree < 2 and their edges; the oracle unrolls the identical
    # peel as 8 CTE rounds (same fixed-budget convention as kg_pagerank).
    def kg_kcore(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            kcore,
        )

        return kcore(_kg_edge_graph(s, d), k=2, rounds=8)

    q["kg_kcore"] = kg_kcore

    # HITS over the DIRECTED triple graph (subj -> obj). The loop is pure
    # integer sums (no per-round normalization), so only the single final
    # L1 rescale is float — the oracle unrolls the identical 8 rounds.
    def kg_hits(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            hits,
        )

        # r6: identical directed edge set via distinct mention sets
        de = (
            _kg_pattern_pairs(s, _kg_mention_sets(s, d))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        return hits(de, iterations=8)

    q["kg_hits"] = kg_hits

    # deterministic synchronous label-propagation communities: 4 unrolled
    # rounds of (neighbor-label gather -> count -> top-1 by count desc /
    # label asc). Integer counts + string mins only — bit-exact parity.
    def kg_lpa(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            label_propagation,
        )

        return label_propagation(_kg_edge_graph(s, d), rounds=4)

    q["kg_lpa"] = kg_lpa

    # Degree distribution of the doc-similarity graph (the term graph is
    # near-complete — a 2-bucket histogram): mirror the (a<b) edge set,
    # one algebraic count per node, one count per degree — the quick
    # skew censor run before any iterative analytic (a heavy head in this
    # histogram is what the salted/two-phase variants exist for).
    def kg_degree_hist(s, d):
        e = _kg_docgraph(s, d)
        deg = (
            e.select(F.col("a").alias("x"))
            .unionAll(e.select(F.col("b").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        return deg.groupBy("deg").agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        )

    q["kg_degree_hist"] = kg_degree_hist

    # Closeness centrality + eccentricity: multi-source BFS carrying
    # (src, node, d) state from a DETERMINISTIC hash-sample of sources
    # (doc_id % 31 == 0 — the production estimator shape: exact all-pairs
    # closeness is quadratic by definition; sf0.1's doc graph has a
    # 3869-node giant component, so all-sources state would be ~15M pairs).
    # closeness = n_reach/sum_d per source (Wasserman-Faust). Oracle =
    # MIN(d) over the recursive closure seeded by the same sampled set,
    # same 8-round cap.
    def kg_closeness(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            closeness,
        )

        g = _kg_docgraph(s, d)
        src = _kg_docgraph_sources(g)
        return closeness(g, rounds=8, sources=src)

    q["kg_closeness"] = kg_closeness

    # Degree assortativity (Newman's r) of the doc-similarity graph: six
    # exact BIGINT moments + one closed-form double expression — float
    # parity is structural (no float ever enters an aggregate).
    def kg_assortativity(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            assortativity,
        )

        return assortativity(_kg_docgraph(s, d))

    q["kg_assortativity"] = kg_assortativity

    # Pointwise mutual information of co-mentioned term pairs — the
    # classic word-association statistic: pmi = ln(c_xy*N / (c_x*c_y)),
    # all counts integers, ONE double division + ln (the proven ln-parity
    # convention). The doc_id self-join fan-out is bounded by the
    # gazetteer (<= 24 mention terms per doc), so the pair stage is
    # O(docs x K^2), never corpus-quadratic.
    def kg_pmi(s, d):
        docs = _t(s, d, "documents")
        m = (
            webkg.doc_mentions(docs)
            .select("doc_id", "term")
            .distinct()
            .localCheckpoint()
        )
        cx = m.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
        pairs = (
            m.alias("l")
            .join(m.alias("r"), "doc_id")
            .where(F.col("l.term") < F.col("r.term"))
            .groupBy(F.col("l.term").alias("x"), F.col("r.term").alias("y"))
            .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
        )
        n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        return (
            pairs.join(
                cx.select(F.col("term").alias("x"), F.col("c").alias("cx")), "x"
            )
            .join(
                cx.select(F.col("term").alias("y"), F.col("c").alias("cy")), "y"
            )
            .crossJoin(F.broadcast(n))
            .select(
                "x",
                "y",
                "cxy",
                F.round(
                    F.log(
                        (F.col("cxy") * F.col("n_docs"))
                        / (F.col("cx") * F.col("cy"))
                    ),
                    4,
                ).alias("pmi"),
            )
        )

    q["kg_pmi"] = kg_pmi

    # C2 at the gate (VERDICT r4 #1): the DISTRIBUTED fuzzy name-map build —
    # MinHash-LSH blocked candidate pairs (resolve.candidate_pairs, band
    # pandas UDF + bucket-capped self-join) -> exact token_sort_ratio verify
    # on the blocked pairs only -> distributed min-label CC -> longest-name
    # canonical per component. Previously the only SURVEY §2 path verified
    # by pytest parity alone. Vocabulary = data-derived distinct mention
    # terms plus deterministic 's'-suffix variants (synthesized identically
    # on both engines), so the pass resolves real alias/variant clusters
    # ("filter"/"filters", "stream"/"streams", ...).
    def kg_name_map(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.resolve import (
            _canonical_per_component,
            _cc_iterative,
            _fuzzy_ok,
            _minhash_bands,
            candidate_pairs,
        )

        docs = _t(s, d, "documents")
        # pin the distinct-name dictionary: the union's two branches (and
        # the later banding + CC node init) would otherwise each re-run the
        # whole mention pipeline (zero cross-branch exchange reuse)
        base = (
            webkg.doc_mentions(docs)
            .select(F.col("term").alias("name"))
            .distinct()
            .localCheckpoint()
        )
        names = base.union(
            base.select(F.concat("name", F.lit("s")).alias("name"))
        ).distinct()
        pairs = candidate_pairs(names, _minhash_bands)
        edges = pairs.where(_fuzzy_ok("a", "b"))
        members = _cc_iterative(names, edges)
        return _canonical_per_component(members)

    q["kg_name_map"] = kg_name_map

    # URL canonicalization (crawl-pipeline identity key, functions/urlfns.py):
    # the gate tables carry no URL column, so a deterministic mixed-pathology
    # URL is synthesized per doc_id IDENTICALLY on both engines (uppercase
    # scheme/host, www., default ports, tracking params, fragments, trailing
    # slashes) — the operator under test is the normalization, the synth is
    # just the fixture.
    def url_canonical(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.urlfns import (
            canonical_url,
        )

        i = F.col("doc_id")

        def st(x):
            return x.cast("string")

        m = i % 4
        url = (
            F.when(
                m == 0,
                F.concat(
                    F.lit("HTTPS://WWW.Example"), st(i % 50),
                    F.lit(".COM:443/Articles/"), st(i),
                    F.lit("/?utm_source=feed&ref="), st(i % 7), F.lit("#top"),
                ),
            )
            .when(
                m == 1,
                F.concat(
                    F.lit("http://News.Example"), st(i % 50),
                    F.lit(".com:80/item/"), st(i),
                ),
            )
            .when(
                m == 2,
                F.concat(
                    F.lit("https://example"), st(i % 50), F.lit(".com/a/b/"),
                    st(i), F.lit("/?gclid="), st(i), F.lit("&q=x&utm_campaign=z"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("HTTP://WWW.blog.Example"), st(i % 50),
                    F.lit(".Org/Post/"), st(i), F.lit("?id="), st(i),
                    F.lit("&fbclid=abc#frag"),
                ),
            )
        )
        return _t(s, d, "documents").select(
            "doc_id", url.alias("url"), canonical_url(url).alias("canonical_url")
        )

    q["url_canonical"] = url_canonical

    # text analysis (training-data pipeline)
    q["text_token_stats"] = lambda s, d: with_token_stats(_t(s, d, "documents"))
    q["text_quality"] = lambda s, d: with_quality_score(_t(s, d, "documents"))
    q["text_langid"] = lambda s, d: with_lang_guess(_t(s, d, "documents"))
    q["text_fingerprint"] = lambda s, d: with_fingerprint(_t(s, d, "documents"))
    # subword-style token count (regex pre-tokenizer, not whitespace)
    q["text_bpe_tokens"] = lambda s, d: with_bpe_token_count(_t(s, d, "documents"))
    # order-sensitive Rabin-Karp fingerprint of the token stream
    q["text_rolling_hash"] = lambda s, d: with_rolling_hash(_t(s, d, "documents"))
    # Gopher-style within-doc repetition filter (dup-bigram fraction)
    q["text_repetition"] = lambda s, d: with_repetition(_t(s, d, "documents"))
    # GPT-3-style benchmark decontamination: 4-gram overlap vs the eval split
    q["decontam_ngram"] = lambda s, d: ngram_decontam(_t(s, d, "documents"))

    # Corpus statistics (functions/corpusstats.py): the MapReduce-classic
    # web-scale text workloads. ngram_topk = LM counting with a
    # TakeOrderedAndProject top-k (no global sort); bigram_lm = ML
    # next-token table where the per-w1 window sorts DISTINCT successors
    # (vocab-bounded, the stopword head is absorbed by the map-side pair
    # count); inverted_index = posting lists capped through the two-phase
    # skew.topk_per_group prune BEFORE collect_list (a stopword never
    # materializes its corpus-sized posting list on one reducer).
    def text_ngram_topk(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            ngram_topk,
        )

        return ngram_topk(_t(s, d, "documents"), n=2, k=100)

    q["text_ngram_topk"] = text_ngram_topk

    def text_bigram_lm(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            bigram_lm,
        )

        return bigram_lm(_t(s, d, "documents"), min_count=5)

    q["text_bigram_lm"] = text_bigram_lm

    def text_inverted_index(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            inverted_index,
        )

        return inverted_index(_t(s, d, "documents"), max_postings=20)

    q["text_inverted_index"] = text_inverted_index

    # TF-IDF top-3 terms per doc: integer tf/df counts, one ln per
    # (term, doc) JVM-side, ranking on the ROUNDED score + term-asc
    # tiebreak so the selected set is the same total order both engines
    # compute. N arrives as a broadcast 1-row frame (no driver collect).
    def text_tfidf_topk(s, d):
        docs = _t(s, d, "documents")
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            tokens_col,
        )

        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            ensure_parallelism,
        )

        # r6: spread the single-split scan and pin tf — dfreq and the score
        # join both read it (no lineage reuse across references)
        pairs = ensure_parallelism(docs.select("doc_id", "text")).select(
            "doc_id", F.explode(tokens_col()).alias("term")
        )
        tf = (
            pairs.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .localCheckpoint()
        )
        dfreq = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        scored = (
            tf.join(dfreq, "term")
            .crossJoin(F.broadcast(n))
            .select(
                "doc_id",
                "term",
                "tf",
                F.round(
                    F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
                ).alias("tfidf"),
            )
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("tfidf"), F.asc("term")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select(
                "doc_id", "term", "tf", "tfidf",
                F.col("rk").cast("long").alias("rk"),
            )
        )

    q["text_tfidf_topk"] = text_tfidf_topk

    # Heaps-law vocabulary growth: "first doc introduces the term" is an
    # algebraic min, so the curve costs one min + one count + the bucketed
    # two-phase prefix sum (keyed by doc_id RANGE buckets — the only
    # single-partition window is the |buckets|-row offsets frame).
    def text_vocab_growth(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            vocab_growth,
        )

        return vocab_growth(_t(s, d, "documents"), bucket_width=256)

    q["text_vocab_growth"] = text_vocab_growth

    # GLOBAL ranking without a global sort (skew.global_rank_bucketed):
    # docs ranked corpus-wide by (n_chars desc, doc_id asc) — per-bucket
    # parallel windows + an exclusive prefix over the |buckets|-row totals
    # (the only single-partition window). A bare row_number() OVER
    # (ORDER BY ...) funnels the whole table through one reducer; this is
    # the 100 TB-safe spelling, oracled against exactly that bare window.
    def docs_global_rank(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            global_rank_bucketed,
        )

        docs = _t(s, d, "documents").select("doc_id", "n_chars")
        return global_rank_bucketed(
            docs,
            bucket_col=F.floor(F.col("n_chars") / 64),
            order_cols=[F.desc("n_chars"), F.asc("doc_id")],
        )

    q["docs_global_rank"] = docs_global_rank

    # PII redaction (r5): the gate tables carry no PII, so deterministic
    # PII (email / IPv4 / E.164-ish phone) is synthesized per doc_id
    # IDENTICALLY on both engines (the url_canonical fixture pattern) —
    # the operator under test is the redaction + audit counts, pure
    # regexp columns (functions/textfns.py PII_PATTERNS, shared verbatim
    # with the RE2 oracle).
    def text_pii_scrub(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_pii_scrub,
        )

        i = F.col("doc_id")

        def st(x):
            return x.cast("string")

        docs = _t(s, d, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), st(i),
                F.lit("@mail.example.com ip 10."), st(i % 256),
                F.lit(".0."), st(i % 256),
                F.lit(" tel +1-555-"), F.lpad(st(i % 10000), 4, "0"),
            ).alias("text"),
        )
        return with_pii_scrub(docs)

    q["text_pii_scrub"] = text_pii_scrub

    # Gopher-style hard quality filter (r5, Rae et al. 2021 §A1.1 shape):
    # per-rule boolean flags + AND keep decision — the reject-with-reasons
    # curation pass, distinct from the soft quality_score. Pure Catalyst
    # columns; ratio operands shaped identically to the SQL so boundary
    # comparisons (mean_word_len >= 3.0) see bit-identical doubles.
    def text_gopher_rules(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_gopher_rules,
        )

        return with_gopher_rules(_t(s, d, "documents"))

    q["text_gopher_rules"] = text_gopher_rules

    # corpus-level duplicated-substring spans (r5): the Lee et al. exact-
    # substring dedup shape — windowed token hashes, one explode + one
    # algebraic aggregate, no pairs (functions/dedup.py).
    def dedup_substring(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            substring_dup_spans,
        )

        return substring_dup_spans(_t(s, d, "documents"))

    q["dedup_substring"] = dedup_substring

    # decontamination in the PRODUCTION shape (r4): an explicit eval-suite
    # gram table — built here from a deterministic doc_id % 97 split so the
    # oracle can mirror it — joined against the training corpus; the plan
    # broadcasts the suite side from size statistics alone (plan-tested).
    def decontam_suite(s, d):
        docs = _t(s, d, "documents")
        return ngram_decontam_against(
            docs.where(F.col("doc_id") % 97 != 0),
            eval_suite_grams(docs.where(F.col("doc_id") % 97 == 0)),
        )

    q["decontam_suite"] = decontam_suite

    # Bloom-filter decontamination probe (sketches.bloom_decontam): the
    # decontam_suite split probed through a 2^18-bit / 4-hash Bloom filter
    # instead of the exact gram join — the broadcast side becomes the
    # fixed-size bit set (never grows past m rows however large the suite),
    # with deterministic md5-derived false positives. n_flagged >= the
    # exact n_shared_ngrams row-for-row by construction.
    def decontam_bloom(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            bloom_decontam,
        )

        docs = _t(s, d, "documents")
        return bloom_decontam(
            docs.where(F.col("doc_id") % 97 != 0),
            eval_suite_grams(docs.where(F.col("doc_id") % 97 == 0)),
        )

    q["decontam_bloom"] = decontam_bloom

    # deduplication
    q["dedup_exact"] = lambda s, d: exact_dup_flags_expr(_t(s, d, "documents"))
    q["dedup_minhash_sig"] = lambda s, d: minhash_signatures(_t(s, d, "documents"))
    q["dedup_minhash_pairs"] = lambda s, d: minhash_band_pairs(_t(s, d, "documents"))
    q["dedup_ngram_jaccard"] = lambda s, d: ngram_jaccard_pairs(
        _t(s, d, "documents"), threshold=0.8
    )
    q["dedup_simhash"] = lambda s, d: simhash64(_t(s, d, "documents"))

    # end-to-end near-dup clustering (r5): LSH candidates -> exact Jaccard
    # verify on the blocked pairs only -> distributed min-label CC ->
    # canonical min-doc_id per cluster. One row per document with the
    # keep/drop decision a curation pipeline ships; one corpus scan (the
    # pinned shingle frame feeds both signature and verify stages).
    def dedup_cluster(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            neardup_clusters,
        )

        return neardup_clusters(_t(s, d, "documents"), threshold=0.8)

    q["dedup_cluster"] = dedup_cluster

    # asymmetric containment dedup (Broder): c(a in b) = |A∩B|/|A| catches a
    # short doc embedded in a longer one where symmetric Jaccard stays low.
    def dedup_containment(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            containment_pairs,
        )

        return containment_pairs(_t(s, d, "documents"), threshold=0.5)

    q["dedup_containment"] = dedup_containment

    # LOSSLESS set-similarity self-join via prefix filtering (Chaudhuri
    # 2006 / Bayardo AllPairs 2007 / PPJoin): candidates only through each
    # doc's |d| - ceil(t|d|) + 1 globally-RAREST tokens (df-ascending
    # order), provably a superset of every pair with word-set Jaccard >= t;
    # membership decided by integer cross-multiplication (no float
    # boundary). The oracle is the BRUTE-FORCE all-pairs join — no blocking
    # logic to mirror, the losslessness theorem IS the parity claim.
    # Deterministic doc subset (% 7) keeps the oracle's quadratic
    # verification tractable at sf0.1; the Spark side is the scale path.
    def dedup_prefix_filter(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            prefix_filter_pairs,
        )

        docs = _t(s, d, "documents").where(F.col("doc_id") % 7 == 0)
        return prefix_filter_pairs(docs, t_num=3, t_den=5)

    q["dedup_prefix_filter"] = dedup_prefix_filter

    # similarity search
    q["sim_topk"] = lambda s, d: topk_cosine(
        _dbl_emb(_t(s, d, "embeddings")), _queries_dim(s, d), k=5
    )
    # bits pinned to 8 to match the oracle SQL; at corpus scale raise bits
    # (buckets = 2^bits) so bucket sizes stay bounded
    q["sim_neardup"] = lambda s, d: neardup_pairs_signblock(
        _dbl_emb(_t(s, d, "embeddings")), threshold=0.25, bits=8
    )
    q["sim_ivf_topk"] = lambda s, d: topk_cosine_ivf(
        _dbl_emb(_t(s, d, "embeddings")), _queries_dim(s, d), k=5, n_cells=16
    )
    # multi-band OR-amplified variant (bands over disjoint dims 1-24): the
    # scale path — a near-dup pair missed by one band's sign flip is caught
    # by the others; recall vs exact all-pairs is measured in bench.py
    q["sim_neardup_bands"] = lambda s, d: neardup_pairs_signblock(
        _dbl_emb(_t(s, d, "embeddings")), threshold=0.25, bits=8, n_bands=3
    )
    # nprobe=2: probe the query's two nearest cells (recall knob; params for
    # a large corpus come from auto_ivf_params(N): cells ~ sqrt(N))
    q["sim_ivf_probe2"] = lambda s, d: topk_cosine_ivf(
        _dbl_emb(_t(s, d, "embeddings")), _queries_dim(s, d), k=5, n_cells=16, nprobe=2
    )

    # SemDeDup (cluster -> within-cell cosine prune): the embedding-space
    # analogue of dedup_cluster; drops every vector with an earlier
    # cell-mate at cosine >= threshold. Cell assignment = the same
    # deterministic fixed-sample quantizer as the IVF gates (kmeans is the
    # production path, not oracle-able).
    def sim_semdedup(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            semdedup,
        )

        return semdedup(_dbl_emb(_t(s, d, "embeddings")), n_cells=16, threshold=0.25)

    q["sim_semdedup"] = sim_semdedup

    # Fixed-round Lloyd k-means over INTEGER-QUANTIZED embeddings: the
    # oracle-able clustering op (floor(x*2^20)+2^20 per dim makes every
    # assignment distance, centroid `div` update and the final inertia
    # exact BIGINT arithmetic — no float in any aggregate or comparison,
    # so the 2-round recurrence unrolls bit-for-bit in DuckDB). The
    # trained float path stays ivf_centroids_kmeans (pytest-covered).
    def sim_kmeans(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            kmeans_lloyd_quantized,
        )

        return kmeans_lloyd_quantized(_dbl_emb(_t(s, d, "embeddings")), k=4, rounds=2)

    q["sim_kmeans"] = sim_kmeans

    # E3 rerank shape: score vs query embedding, threshold-prune, sort desc,
    # cap per element class (reference context_builder.py:164-278)
    def rerank_class_cap(s, d):
        emb = _dbl_emb(_t(s, d, "embeddings"))
        qv = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
        return rerank_score_filter_cap(
            emb.where(F.col("vec_id") != 0), qv, threshold=0.25, cap=8
        )

    q["rerank_class_cap"] = rerank_class_cap

    # relational coverage: windows, joins, aggregations
    def events_hourly(s, d):
        ev = _t(s, d, "events")
        return ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour_str"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    q["events_hourly"] = events_hourly

    def tpch_pricing(s, d):
        li = _t(s, d, "lineitem")
        return (
            li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
                F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                F.count(F.lit(1)).cast("long").alias("count_order"),
            )
        )

    q["tpch_pricing"] = tpch_pricing

    def tpch_top_customers(s, d):
        c = _t(s, d, "customer")
        o = _t(s, d, "orders")
        li = _t(s, d, "lineitem")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                )
            )
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(10)
        )

    q["tpch_top_customers"] = tpch_top_customers

    def events_user_rank(s, d):
        ev = _t(s, d, "events")
        per_user = ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
        return (
            per_user.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("event_type", "user_id", "n", "rnk")
        )

    q["events_user_rank"] = events_user_rank

    # E7/C15: chunk sequencing via lead() window (NEXT edges as a window fn)
    def kg_next_chunk(s, d):
        ch = webkg.chunk_docs(_t(s, d, "documents"))
        w = Window.partitionBy("doc_id").orderBy("chunk_idx")
        return ch.select(
            "doc_id", "chunk_idx", "chunk_id", F.lead("chunk_id").over(w).alias("next_chunk_id")
        )

    q["kg_next_chunk"] = kg_next_chunk

    # D5: collect_set per group (sorted + joined to a scalar string — the
    # driver's canonicalizer hashes column values and can't hash list cells)
    def kg_label_collect(s, d):
        m = webkg.doc_mentions(_t(s, d, "documents"))
        return (
            m.select("term", "label")
            .distinct()
            .groupBy("label")
            .agg(
                F.array_join(F.sort_array(F.collect_set("term")), "|").alias("terms"),
                F.count(F.lit(1)).cast("long").alias("n_terms"),
            )
        )

    q["kg_label_collect"] = kg_label_collect

    def _kg_edges(s, d):
        return webkg.doc_triples(_t(s, d, "documents")).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"), F.col("pred").alias("rel_type")
        )

    # C11: BFS shortest path over the term graph (driver-orchestrated frontier
    # loop with visited anti-join; deterministic lexicographically-min path).
    # Arrays are '|'-joined for the driver's hasher (same rule as
    # kg_label_collect); the oracle enumerates simple paths recursively and
    # picks (min hops, min path) — proven equivalent in graph_queries.py.
    def kg_shortest_path(s, d):
        sp = shortest_path(_kg_edges(s, d), "slow", "table", max_hops=4)
        return sp.select(
            "hops",
            F.array_join("path", "|").alias("path_str"),
            F.array_join("rels", "|").alias("rels_str"),
        )

    q["kg_shortest_path"] = kg_shortest_path

    # C12: all simple paths <= 3 hops, ORDER BY (hops, path) LIMIT 5
    def kg_paths(s, d):
        ap = all_paths(_kg_edges(s, d), "slow", "table", max_hops=3, max_paths=5)
        return ap.select(
            "hops",
            F.array_join("path", "|").alias("path_str"),
            F.array_join("rels", "|").alias("rels_str"),
        )

    q["kg_paths"] = kg_paths

    # C13 at the gate (was pytest-only through r3): ALL seed×target shortest
    # paths in one BFS loop; oracle enumerates simple paths per seed
    # recursively and picks (min hops, min path, min rels) per pair — the
    # same equivalence argument as kg_shortest_path, per seed.
    def kg_reasoning_paths(s, d):
        mp = multi_source_shortest_paths(
            _kg_edges(s, d), ["slow", "scan"], ["table", "join"], max_hops=3
        )
        return mp.select(
            "seed_id",
            "target_id",
            "hops",
            F.array_join("path", "|").alias("path_str"),
            F.array_join("rels", "|").alias("rels_str"),
        )

    q["kg_reasoning_paths"] = kg_reasoning_paths

    # C9 at the gate (was pytest-only through r3): relationship-constrained
    # k-hop — the type filter pushed into every expansion step. Deliberately
    # runs the DISTRIBUTED frontier loop (k_hop has no driver shortcut), so
    # the gate keeps an iterative distributed traversal now that the path
    # queries take the sub-threshold in-memory BFS.
    def kg_khop_rel(s, d):
        seeds = s.createDataFrame([("join",)], "node_id string")
        return k_hop(
            _kg_edges(s, d),
            seeds,
            max_hops=2,
            allowed_rel_types=["APPLIED_TO", "EXECUTES"],
        )

    q["kg_khop_rel"] = kg_khop_rel

    # gap-based sessionization: lag + cumulative sum of new-session flags
    def events_sessions(s, d):
        ev = _t(s, d, "events")
        w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
        flagged = ev.select(
            "user_id",
            "ts",
            "event_id",
            F.when(
                (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user)))
                > 1800,
                1,
            )
            .otherwise(0)
            .alias("new_sess"),
        )
        sess = flagged.withColumn(
            "session_idx",
            F.sum("new_sess").over(
                w_user.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return (
            sess.groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sessions"),
                F.max("n_events").alias("max_session_events"),
            )
        )

    q["events_sessions"] = events_sessions

    # backward as-of join (operators/asof.py, r5): every purchase attributed
    # to the user's latest prior-or-equal click within 24 h — the union +
    # window shape (ONE shuffle on user_id, no broadcast, no range explode).
    # Oracle: DuckDB's native ASOF LEFT JOIN, an independent implementation
    # of the same point-in-time semantics.
    def events_asof(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.asof import asof_join

        ev = _t(s, d, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        j = asof_join(
            purchases,
            clicks,
            on=["user_id"],
            payload=["click_id"],
            tolerance=86400.0,
            tiebreak="click_id",
        )
        return j.select(
            "event_id",
            "user_id",
            F.col("r_click_id").alias("click_id"),
            (F.unix_timestamp("ts") - F.unix_timestamp("r_ts")).alias("gap_s"),
        )

    q["events_asof"] = events_asof

    # Conversion funnel (operators/funnel.py): earliest strictly-increasing
    # view -> click -> purchase chain per user; per step one user-key join
    # + one algebraic min — no event self-join, no full-stream window.
    # Timestamps leave as SECOND deltas (unix_timestamp floors each side,
    # matching DuckDB date_diff('second', ...) — the events_asof pairing).
    def events_funnel(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.funnel import funnel

        fn = funnel(_t(s, d, "events"), ["view", "click", "purchase"])
        return fn.select(
            "user_id",
            "stage",
            (F.unix_timestamp("t_1") - F.unix_timestamp("t_0")).alias("sec_to_click"),
            (F.unix_timestamp("t_2") - F.unix_timestamp("t_0")).alias(
                "sec_to_purchase"
            ),
        )

    q["events_funnel"] = events_funnel

    # Range join (operators/rangejoin.py): clicks inside each purchase's
    # following 30-minute window, counted per purchase with zeros kept.
    # Spark plans the time-bucket explode + hash equi-join + exact filter
    # (never a nested loop); the oracle is DuckDB's native inequality
    # LEFT JOIN — an independent evaluation of the same half-open window.
    def events_range_join(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.rangejoin import (
            interval_point_count,
        )

        ev = _t(s, d, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id",
            "user_id",
            F.col("ts").alias("ts_begin"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts_end"),
        )
        clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
        return interval_point_count(
            purchases, clicks, keys=["user_id"], interval_id="event_id"
        ).select("event_id", "user_id", "n_points")

    q["events_range_join"] = events_range_join

    # Cohort retention: cohort = each user's first active DATE; one row per
    # (cohort, day-offset) with the count of distinct users active at that
    # offset. Shape: distinct user-days (one shuffle), an algebraic min for
    # the cohort, a user-key join, one count aggregate — each user
    # contributes at most one row per offset by construction, so the count
    # is plain (never count-distinct).
    # Time-series regularization (resample('D') + ffill as pure Catalyst):
    # sparse daily counts (user_id % 397 keeps real gaps at every SF) ->
    # dense per-type calendar, zero-filled gap days flagged, LOCF carry.
    def events_gapfill(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            gapfill_daily,
        )

        ev = _t(s, d, "events").where(F.col("user_id") % 397 == 0)
        daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return gapfill_daily(daily, ["event_type"]).select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            "cnt",
            "is_gap",
            "locf_cnt",
        )

    q["events_gapfill"] = events_gapfill

    def events_retention(s, d):
        ev = _t(s, d, "events")
        days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
        cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_d"))
        return (
            days.join(cohort, "user_id")
            .select(
                F.col("cohort_d").cast("string").alias("cohort_d"),
                F.datediff("day", "cohort_d").cast("long").alias("offset_d"),
            )
            .groupBy("cohort_d", "offset_d")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )

    q["events_retention"] = events_retention
    def events_json(s, d):
        ev = _t(s, d, "events")
        return (
            ev.select(
                "event_type",
                F.get_json_object("props", "$.k").cast("int").alias("k"),
            )
            .groupBy("event_type", F.floor(F.col("k") / 10).cast("int").alias("k_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    q["events_json"] = events_json

    # D6/D7: mean + Bessel-corrected sample stddev per group
    def events_stats(s, d):
        ev = _t(s, d, "events")
        return ev.groupBy("event_type").agg(
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )

    q["events_stats"] = events_stats

    # reproducible sampling: hash-threshold sample (the training-data way —
    # stable across runs/engines, unlike rand()-based sampling)
    def docs_sample(s, d):
        docs = _t(s, d, "documents")
        return docs.where(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "28"
        ).select("doc_id", "lang", "n_chars")

    q["docs_sample"] = docs_sample

    # exact interpolated quantiles per group
    def events_quantiles(s, d):
        ev = _t(s, d, "events")
        return ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        )

    q["events_quantiles"] = events_quantiles

    # Histogram quantile sketch (sketches.hist_quantiles): the
    # bounded-state cousin of the exact percentile above — <= 4096 SUM
    # counters per group instead of every value; estimates carry the
    # one-bin-width error bound. [0, 1024) is a power-of-two range so
    # every binning op is an exact double.
    def events_hist(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            hist_quantiles,
        )

        return hist_quantiles(
            _t(s, d, "events"), ["event_type"], "value",
            lo=0.0, hi=1024.0, bits=12, qs=(50, 95),
        )

    q["events_hist"] = events_hist

    # Multi-dimensional aggregation: CUBE over (event_type, day) — every
    # grouping-set combination in ONE pass (Spark plans Expand + a single
    # partial+final aggregate; no per-set rescans). '(all)' marks the
    # rolled-up dimension on both engines.
    def events_cube(s, d):
        ev = _t(s, d, "events")
        return (
            ev.select(
                "event_type",
                F.to_date("ts").cast("string").alias("day"),
                "value",
            )
            .cube("event_type", "day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
                F.coalesce("day", F.lit("(all)")).alias("day"),
                "n_events",
                "sum_value",
            )
        )

    q["events_cube"] = events_cube

    # Window FRAMES: trailing 7-row (= 7-day on a dense calendar) moving
    # average of daily counts per type. The frame average sums <= 7
    # BIGINTs — exact in a double regardless of accumulation order, so
    # float parity is structural, not luck.
    def events_ma7(s, d):
        ev = _t(s, d, "events")
        daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(-6, Window.currentRow)
        )
        return daily.select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            F.round(F.avg("n").over(w), 4).alias("ma7"),
        )

    q["events_ma7"] = events_ma7

    # EXACT count-distinct at scale, spelled as the two-level aggregate
    # (distinct pairs -> count): the first shuffle dedups on the full
    # (type, user) key with map-side partials — no single reducer ever
    # sees a hot type's full user multiset (the same Expand shape
    # Catalyst rewrites count(DISTINCT) into, made explicit).
    def events_distinct2(s, d):
        ev = _t(s, d, "events")
        return (
            ev.select("event_type", "user_id")
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )

    q["events_distinct2"] = events_distinct2

    # Native SLIDING windows (60 min width / 30 min slide): each event
    # lands in exactly two windows; Spark's F.window plans one Expand +
    # one aggregate (no self-union). The oracle derives the same two
    # epoch-aligned window starts arithmetically.
    def events_sliding(s, d):
        ev = _t(s, d, "events")
        return (
            ev.groupBy(
                F.window("ts", "60 minutes", "30 minutes").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .select(
                F.col("w.start").cast("string").alias("w_start"),
                F.col("w.end").cast("string").alias("w_end"),
                "event_type",
                "n_events",
            )
        )

    q["events_sliding"] = events_sliding

    # Gaps-and-islands: each user's longest same-event-type streak in
    # (ts, event_id) order — the rn_all - rn_type island id, one count per
    # island, max per (user, type), deterministic top-1 per user.
    def events_streaks(s, d):
        ev = _t(s, d, "events")
        w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
        w_type = Window.partitionBy("user_id", "event_type").orderBy(
            "ts", "event_id"
        )
        isl = ev.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
                "grp"
            ),
        )
        runs = isl.groupBy("user_id", "event_type", "grp").agg(
            F.count(F.lit(1)).cast("long").alias("streak")
        )
        per_type = runs.groupBy("user_id", "event_type").agg(
            F.max("streak").cast("long").alias("streak")
        )
        w_top = Window.partitionBy("user_id").orderBy(
            F.desc("streak"), F.asc("event_type")
        )
        return (
            per_type.withColumn("__rn", F.row_number().over(w_top))
            .where(F.col("__rn") == 1)
            .select("user_id", "event_type", "streak")
        )

    q["events_streaks"] = events_streaks

    # NATIVE session windows (F.session_window, 30-min gap): the merging
    # window operator Spark plans specially (events_sessions is the manual
    # gaps-and-islands sibling — kept separate on purpose; note the
    # boundary differs: session_window starts a new session at gap >= 30m,
    # the manual rule at > 30m). Durations via the proven
    # unix_timestamp-floor == date_diff('second') pairing; session_window
    # arithmetic is exact integer microseconds on both engines.
    def events_session_native(s, d):
        ev = _t(s, d, "events")
        sw = ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        return (
            sw.select(
                "user_id",
                "n_events",
                (F.unix_timestamp("t1") - F.unix_timestamp("t0"))
                .cast("long")
                .alias("dur_s"),
                F.col("w.start").alias("__ws"),
            )
            .withColumn(
                "sess_seq",
                F.row_number()
                .over(Window.partitionBy("user_id").orderBy("__ws"))
                .cast("long"),
            )
            .drop("__ws")
        )

    q["events_session_native"] = events_session_native

    # First-order Markov transition table of event types: lead() under the
    # (ts, event_id) total order, integer pair counts, per-source window
    # sum (distinct-successor frame — bounded by |types|^2), one exact
    # division.
    def events_transitions(s, d):
        ev = _t(s, d, "events")
        w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = ev.select(
            "event_type", F.lead("event_type").over(w_u).alias("next_type")
        ).where(F.col("next_type").isNotNull())
        cnt = pairs.groupBy("event_type", "next_type").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        w_tot = Window.partitionBy("event_type")
        return cnt.select(
            "event_type",
            "next_type",
            "c",
            F.round(
                F.col("c") / F.sum("c").over(w_tot).cast("long"), 4
            ).alias("p"),
        )

    q["events_transitions"] = events_transitions

    # Daily-count anomaly z-scores (the monitoring workload): per-type
    # daily counts, then z = (n - mean)/stddev against the type's own
    # day distribution — spelled from EXACT integer moments (cnt, sum,
    # sumsq) with Bessel variance in one closed-form double expression,
    # so float parity is structural (same convention as kg_assortativity).
    def events_anomaly(s, d):
        ev = _t(s, d, "events")
        daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        w = Window.partitionBy("event_type")
        m = (
            daily.withColumn("cnt", F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("s1", F.sum("n").over(w).cast("long"))
            .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(w).cast("long"))
        )
        var = (m.cnt * m.s2 - m.s1 * m.s1) / (m.cnt * (m.cnt - 1))
        z = (m.n - m.s1 / m.cnt) / F.sqrt(var)
        return m.where(m.cnt >= 2).select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            F.when(var > 0, F.round(z, 4)).otherwise(F.lit(0.0)).alias("z"),
        )

    q["events_anomaly"] = events_anomaly

    # multi-dimensional aggregation: ROLLUP
    def tpch_rollup(s, d):
        li = _t(s, d, "lineitem")
        return li.rollup("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )

    q["tpch_rollup"] = tpch_rollup

    # TPC-H Q5 shape (local-supplier volume): the canonical 6-way
    # snowflake join — lineitem⋈orders (the one big-big shuffle)
    # ⋈ customer ⋈ supplier ⋈ nation ⋈ region, with the same-nation
    # predicate c_nationkey = s_nationkey and region + date-range filters
    # pushed to the dimension scans. Every dimension side is broadcast;
    # revenue is quantized to BIGINT cents per row
    # (floor(x·100 + 0.5), identical operand order both engines) so the
    # sum is exact integer arithmetic — no float accumulation anywhere.
    def tpch_local_supplier(s, d):
        li = _t(s, d, "lineitem")
        o = _t(s, d, "orders")
        c = _t(s, d, "customer")
        su = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        r = _t(s, d, "region")
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            )
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(
                F.broadcast(su),
                (li.l_suppkey == su.s_suppkey)
                & (c.c_nationkey == su.s_nationkey),
            )
            .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .where(F.col("r_name") == "ASIA")
            .groupBy("n_name")
            .agg(
                F.sum(rev_c).cast("long").alias("revenue_c"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
        )

    q["tpch_local_supplier"] = tpch_local_supplier

    # latest-wins compaction (the CDC "current snapshot" op — what a
    # MERGE-on-read table's read-side dedup does): per (user_id,
    # event_type) the most recent event under the deterministic
    # (ts, event_id) total order. ONE algebraic max over a struct whose
    # comparison prefix is that order — plans as partial_max before the
    # exchange (SortAggregate: struct max isn't hash-aggregable), so
    # map-side combine absorbs per-key skew where a window top-1 would
    # shuffle every row to its key's reducer.
    def events_latest(s, d):
        ev = _t(s, d, "events")
        m = (
            ev.groupBy("user_id", "event_type")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
        )
        return m.select(
            "user_id",
            "event_type",
            F.col("m.ts").alias("ts"),
            F.col("m.event_id").alias("event_id"),
            (F.round(F.col("m.value"), 4) + F.lit(0.0)).alias("value"),
        )

    q["events_latest"] = events_latest

    # one-pass column profiling (functions/profiling.py): per-column
    # null/distinct/min/max census in a single scan — the multi-distinct
    # aggregate plans as ONE Expand, not one job per column.
    def docs_profile(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            profile_columns,
        )

        return profile_columns(
            _t(s, d, "documents"), ["doc_id", "text", "lang", "source", "n_chars"]
        )

    q["docs_profile"] = docs_profile

    # KG-embedding training negatives (operators/kgtrain.py): k
    # deterministic md5-indexed corrupt-tail candidates per true triple,
    # 'filtered' via one anti-join against the true-triple set. The
    # candidate index is a pure function of (triple, k) — partitioning /
    # cluster-size / order invariant, which is also what makes it exactly
    # oracle-able where a rand() sampler is not.
    def kg_negatives(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.kgtrain import (
            negative_samples,
        )

        docs = _t(s, d, "documents")
        # pin mentions: doc_triples self-joins it (zero exchange reuse
        # across branches), so unpinned it would scan the corpus twice
        m = webkg.doc_mentions(docs).localCheckpoint()
        return negative_samples(webkg.doc_triples(docs, mentions=m), k=5)

    q["kg_negatives"] = kg_negatives

    # pivot: event_type counts as columns per user
    def events_pivot(s, d):
        ev = _t(s, d, "events")
        types = ["click", "error", "purchase", "signup", "view"]
        p = ev.groupBy("user_id").pivot("event_type", types).count()
        return p.select(
            "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
        )

    q["events_pivot"] = events_pivot

    # set operations: INTERSECT / EXCEPT over doc-id sets
    def docs_setops(s, d):
        docs = _t(s, d, "documents")
        toks = F.split(F.lower(F.trim(F.col("text"))), " ")
        has_spark = docs.where(F.array_contains(toks, "spark")).select("doc_id")
        is_en = docs.where(F.col("lang") == "en").select("doc_id")
        has_slow = docs.where(F.array_contains(toks, "slow")).select("doc_id")
        return has_spark.intersect(is_en).exceptAll(has_slow).select("doc_id")

    q["docs_setops"] = docs_setops

    # set-op composition: union of two near-dup candidate generators (F1/F2)
    def dedup_union(s, d):
        docs = _t(s, d, "documents")
        a = minhash_band_pairs(docs)
        b = ngram_jaccard_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
        return a.union(b).distinct()

    q["dedup_union"] = dedup_union

    # composed training-data curation job: langid + quality gate + exact
    # dedup (min doc_id per md5 group) + MinHash near-dup loser removal, in
    # one declarative pass (functions/curate.py)
    q["curate_docs"] = lambda s, d: curate_docs(_t(s, d, "documents"))

    # deterministic token-budget sample via distributed prefix sum (256
    # hash-prefix buckets; driver holds only the bucket totals)
    q["sample_tokens"] = lambda s, d: sample_to_token_budget(
        _t(s, d, "documents"), budget=20_000
    )

    # GPT-style sequence packing (r5): concat the corpus token stream in
    # md5(doc_id) order, split into fixed 64-token training sequences;
    # one row per (doc, overlapped pack). Same bounded distributed prefix
    # sum as sample_tokens (functions/curate.py::pack_sequences).
    def sample_pack(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            pack_sequences,
        )

        return pack_sequences(_t(s, d, "documents"), window=64)

    q["sample_pack"] = sample_pack

    # domain-mix rebalancing: at most 20 docs per source, md5(doc_id) order
    q["sample_stratified"] = lambda s, d: sample_stratified(_t(s, d, "documents"))

    # Temperature remixing (curate.sample_temperature): downsample each
    # language toward p_g ∝ sqrt(count) — the multilingual-corpus
    # rebalancing rule. sqrt is IEEE-correctly-rounded and the weights are
    # quantized to BIGINT, so the whole target computation is integer-exact
    # on both engines (see the operator docstring).
    # Deterministic train/val/test split: membership is a pure md5-bucket
    # function of doc_id — stable under any partitioning/cluster size/input
    # order, unlike randomSplit (per-partition sampling leaks rows across
    # splits on a repartition). Gate checks the per-(source, split) census.
    def sample_split(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            hash_split,
        )

        return (
            hash_split(_t(s, d, "documents"))
            .groupBy("source", "split")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
        )

    q["sample_split"] = sample_split

    def sample_temperature_q(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            sample_temperature,
        )

        return sample_temperature(
            _t(s, d, "documents"), target_total=200, group_col="lang"
        )

    q["sample_temperature"] = sample_temperature_q
    # the extreme-head production shape: per-partition prune before the
    # global per-group window (skew.topk_per_group) — identical output to
    # sample_stratified, identical oracle
    q["sample_stratified_2phase"] = lambda s, d: sample_stratified(
        _t(s, d, "documents"), two_phase=True
    )

    # multimodal plumbing, driver-gated: binary payload column -> Arrow
    # mapInPandas feature extraction, exercising the exact schema/batch path
    # the stubbed real codecs use. The md5 digest variant exists so DuckDB
    # can verify the identical bytes->features transform (md5 is the one
    # digest both engines share); payloads derive deterministically from the
    # documents table (no external data).
    def mm_features(s, d):
        media = media_from_documents(_t(s, d, "documents"))
        # num_partitions=8 (not the 32-wide cluster default): in the driver's
        # isolated cold run this query's wall time was dominated by spawning
        # one Python worker per partition for ~16 rows each (8.6 s cold vs
        # 0.7 s warm, VERDICT r3 #1); 8 workers keep the repartition + Arrow
        # path exercised at a fraction of the spawn tax
        feats = extract_features(
            media, num_partitions=8, algo="md5", double_precision=True
        )
        return feats.select(
            "media_id",
            "kind",
            "payload_bytes",
            F.round(F.element_at("features", 1), 4).alias("f0"),
            F.round(F.element_at("features", 9), 4).alias("f8"),
        )

    q["mm_features"] = mm_features

    # video frame-sampling: 1 -> N explode over sampled timestamps (the
    # frame decode itself is the stubbed part; the plan is pure columns)
    def mm_frame_sample(s, d):
        media = media_from_documents(_t(s, d, "documents"))
        return frame_sample_plan(media, every_ms=1000)

    q["mm_frame_sample"] = mm_frame_sample

    # aspect-preserving resize plan (pure integer/floor column arithmetic;
    # the pixel resample is the stubbed codec step)
    def mm_resize(s, d):
        return resize_plan(media_from_documents(_t(s, d, "documents")), max_side=256)

    q["mm_resize"] = mm_resize

    # H: Structured Streaming, driver-gated — a watermarked tumbling-window
    # aggregate drains the events table with Trigger.AvailableNow into a
    # complete-mode memory sink; the drained result must equal the batch
    # GROUP BY (the DuckDB oracle is the same SQL as events_hourly).
    def stream_hourly(s, d):
        import hashlib as _h

        from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
            run_windowed_counts_available_now,
        )

        qn = "stream_hourly_" + _h.md5(d.encode()).hexdigest()[:8]
        return run_windowed_counts_available_now(
            s, os.path.join(d, "events.parquet"), qn
        )

    q["stream_hourly"] = stream_hourly

    # H (custom stateful): applyInPandasWithState cross-batch exactly-once
    # dedup. The documents table becomes a chunk stream with PLANTED
    # re-deliveries (every third doc arrives twice, snapshot-overlap style),
    # split into 2 files consumed one per microbatch (maxFilesPerTrigger=1)
    # so the per-shard state genuinely carries across batches; the drained
    # output must equal the distinct chunk set (first-seen-only semantics).
    # Kept deliberately cheap for the gate budget: 2 microbatches, 8 shards,
    # and 8 state-store partitions (shuffle.partitions is captured at stream
    # start and restored after the drain).
    def stream_stateful_dedup(s, d):
        from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
            dedup_chunk_stream,
        )

        chunks = _t(s, d, "documents").select(
            F.md5(F.col("doc_id").cast("string")).alias("chunk_id"),
            F.col("doc_id").cast("string").alias("url"),
            F.lit(0).alias("chunk_idx"),
            "text",
        )
        # the base set, then the planted re-deliveries: 2 microbatches
        redelivered = chunks.where(F.col("url").cast("long") % 3 == 0)
        return _drain_stream(
            s,
            d,
            "ssd",
            [[chunks, redelivered]],
            lambda st: dedup_chunk_stream(st, n_shards=8),
            "append",
        )

    q["stream_stateful_dedup"] = stream_stateful_dedup

    # Streaming KMV sketch (streaming/stateful.py::kmv_stream): the
    # events_kmv sketch folded across microbatches with fixed-size
    # per-key state. Source staged as TWO files (user_id parity split) at
    # maxFilesPerTrigger=1, so every group's hash set genuinely crosses a
    # batch boundary; the KMV merge rule (union, keep k smallest) is
    # associative+commutative, so the drained fold == the batch sketch ==
    # the events_kmv oracle. Update-mode memory sink appends one row per
    # (key, touched batch); n_rows is strictly increasing per key, so
    # max_by(_, n_rows) is the deterministic latest-state selector.
    def stream_kmv(s, d):
        from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
            kmv_stream,
        )

        ev = _t(s, d, "events").select("event_type", "user_id")
        halves = [
            ev.where(F.col("user_id") % 2 == 0),
            ev.where(F.col("user_id") % 2 != 0),
        ]
        drained = _drain_stream(
            s, d, "skmv", [halves], lambda st: kmv_stream(st, k=32), "update"
        )
        last = drained.groupBy("event_type").agg(
            F.max_by("n_min", "n_rows").alias("n_min"),
            F.max_by("h_k", "n_rows").alias("h_k"),
        )
        numer = float(31 << 48)
        return last.select(
            "event_type",
            "n_min",
            "h_k",
            F.when(F.col("n_min") < 32, F.col("n_min").cast("double"))
            .otherwise(F.round(F.lit(numer) / F.col("h_k"), 4))
            .alias("kmv_est"),
        )

    q["stream_kmv"] = stream_kmv

    # Streaming HLL sketch (streaming/stateful.py::hll_stream): the
    # events_hll registers folded across microbatches (element-wise MAX —
    # associative, commutative, idempotent), so the drained fold == the
    # batch sketch == the events_hll oracle verbatim. Same two-file
    # user-parity staging so every group's registers genuinely merge
    # across a batch boundary; estimate computed by the SAME
    # sketches.hll_estimate closed form the batch gate uses.
    def stream_hll(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            hll_estimate,
            hll_regs_to_moments,
        )
        from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
            hll_stream,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            F.concat_ws(
                ":", F.col("user_id"), F.to_date("ts").cast("string")
            ).alias("ud"),
            F.col("user_id"),
        )
        halves = [
            ev.where(F.col("user_id") % 2 == 0).drop("user_id"),
            ev.where(F.col("user_id") % 2 != 0).drop("user_id"),
        ]
        drained = _drain_stream(
            s, d, "shll", [halves], lambda st: hll_stream(st, "ud"), "update"
        )
        last = drained.groupBy("event_type").agg(
            F.max_by("regs", "n_rows").alias("regs")
        )
        n_regs, sum_q = hll_regs_to_moments(F.col("regs"))
        moments = last.select(
            "event_type", n_regs.alias("n_regs"), sum_q.alias("sum_q")
        )
        return hll_estimate(moments, ["event_type"])

    q["stream_hll"] = stream_hll

    # Native streaming SESSION windows (streaming/incremental.py::
    # session_windows_stream): F.session_window under a watermark — the
    # merging-window state, drained append-mode. Events are staged as two
    # TIME-SPLIT files (every user's mid-month sessions genuinely span the
    # batch boundary and must merge in the state store) plus a far-future
    # sentinel row whose batch advances the watermark past every real
    # session's close so append mode emits them all (drain-by-watermark).
    # The drained sessions == the batch F.session_window result, so the
    # query shares the events_session_native oracle verbatim.
    def stream_session_native(s, d):
        from medical_doc_knowledge_graph_system_spark.streaming.incremental import (
            session_windows_stream,
        )

        ev = _t(s, d, "events").select("user_id", "ts")
        mid = F.lit("2024-01-16").cast("timestamp_ntz")
        sentinel = s.createDataFrame(
            [(-1, datetime.datetime(2150, 1, 1))],
            "user_id long, ts timestamp_ntz",
        )
        frames = [ev.where(F.col("ts") < mid), ev.where(F.col("ts") >= mid), sentinel]
        drained = _drain_stream(
            s, d, "ssess", [frames], session_windows_stream, "append"
        )
        tbl = drained.where(F.col("user_id") >= 0)
        return (
            tbl.select(
                "user_id",
                "n_events",
                (F.unix_timestamp("t1") - F.unix_timestamp("t0"))
                .cast("long")
                .alias("dur_s"),
                F.col("w.start").alias("__ws"),
            )
            .withColumn(
                "sess_seq",
                F.row_number()
                .over(Window.partitionBy("user_id").orderBy("__ws"))
                .cast("long"),
            )
            .drop("__ws")
        )

    q["stream_session_native"] = stream_session_native

    # Streaming histogram-quantile fold: the hist sketch's cell state
    # ((event_type, bin) -> count) is a NATIVE streaming aggregation —
    # counts are monotone under update-mode emission, so the drained
    # latest value per cell is max(c), and the shared hist_estimate
    # selection makes the fold == the batch sketch == the events_hist
    # oracle verbatim. Same two-file parity staging as stream_kmv/hll.
    def stream_hist(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            hist_bin,
            hist_estimate,
        )

        ev = _t(s, d, "events").select("event_type", "value", "user_id")
        halves = [
            ev.where(F.col("user_id") % 2 == 0).drop("user_id"),
            ev.where(F.col("user_id") % 2 != 0).drop("user_id"),
        ]
        drained = _drain_stream(
            s,
            d,
            "shist",
            [halves],
            lambda st: st.groupBy(
                "event_type",
                hist_bin(F.col("value"), 0.0, 1024.0, 4096).alias("bin"),
            ).agg(F.count(F.lit(1)).cast("long").alias("c")),
            "update",
        )
        cells = drained.groupBy("event_type", "bin").agg(
            F.max("c").alias("c")
        )
        return hist_estimate(cells, ["event_type"], 0.0, 1024.0, 12, (50, 95))

    q["stream_hist"] = stream_hist

    # H (streaming Count-Min): the CMS cell table as a NATIVE update-mode
    # streaming aggregation — (j, bucket) counts over the depth-way explode,
    # state bounded at depth*width cells forever (the sketch property is
    # exactly what makes the streaming state bounded). Counts are monotone,
    # so the drained latest value per cell is max(c) == the final cell; the
    # probe is the SAME cms_probe the batch gate uses (single-sourced), so
    # the fold == the batch sketch and the oracle is shared verbatim with
    # events_cms.
    def stream_cms(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            _cms_bucket,
            cms_probe,
        )

        depth, width = 4, 256
        ev = _t(s, d, "events").select("user_id", "event_id")
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        rows = F.array([F.lit(j) for j in range(depth)])
        drained = _drain_stream(
            s,
            d,
            "scms",
            [halves],
            lambda st: st.select(
                F.col("user_id").cast("string").alias("__k"),
                F.explode(rows).alias("j"),
            )
            .select("j", _cms_bucket(F.col("j"), F.col("__k"), width).alias("bucket"))
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("c")),
            "update",
        )
        folded = drained.groupBy("j", "bucket").agg(
            F.max("c").alias("c")
        )
        return cms_probe(_t(s, d, "events"), folded, "user_id", depth, width)

    q["stream_cms"] = stream_cms

    # H (streaming compaction): the latest-wins snapshot as a NATIVE
    # update-mode streaming aggregation — per-key max over the
    # (ts, event_id, value) order-prefixed struct, exactly what a CDC
    # consumer materializes as the "current state" table. The struct max
    # is MONOTONE across updates (later batches only grow it), so the
    # drained fold is max again per key == the batch compaction; oracle
    # shared verbatim with events_latest. State = one struct per live key.
    def stream_latest(s, d):
        ev = _t(s, d, "events").select(
            "user_id", "event_type", "ts", "event_id", "value"
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 != 0),
        ]
        drained = _drain_stream(
            s,
            d,
            "slatest",
            [halves],
            lambda st: st.groupBy("user_id", "event_type").agg(
                F.max(F.struct("ts", "event_id", "value")).alias("m")
            ),
            "update",
        )
        folded = (
            drained.groupBy("user_id", "event_type")
            .agg(F.max("m").alias("m"))
        )
        return folded.select(
            "user_id",
            "event_type",
            F.col("m.ts").alias("ts"),
            F.col("m.event_id").alias("event_id"),
            (F.round(F.col("m.value"), 4) + F.lit(0.0)).alias("value"),
        )

    q["stream_latest"] = stream_latest

    # I (batch applyInPandas): per-key ECDF rank — grouped Arrow transform
    # semantically pinned to ROW_NUMBER + COUNT OVER (PARTITION BY): the
    # gate proves the per-group pandas path (the contract the multimodal /
    # extraction UDFs ride) bit-matches the window oracle on pure BIGINTs,
    # invariant to partitioning and Arrow batch boundaries.
    def events_ecdf(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.grouped import (
            ecdf_ranks,
        )

        return ecdf_ranks(_t(s, d, "events"), "user_id", ["ts", "event_id"])

    q["events_ecdf"] = events_ecdf

    # I (cogroup applyInPandas): views-strictly-before-purchase counts per
    # purchase — the two-sided grouped-merge surface (sorted timestamps +
    # searchsorted per key, O(|views| log) where the oracle's inequality
    # join is views x purchases per key). Exact BIGINTs.
    def events_attrib_pandas(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.grouped import (
            views_before_purchase,
        )

        return views_before_purchase(_t(s, d, "events"))

    q["events_attrib_pandas"] = events_attrib_pandas

    # A4 end-to-end through the driver gate (previously pytest-only): the
    # warehouse's snapshot-atomic bucketed write -> a bucket-targeted
    # merge_upsert (modifying every doc_id % 3 == 0 row) -> the committed
    # changed-bucket CDC log -> BucketAggView incremental refresh (full
    # build at v1, changed-partials-only at v2). The oracle is the plain
    # GROUP BY over the post-merge table contents — which the IVM result
    # must equal exactly if (and only if) the whole chain is correct.
    def warehouse_ivm(s, d):
        import hashlib as _h
        import shutil
        import tempfile

        from medical_doc_knowledge_graph_system_spark.sources.ivm import BucketAggView
        from medical_doc_knowledge_graph_system_spark.sources.warehouse import (
            Warehouse,
        )

        tag = _h.md5(d.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"mdkgs_ivm_{tag}_")
        try:
            wh = Warehouse(os.path.join(base, "wh"))
            docs = _t(s, d, "documents").select(
                F.col("doc_id").cast("string").alias("url"),
                F.col("doc_id"),
                "lang",
                "n_chars",
            )
            wh.write_bucketed(
                docs.where(F.col("doc_id") % 3 != 0), "t", n_buckets=8
            )
            view = BucketAggView(
                wh,
                "t",
                partial_fn=lambda df: df.groupBy("__bucket", "lang").agg(
                    F.count(F.lit(1)).cast("long").alias("c"),
                    F.sum("n_chars").cast("long").alias("s"),
                ),
                merge_fn=lambda p: p.groupBy("lang").agg(
                    F.sum("c").cast("long").alias("n_docs"),
                    F.sum("s").cast("long").alias("sum_chars"),
                ),
                state_dir=os.path.join(base, "view"),
            )
            view.refresh(s)  # full build at v1
            wh.merge_upsert(
                docs.where(F.col("doc_id") % 3 == 0).withColumn(
                    "n_chars", F.col("n_chars") + F.lit(1000)
                ),
                "t",
                ["url"],
            )
            # incremental: only the buckets the v2 commit logged as changed
            # have their partials recomputed; localCheckpoint materializes
            # the result before the temp warehouse is removed
            return view.refresh(s).localCheckpoint()
        finally:
            shutil.rmtree(base, ignore_errors=True)

    q["warehouse_ivm"] = warehouse_ivm

    # H (native stateful): Spark's watermark + dropDuplicatesWithinWatermark
    # over the same planted-redelivery stream — the engine-owned bounded
    # state (keys expire past the watermark) next to the hand-rolled
    # operator above. Event time is synthesized deterministically per chunk
    # (same chunk -> same ts in both deliveries, all inside the watermark
    # window), so the drained output must equal the distinct chunk set.
    def stream_dedup_native(s, d):
        from medical_doc_knowledge_graph_system_spark.streaming.stateful import (
            dedup_chunk_stream_native,
        )

        chunks = _t(s, d, "documents").select(
            F.md5(F.col("doc_id").cast("string")).alias("chunk_id"),
            F.col("doc_id").cast("string").alias("url"),
            F.lit(0).alias("chunk_idx"),
            "text",
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=(F.col("doc_id") % 1800).cast("double"))
            ).alias("ts"),
        )
        redelivered = chunks.where(F.col("url").cast("long") % 3 == 0)
        return _drain_stream(
            s,
            d,
            "sdn",
            [[chunks, redelivered]],
            lambda st: dedup_chunk_stream_native(st).drop("ts"),
            "append",
        )

    q["stream_dedup_native"] = stream_dedup_native

    # H (stream-stream join): watermarked inner join of the view stream to
    # the click stream on user_id + a 2-hour event-time range — the
    # attribution join (click within 2h of a view). Both sides carry
    # watermarks and the range condition, exactly what the engine needs to
    # expire join state at scale; drained AvailableNow, the result must
    # equal the batch self-join (timestamps compared as epoch micros — the
    # one representation both engines print identically).
    def stream_join_attrib(s, d):
        import hashlib as _h
        import os as _os

        tag = _h.md5(("ssj" + d).encode()).hexdigest()[:8]
        path = _os.path.join(d, "events.parquet")
        schema = s.read.parquet(path).schema
        prev_sp = s.conf.get("spark.sql.shuffle.partitions")
        try:
            # file source requires a directory basePath: stream the parent
            # dir with a glob filter pinned to the events file
            def _ev_stream():
                return (
                    s.readStream.schema(schema)
                    .option("pathGlobFilter", _os.path.basename(path))
                    .parquet(_os.path.dirname(path))
                )

            views = (
                _ev_stream()
                .where("event_type = 'view'")
                # events.ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP (session TZ is
                # UTC, so the cast is wall-clock-identity and epoch micros
                # match DuckDB's naive epoch_us)
                .select("user_id", F.col("ts").cast("timestamp").alias("view_ts"))
                .withWatermark("view_ts", "1 hour")
            )
            clicks = (
                _ev_stream()
                .where("event_type = 'click'")
                .select(F.col("user_id").alias("c_user"), F.col("ts").cast("timestamp").alias("click_ts"))
                .withWatermark("click_ts", "1 hour")
            )
            joined = (
                views.join(
                    clicks,
                    (F.col("user_id") == F.col("c_user"))
                    & (F.col("click_ts") >= F.col("view_ts"))
                    & (
                        F.col("click_ts")
                        <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")
                    ),
                )
                .select(
                    "user_id",
                    F.unix_micros("view_ts").alias("view_us"),
                    F.unix_micros("click_ts").alias("click_us"),
                )
            )
            s.conf.set("spark.sql.shuffle.partitions", "8")
            sq = (
                joined.writeStream.format("memory")
                .queryName(f"ssj_{tag}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            sq.awaitTermination()
        finally:
            s.conf.set("spark.sql.shuffle.partitions", prev_sp)
        return s.table(f"ssj_{tag}")

    q["stream_join_attrib"] = stream_join_attrib

    # KenLM-style LM quality scoring (r5): per-doc mean bigram surprisal
    # under the corpus-trained ML bigram model. Per-bigram surprisal is
    # floor-quantized to BIGINT (ln over the same BIGINT/BIGINT division is
    # bit-identical cross-engine — the text_tfidf_topk precedent), so the
    # per-doc SUM is integer-exact and order-free; the only double is one
    # closed form per doc.
    def text_doc_surprisal(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            doc_lm_scores,
        )

        return doc_lm_scores(_t(s, d, "documents"))

    q["text_doc_surprisal"] = text_doc_surprisal

    # DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    # features, add-one-smoothed target/raw bucket models (target =
    # lang='en' docs), per-doc weight = sum of quantized log probability
    # ratios — the data-selection op that reweights a raw crawl toward a
    # target distribution. Same floor-quantized-ln parity convention.
    def sample_dsir(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            dsir_weights,
        )

        return dsir_weights(_t(s, d, "documents"))

    q["sample_dsir"] = sample_dsir

    # Community-quality evaluation (r5): per-community modularity
    # contributions Q_c = e_c/m - (deg_c/2m)^2 of the LPA partition over
    # the entity graph — exact BIGINT moments + ONE closed-form double per
    # row (the assortativity convention). The oracle re-runs the identical
    # 4 LPA rounds and the same closed form.
    def kg_modularity(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            label_propagation,
            modularity,
        )

        e = _kg_edge_graph(s, d).localCheckpoint()
        return modularity(e, label_propagation(e, rounds=4))

    q["kg_modularity"] = kg_modularity

    # Deterministic Luby maximal independent set (r5): strict-min
    # md5(name)||name priorities, 4 synchronous rounds, LEFT SEMI edge
    # restriction per round (the ktruss stats-explosion-safe shape).
    # Strings + integers only — bit-exact parity.
    def kg_mis(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            maximal_independent_set,
        )

        return maximal_independent_set(_kg_edge_graph(s, d), rounds=4)

    q["kg_mis"] = kg_mis

    # Exponentially decayed daily counts (alpha = 1/2, 8 dyadic terms):
    # every weight is a power of two, so each term — and at gate scale the
    # whole sum — is EXACT in binary; both engines evaluate the identical
    # left-associated closed form over the same lag rows.
    def events_ewma(s, d):
        ev = _t(s, d, "events")
        daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        w = Window.partitionBy("event_type").orderBy("day")
        expr = F.col("n").cast("double")
        for j in range(1, 8):
            expr = expr + F.coalesce(F.lag("n", j).over(w), F.lit(0)) / float(2**j)
        return daily.select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            F.round(expr, 4).alias("ewma"),
        )

    q["events_ewma"] = events_ewma

    # Deterministic sketches (r5): the bounded-state aggregations of a
    # 100 TB pipeline. KMV distinct-count keeps the 32 smallest 48-bit md5
    # hashes per group (estimate = (k-1)/U_k, exact below k); Count-Min
    # keeps 4x256 integer cells (estimate = min over rows, provably >=
    # truth). md5-derived hashes make every estimate bit-reproducible
    # cross-engine: pure BIGINTs + one closed-form double (KMV only).
    def events_kmv(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            kmv_distinct,
        )

        return kmv_distinct(_t(s, d, "events"), ["event_type"], "user_id", k=32)

    q["events_kmv"] = events_kmv

    # Theta-sketch set algebra (Beyer et al. 2007): pairwise |A u B|,
    # Jaccard and |A n B| over distinct-user KMV sketches per event type,
    # computed from the G*k-row sketch table alone (the raw sets are
    # never revisited — the estimator the DataSketches theta family
    # ships). Exact when the union sketch is exhaustive (n_u < k).
    def events_kmv_ops(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            kmv_set_ops,
        )

        return kmv_set_ops(_t(s, d, "events"), "event_type", "user_id", k=32)

    q["events_kmv_ops"] = events_kmv_ops

    def events_cms(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            cms_frequencies,
        )

        return cms_frequencies(_t(s, d, "events"), "user_id", depth=4, width=256)

    q["events_cms"] = events_cms

    # HyperLogLog distinct user-days per event type (r5): the 64-register
    # max-rank sketch — ~48 bytes of state per group, merged by MAX (the
    # industry-default streaming distinct count, vs KMV's k retained
    # values). Raw estimate + linear-counting fallback are each ONE
    # closed-form double over exact BIGINT register sums, so both the
    # estimate AND the branch choice are bit-identical cross-engine.
    def events_hll(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.sketches import (
            hll_distinct,
        )

        ev = _t(s, d, "events")
        return hll_distinct(
            ev,
            ["event_type"],
            F.concat_ws(":", F.col("user_id"), F.to_date("ts").cast("string")),
        )

    q["events_hll"] = events_hll

    # Flesch reading-ease readability buckets (r5): BIGINT word/sentence/
    # syllable counts (regex vowel-group + punctuation-run approximations)
    # + one closed-form double, banded on the ROUNDED score.
    def text_flesch(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_flesch,
        )

        return with_flesch(_t(s, d, "documents"))

    q["text_flesch"] = text_flesch

    # Token-distribution Shannon entropy per doc (r5): the diversity /
    # repetition quality signal. Per-token ln floor-quantized to BIGINT
    # (doc_lm_scores pattern) so the per-doc sums are order-free.
    def text_entropy(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            token_entropy,
        )

        return token_entropy(_t(s, d, "documents"))

    q["text_entropy"] = text_entropy

    # Zipf-law slope per language (r5): least-squares ln(count)~ln(rank)
    # fit over the top-1000 vocabulary head (state bounded at k rows per
    # group via topk_per_group). Five exact BIGINT moments from floor-
    # quantized logs; slope = one closed-form expression with double
    # products (BIGINT products would overflow) in identical operand order.
    def text_zipf(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            zipf_slope,
        )

        return zipf_slope(_t(s, d, "documents"), k=1000)

    q["text_zipf"] = text_zipf

    # Efraimidis-Spirtes weighted sampling without replacement: n smallest
    # -ln(U)/w keys (U from the doc's md5, w = token count) == an exact
    # token-mass-proportional sample, reproducible on any engine/partitioning.
    def sample_weighted(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            weighted_sample,
        )

        return weighted_sample(_t(s, d, "documents"), n=100)

    q["sample_weighted"] = sample_weighted

    # CCNet perplexity bucketing: rank by the doc_lm_scores surprisal
    # (ascending) and cut into 3 equal-population head/middle/tail tiers —
    # the canonical LM-quality stratification for mixing decisions. Rank =
    # global_rank_bucketed (no global sort); oracle = the bare window.
    def text_ppl_buckets(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            ppl_buckets,
        )

        return ppl_buckets(_t(s, d, "documents"))

    q["text_ppl_buckets"] = text_ppl_buckets

    # Harmonic centrality (Boldi-Vigna): sum of 1/d over the same sampled
    # multi-source BFS as kg_closeness — every 1/d term floor-quantized to
    # BIGINT (exact, order-free), ONE closed-form double per row.
    def kg_harmonic(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            harmonic,
        )

        g = _kg_docgraph(s, d)
        src = _kg_docgraph_sources(g)
        return harmonic(g, rounds=8, sources=src)

    q["kg_harmonic"] = kg_harmonic

    # Effective diameter (Leskovec et al. hop-plot percentile) over the
    # same doc_id % 31 source sample: ONE summary row; the percentile
    # selection is the pure-integer comparison 100*cum >= 90*n.
    def kg_eff_diameter(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            effective_diameter,
        )

        g = _kg_docgraph(s, d)
        src = _kg_docgraph_sources(g)
        return effective_diameter(g, rounds=8, sources=src, q_pct=90)

    q["kg_eff_diameter"] = kg_eff_diameter

    # Sampled Brandes betweenness: integer sigma path counts from the
    # level-synchronous BFS, backward dependency pass with every term
    # (sv*(10^4+delta_q)) div sw — positive-BIGINT floor division, so
    # sums are order-free and `div` == DuckDB `//` bit-for-bit; bc_q/10^4
    # is exact at 4dp (boundary-free round). Same doc_id % 31 source
    # sample as kg_closeness/kg_harmonic (the Brandes-Pich estimator —
    # exact all-sources betweenness is Theta(nm) by definition).
    def kg_betweenness(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            betweenness,
        )

        g = _kg_docgraph(s, d)
        src = _kg_docgraph_sources(g)
        return betweenness(g, rounds=8, sources=src)

    q["kg_betweenness"] = kg_betweenness

    # Deterministic walk sampling (graph_analytics.deterministic_walks):
    # the node2vec/DeepWalk corpus primitive with the uniform draw
    # replaced by argmin md5("src:step:u:v") over neighbors — one walk per
    # sampled source, bit-reproducible on any engine/partitioning.
    def kg_walks(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            deterministic_walks,
        )

        g = _kg_docgraph(s, d)
        src = _kg_docgraph_sources(g)
        return deterministic_walks(g, steps=8, sources=src)

    q["kg_walks"] = kg_walks

    # BM25 top-k retrieval (ninth-session r5): the sparse ranking function
    # over a deterministic mid-frequency query band; per-(doc,term) score
    # quantized to BIGINT micro-units before the per-doc sum so the only
    # cross-engine float is one closed-form expression per term (see
    # corpusstats.bm25_topk).
    def text_bm25_topk(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            bm25_topk,
        )

        return bm25_topk(_t(s, d, "documents"), k=20)

    q["text_bm25_topk"] = text_bm25_topk

    # Symmetric-delete (SymSpell) edit-distance-1 blocking + levenshtein
    # verify over the serial-id customer names — the blocking that does NOT
    # degenerate on shared prefixes (prefix blocking would put all 150k
    # 'Customer#...' names in one bucket; deletion-variant buckets stay
    # bounded by |alphabet| x length). Both engines have native
    # levenshtein; the candidate generation is the same explode+equi-join.
    def dedup_editdist(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            editdist_pairs,
        )

        return editdist_pairs(_t(s, d, "customer"), name_col="c_name")

    q["dedup_editdist"] = dedup_editdist

    # Bipartite butterfly counts over the doc<->rare-shingle incidence (the
    # blocking graph the dedup family joins on): 4-cycle multiplicity
    # separates robust duplicate clusters from single-shingle chaining.
    # Pure BIGINT algebra; wedge fan-out df-capped on the shingle side.
    def kg_butterflies(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            doc_shingles,
        )
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            butterflies,
        )

        return butterflies(doc_shingles(_t(s, d, "documents")))

    q["kg_butterflies"] = kg_butterflies

    # TPC-H Q3 shape (shipping priority): unshipped-order revenue for one
    # market segment, top-10 by revenue. Segment-filtered customer
    # broadcasts; the only shuffle join is lineitem-orders; top-10 is
    # TakeOrderedAndProject on (revenue desc, date asc, orderkey asc) —
    # a fully deterministic total order. Revenue exact in BIGINT cents
    # (identical operand order, the tpch_local_supplier convention).
    def tpch_ship_priority(s, d):
        li = _t(s, d, "lineitem")
        o = _t(s, d, "orders")
        c = _t(s, d, "customer")
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        rw = Window.orderBy(
            F.desc("revenue_c"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        return (
            li.where(F.col("l_shipdate") > "1997-01-01")
            .join(
                o.where(F.col("o_orderdate") < "1997-01-01"),
                li.l_orderkey == o.o_orderkey,
            )
            .join(
                F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
                o.o_custkey == c.c_custkey,
            )
            .groupBy("l_orderkey", "o_orderdate")
            .agg(
                F.sum(rev_c).cast("long").alias("revenue_c"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
            .orderBy(
                F.desc("revenue_c"), F.asc("o_orderdate"), F.asc("l_orderkey")
            )
            .limit(10)
            .withColumn("rk", F.row_number().over(rw).cast("long"))
        )

    q["tpch_ship_priority"] = tpch_ship_priority

    # Daily OHLC candles per event type: open/close are the value at the
    # min/max (ts, event_id) row — the same monotone order-prefixed-struct
    # algebraic min/max as events_latest (partial aggregation before the
    # exchange; a window top-1 would shuffle every row) — high/low are
    # plain min/max on the raw doubles (comparisons, no arithmetic ⇒
    # bit-exact cross-engine). The candle compaction every time-series
    # store ships.
    def events_ohlc(s, d):
        ev = _t(s, d, "events")
        g = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.min(F.struct("ts", "event_id", "value")).alias("o"),
            F.max(F.struct("ts", "event_id", "value")).alias("c"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        return g.select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            (F.round(F.col("o.value"), 4) + F.lit(0.0)).alias("open"),
            (F.round("high", 4) + F.lit(0.0)).alias("high"),
            (F.round("low", 4) + F.lit(0.0)).alias("low"),
            (F.round(F.col("c.value"), 4) + F.lit(0.0)).alias("close"),
            "n",
        )

    q["events_ohlc"] = events_ohlc

    # Pairwise Welch's t-test between event types on value: the A/B-test
    # readout. Values quantized to BIGINT cents per row (floor(v*100+0.5),
    # the tpch money convention) so n/sum/sum_sq are EXACT integer moments
    # (sum_sq headroom ~10^9 rows/group at this value range); t and the
    # Welch–Satterthwaite df are each ONE closed-form double from the six
    # BIGINTs in identical operand order. Moments are map-side partials;
    # the pair frame is |types|^2 — bounded by group cardinality, not
    # corpus size.
    def events_ab_welch(s, d):
        ev = _t(s, d, "events")
        vc = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
        m = (
            ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(vc).cast("long").alias("s1"),
                F.sum(vc * vc).cast("long").alias("s2"),
            )
            # group-cardinality rows; pinned because BOTH sides of the pair
            # join read it — unpinned, each side re-runs the corpus scan
            .localCheckpoint()
        )
        a, b = m.alias("a"), m.alias("b")
        j = a.join(
            F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")
        )
        # per-side mean and Bessel variance in CENTS (double division of
        # exact BIGINTs — identical cross-engine), then the Welch forms
        ma = F.col("a.s1") / F.col("a.n")
        mb = F.col("b.s1") / F.col("b.n")
        va = (F.col("a.n") * F.col("a.s2") - F.col("a.s1") * F.col("a.s1")) / (
            F.col("a.n") * (F.col("a.n") - F.lit(1))
        )
        vb = (F.col("b.n") * F.col("b.s2") - F.col("b.s1") * F.col("b.s1")) / (
            F.col("b.n") * (F.col("b.n") - F.lit(1))
        )
        se2 = va / F.col("a.n") + vb / F.col("b.n")
        t = (ma - mb) / F.sqrt(se2)
        nu = (se2 * se2) / (
            (va / F.col("a.n")) * (va / F.col("a.n")) / (F.col("a.n") - F.lit(1))
            + (vb / F.col("b.n")) * (vb / F.col("b.n")) / (F.col("b.n") - F.lit(1))
        )
        return j.select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            (F.round(t, 4) + F.lit(0.0)).alias("t_welch"),
            F.round(nu, 4).alias("df_welch"),
        )

    q["events_ab_welch"] = events_ab_welch

    # CCNet-style duplicated-passage scrub with reconstruction: fixed
    # 20-token chunks, keep the globally FIRST occurrence of each chunk
    # (min (doc_id, idx) struct — map-side partials absorb boilerplate
    # mega-duplicates where a row_number window would single-reducer
    # them), reassemble every doc from its survivors.
    def text_chunk_dedup(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            chunk_dedup,
        )

        return chunk_dedup(_t(s, d, "documents"))

    q["text_chunk_dedup"] = text_chunk_dedup

    # KG relation-cardinality profile (Bordes 2013's 1-1/1-N/N-1/N-N
    # typing, the stats a KG-embedding trainer reads first): per predicate
    # the triple count, distinct head/tail counts, tails-per-head /
    # heads-per-tail (BIGINT/BIGINT doubles) and the 1.5-threshold class.
    # One aggregate over the triple set; the two COUNT(DISTINCT)s plan as
    # a single Expand, not per-column jobs.
    def kg_rel_cardinality(s, d):
        t = webkg.doc_triples(_t(s, d, "documents"))
        g = t.groupBy("pred").agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subj"),
            F.countDistinct("obj").cast("long").alias("n_obj"),
        )
        tph = F.col("n_triples") / F.col("n_subj")
        hpt = F.col("n_triples") / F.col("n_obj")
        cls = (
            F.when((tph > 1.5) & (hpt > 1.5), F.lit("N-N"))
            .when(tph > 1.5, F.lit("1-N"))
            .when(hpt > 1.5, F.lit("N-1"))
            .otherwise(F.lit("1-1"))
        )
        return g.select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            F.round(tph, 4).alias("tails_per_head"),
            F.round(hpt, 4).alias("heads_per_tail"),
            cls.alias("rel_class"),
        )

    q["kg_rel_cardinality"] = kg_rel_cardinality

    # BPE tokenizer induction (Sennrich 2016): the first 4 merge rules,
    # learned the way the standard trainers do — corpus-sized work is ONE
    # word count; every round is vocabulary-bounded (pair aggregate +
    # broadcast top-1 + map-side greedy string fold). The fold unrolls
    # bit-for-bit in DuckDB list_reduce (see corpusstats.bpe_merges).
    def text_bpe_merges(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            bpe_merges,
        )

        return bpe_merges(_t(s, d, "documents"), k=4)

    q["text_bpe_merges"] = text_bpe_merges

    # Wilson lower-bound conversion ranking (the ranking-under-uncertainty
    # readout every experimentation stack ships): per user cohort
    # (user_id % 20) trials = view+purchase events, successes = purchases
    # (trials must bound successes or p>1 breaks the bound);
    # the 95% Wilson score LOWER bound orders small-sample cohorts
    # honestly where the raw rate over-ranks 1/1. Counts are exact
    # BIGINTs from ONE conditional aggregate (no self-join); the bound is
    # ONE closed-form double in identical operand order; rank on the
    # ROUNDED bound + cohort tiebreak (the text_tfidf_topk convention).
    def events_wilson(s, d):
        ev = _t(s, d, "events")
        g = ev.where(
            F.col("event_type").isin("view", "purchase")
        ).groupBy((F.col("user_id") % 20).alias("cohort")).agg(
            F.count(F.lit(1)).cast("long").alias("n_trials"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_buy"),
        )
        z2 = F.lit(1.96 * 1.96)
        p = F.col("n_buy") / F.col("n_trials")
        n = F.col("n_trials")
        lb = (
            p
            + z2 / (2.0 * n)
            - F.lit(1.96)
            * F.sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n)
        ) / (1.0 + z2 / n)
        w = Window.orderBy(F.desc("wilson_lb"), F.asc("cohort"))
        return (
            g.select(
                "cohort",
                "n_trials",
                "n_buy",
                F.round(lb, 4).alias("wilson_lb"),
            )
            .withColumn("rk", F.row_number().over(w).cast("long"))
        )

    q["events_wilson"] = events_wilson

    # Streaming OHLC fold: the candle compaction as a NATIVE update-mode
    # streaming aggregation. Every cell is monotone across update-mode
    # emissions — the open/close structs only min/max-tighten, high/low
    # only widen, the count only grows — so the drained per-key fold
    # (min/max/max of the emitted cells) equals the batch candle exactly;
    # oracle shared verbatim with events_ohlc (the stream_latest pattern,
    # state = one candle per live (event_type, day) key).
    def stream_ohlc(s, d):
        ev = _t(s, d, "events").select("event_type", "ts", "event_id", "value")
        halves = [
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 != 0),
        ]
        drained = _drain_stream(
            s,
            d,
            "sohlc",
            [halves],
            lambda st: st.groupBy("event_type", F.to_date("ts").alias("day")).agg(
                F.min(F.struct("ts", "event_id", "value")).alias("o"),
                F.max(F.struct("ts", "event_id", "value")).alias("c"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.count(F.lit(1)).cast("long").alias("n"),
            ),
            "update",
        )
        folded = (
            drained.groupBy("event_type", "day")
            .agg(
                F.min("o").alias("o"),
                F.max("c").alias("c"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max("n").alias("n"),
            )
        )
        return folded.select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            (F.round(F.col("o.value"), 4) + F.lit(0.0)).alias("open"),
            (F.round("high", 4) + F.lit(0.0)).alias("high"),
            (F.round("low", 4) + F.lit(0.0)).alias("low"),
            (F.round(F.col("c.value"), 4) + F.lit(0.0)).alias("close"),
            F.col("n").cast("long").alias("n"),
        )

    q["stream_ohlc"] = stream_ohlc

    # TPC-H Q4 shape (order priority checking): orders in a one-year window
    # with at least one lineitem shipped AFTER the order date (the schema
    # here has no commitdate/receiptdate, so "late shipment" is the
    # EXISTS predicate), counted per priority. Plans as a LEFT SEMI join —
    # the lineitem side never materializes matched rows, and the date
    # filter is pushed to the orders scan. Pure BIGINT.
    def tpch_order_priority(s, d):
        o_ = _t(s, d, "orders")
        li = _t(s, d, "lineitem")
        return (
            o_.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            )
            .join(
                li,
                (o_.o_orderkey == li.l_orderkey)
                & (li.l_shipdate > o_.o_orderdate),
                "left_semi",
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        )

    q["tpch_order_priority"] = tpch_order_priority

    # TPC-H Q14 shape (promotion effect): share of one ship-month's revenue
    # from PROMO-type parts. Conditional aggregation over a broadcast part
    # join; both sums exact BIGINT cents, the percentage is ONE closed-form
    # double from the two BIGINTs. The month filter is pushed to the
    # lineitem scan.
    def tpch_promo(s, d):
        li = _t(s, d, "lineitem")
        p = _t(s, d, "part")
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        return (
            li.where(
                (F.col("l_shipdate") >= "1997-03-01")
                & (F.col("l_shipdate") < "1997-04-01")
            )
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .agg(
                F.sum(
                    F.when(F.col("p_type") == "PROMO", rev_c).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("promo_rev_c"),
                F.sum(rev_c).cast("long").alias("total_rev_c"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
            .select(
                "promo_rev_c",
                "total_rev_c",
                "n_items",
                (
                    F.round(
                        F.lit(100.0) * F.col("promo_rev_c") / F.col("total_rev_c"), 4
                    )
                    + F.lit(0.0)
                ).alias("promo_pct"),
            )
        )

    q["tpch_promo"] = tpch_promo

    # TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three disjunctive
    # (brand, size-band, quantity-band) branches — the classic test that a
    # disjunctive join predicate still broadcasts the dim and pushes the
    # common conjuncts; grouped per brand so the result pins each branch.
    # Revenue exact BIGINT cents.
    def tpch_complex_pred(s, d):
        li = _t(s, d, "lineitem")
        p = _t(s, d, "part")
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        branch = (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        ) | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        ) | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
        return (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .where(branch)
            .groupBy("p_brand")
            .agg(
                F.sum(rev_c).cast("long").alias("revenue_c"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
        )

    q["tpch_complex_pred"] = tpch_complex_pred

    # Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    # local fingerprinting scheme): k=5-token gram hashes, keep the MIN
    # hash of every w=8-gram window (guarantee threshold t = w + k - 1);
    # ties break to the LEFTMOST position because the encoded value is
    # hash*2^20 + pos and the min is over the encoding. Everything up to
    # the final explode is pure array expressions inside one projection —
    # zero shuffles, no per-doc windows — so it scales embarrassingly:
    # each task fingerprints its own documents. Unlike with_rolling_hash
    # (one whole-doc Rabin-Karp value) this yields the position-anchored
    # fingerprint SET plagiarism/near-dup overlap detection needs.
    def text_winnowing(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            ensure_parallelism,
        )

        docs = _t(s, d, "documents")
        # r6: the fingerprint windows are pure per-row compute on a scan
        # that may arrive as one split — spread it (guide §2.5)
        base = ensure_parallelism(docs.select("doc_id", "text")).select(
            "doc_id", F.split(F.lower(F.trim("text")), " ").alias("ts")
        ).where(F.size("ts") >= 5)
        enc = base.select(
            "doc_id",
            F.expr(
                "transform(sequence(0, size(ts) - 5), i -> "
                "cast(conv(substring(md5(array_join(slice(ts, i + 1, 5), ' ')),"
                " 1, 10), 16, 10) as bigint) * 1048576 + i)"
            ).alias("g"),
        )
        sel = enc.select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, greatest(size(g) - 8, 0)),"
                    " j -> array_min(slice(g, j + 1, 8))))"
                )
            ).alias("e"),
        )
        return sel.select(
            "doc_id",
            (F.col("e") % F.lit(1048576)).cast("long").alias("pos"),
            F.expr("e div 1048576").cast("long").alias("fp"),
        )

    q["text_winnowing"] = text_winnowing

    # CUSUM changepoint detection (Page 1954) per event type over the daily
    # mean in cents — entirely in BIGINTs: the deviation of day d is
    # (day_sum * N - total_sum * day_n), i.e. the mean deviation scaled by
    # N*day_n, so no division ever happens and the cumulative statistic is
    # exact. The changepoint is the day maximizing |CUSUM| (earliest day on
    # ties). The per-type window runs over ~30 daily rows — bounded by the
    # calendar, not the corpus. Headroom: |dev| < day_sum_c * N; at 1e9
    # rows of 1e4-cent values that is ~1e17 per day — production beyond
    # that scales the quantization down a decade.
    def events_cusum(s, d):
        ev = _t(s, d, "events")
        vc = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
        daily = ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(vc).cast("long").alias("s1"),
        )
        w_all = Window.partitionBy("event_type")
        w_cum = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        scored = (
            daily.withColumn("nn", F.sum("n").over(w_all))
            .withColumn("ss", F.sum("s1").over(w_all))
            .withColumn(
                "cusum",
                F.sum(
                    F.col("s1") * F.col("nn") - F.col("ss") * F.col("n")
                ).over(w_cum),
            )
        )
        w_pick = Window.partitionBy("event_type").orderBy(
            F.desc(F.abs(F.col("cusum"))), F.asc("day")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w_pick))
            .where(F.col("rk") == 1)
            .select(
                "event_type",
                F.col("day").cast("string").alias("cp_day"),
                F.col("cusum").cast("long").alias("cusum"),
                F.col("nn").cast("long").alias("n_total"),
            )
        )

    q["events_cusum"] = events_cusum

    # Pearson chi-squared independence test of event_type x day-of-week:
    # observed counts and both margins are exact BIGINTs, each cell's term
    # is the ONE closed-form double (O*N - rt*ct)^2 / (N*rt*ct) — the
    # numerator squared while still a BIGINT — quantized to BIGINT
    # micro-units BEFORE the sum (the text_bm25_topk convention: double
    # sums are addition-order-sensitive, BIGINT sums are not). Day-of-week
    # from pure epoch arithmetic — dayofweek() conventions differ across
    # engines, (epoch div 86400) % 7 does not. The contingency frame is
    # |types| x 7 rows, so the unpartitioned windows are bounded by group
    # cardinality. BIGINT headroom: O*N < 2^62 holds to ~2e9 events.
    def events_chisq(s, d):
        ev = _t(s, d, "events")
        cells = ev.groupBy(
            "event_type",
            (
                F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long")
                % F.lit(7)
            ).alias("dow"),
        ).agg(F.count(F.lit(1)).cast("long").alias("o"))
        w_r = Window.partitionBy("event_type")
        w_c = Window.partitionBy("dow")
        w_n = Window.partitionBy()
        terms = (
            cells.withColumn("rt", F.sum("o").over(w_r))
            .withColumn("ct", F.sum("o").over(w_c))
            .withColumn("nn", F.sum("o").over(w_n))
            .withColumn(
                "dlt",
                F.col("o") * F.col("nn") - F.col("rt") * F.col("ct"),
            )
            .withColumn(
                "term_u",
                F.floor(
                    (F.col("dlt") * F.col("dlt"))
                    / (F.col("nn") * F.col("rt") * F.col("ct"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ).cast("long"),
            )
        )
        return terms.agg(
            F.round(F.sum("term_u") / F.lit(1000000.0), 4).alias("chi2"),
            (
                (F.count_distinct("event_type") - F.lit(1))
                * (F.count_distinct("dow") - F.lit(1))
            )
            .cast("long")
            .alias("dof"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.max("nn").cast("long").alias("n_events"),
        )

    q["events_chisq"] = events_chisq

    # Market-basket association rules (Agrawal/Srikant A-Priori pair pass):
    # baskets are (user, day), items the distinct event types seen in the
    # basket. Pair support via a self-join ON the basket key — per-basket
    # fan-out is C(items,2), bounded by the item vocabulary, never by
    # corpus size — then confidence both ways and lift, each ONE
    # closed-form double from exact BIGINT supports. Item supports and the
    # basket total broadcast back onto the pair frame.
    def events_assoc_rules(s, d):
        ev = _t(s, d, "events")
        bi = (
            ev.select(
                "user_id",
                F.to_date("ts").alias("day"),
                "event_type",
            )
            .distinct()
            # both the pair self-join sides, the item supports and the
            # basket count read this frame — pin it or the events scan +
            # distinct runs four times (CLAUDE.md late-r2: no cross-branch
            # exchange reuse)
            .localCheckpoint()
        )
        nb = bi.select("user_id", "day").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_baskets")
        )
        supp = bi.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("supp")
        )
        a, b = bi.alias("a"), bi.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.day") == F.col("b.day"))
                & (F.col("a.event_type") < F.col("b.event_type")),
            )
            .groupBy(
                F.col("a.event_type").alias("item_a"),
                F.col("b.event_type").alias("item_b"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("supp_ab"))
        )
        sa = supp.select(
            F.col("event_type").alias("item_a"), F.col("supp").alias("supp_a")
        )
        sb = supp.select(
            F.col("event_type").alias("item_b"), F.col("supp").alias("supp_b")
        )
        return (
            pairs.join(F.broadcast(sa), "item_a")
            .join(F.broadcast(sb), "item_b")
            .crossJoin(F.broadcast(nb))
            .select(
                "item_a",
                "item_b",
                "supp_ab",
                "supp_a",
                "supp_b",
                "n_baskets",
                (F.round(F.col("supp_ab") / F.col("supp_a"), 4) + F.lit(0.0)).alias(
                    "conf_ab"
                ),
                (F.round(F.col("supp_ab") / F.col("supp_b"), 4) + F.lit(0.0)).alias(
                    "conf_ba"
                ),
                (
                    F.round(
                        (F.col("supp_ab") * F.col("n_baskets"))
                        / (F.col("supp_a") * F.col("supp_b")),
                        4,
                    )
                    + F.lit(0.0)
                ).alias("lift"),
            )
        )

    q["events_assoc_rules"] = events_assoc_rules

    # TPC-H Q13 shape (customer order-count distribution): the FILTERED
    # LEFT OUTER join — the non-urgent filter rides the ON clause so
    # zero-qualifying customers survive with count 0 — then the
    # double aggregation (per-customer count, then the count histogram).
    # The preserved side is the dimension, so this is the one TPC-H shape
    # that genuinely must shuffle both sides (a broadcast would drop the
    # preserved rows); the histogram reduce is |distinct counts| rows.
    def tpch_cust_dist(s, d):
        c = _t(s, d, "customer")
        o_ = _t(s, d, "orders").where(F.col("o_orderpriority") != "1-URGENT")
        per = (
            c.join(o_, c.c_custkey == o_.o_custkey, "left_outer")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").cast("long").alias("c_count"))
        )
        return per.groupBy("c_count").agg(
            F.count(F.lit(1)).cast("long").alias("custdist")
        )

    q["tpch_cust_dist"] = tpch_cust_dist

    # TPC-H Q17 shape (small-quantity revenue): the correlated
    # avg-subquery — revenue of one brand's lineitems below 20% of their
    # part's average quantity — decorrelated as aggregate-then-rejoin on
    # the SAME frame. The brand slice is pinned once (both the per-part
    # aggregate and the filtered rejoin read it); the 20%-of-avg predicate
    # is the pure-integer cross-multiplication qty*n*5 < sum_q (quantities
    # are integral), so no float division ever happens.
    def tpch_small_qty(s, d):
        li = _t(s, d, "lineitem")
        p = _t(s, d, "part").where(F.col("p_brand") == "Brand#2").select(
            "p_partkey"
        )
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        lb = (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select(
                "l_partkey",
                F.col("l_quantity").cast("long").alias("qty"),
                rev_c.alias("rev_c"),
            )
            .localCheckpoint()
        )
        pa = lb.groupBy("l_partkey").agg(
            F.sum("qty").cast("long").alias("sum_q"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        return (
            lb.join(pa, "l_partkey")
            .where(F.col("qty") * F.col("n") * F.lit(5) < F.col("sum_q"))
            .agg(
                F.sum("rev_c").cast("long").alias("rev_c"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
        )

    q["tpch_small_qty"] = tpch_small_qty

    # TPC-H Q18 shape (large-volume orders): HAVING-threshold aggregate on
    # the fact, then the qualifying keys join back to orders with the
    # customer dim broadcast. The quantity sum and the threshold are pure
    # BIGINTs; the order date round-trips as an explicit yyyy-MM-dd string
    # (TIMESTAMP_NTZ value-hash parity without timezone semantics).
    def tpch_big_orders(s, d):
        li = _t(s, d, "lineitem")
        o_ = _t(s, d, "orders")
        c = _t(s, d, "customer")
        big = (
            li.groupBy("l_orderkey")
            .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"))
            .where(F.col("sum_qty") > 300)
        )
        return (
            o_.join(big, o_.o_orderkey == big.l_orderkey)
            .join(F.broadcast(c), o_.o_custkey == c.c_custkey)
            .select(
                "c_name",
                "o_custkey",
                "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                .alias("total_c"),
                "sum_qty",
            )
        )

    q["tpch_big_orders"] = tpch_big_orders

    # TPC-H Q7 shape (nation-to-nation volume): the two-dimension star —
    # lineitem keeps ONE shuffle join (orders, fact-to-fact at scale);
    # supplier, customer and both nation aliases broadcast. Two years of
    # shipping revenue per (supp_nation, cust_nation, year), exact BIGINT
    # cents.
    def tpch_nation_volume(s, d):
        li = _t(s, d, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        o_ = _t(s, d, "orders")
        c = _t(s, d, "customer")
        sup = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        n1 = n.select(
            F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
        )
        n2 = n.select(
            F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
        )
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        return (
            li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(o_, li.l_orderkey == o_.o_orderkey)
            .join(F.broadcast(c), o_.o_custkey == c.c_custkey)
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("snk"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cnk"))
            .groupBy(
                "supp_nation",
                "cust_nation",
                F.year("l_shipdate").cast("long").alias("l_year"),
            )
            .agg(
                F.sum(rev_c).cast("long").alias("revenue_c"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
        )

    q["tpch_nation_volume"] = tpch_nation_volume

    # TPC-H Q22 shape (idle rich customers): the scalar-subquery +
    # anti-join combination — customers whose balance beats the
    # positive-balance average (pure-integer cross-multiplication
    # bal_c * n_pos > sum_c, no float average) AND with no order in the
    # trailing year (LEFT ANTI against the date-filtered fact). The
    # customer projection is pinned once: the scalar aggregate and the
    # main filter both read it.
    def tpch_idle_customers(s, d):
        c = _t(s, d, "customer")
        o_ = _t(s, d, "orders").where(F.col("o_orderdate") >= "2000-08-01")
        cc = c.select(
            "c_custkey",
            "c_nationkey",
            F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("bal_c"),
        ).localCheckpoint()
        pos = cc.where(F.col("bal_c") > 0).agg(
            F.sum("bal_c").cast("long").alias("sum_c"),
            F.count(F.lit(1)).cast("long").alias("n_pos"),
        )
        rich = cc.crossJoin(F.broadcast(pos)).where(
            F.col("bal_c") * F.col("n_pos") > F.col("sum_c")
        )
        idle = rich.join(o_, rich.c_custkey == o_.o_custkey, "left_anti")
        return idle.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            F.sum("bal_c").cast("long").alias("bal_sum_c"),
        )

    q["tpch_idle_customers"] = tpch_idle_customers

    # TPC-H Q15 shape (top supplier): one quarter's revenue per supplier,
    # keep every supplier tied at the global max — the global-max scalar
    # broadcast back onto the aggregate (no single-partition window). The
    # per-supplier aggregate is pinned (|suppliers| rows) because the max
    # probe and the equality filter both read it; revenue exact BIGINT
    # cents so the tie semantics are exact.
    def tpch_top_supplier(s, d):
        li = _t(s, d, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        sup = _t(s, d, "supplier")
        rev_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        rev = (
            li.groupBy("l_suppkey")
            .agg(F.sum(rev_c).cast("long").alias("total_rev_c"))
            .localCheckpoint()
        )
        mx = rev.agg(F.max("total_rev_c").alias("mx"))
        return (
            rev.crossJoin(F.broadcast(mx))
            .where(F.col("total_rev_c") == F.col("mx"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(
                F.col("l_suppkey").alias("suppkey"), "s_name", "total_rev_c"
            )
        )

    q["tpch_top_supplier"] = tpch_top_supplier

    # int8 scalar quantization of the embedding corpus (the SQ8 storage
    # path every 100-TB vector index runs before IVF/HNSW): per-DIMENSION
    # global [min, max] (comparisons only — bit-exact on float→double
    # casts), each value quantized to a 0..255 code by the ONE closed-form
    # double floor((v-mn)/(mx-mn)*255+0.5), reconstruction error
    # (v - dequant)² quantized to BIGINT pico-units BEFORE the per-vector
    # sum (order-free). The exploded (vec_id, dim, v) frame is pinned once
    # — the 64-row stats frame and the quantize pass both read it; stats
    # broadcast back. Constant dims (mx == mn) code to 0 with zero error.
    def sim_sq8(s, d):
        emb = _dbl_emb(_t(s, d, "embeddings"))
        ex = emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "v")
        ).localCheckpoint()
        stats = ex.groupBy("dim").agg(
            F.min("v").alias("mn"), F.max("v").alias("mx")
        )
        qz = (
            ex.join(F.broadcast(stats), "dim")
            .withColumn(
                "code",
                F.when(
                    F.col("mx") > F.col("mn"),
                    F.floor(
                        (F.col("v") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * F.lit(255.0)
                        + F.lit(0.5)
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long"),
            )
            .withColumn(
                "vr",
                F.col("mn")
                + F.col("code") * (F.col("mx") - F.col("mn")) / F.lit(255.0),
            )
            .withColumn(
                "err_u",
                F.floor(
                    (F.col("v") - F.col("vr"))
                    * (F.col("v") - F.col("vr"))
                    * F.lit(1000000000000.0)
                    + F.lit(0.5)
                ).cast("long"),
            )
        )
        return qz.groupBy("vec_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum("code").cast("long").alias("code_sum"),
            F.sum("err_u").cast("long").alias("sse_u"),
        )

    q["sim_sq8"] = sim_sq8

    # RFM customer segmentation (recency / frequency / monetary quintiles)
    # — the classic audience-building aggregate, with every quintile
    # assigned from skew.global_rank_bucketed (three bucketed two-phase
    # global ranks — the only single-partition windows are over the
    # bucket-totals frames, never over users) instead of a global-sort
    # NTILE. Score = 5 - (rank-1)*5 div n (pure integer — 5 is best), so
    # both engines share the exact quintile boundaries; the per-user frame
    # is pinned once for its four consumers.
    def events_rfm(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            global_rank_bucketed,
        )

        ev = _t(s, d, "events")
        u = (
            ev.groupBy("user_id")
            .agg(
                F.datediff(
                    F.lit("2024-02-01").cast("date"), F.max(F.to_date("ts"))
                )
                .cast("long")
                .alias("recency_d"),
                F.count(F.lit(1)).cast("long").alias("freq"),
                F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("monetary_c"),
            )
            .localCheckpoint()
        )
        n = u.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        r = global_rank_bucketed(
            u, -F.col("recency_d"), [F.asc("recency_d"), F.asc("user_id")], "r_rank"
        )
        r = global_rank_bucketed(
            r,
            F.floor(F.col("freq") / 16),
            [F.desc("freq"), F.asc("user_id")],
            "f_rank",
        )
        r = global_rank_bucketed(
            r,
            F.floor(F.col("monetary_c") / 65536),
            [F.desc("monetary_c"), F.asc("user_id")],
            "m_rank",
        )
        sc = r.crossJoin(F.broadcast(n)).select(
            "user_id",
            "recency_d",
            "freq",
            "monetary_c",
            F.expr("5 - ((r_rank - 1) * 5) div n_users").cast("long").alias("r_score"),
            F.expr("5 - ((f_rank - 1) * 5) div n_users").cast("long").alias("f_score"),
            F.expr("5 - ((m_rank - 1) * 5) div n_users").cast("long").alias("m_score"),
        )
        return sc.withColumn(
            "segment",
            F.concat_ws(
                "",
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ),
        )

    q["events_rfm"] = events_rfm

    # Reciprocal-rank fusion of BM25 + query-term-overlap retrieval over
    # the deterministic mid-frequency query band — the hybrid-search merge
    # (Cormack 2009). RRF score = Σ 1e9 div (60 + rank) over the systems
    # that retrieved the doc: integer-exact fused ordering, no float
    # summation; the (doc, term) tf frame is pinned once for both systems
    # (one corpus scan total).
    def text_rrf_fusion(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            rrf_fusion,
        )

        return rrf_fusion(_t(s, d, "documents"), k=20)

    q["text_rrf_fusion"] = text_rrf_fusion

    # Nelson–Aalen cumulative hazard (survival analysis over user churn):
    # lifetime = days between a user's first and last event; death is
    # OBSERVED iff the last event precedes the corpus horizon by > 3 days
    # (else right-censored — the user may still be alive). Per cohort
    # (user_id % 4): at-risk n(t) = suffix sum of arrivals, hazard
    # increment d(t)/n(t) as the EXACT integer (d*1e6) div n — the
    # estimator that needs no logs and no products, so the whole curve is
    # BIGINT-exact (Kaplan–Meier's Π(1 - d/n) would force transcendental
    # parity; Nelson–Aalen is the additive twin). Per-cohort windows are
    # bounded by distinct lifetimes (the calendar), never the corpus.
    def events_survival(s, d):
        ev = _t(s, d, "events")
        u = (
            ev.groupBy("user_id")
            .agg(
                F.min(F.to_date("ts")).alias("d0"),
                F.max(F.to_date("ts")).alias("d1"),
            )
            # the horizon scalar and the lifetime frame both read the
            # per-user aggregate — pin it or events scans twice
            .localCheckpoint()
        )
        mx = u.agg(F.max("d1").alias("dmax"))
        lif = u.crossJoin(F.broadcast(mx)).select(
            (F.col("user_id") % 4).cast("long").alias("cohort"),
            F.datediff("d1", "d0").cast("long").alias("t"),
            F.when(F.datediff("dmax", "d1") > 3, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("death"),
        )
        at_t = lif.groupBy("cohort", "t").agg(
            F.count(F.lit(1)).cast("long").alias("n_t"),
            F.sum("death").cast("long").alias("d_t"),
        )
        w_risk = (
            Window.partitionBy("cohort")
            .orderBy(F.desc("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_cum = (
            Window.partitionBy("cohort")
            .orderBy(F.asc("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            at_t.withColumn("n_risk", F.sum("n_t").over(w_risk).cast("long"))
            .withColumn("term_u", F.expr("(d_t * 1000000) div n_risk").cast("long"))
            .withColumn("haz_u", F.sum("term_u").over(w_cum).cast("long"))
            .select("cohort", "t", "n_risk", "d_t", "haz_u")
        )

    q["events_survival"] = events_survival

    # Neyman-optimal stratified sampling (allocation n_h ∝ N_h·S_h): the
    # curation sampler that puts budget where the variance is. Per-stratum
    # stddev from EXACT BIGINT cent-moments; S_h = sqrt(varnum/(n(n-1)))
    # stays bit-exact cross-engine because +,-,*,/ and sqrt are all
    # IEEE-correctly-rounded (only transcendentals drift) — then the
    # weight is quantized to BIGINT micro-units and the seat assignment is
    # pure-integer largest-remainder (base = (budget·w) div W, bonus seats
    # to the largest (budget·w) mod W). The draw itself is the
    # deterministic md5 bottom-n_h per stratum. BIGINT headroom: n·Σx²
    # at ~10× sf0.1 volumes; beyond that rescale cents to dollars.
    def sample_neyman(s, d, budget=500):
        ev = _t(s, d, "events")
        x_c = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
        st = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(x_c).cast("long").alias("s1"),
            F.sum(x_c * x_c).cast("long").alias("s2"),
        )
        w_u = F.when(
            F.col("n") > 1,
            F.floor(
                F.col("n")
                * F.sqrt(
                    (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                    / (F.col("n") * (F.col("n") - F.lit(1)))
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ),
        ).otherwise(F.lit(0)).cast("long")
        # the |strata|-row weight frame feeds both the total and the seat
        # table — pin it or the stats pass over events runs twice
        ws = st.select("event_type", "n", w_u.alias("w_u")).localCheckpoint()
        tot = ws.agg(F.sum("w_u").cast("long").alias("w_tot"))
        seats = (
            ws.crossJoin(F.broadcast(tot))
            .withColumn("base", F.expr(f"({budget} * w_u) div w_tot").cast("long"))
            .withColumn("rem", F.expr(f"({budget} * w_u) % w_tot").cast("long"))
        )
        bw = Window.orderBy(F.desc("rem"), F.asc("event_type"))
        sw = Window.partitionBy(F.lit(1))
        alloc = (
            seats.withColumn("brk", F.row_number().over(bw).cast("long"))
            .withColumn("base_tot", F.sum("base").over(sw).cast("long"))
            .withColumn(
                "alloc",
                (
                    F.col("base")
                    + F.when(
                        F.col("brk") <= F.lit(budget) - F.col("base_tot"), F.lit(1)
                    ).otherwise(F.lit(0))
                ).cast("long"),
            )
            .select("event_type", "n", "w_u", "alloc")
        )
        dw = Window.partitionBy("event_type").orderBy(
            F.md5(F.col("event_id").cast("string")), F.asc("event_id")
        )
        return (
            ev.select("event_type", "event_id")
            .withColumn("rk", F.row_number().over(dw).cast("long"))
            .join(F.broadcast(alloc), "event_type")
            .where(F.col("rk") <= F.col("alloc"))
            .select("event_type", "event_id", "rk", "alloc", "n", "w_u")
        )

    q["sample_neyman"] = sample_neyman

    # Gini coefficient of per-user spend (the inequality measure behind
    # every skew decision: cohort value concentration, shard imbalance,
    # head-user dominance). G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) over the
    # spend-ascending rank i — the rank from skew.global_rank_bucketed
    # (no global sort), every moment an exact BIGINT, the coefficient ONE
    # integer division into micro-units (numerator ≥ 0 by the rearrangement
    # inequality, so floor-div parity is trivial). BIGINT headroom:
    # Σ(i·xᵢ)·1e6 at ~10× sf0.1 users; rescale micro→milli beyond.
    def events_gini(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            global_rank_bucketed,
        )

        ev = _t(s, d, "events")
        u = (
            ev.groupBy("user_id")
            .agg(
                F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("spend_c")
            )
            # the two-phase rank reads the per-user frame twice
            .localCheckpoint()
        )
        r = global_rank_bucketed(
            u,
            -F.floor(F.col("spend_c") / 65536),
            [F.asc("spend_c"), F.asc("user_id")],
            "rnk",
        )
        return (
            r.agg(
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.sum("spend_c").cast("long").alias("total_c"),
                F.sum(F.col("rnk") * F.col("spend_c")).cast("long").alias("s1"),
            )
            .select(
                "n_users",
                "total_c",
                F.expr(
                    "((2 * s1 - (n_users + 1) * total_c) * 1000000)"
                    " div (n_users * total_c)"
                )
                .cast("long")
                .alias("gini_u"),
            )
        )

    q["events_gini"] = events_gini

    # KWIC mention contexts (the disambiguation-context builder behind C2:
    # entity linking reads the ±w-token window around every gazetteer hit,
    # not just the term). The whole window extraction is pure array
    # expressions inside ONE per-document projection — positions, term and
    # both context strings are built BEFORE the explode (the winnowing
    # pattern), so no row ever carries the token array past its own task
    # and the only join is the ≤24-row label dim broadcast. Positions are
    # 0-based on both engines (Spark [] indexing is 0-based, DuckDB
    # 1-based — the oracle shifts).
    def kg_mention_contexts(s, d, w=3):
        from medical_doc_knowledge_graph_system_spark.functions import webkg

        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            ensure_parallelism,
        )

        docs = _t(s, d, "documents")
        gaz_arr = (
            "array(" + ",".join(f"'{t}'" for t in sorted(webkg.WEB_GAZETTEER)) + ")"
        )
        # r6: KWIC window construction is per-row compute on a possibly
        # single-split scan — spread it (guide §2.5)
        base = ensure_parallelism(docs.select("doc_id", "text")).select(
            "doc_id", F.split(F.lower(F.trim("text")), " ").alias("ts")
        )
        hits = base.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""transform(
  filter(transform(sequence(0, size(ts) - 1), i -> i),
         i -> array_contains({gaz_arr}, ts[i])),
  p -> struct(
    p as pos,
    ts[p] as term,
    array_join(slice(ts, greatest(p - {w}, 0) + 1,
                     p - greatest(p - {w}, 0)), ' ') as left_ctx,
    array_join(slice(ts, p + 2, {w}), ' ') as right_ctx))"""
                )
            ).alias("h"),
        ).select(
            "doc_id",
            F.col("h.pos").cast("long").alias("pos"),
            F.col("h.term").alias("term"),
            F.col("h.left_ctx").alias("left_ctx"),
            F.col("h.right_ctx").alias("right_ctx"),
        )
        gaz = s.createDataFrame(
            sorted(webkg.WEB_GAZETTEER.items()), schema="term string, label string"
        )
        return hits.join(F.broadcast(gaz), "term").select(
            "doc_id", "pos", "term", "label", "left_ctx", "right_ctx"
        )

    q["kg_mention_contexts"] = kg_mention_contexts

    # Watermarked stream-stream LEFT OUTER join (view -> purchase
    # attribution with explicit no-conversion rows): the semantics the
    # inner stream_join_attrib can't show — an unmatched view emits its
    # NULL-purchase row exactly when the GLOBAL watermark (min over both
    # sources) passes the view's join-window upper bound, so each side is
    # staged as (data file, far-future sentinel file) with pinned file
    # order; the sentinel advances both watermarks past every real window
    # and availableNow's final no-data batch flushes the outer state.
    # Unmatched purchases report -1 (coalesced — null-free hash parity);
    # a view matching k purchases emits k rows, exactly the batch LEFT
    # JOIN multiplicity the oracle runs.
    def stream_outer_join(s, d):
        ev = _t(s, d, "events")
        view_frames = [
            ev.where(F.col("event_type") == "view").select(
                "user_id", F.col("ts").alias("view_ts")
            ),
            s.createDataFrame(
                [(-1, datetime.datetime(2150, 1, 1))],
                "user_id long, view_ts timestamp_ntz",
            ),
        ]
        purch_frames = [
            ev.where(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_user"), F.col("ts").alias("purch_ts")
            ),
            s.createDataFrame(
                [(-1, datetime.datetime(2150, 6, 1))],
                "p_user long, purch_ts timestamp_ntz",
            ),
        ]

        def build(view_stream, purch_stream):
            views = view_stream.select(
                "user_id", F.col("view_ts").cast("timestamp").alias("view_ts")
            ).withWatermark("view_ts", "1 hour")
            purch = purch_stream.select(
                "p_user", F.col("purch_ts").cast("timestamp").alias("purch_ts")
            ).withWatermark("purch_ts", "1 hour")
            return views.join(
                purch,
                (F.col("user_id") == F.col("p_user"))
                & (F.col("purch_ts") >= F.col("view_ts"))
                & (F.col("purch_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
                "left_outer",
            ).select(
                "user_id",
                F.unix_micros("view_ts").alias("view_us"),
                F.coalesce(F.unix_micros("purch_ts"), F.lit(-1))
                .cast("long")
                .alias("purch_us"),
            )

        drained = _drain_stream(
            s, d, "soj", [view_frames, purch_frames], build, "append"
        )
        return drained.where(F.col("user_id") >= 0)

    q["stream_outer_join"] = stream_outer_join

    # Two-stage ANN serving over the SQ8 codes (the coarse-then-rerank
    # shape every quantized vector index runs): stage 1 scores every
    # candidate by the PURE-BIGINT code dot product (asymmetric distance
    # on int8 codes — exact integers, no float order sensitivity) and
    # keeps the top-m=50 per query via the two-phase skew.topk_per_group
    # prune; stage 2 re-reads RAW vectors for the 5·m survivors only and
    # reranks by exact cosine (the sim_topk float convention: left-fold
    # dot == DuckDB list_dot_product, round 4dp, vec_id tiebreak). The
    # exploded frame and the assembled code table are each pinned once;
    # raw embeddings are re-scanned for the rerank BY DESIGN (codes are
    # the stored index at scale, vectors are fetched per survivor).
    def sim_sq8_rerank(s, d, m=50, k=5):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            cosine_col,
        )
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            topk_per_group,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        ex = emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "v")
        ).localCheckpoint()
        stats = ex.groupBy("dim").agg(
            F.min("v").alias("mn"), F.max("v").alias("mx")
        )
        cf = ex.join(F.broadcast(stats), "dim").select(
            "vec_id",
            "dim",
            F.when(
                F.col("mx") > F.col("mn"),
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(255.0)
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("code"),
        )
        codes = (
            cf.groupBy("vec_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, code))),"
                    " s -> s.code)"
                ).alias("codes")
            )
            # the query slice and the candidate side both read the code
            # table
            .localCheckpoint()
        )
        qc = codes.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes")
        )
        coarse = (
            codes.crossJoin(F.broadcast(qc))
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                # CENTERED code dot: Σ(c−128)(c'−128) — the raw Σcc' is
                # swamped by the 128-offset constant and first-order sums
                # (measured recall@5 0.2 raw vs 1.0 centered at sf0.001)
                F.expr(
                    "aggregate(zip_with(codes, qcodes,"
                    " (x, y) -> (x - 128) * (y - 128)),"
                    " 0L, (acc, v) -> acc + v)"
                )
                .cast("long")
                .alias("coarse_dot"),
            )
        )
        surv = topk_per_group(
            coarse,
            ["query_id"],
            [F.desc("coarse_dot"), F.asc("vec_id")],
            m,
            rank_col="crk",
        ).drop("crk")
        emb2 = _dbl_emb(_t(s, d, "embeddings"))
        qemb = emb2.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        scored = (
            surv.join(emb2, "vec_id")
            .join(F.broadcast(qemb), "query_id")
            .select(
                "query_id",
                "vec_id",
                "coarse_dot",
                F.round(
                    cosine_col(F.col("q_embedding"), F.col("embedding")), 4
                ).alias("score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
        )

    q["sim_sq8_rerank"] = sim_sq8_rerank

    # Weekly-cohort cumulative LTV (the growth-analytics companion of
    # events_retention): cohort = absolute epoch-week of a user's FIRST
    # event, age = weeks since; per (cohort, age) cell the exact BIGINT
    # cent revenue, its running cumulative sum (frame bounded by the
    # calendar), and LTV-per-user in micro-cents via one integer division.
    # Week indices from pure epoch arithmetic ((epoch div 86400) div 7 —
    # the events_chisq convention: no engine-specific week-of-year rules).
    # The per-user first-week frame is pinned once: the cohort sizes and
    # the event mapping both read it; it broadcasts onto the event stream.
    def events_cohort_ltv(s, d):
        ev = _t(s, d, "events")
        uf = (
            ev.groupBy("user_id")
            .agg(F.min(F.expr("floor(unix_timestamp(ts) / 86400) div 7")).cast("long").alias("cohort_w"))
            .localCheckpoint()
        )
        sizes = uf.groupBy("cohort_w").agg(
            F.count(F.lit(1)).cast("long").alias("n_users")
        )
        cells = (
            ev.select(
                "user_id",
                F.expr("floor(unix_timestamp(ts) / 86400) div 7")
                .cast("long")
                .alias("w"),
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .join(F.broadcast(uf), "user_id")
            .groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("age_w"))
            .agg(
                F.sum("cents").cast("long").alias("rev_c"),
                F.count(F.lit(1)).cast("long").alias("n_events"),
            )
        )
        wc = (
            Window.partitionBy("cohort_w")
            .orderBy("age_w")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            cells.join(F.broadcast(sizes), "cohort_w")
            .withColumn("cum_rev_c", F.sum("rev_c").over(wc).cast("long"))
            .withColumn(
                "ltv_u",
                F.expr("(cum_rev_c * 1000000) div n_users").cast("long"),
            )
            .select(
                "cohort_w", "age_w", "n_users", "n_events", "rev_c",
                "cum_rev_c", "ltv_u",
            )
        )

    q["events_cohort_ltv"] = events_cohort_ltv

    # Top conversion paths: the ordered event-type sequence of each
    # (user, day) basket — assembled per basket with the
    # array_sort(collect_list(struct)) pattern under the (ts, event_id)
    # total order, never a window sort — counted, and the top 20 paths
    # selected via TakeOrderedAndProject under the deterministic
    # (count desc, path asc) order. Basket state is bounded by basket
    # size, the path vocabulary by |types|^basket_size.
    def events_top_paths(s, d, k=20):
        ev = _t(s, d, "events")
        paths = (
            ev.groupBy("user_id", F.to_date("ts").alias("day"))
            .agg(
                F.expr(
                    "array_join(transform(array_sort("
                    "collect_list(struct(ts, event_id, event_type))),"
                    " s -> s.event_type), '>')"
                ).alias("path")
            )
            .groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        )
        rw = Window.orderBy(F.desc("n_baskets"), F.asc("path"))
        return (
            paths.orderBy(F.desc("n_baskets"), F.asc("path"))
            .limit(k)
            .withColumn("rk", F.row_number().over(rw).cast("long"))
        )

    q["events_top_paths"] = events_top_paths

    # TPC-H Q6 shape (forecast revenue change): the pure scan-side query —
    # all three predicates (date range, discount band, quantity cap) push
    # to the parquet scan, the aggregate is one map-side-partial sum, no
    # join, no shuffle beyond the final 1-row combine. Revenue =
    # extendedprice * discount quantized per-row to BIGINT 1e-4 units
    # (both factors have 2dp, so the product is exact at 4dp) BEFORE the
    # sum — the BIGINT sum is addition-order-free.
    def tpch_forecast_revenue(s, d):
        li = _t(s, d, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        rev_u = F.floor(
            F.col("l_extendedprice") * F.col("l_discount") * F.lit(10000.0)
            + F.lit(0.5)
        ).cast("long")
        return li.agg(
            F.sum(rev_u).cast("long").alias("revenue_u"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )

    q["tpch_forecast_revenue"] = tpch_forecast_revenue

    # TPC-H Q8 shape (national market share): lineitem keeps the ONE
    # fact-to-fact shuffle join (orders); the filtered part slice,
    # customer, supplier, both nation roles and region all broadcast.
    # Share = NATION_3's volume over total volume per order-year — two
    # exact BIGINT cent sums, then ONE closed-form double division
    # (bit-exact cross-engine), rounded to 4dp.
    def tpch_market_share(s, d):
        li = _t(s, d, "lineitem")
        o_ = _t(s, d, "orders").where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        p = _t(s, d, "part").where(F.col("p_type") == "STANDARD")
        c = _t(s, d, "customer")
        sup = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        r = _t(s, d, "region").where(F.col("r_name") == "ASIA")
        n1 = n.join(
            F.broadcast(r), n.n_regionkey == r.r_regionkey
        ).select(F.col("n_nationkey").alias("cnk"))
        n2 = n.select(
            F.col("n_nationkey").alias("snk"),
            F.col("n_name").alias("supp_nation"),
        )
        vol_c = F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        agg = (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(o_, li.l_orderkey == o_.o_orderkey)
            .join(F.broadcast(c), o_.o_custkey == c.c_custkey)
            .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cnk"))
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(n2), F.col("s_nationkey") == F.col("snk"))
            .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(
                F.sum(vol_c).cast("long").alias("total_c"),
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol_c).otherwise(
                        F.lit(0)
                    )
                )
                .cast("long")
                .alias("nation_c"),
            )
        )
        return agg.select(
            "o_year",
            "total_c",
            "nation_c",
            F.round(F.col("nation_c") / F.col("total_c"), 4).alias("mkt_share"),
        )

    q["tpch_market_share"] = tpch_market_share

    # Product quantization ANN (Jégou et al. 2011): 64-dim vectors
    # compressed to m=4 subspace codes against a 16-centroid-per-subspace
    # codebook (the deterministic lowest-vec_id sample, same quantizer
    # convention as sim_ivf_topk), then asymmetric-distance top-5 — the
    # query builds one 4x16 LUT of subvector dots and every candidate is
    # scored from its codes alone, never from its raw vector. Parity: each
    # LUT entry is one left-fold dot (bit-exact both engines); the ADC sum
    # pivots the 4 entries into fixed-order columns d0+d1+d2+d3 — never a
    # float groupBy-sum.
    def sim_pq(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            topk_pq,
        )

        return topk_pq(
            _dbl_emb(_t(s, d, "embeddings")),
            _queries_dim(s, d),
            k=5,
            m=4,
            n_cents=16,
            dims=64,
        )

    q["sim_pq"] = sim_pq

    # Streaming top conversion paths: basket assembly as a NATIVE
    # update-mode streaming aggregation — per-(user, day) state is the
    # collect_list of (ts, event_id, event_type) structs plus a row
    # counter. The counter is strictly monotone across a key's update
    # emissions, so the drained fold keeps max_by(list, n) == the complete
    # basket; arrival order inside the state list is irrelevant because
    # the path sorts the structs under the (ts, event_id) total order
    # AFTER the drain — exactly the batch assembly. Shares the
    # events_top_paths oracle verbatim.
    def stream_top_paths(s, d, k=20):
        ev = _t(s, d, "events").select("user_id", "ts", "event_id", "event_type")
        halves = [
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 != 0),
        ]
        drained = _drain_stream(
            s,
            d,
            "spaths",
            [halves],
            lambda st: st.groupBy("user_id", F.to_date("ts").alias("day")).agg(
                F.collect_list(F.struct("ts", "event_id", "event_type")).alias("evs"),
                F.count(F.lit(1)).cast("long").alias("n"),
            ),
            "update",
        )
        baskets = (
            drained.groupBy("user_id", "day")
            .agg(F.max_by("evs", "n").alias("evs"))
        )
        paths = (
            baskets.select(
                F.expr(
                    "array_join(transform(array_sort(evs),"
                    " s -> s.event_type), '>')"
                ).alias("path")
            )
            .groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        )
        rw = Window.orderBy(F.desc("n_baskets"), F.asc("path"))
        return (
            paths.orderBy(F.desc("n_baskets"), F.asc("path"))
            .limit(k)
            .withColumn("rk", F.row_number().over(rw).cast("long"))
        )

    q["stream_top_paths"] = stream_top_paths

    # Streaming cohort retention: the (user, day) activity set as a NATIVE
    # update-mode streaming count — set membership is exactly "count > 0",
    # and counts are monotone, so the drained DISTINCT keys ARE the batch
    # activity set regardless of how many update emissions each key got.
    # Cohort day (min over the set) and the (cohort, offset) cells are
    # derived from the drained set batch-side — the same post-drain
    # convention as stream_hist/stream_hll (state holds the sufficient
    # statistic; the closed form runs once at the end). Shares the
    # events_retention oracle verbatim.
    def stream_retention(s, d):
        ev = _t(s, d, "events").select("user_id", "ts", "event_id")
        halves = [
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 != 0),
        ]
        drained = _drain_stream(
            s,
            d,
            "sret",
            [halves],
            lambda st: st.groupBy("user_id", F.to_date("ts").alias("day")).agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
            "update",
        )
        # pin the drained activity set: the cohort aggregate and the cell
        # mapping both read it (and a self-join of the memory-sink view
        # would otherwise share attribute ids across branches)
        days = (
            drained.select("user_id", "day")
            .distinct()
            .localCheckpoint()
        )
        cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_d"))
        return (
            days.join(cohort, "user_id")
            .select(
                F.col("cohort_d").cast("string").alias("cohort_d"),
                F.datediff("day", "cohort_d").cast("long").alias("offset_d"),
            )
            .groupBy("cohort_d", "offset_d")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )

    q["stream_retention"] = stream_retention

    # Windowed conversion funnel (the windowFunnel semantic): same
    # greedy-earliest chain as events_funnel but each step must land
    # within 1 day of the previous match — the conversion-deadline bound
    # every product-analytics funnel carries. Same scale shape (one
    # shrinking equi-join + one min-aggregate per step); the gap bound is
    # interval arithmetic on TIMESTAMP_NTZ (the events_asof convention —
    # no double casts).
    def events_funnel_windowed(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.funnel import (
            funnel,
        )

        fn = funnel(
            _t(s, d, "events"),
            ["view", "click", "purchase"],
            max_gap_sec=86400,
        )
        return fn.select(
            "user_id",
            "stage",
            (F.unix_timestamp("t_1") - F.unix_timestamp("t_0")).alias(
                "sec_to_click"
            ),
            (F.unix_timestamp("t_2") - F.unix_timestamp("t_1")).alias(
                "sec_click_to_buy"
            ),
        )

    q["events_funnel_windowed"] = events_funnel_windowed

    # Pure-Python Spark DataSource (Spark 4 DataSource API): the BASELINE
    # input table (url, warc_ts, html, text, lang) as a registered
    # pluggable format — partition-parallel seeded generation on the
    # executors, plus a resumable streaming reader (sources/
    # crawl_source.py). The gate reads 64 rows and projects
    # content digests; the oracle embeds the expected rows as VALUES
    # generated by the SAME datagen.page_row the source runs (the
    # kg_name_map embedded-corelib convention — sound because the rows
    # are a pure function of (i, seed)).
    def source_crawl(s, d):
        from medical_doc_knowledge_graph_system_spark.sources import (
            crawl_source,
        )

        crawl_source.register(s)
        df = (
            s.read.format("crawlpages")
            .option("n", 64)
            .option("seed", 42)
            .option("partitions", 4)
            .load()
        )
        return df.select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("wts"),
            "lang",
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
            F.length(F.coalesce(F.col("text"), F.lit("")))
            .cast("long")
            .alias("text_len"),
        )

    q["source_crawl"] = source_crawl

    # ── r5 thirteenth session: trend statistics + skyline ────────────────
    # Shared daily series for the two trend gates: per-type revenue by day
    # index, value quantized to BIGINT cents PER ROW before the order-free
    # BIGINT sum (the bm25 rule: double sums are addition-order-sensitive,
    # integer sums are not).
    def _events_daily_cents(s, d):
        ev = _t(s, d, "events")
        return ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
        ).agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("y_c")
        )

    # least-squares daily-revenue trend per event type: five exact BIGINT
    # moments in ONE groupBy, floats only in the two final closed-form
    # divisions (structural parity — assortativity pattern).
    def events_trend_ols(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            trend_ols,
        )

        g = trend_ols(_events_daily_cents(s, d), ["event_type"])
        return g.select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round("slope", 4).alias("slope"),
            F.round("intercept", 4).alias("intercept"),
        )

    q["events_trend_ols"] = events_trend_ols

    # Mann-Kendall S — the non-parametric trend twin: pure integer sign
    # counts over day pairs (no float anywhere). The pairwise join is
    # calendar-bounded (≤ span² pairs per type); the daily frame is pinned
    # because both join branches and the count consume it.
    def events_mann_kendall(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            mann_kendall_s,
        )

        daily = _events_daily_cents(s, d).localCheckpoint(eager=True)
        return mann_kendall_s(daily, ["event_type"])

    q["events_mann_kendall"] = events_mann_kendall

    # 2-D Pareto frontier (skyline) of the token-densest documents:
    # MINIMIZE n_chars, MAXIMIZE token count (minimize folds into the
    # maximize-both operator by negating the axis — exact on integers).
    # One hash aggregation to per-x maxima, bucketed suffix-max over the
    # distinct-x frame (never a global sort of the data), broadcast
    # join-back. Ties on both dims all survive.
    def docs_skyline(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.skyline import (
            skyline_2d_max,
        )

        docs = _t(s, d, "documents")
        t = docs.select(
            "doc_id",
            (-F.col("n_chars").cast("long")).alias("neg_chars"),
            F.size(F.split(F.lower(F.trim("text")), " ")).cast("long").alias(
                "n_toks"
            ),
        )
        return skyline_2d_max(t, "neg_chars", "n_toks").select(
            "doc_id",
            (-F.col("neg_chars")).cast("long").alias("n_chars"),
            "n_toks",
        )

    q["docs_skyline"] = docs_skyline

    # ── r5 thirteenth session: completing the TPC-H shape family ─────────
    # This testdata schema has no partsupp table and lineitem carries no
    # commitdate / receiptdate / shipmode, so Q2/Q9/Q11/Q12/Q16/Q21 are
    # ADAPTED: lateness = l_shipdate vs o_orderdate (the Q4 convention
    # used throughout this repo), the part-supplier catalog = the distinct
    # (l_partkey, l_suppkey) pairs observed in lineitem, and unit cost =
    # p_retailprice. The SHAPES — decorrelation strategy, join/broadcast
    # structure, integer-exact arithmetic — are the canonical ones.

    # Q21 — suppliers who kept orders waiting: the double-correlated
    # EXISTS / NOT EXISTS with a suppkey<>suppkey inequality, decorrelated
    # into ONE per-(order,supplier) flag frame consumed twice (pinned):
    # n_supp >= 2 ∧ n_late = 1 replaces both subqueries, LEFT SEMI back
    # onto the late rows. Pure BIGINT; deterministic top-20.
    def tpch_waiting_suppliers(s, d):
        li = _t(s, d, "lineitem")
        o_ = _t(s, d, "orders").where(F.col("o_orderstatus") == "F")
        sup = _t(s, d, "supplier")
        per_supp = (
            li.join(o_, li.l_orderkey == o_.o_orderkey)
            .groupBy("l_orderkey", "l_suppkey")
            .agg(
                F.max(
                    (
                        F.col("l_shipdate")
                        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
                    ).cast("int")
                ).alias("late")
            )
            .localCheckpoint(eager=True)
        )
        per_order = per_supp.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
        )
        return (
            per_supp.where(F.col("late") == 1)
            .join(
                per_order.where(
                    (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
                ),
                "l_orderkey",
                "left_semi",
            )
            .groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
            .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
            .select("s_name", "numwait")
            .orderBy(F.desc("numwait"), "s_name")
            .limit(20)
        )

    q["tpch_waiting_suppliers"] = tpch_waiting_suppliers

    # Q12 — shipping-mode lateness pivot (l_linestatus stands in for the
    # absent l_shipmode): one fact-fact join, the year window pushed to
    # the lineitem scan, the non-equi lateness bound a join residual,
    # priority classes folded as conditional BIGINT sums.
    def tpch_shipmode(s, d):
        li = _t(s, d, "lineitem").where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        o_ = _t(s, d, "orders")
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (
            li.join(o_, li.l_orderkey == o_.o_orderkey)
            .where(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .groupBy("l_linestatus")
            .agg(
                F.sum(F.when(hi, 1).otherwise(0))
                .cast("long")
                .alias("high_line_count"),
                F.sum(F.when(hi, 0).otherwise(1))
                .cast("long")
                .alias("low_line_count"),
            )
        )

    q["tpch_shipmode"] = tpch_shipmode

    # Q16 — supplier count per part group: NOT IN (complaint suppliers,
    # here acctbal < 0) becomes a broadcast LEFT ANTI before the part
    # broadcast join; COUNT(DISTINCT supplier) per (brand, type, size).
    def tpch_supplier_cnt(s, d):
        li = _t(s, d, "lineitem")
        p = _t(s, d, "part").where(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49)
        )
        bad = (
            _t(s, d, "supplier")
            .where(F.col("s_acctbal") < 0)
            .select("s_suppkey")
        )
        return (
            li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        )

    q["tpch_supplier_cnt"] = tpch_supplier_cnt

    # Q11 — important parts: group-sum vs a scalar of the whole aggregate.
    # Canonical Q11's fraction is SF-dependent; the scale-invariant twin
    # keeps parts above 2x the MEAN part value via the pure-integer
    # cross-multiplication value·n_parts > total·2 (no float division).
    # The per-part aggregate is pinned — the scalar and the filter both
    # consume it; the scalar broadcasts back as a 1-row cross join.
    def tpch_important_parts(s, d):
        li = _t(s, d, "lineitem")
        sup = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        r = _t(s, d, "region")
        asia = (
            sup.join(
                F.broadcast(
                    n.join(
                        F.broadcast(r.where(F.col("r_name") == "ASIA")),
                        n.n_regionkey == F.col("r_regionkey"),
                    )
                ),
                sup.s_nationkey == F.col("n_nationkey"),
            )
            .select("s_suppkey")
        )
        rev_c = F.floor(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        per_part = (
            li.join(F.broadcast(asia), li.l_suppkey == F.col("s_suppkey"))
            .select(F.col("l_partkey"), rev_c.alias("rev_c"))
            .groupBy("l_partkey")
            .agg(F.sum("rev_c").cast("long").alias("value_c"))
            .localCheckpoint(eager=True)
        )
        tot = per_part.agg(
            F.sum("value_c").cast("long").alias("tot_c"),
            F.count(F.lit(1)).cast("long").alias("n_parts"),
        )
        return (
            per_part.crossJoin(F.broadcast(tot))
            .where(
                F.col("value_c") * F.col("n_parts") > F.col("tot_c") * F.lit(2)
            )
            .select("l_partkey", "value_c")
        )

    q["tpch_important_parts"] = tpch_important_parts

    # Q9 — product-type profit by (nation, year): the filtered part slice
    # broadcasts INTO the fact before the one fact-fact join (orders only
    # supplies the year); supplier → nation both broadcast. Profit exact:
    # rev cents − qty·retail cents, all BIGINT before the sum.
    def tpch_profit(s, d):
        li = _t(s, d, "lineitem")
        o_ = _t(s, d, "orders")
        sup = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        p = _t(s, d, "part").where(F.col("p_name").contains("widget"))
        rev_c = F.floor(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
        cost_c = F.col("l_quantity").cast("long") * F.floor(
            F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5)
        ).cast("long")
        return (
            li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
            .join(o_, F.col("l_orderkey") == o_.o_orderkey)
            .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
            .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
            .groupBy(
                "n_name", F.year("o_orderdate").cast("int").alias("o_year")
            )
            .agg(F.sum(rev_c - cost_c).cast("long").alias("profit_c"))
        )

    q["tpch_profit"] = tpch_profit

    # Q2 — min-cost supplier per part: the correlated per-group MIN
    # subquery decorrelated as aggregate-then-rejoin WITH ties (every
    # supplier achieving the part's minimum survives — the per-group twin
    # of tpch_top_supplier's global max). Offers pinned (two consumers);
    # Europe dimension pinned (offer filter + final name join).
    def tpch_min_cost_supp(s, d):
        li = _t(s, d, "lineitem")
        sup = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        r = _t(s, d, "region")
        p = _t(s, d, "part").where(F.col("p_type") == "LARGE").select(
            "p_partkey"
        )
        eur = (
            sup.join(
                F.broadcast(
                    n.join(
                        F.broadcast(r.where(F.col("r_name") == "EUROPE")),
                        n.n_regionkey == F.col("r_regionkey"),
                    )
                ),
                sup.s_nationkey == F.col("n_nationkey"),
            )
            .select("s_suppkey", "s_name", "s_acctbal", "n_name")
            .localCheckpoint(eager=True)
        )
        price_c = F.floor(
            F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
        ).cast("long")
        offers = (
            li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
            .join(
                F.broadcast(eur.select("s_suppkey")),
                F.col("l_suppkey") == F.col("s_suppkey"),
            )
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.min(price_c).alias("price_c"))
            .localCheckpoint(eager=True)
        )
        mn = offers.groupBy("l_partkey").agg(F.min("price_c").alias("min_c"))
        return (
            offers.join(mn, "l_partkey")
            .where(F.col("price_c") == F.col("min_c"))
            .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(
                "l_partkey",
                "s_name",
                "n_name",
                F.round("s_acctbal", 4).alias("acctbal"),
                F.col("price_c").cast("long").alias("price_c"),
            )
            .orderBy(F.desc("acctbal"), "s_name", "l_partkey")
            .limit(100)
        )

    q["tpch_min_cost_supp"] = tpch_min_cost_supp

    # Q20 — potential part promotion: the nested correlated-aggregate
    # subquery (availqty > ½ of a windowed shipment sum in the canonical;
    # no partsupp here, so the adapted correlation is one-QUARTER shipped
    # quantity vs LIFETIME shipped quantity of the same (supplier, part):
    # both aggregates of the same fact at different filters fold into ONE
    # conditional aggregation — never two scans — and the comparison is
    # the pure-integer cross-multiplication q_window·3 > q_all. Suppliers
    # surface with their count of surging parts (the semi-join spirit of
    # the canonical output, plus the evidence).
    def tpch_part_promotion(s, d):
        li = _t(s, d, "lineitem")
        sup = _t(s, d, "supplier")
        p = (
            _t(s, d, "part")
            .where(F.col("p_name").contains("widget"))
            .select("p_partkey")
        )
        in_win = (F.col("l_shipdate") >= "1997-04-01") & (
            F.col("l_shipdate") < "1997-07-01"
        )
        qty = F.col("l_quantity").cast("long")
        per = (
            li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
            .groupBy("l_suppkey", "l_partkey")
            .agg(
                F.sum(F.when(in_win, qty).otherwise(F.lit(0)))
                .cast("long")
                .alias("q_win"),
                F.sum(qty).cast("long").alias("q_all"),
            )
        )
        return (
            per.where(F.col("q_win") * F.lit(3) > F.col("q_all"))
            .groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
            .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
            .select("s_name", "n_parts")
        )

    q["tpch_part_promotion"] = tpch_part_promotion

    # lag-1 autocorrelation of the per-type daily activity series: six
    # exact BIGINT moments over the (y_t, y_{t+1}) equi-join pairs, then
    # ONE closed-form double — sqrt is IEEE-correctly-rounded on both
    # engines, so the expression is bit-exact. Daily frame pinned (both
    # lag-join branches read it). Counts (not cents) keep m·Σy² far from
    # the 64-bit bound at any tested SF.
    def events_autocorr(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            autocorr_lag,
        )

        ev = _t(s, d, "events")
        daily = (
            ev.groupBy(
                "event_type",
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("y_c"))
            .localCheckpoint(eager=True)
        )
        g = autocorr_lag(daily, ["event_type"], lag=1)
        return g.select(
            "event_type", "n_pairs", F.round("acf", 4).alias("acf")
        )

    q["events_autocorr"] = events_autocorr

    # Deequ-style declarative validation suite over the corpus table:
    # six constraints, ONE scan, ONE single-row aggregate, stack-unpivot
    # to (check_name, observed, passed). The suite is the pre-load gate a
    # 100 TB ingestion runs; adding a constraint adds an aggregate
    # expression, never a scan.
    def docs_checks(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            check_suite,
        )

        docs = _t(s, d, "documents")
        n_rows = F.count(F.lit(1))
        checks = [
            ("row_count", n_rows, F.col("row_count") >= 1),
            (
                "null_text",
                F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)),
                F.col("null_text") == 0,
            ),
            (
                "dup_doc_id",
                n_rows - F.countDistinct("doc_id"),
                F.col("dup_doc_id") == 0,
            ),
            (
                "chars_oob",
                F.sum(
                    F.when(
                        (F.col("n_chars") < 1) | (F.col("n_chars") > 10000),
                        1,
                    ).otherwise(0)
                ),
                F.col("chars_oob") == 0,
            ),
            (
                "bad_lang",
                F.sum(
                    F.when(
                        ~F.col("lang").isin("en", "de", "fr", "es", "zh"), 1
                    ).otherwise(0)
                ),
                F.col("bad_lang") == 0,
            ),
            (
                "len_mismatch",
                F.sum(
                    F.when(
                        F.col("n_chars") != F.length("text"), 1
                    ).otherwise(0)
                ),
                F.col("len_mismatch") == 0,
            ),
        ]
        return check_suite(docs, checks)

    q["docs_checks"] = docs_checks

    # Simpson diversity of each user-cohort's event-type mix: the log-free
    # diversity index (probability two without-replacement draws differ),
    # so parity is structural — two exact BIGINT moments per cohort and
    # ONE closed-form division. The domain-mix screen a shard-level
    # curation pass runs (a cohort whose D collapses is one-domain).
    def events_simpson(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            simpson_diversity,
        )

        ev = _t(s, d, "events")
        g = simpson_diversity(
            ev.withColumn("bucket", F.col("user_id") % 101),
            ["bucket"],
            "event_type",
        )
        return g.select(
            "bucket", "n_items", "n", F.round("simpson", 4).alias("simpson")
        )

    q["events_simpson"] = events_simpson

    # Bollinger bands over the per-type daily count series: trailing
    # 7-row frame ⇒ count/Σy/Σy² are exact frame-bounded BIGINTs, ma and
    # sd are each ONE division (sd under the IEEE-correctly-rounded
    # sqrt), bands one multiply-add — every float expression identical
    # on both engines. Rows with n_obs < 2 (each series' first day) are
    # dropped on both sides.
    def events_bollinger(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            bollinger_bands,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        b = bollinger_bands(
            daily, ["event_type"], day_col="day", value_col="n", window=7
        )
        return b.select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            "n_obs",
            F.round("ma", 4).alias("ma7"),
            F.round("sd", 4).alias("sd7"),
            F.round("upper", 4).alias("upper"),
            F.round("lower", 4).alias("lower"),
        )

    q["events_bollinger"] = events_bollinger

    # Benford first-digit census + χ² over the value column (quantized to
    # positive cents): digit from the BIGINT's decimal string (never
    # log10), expected probabilities as repr()-literal doubles shared
    # verbatim with the oracle, each χ² term quantized to BIGINT
    # micro-units before the 9-term sum (the events_chisq convention).
    def events_benford(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            benford_firstdigit,
        )

        ev = _t(s, d, "events")
        src = ev.select(
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("cents")
        )
        b = benford_firstdigit(src, "cents")
        return b.select(
            "digit",
            "n_obs",
            F.round("expected", 4).alias("expected"),
            F.round("chi2", 4).alias("chi2"),
        )

    q["events_benford"] = events_benford

    # Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995): D = 3/4 is
    # exact in quarters, so p_KN collapses to ONE rational —
    # ((4c−3)·T + 3·N₁₊(w1·)·N₁₊(·w2)) / (4·c(w1·)·T) — exact BIGINT
    # numerator/denominator and a single closed-form division. Pair
    # counts pinned (4 consumers); top-20 via TakeOrderedAndProject.
    def text_kn_bigram(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            kneser_ney_bigram,
        )

        docs = _t(s, d, "documents")
        g = kneser_ney_bigram(docs, k=20)
        return g.select(
            "w1",
            "w2",
            "c12",
            "c1",
            "n1fwd",
            "ncont",
            "n_types",
            F.round("p_kn", 4).alias("p_kn"),
        )

    q["text_kn_bigram"] = text_kn_bigram

    # Z-order (Morton) layout stats — the OPTIMIZE ZORDER BY primitive:
    # interleave the bits of two bucketized columns and report each
    # output file's min/max bounding box over BOTH dimensions (exactly
    # the column statistics a lakehouse scan planner prunes files with;
    # a single-column sort gives full-range boxes in the other dim).
    # Pure integer shift/mask/multiply — engine-exact by construction.
    def docs_zorder(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.layout import (
            zorder_stats,
        )

        docs = _t(s, d, "documents")
        pts = docs.select(
            F.least(F.col("n_chars"), F.lit(1023)).alias("x"),
            (F.col("doc_id") % 1024).alias("y"),
        )
        return zorder_stats(pts, "x", "y", bits=10, n_files=64)

    q["docs_zorder"] = docs_zorder

    # Streaming funnel: per-user event baskets fold as an update-mode
    # streaming collect_list + monotone row counter (the stream_top_paths
    # drain contract — max_by(list, n) of the drained emissions IS the
    # complete basket, and funnel's per-step min-aggregates are
    # order-insensitive, so state order is irrelevant). The drained frame
    # is localCheckpointed (memory-sink self-joins share attribute ids),
    # then the SAME batch funnel operator runs; oracle shared verbatim
    # with events_funnel.
    def stream_funnel(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.funnel import (
            funnel,
        )

        ev = (
            _t(s, d, "events")
            .select("user_id", "ts", "event_id", "event_type")
            .where(F.col("event_type").isin("view", "click", "purchase"))
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 != 0),
        ]
        baskets = _drain_stream(
            s,
            d,
            "sfunnel",
            [halves],
            lambda st: st.groupBy("user_id").agg(
                F.collect_list(F.struct("ts", "event_id", "event_type")).alias("evs"),
                F.count(F.lit(1)).cast("long").alias("n"),
            ),
            "update",
        )
        drained = (
            baskets.groupBy("user_id")
            .agg(F.max_by("evs", "n").alias("evs"))
            .select("user_id", F.explode("evs").alias("e"))
            .select(
                "user_id",
                F.col("e.ts").alias("ts"),
                F.col("e.event_type").alias("event_type"),
            )
            .localCheckpoint(eager=True)
        )
        fn = funnel(drained, ["view", "click", "purchase"])
        return fn.select(
            "user_id",
            "stage",
            (F.unix_timestamp("t_1") - F.unix_timestamp("t_0")).alias(
                "sec_to_click"
            ),
            (F.unix_timestamp("t_2") - F.unix_timestamp("t_0")).alias(
                "sec_to_purchase"
            ),
        )

    q["stream_funnel"] = stream_funnel

    # Theil–Sen robust slope — the median of all pairwise slopes,
    # completing the trend triple (OLS / Mann-Kendall / Theil-Sen).
    # Parity without quantization: each slope is ONE division of exact
    # BIGINTs (bit-identical doubles), the median is POSITIONAL over the
    # sorted multiset, and the even case averages two doubles (IEEE
    # addition is commutative). Daily frame pinned (both join branches).
    def events_theilsen(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            theil_sen,
        )

        ev = _t(s, d, "events")
        daily = (
            ev.groupBy(
                "event_type",
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("y_c"))
            .localCheckpoint(eager=True)
        )
        g = theil_sen(daily, ["event_type"])
        return g.select(
            "event_type", "n_pairs", F.round("ts_slope", 4).alias("ts_slope")
        )

    q["events_theilsen"] = events_theilsen

    # Greedy k-center coreset (Gonzalez 1985 / Sener-Savarese core-set):
    # 4 farthest-point selections over the embedding table, radius²
    # certificate per pick. d² = (v·v − 2·v·c) + c·c from three fixed-
    # order left-fold dots (== DuckDB list_dot_product bit-for-bit);
    # least/comparisons only — no float accumulation across rows, so the
    # 4-round recurrence unrolls exactly.
    def sim_kcenter(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            kcenter_greedy,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        g = kcenter_greedy(emb, k=4)
        return g.select(
            "sel_rank", "vec_id", F.round("radius2", 4).alias("radius2")
        )

    q["sim_kcenter"] = sim_kcenter

    # Jones-Plassmann greedy coloring (id priorities ⇒ deterministic,
    # exactly unrollable) over the doc-similarity graph: 4 rounds, each
    # ONE max-neighbor aggregate + LEFT SEMI edge shrink. Adjacent nodes
    # can never share a round, so the emitted coloring is proper.
    def kg_coloring(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            greedy_coloring,
        )

        g = greedy_coloring(_kg_docgraph(s, d), rounds=4)
        return g.select(F.col("name").alias("doc_id"), "color")

    q["kg_coloring"] = kg_coloring

    # One-way ANOVA across event types on the whole-unit-quantized value
    # column — the k-group generalization of events_ab_welch: per-group
    # BIGINT moments, each between/within term ONE closed-form double
    # quantized to micro-units before the cross-group sum (the chisq
    # convention), F from two fixed-order divisions.
    def events_anova(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            anova_oneway,
        )

        ev = _t(s, d, "events").select(
            "event_type", F.floor(F.col("value")).cast("long").alias("c")
        )
        g = anova_oneway(ev, "event_type", "c")
        return g.select(
            "k",
            "n",
            F.round("ssb", 4).alias("ssb"),
            F.round("ssw", 4).alias("ssw"),
            F.round("f_stat", 4).alias("f_stat"),
        )

    q["events_anova"] = events_anova

    # Systematic PPS sampling (Madow): hit points every 4096 tokens along
    # the md5-ordered corpus token line (midpoint start 2048), documents
    # selected with probability ∝ token_count, n_hits = with-replacement
    # multiplicity. Pure integer arithmetic — all operands non-negative
    # so truncating div == floor div on both engines.
    def sample_systematic(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            sample_systematic as _ss,
        )

        docs = _t(s, d, "documents")
        return _ss(docs, step=4096)

    q["sample_systematic"] = sample_systematic

    # Two-step Markov transition matrix P² — the matrix-square primitive
    # (multi-step reachability probabilities) as ONE self-join on the
    # middle state: each one-step probability is micro-quantized to
    # BIGINT ((c·10⁶) div row-total, truncating div == floor div on
    # non-negative operands), so the Σ_b q(a,b)·q(b,c) inner product is
    # exact integer arithmetic — order-free — and only the final /10¹²
    # is float. Transition counts pinned (both join sides).
    def events_markov2(s, d):
        ev = _t(s, d, "events")
        w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = ev.select(
            "event_type", F.lead("event_type").over(w_u).alias("next_type")
        ).where(F.col("next_type").isNotNull())
        cnt = pairs.groupBy(
            F.col("event_type").alias("a"), F.col("next_type").alias("b")
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
        w_tot = Window.partitionBy("a")
        qm = (
            cnt.withColumn("tot", F.sum("c").over(w_tot).cast("long"))
            .select("a", "b", F.expr("(c * 1000000) div tot").alias("qv"))
            .localCheckpoint(eager=True)
        )
        x, y = qm.alias("x"), qm.alias("y")
        j = (
            x.join(y, F.col("x.b") == F.col("y.a"))
            .groupBy(
                F.col("x.a").alias("src"), F.col("y.b").alias("dst")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_mid"),
                F.sum(F.col("x.qv") * F.col("y.qv")).cast("long").alias(
                    "__p2u"
                ),
            )
        )
        return j.select(
            "src",
            "dst",
            "n_mid",
            F.round(F.col("__p2u") / F.lit(1000000000000.0), 4).alias("p2"),
        )

    q["events_markov2"] = events_markov2

    # Chi-square collocation extraction (Manning & Schütze ch. 5) — the
    # log-free collocation test (t-score and LLR need ln): χ² of each
    # bigram's 2×2 contingency collapses to N·(N·c12 − c1·c2)² /
    # (c1·c2·(N−c1)·(N−c2)); every product stays inside BIGINT, the
    # statistic is ONE fixed-order double expression (identical on both
    # engines), and the top-20 ranks on that double with (w1, w2)
    # tie-breaks. min-count 5 prunes the hapax tail before the joins.
    def text_colloc_chi2(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            bigram_pairs,
        )

        docs = _t(s, d, "documents")
        big = (
            bigram_pairs(docs)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("c12"))
            .localCheckpoint(eager=True)
        )
        per1 = big.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
        per2 = big.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
        nn = big.agg(F.sum("c12").cast("long").alias("n"))
        j = (
            big.where(F.col("c12") >= 5)
            .join(per1, "w1")
            .join(per2, "w2")
            .crossJoin(F.broadcast(nn))
        )
        dlt = (
            F.col("n") * F.col("c12") - F.col("c1") * F.col("c2")
        ).cast("double")
        den = (F.col("c1") * F.col("c2")).cast("double") * (
            (F.col("n") - F.col("c1")) * (F.col("n") - F.col("c2"))
        ).cast("double")
        chi2 = F.col("n").cast("double") * dlt * dlt / den
        return (
            j.select(
                "w1",
                "w2",
                "c12",
                "c1",
                "c2",
                "n",
                F.round(chi2, 4).alias("chi2"),
            )
            .orderBy(F.desc("chi2"), F.asc("w1"), F.asc("w2"))
            .limit(20)
        )

    q["text_colloc_chi2"] = text_colloc_chi2

    # Streaming ANOVA: the per-group moment triple (n, Σc, Σc²) as a
    # NATIVE update-mode streaming aggregation — with c ≥ 0 (floor of a
    # positive value column) every moment is monotone non-decreasing
    # across update emissions, so the drained per-group max IS the final
    # moment, fed to the single-sourced anova_from_moments closed form.
    # Oracle shared verbatim with events_anova.
    def stream_anova(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            anova_from_moments,
        )

        ev = _t(s, d, "events").select(
            "event_id",
            "event_type",
            F.floor(F.col("value")).cast("long").alias("c"),
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 != 0),
        ]
        drained = _drain_stream(
            s,
            d,
            "sanova",
            [halves],
            lambda st: st.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n_i"),
                F.sum("c").cast("long").alias("s_i"),
                F.sum(F.col("c") * F.col("c")).cast("long").alias("q_i"),
            ),
            "update",
        )
        moments = (
            drained.groupBy("event_type")
            .agg(
                F.max("n_i").cast("long").alias("n_i"),
                F.max("s_i").cast("long").alias("s_i"),
                F.max("q_i").cast("long").alias("q_i"),
            )
            .localCheckpoint(eager=True)
        )
        g = anova_from_moments(moments)
        return g.select(
            "k",
            "n",
            F.round("ssb", 4).alias("ssb"),
            F.round("ssw", 4).alias("ssw"),
            F.round("f_stat", 4).alias("f_stat"),
        )

    q["stream_anova"] = stream_anova

    # RAKE keyword extraction (Rose 2010): stopword-delimited candidate
    # phrases, word score deg/freq quantized to BIGINT nano-units, phrase
    # score an order-free BIGINT sum ranked as the BIGINT — the /10⁹ at
    # the end is the only float. Top-20, phrase tie-break.
    def text_rake(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            rake_keywords,
        )

        docs = _t(s, d, "documents")
        g = rake_keywords(docs, k=20)
        return g.select(
            "phrase",
            "n_words",
            "n_occur",
            F.round("score", 4).alias("score"),
        )

    q["text_rake"] = text_rake

    # Two-sample Kolmogorov-Smirnov D for every event-type pair over the
    # raw value column: the distribution-drift screen between cohorts.
    # The cumulative walk runs over distinct-value CELLS, and the max is
    # taken on the exact BIGINT numerator |c1*n2 - c2*n1| (common
    # denominator n1*n2) — ONE final division.
    def events_ks(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            ks_2samp_pairs,
        )

        ev = _t(s, d, "events")
        g = ks_2samp_pairs(ev, "event_type", "value")
        return g.select(
            F.col("g1").alias("t1"),
            F.col("g2").alias("t2"),
            "n1",
            "n2",
            "d_num",
            F.round("ks_d", 4).alias("ks_d"),
        )

    q["events_ks"] = events_ks

    # Kendall tau-b between daily event count and daily revenue per type:
    # concordant/discordant/tie counts are exact BIGINTs off the pairwise
    # day join; tau_b = (C-D)/sqrt((n0-n1)(n0-n2)) under the bit-exact
    # IEEE sqrt. Daily frame pinned — the self-join reads it twice.
    def events_kendall(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            kendall_tau_b,
        )

        ev = _t(s, d, "events")
        daily = (
            ev.groupBy(
                "event_type",
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_ev"),
                F.sum(
                    F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("rev_c"),
            )
            .localCheckpoint(eager=True)
        )
        g = kendall_tau_b(daily, ["event_type"], "day", "n_ev", "rev_c")
        return g.select(
            "event_type",
            "n_pairs",
            "conc",
            "disc",
            F.round("tau_b", 4).alias("tau_b"),
        )

    q["events_kendall"] = events_kendall

    # Spearman rank correlation (average ranks for ties) between the same
    # daily count/revenue series: ranks carried as 2*avg_rank — exact
    # BIGINTs even at .5 mid-ranks — so all five Pearson moments are
    # exact; rho is ONE closed form.
    def events_spearman(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            spearman_rho,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_ev"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("rev_c"),
        )
        g = spearman_rho(daily, ["event_type"], "n_ev", "rev_c")
        return g.select("event_type", "n", F.round("rho", 4).alias("rho"))

    q["events_spearman"] = events_spearman

    # Kruskal-Wallis H (tie-corrected) of the value distribution across
    # event types within each user cohort — the k-group nonparametric
    # ANOVA twin. Ranks from distinct-cent cells (one cumulative window
    # over the support, never per-row); each group's between-term is
    # micro-quantized to BIGINT before the cross-group sum (the
    # events_anova convention); tie term Σ(t³-t) exact BIGINT.
    def events_kruskal(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            kruskal_wallis,
        )

        ev = _t(s, d, "events")
        ev2 = ev.select(
            (F.col("user_id") % 8).alias("bucket"),
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = kruskal_wallis(ev2, ["bucket"], "event_type", "cents")
        return g.select(
            "bucket",
            "k",
            "n",
            F.round("h_stat", 4).alias("h_stat"),
            F.round("h_adj", 4).alias("h_adj"),
        )

    q["events_kruskal"] = events_kruskal

    # 10% two-sided trimmed mean of value cents per event type — the
    # outlier-robust location estimate curation uses for score columns.
    # Boundary ties need no tiebreak (equal values are interchangeable in
    # the kept multiset); sum exact BIGINT, mean ONE division.
    def events_trimmed(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            trimmed_mean,
        )

        ev = _t(s, d, "events")
        ev2 = ev.select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = trimmed_mean(ev2, ["event_type"], "cents", 1)
        return g.select(
            "event_type",
            "n",
            "n_kept",
            "sum_kept",
            F.round("trimmed_mean", 4).alias("tmean_c"),
        )

    q["events_trimmed"] = events_trimmed

    # Median absolute deviation of value per event type: both medians
    # POSITIONAL (the theilsen convention — no quantization; the picked
    # doubles are bit-identical and |x - med| subtracts identical
    # doubles, so every intermediate matches cross-engine).
    def events_mad(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            median_abs_deviation,
        )

        ev = _t(s, d, "events")
        g = median_abs_deviation(ev, ["event_type"], "value")
        return g.select(
            "event_type",
            "n",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )

    q["events_mad"] = events_mad

    # Wald-Wolfowitz runs test for randomness of the daily revenue series
    # around its positional median: run/side counts exact BIGINTs off one
    # lag window; z = (R - mu)/sigma one closed form under the bit-exact
    # sqrt. Revenue (not count) is the series — counts tie too often and
    # tied-at-median days are dropped by definition.
    def events_runs(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            runs_test,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("double")
            .alias("rev"),
        ).localCheckpoint(eager=True)
        g = runs_test(daily, ["event_type"], "day", "rev")
        return g.select(
            "event_type",
            "n1",
            "n2",
            "runs",
            F.round("z_runs", 4).alias("z_runs"),
        )

    q["events_runs"] = events_runs

    # ARI + Coleman-Liau readability per document — the two LOG-FREE
    # character-level readability formulas (no syllable heuristic).
    # Counts exact BIGINTs, each score ONE closed-form double from
    # round-tripping decimal literals. Pure projection: no shuffle.
    def text_ari(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_ari_cli,
        )

        return with_ari_cli(_t(s, d, "documents"))

    q["text_ari"] = text_ari

    # TextRank keywords (Mihalcea & Tarau 2004): weighted PageRank over
    # the word co-occurrence graph (window 2, stopwords dropped) — the
    # graph-ranking counterpart of RAKE, reusing the kg_pagerank_weighted
    # recurrence (and its unrolled-CTE oracle); only the edge build is
    # new. Top-30 on the ROUNDED rank with word tiebreak.
    def text_textrank(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            textrank_keywords,
        )

        return textrank_keywords(_t(s, d, "documents"), k=30)

    q["text_textrank"] = text_textrank

    # Holland-Leinhardt dyad census per predicate over the directed
    # triple graph: mutual/asymmetric unordered pairs + the reciprocity
    # ratio 2M/(2M+A) — separates symmetric relations from inherently
    # directed ones. Pure BIGINT counts, ONE division.
    def kg_reciprocity(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            dyad_census,
        )

        t = webkg.doc_triples(_t(s, d, "documents"))
        g = dyad_census(t, src="subj", dst="obj", keys=["pred"])
        return g.select(
            "pred",
            "mutual",
            "asym",
            F.round("reciprocity", 4).alias("reciprocity"),
        )

    q["kg_reciprocity"] = kg_reciprocity

    # Explicit GROUPING SETS (the third grouping surface next to cube /
    # rollup): the custom set list {(type,dow), (type), (dow)} — NOT a
    # cube — with both GROUPING flags emitted so downstream readers can
    # tell a real NULL from a rolled-up row. Counts + revenue exact
    # BIGINTs; dow from pure epoch arithmetic (the events_chisq idiom).
    def events_groupsets(s, d):
        ev = _t(s, d, "events")
        base = ev.select(
            "event_type",
            (
                F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long")
                % F.lit(7)
            ).alias("dow"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = base.groupingSets(
            [["event_type", "dow"], ["event_type"], ["dow"]],
            "event_type",
            "dow",
        ).agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("dow").cast("long").alias("g_dow"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("rev_c"),
        )
        return g.select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("(all)")).alias(
                "dow"
            ),
            "g_type",
            "g_dow",
            "n",
            "rev_c",
        )

    q["events_groupsets"] = events_groupsets

    # Streaming Benford census: per-digit counts as a NATIVE update-mode
    # streaming aggregation (state: <= 9 cells forever). Counts are
    # monotone, so the drained per-digit max == the final count, fed to
    # the single-sourced benford_from_obs closed form. Oracle shared
    # verbatim with events_benford.
    def stream_benford(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            benford_from_obs,
        )

        ev = _t(s, d, "events").select(
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("cents"),
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        drained = _drain_stream(
            s,
            d,
            "sbenford",
            [halves],
            lambda st: st.where(F.col("cents") >= 1)
            .groupBy(
                F.substring(F.col("cents").cast("string"), 1, 1)
                .cast("int")
                .alias("digit")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c")),
            "update",
        )
        obs = (
            drained.groupBy("digit")
            .agg(F.max("c").cast("long").alias("n_obs"))
            .localCheckpoint(eager=True)
        )
        b = benford_from_obs(obs)
        return b.select(
            "digit",
            "n_obs",
            F.round("expected", 4).alias("expected"),
            F.round("chi2", 4).alias("chi2"),
        )

    q["stream_benford"] = stream_benford

    # Streaming Simpson diversity: the (cohort, item) cell counts as a
    # NATIVE update-mode streaming aggregation; drained per-cell max ==
    # final cell (monotone), fed to the single-sourced simpson_from_cells
    # closed form. Oracle shared verbatim with events_simpson.
    def stream_simpson(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.profiling import (
            simpson_from_cells,
        )

        ev = _t(s, d, "events").select(
            (F.col("user_id") % 101).alias("bucket"),
            "event_type",
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "ssimpson",
            [halves],
            lambda st: st.groupBy("bucket", "event_type").agg(
                F.count(F.lit(1)).cast("long").alias("c")
            ),
            "update",
        )
        drained = (
            cells.groupBy("bucket", "event_type")
            .agg(F.max("c").cast("long").alias("__c"))
            .localCheckpoint(eager=True)
        )
        g = simpson_from_cells(drained, ["bucket"])
        return g.select(
            "bucket", "n_items", "n", F.round("simpson", 4).alias("simpson")
        )

    q["stream_simpson"] = stream_simpson

    # Single best mean-shift changepoint per type over the daily-revenue
    # series (binary segmentation step 1): gain(k) maximized over the
    # prefix-sum candidates; squares exact BIGINT, gain micro-quantized
    # before the argmax, output means BIGINT floor divisions — no float
    # output column at all.
    def events_changepoint(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            best_changepoint,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("rev_c"),
        )
        return best_changepoint(daily, ["event_type"], "day", "rev_c")

    q["events_changepoint"] = events_changepoint

    # Phi coefficient (2×2 Matthews correlation) between event types'
    # daily presence, for every type pair: all four cells exact BIGINTs,
    # phi one closed form under the bit-exact sqrt. The co-occurrence
    # structure screen over enum columns.
    def events_phi(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            phi_pairs,
        )

        ev = _t(s, d, "events")
        units = ev.select(
            "event_type",
            (
                F.col("user_id") * F.lit(1000000)
                + F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
            ).cast("long").alias("ud"),
        )
        g = phi_pairs(units, "event_type", "ud")
        return g.select(
            F.col("g1").alias("t1"),
            F.col("g2").alias("t2"),
            "n11",
            "n10",
            "n01",
            "n00",
            F.round("phi", 4).alias("phi"),
        )

    q["events_phi"] = events_phi

    # Corpus lexical census per language: vocabulary size, token count,
    # hapax/dis legomena, type-token ratio and hapax share — the Heaps/
    # Zipf-adjacent curation dashboard numbers. Two hash aggregates; all
    # counts exact BIGINTs, the two ratios single divisions.
    def text_lexical(s, d):
        docs = _t(s, d, "documents")
        toks = F.split(F.lower(F.trim(F.col("text"))), " ")
        tf = (
            docs.select("lang", F.explode(toks).alias("tok"))
            .where(F.col("tok") != "")
            .groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        g = tf.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("long")
            .alias("dis"),
        )
        return g.select(
            "lang",
            "vocab",
            "n_tokens",
            "hapax",
            "dis",
            F.round(
                F.col("vocab").cast("double") / F.col("n_tokens").cast("double"),
                4,
            ).alias("ttr"),
            F.round(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"), 4
            ).alias("hapax_share"),
        )

    q["text_lexical"] = text_lexical

    # Ranking-window census: ntile / percent_rank / cume_dist over a
    # FULLY deterministic total order (cents, event_id — ntile splits
    # ties by row position, so the tiebreak is load-bearing), folded to
    # per-decile stats. pr/cd are exact rationals floor-quantized to 4dp.
    def events_rank_fns(s, d):
        ev = _t(s, d, "events")
        base = ev.select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        w = Window.partitionBy("event_type").orderBy("cents", "event_id")
        r = base.select(
            "event_type",
            "cents",
            F.ntile(10).over(w).cast("long").alias("decile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        g = r.groupBy("event_type", "decile").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("cents").cast("long").alias("min_c"),
            F.max("cents").cast("long").alias("max_c"),
            F.sum("cents").cast("long").alias("sum_c"),
            F.max("pr").alias("pr_hi"),
            F.max("cd").alias("cd_hi"),
        )
        q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
            10000.0
        )
        return g.select(
            "event_type",
            "decile",
            "n",
            "min_c",
            "max_c",
            "sum_c",
            q4(F.col("pr_hi")).alias("pr_hi"),
            q4(F.col("cd_hi")).alias("cd_hi"),
        )

    q["events_rank_fns"] = events_rank_fns

    # Seasonal-naive backtest (forecast(t) = value(t-7), the quality
    # floor every forecaster must beat): calendar-aligned join on the
    # day VALUE, errors exact BIGINTs, MAE one floor-quantized division.
    def events_snaive(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            snaive_backtest,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
        return snaive_backtest(daily, ["event_type"], "day", "n_ev", season=7)

    q["events_snaive"] = events_snaive

    # SAX symbolization of the daily-count series (Lin 2003): z-scores
    # from exact BIGINT moments binned at the ±0.6745 Gaussian quartile
    # literals into a 4-letter word per series — the discretization step
    # of time-series motif mining. Word assembly via
    # array_sort(collect_list(struct)), never a window sort.
    def events_sax(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            sax_symbolize,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
        return sax_symbolize(daily, ["event_type"], "day", "n_ev")

    q["events_sax"] = events_sax

    # Union-of-intervals coverage per type (events padded to 5-minute
    # activity windows): the uptime/billing sweep — running-max window,
    # every contribution an exact BIGINT second count, islands counted
    # where a gap opens. No floats anywhere.
    def events_intervals(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.rangejoin import (
            interval_union,
        )

        ev = _t(s, d, "events")
        iv = ev.select(
            "event_type",
            "event_id",
            F.unix_timestamp("ts").cast("long").alias("st"),
            (F.unix_timestamp("ts") + F.lit(300)).cast("long").alias("en"),
        )
        return interval_union(iv, ["event_type"], "st", "en", "event_id")

    q["events_intervals"] = events_intervals

    # Corpus keyness χ² (log-free Dunning twin): terms most associated
    # with the English slice vs the rest — 2×2 χ² per term, ranked on
    # the ×1000-quantized BIGINT, direction by pure integer
    # cross-multiplication. The 'what characterizes this slice' screen.
    def text_keyness(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            keyness_chi2,
        )

        docs = _t(s, d, "documents")
        return keyness_chi2(docs, F.col("lang") == "en", k=20)

    q["text_keyness"] = text_keyness

    # Strongly connected components of the DIRECTED triple graph via
    # forward-closure signatures (R(u) = R(v) ⟺ same SCC, with the
    # reflexive closure): 8 bounded-diameter rounds against the pinned
    # edge frame, md5-of-sorted-members signature, scc_id = min member.
    # The bounded-vocabulary SCC — honest about its O(V·reach) state.
    def kg_scc(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            scc_by_closure,
        )

        t = webkg.doc_triples(_t(s, d, "documents"))
        g = scc_by_closure(t, rounds=8, src="subj", dst="obj")
        return g.select("name", "scc_id", "scc_size")

    q["kg_scc"] = kg_scc

    # Degree-discount influence maximization (Chen 2009, p→0): 4 greedy
    # seed picks maximizing deg − 2·(selected neighbors) — hubs, but not
    # adjacent hubs. Pure integer state; the 4 TakeOrdered(1) rounds
    # unroll exactly (the kcenter pattern) over the doc-similarity graph.
    def kg_influence(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            degree_discount_seeds,
        )

        g = degree_discount_seeds(_kg_docgraph(s, d), k=4)
        return g.select("sel_rank", F.col("name").alias("doc_id"), "dd")

    q["kg_influence"] = kg_influence

    # Maximum-inner-product top-k (unnormalized retrieval scoring — the
    # MIPS twin of sim_topk): rank on the ×1e9-quantized BIGINT dot so
    # selection is engine-exact; the ANN path would use the Bachrach
    # norm-augmentation reduction onto the existing cosine LSH.
    def sim_mips(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            topk_mips,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        g = topk_mips(emb, _queries_dim(s, d), k=5)
        return g.select(
            "query_id",
            "vec_id",
            (
                F.floor(F.col("dot") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("dot"),
            "rank",
        )

    q["sim_mips"] = sim_mips

    # Local-maxima census of the daily count series: a peak is strictly
    # greater than BOTH observed neighbors (row order — gaps documented);
    # count per type + the highest peak (value desc, earliest day).
    # Integers only.
    def events_peaks(s, d):
        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
        w = Window.partitionBy("event_type").orderBy("day")
        marked = daily.select(
            "event_type",
            "day",
            "n_ev",
            (
                (F.col("n_ev") > F.lag("n_ev").over(w))
                & (F.col("n_ev") > F.lead("n_ev").over(w))
            ).alias("is_peak"),
        )
        pk = F.when(
            F.col("is_peak"),
            F.struct(F.col("n_ev").alias("v"), (-F.col("day")).alias("nd")),
        )
        g = marked.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("is_peak"), 1).otherwise(0))
            .cast("long")
            .alias("n_peaks"),
            F.max(pk).alias("__top"),
        )
        return g.select(
            "event_type",
            "n_days",
            "n_peaks",
            (-F.col("__top.nd")).cast("long").alias("top_peak_day"),
            F.col("__top.v").cast("long").alias("top_peak_val"),
        )

    q["events_peaks"] = events_peaks

    # Global 4-clique count (Chiba-Nishizeki degree-ordered orientation,
    # one extension join past the triangle enumeration) over the
    # doc-similarity graph — the densest-substructure census above
    # kg_triangles/kg_ktruss. Pure integer; every clique counted once.
    def kg_cliques4(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            shingle_overlap_edges,
        )
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            count_4cliques,
        )

        # min_shared=2: the >=3 gate graph has no 4-cliques at any SF —
        # the denser 2-shared-shingle graph exercises the extension join
        e = shingle_overlap_edges(_t(s, d, "documents"), min_shared=2)
        return count_4cliques(e)

    q["kg_cliques4"] = kg_cliques4

    # Realized variance of the daily-revenue series: Σ(Δ)² over
    # consecutive observed days — exact BIGINT squares, the mean ONE
    # floor-quantized division. The volatility screen without logs.
    def events_realized_var(s, d):
        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("rev_c"),
        )
        w = Window.partitionBy("event_type").orderBy("day")
        diffs = daily.select(
            "event_type",
            (F.col("rev_c") - F.lag("rev_c").over(w)).alias("dlt"),
        ).where(F.col("dlt").isNotNull())
        g = diffs.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_diffs"),
            F.sum(F.col("dlt") * F.col("dlt")).cast("long").alias("rv_sum"),
        )
        return g.select(
            "event_type",
            "n_diffs",
            "rv_sum",
            (
                F.floor(
                    F.col("rv_sum").cast("double")
                    / F.col("n_diffs").cast("double")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("rv_mean"),
        )

    q["events_realized_var"] = events_realized_var

    # Streaming seasonal-naive backtest: per-(type, day) counts are
    # monotone NATIVE update-mode streaming aggregates; the drained
    # per-cell max IS the final daily series, fed to the single-sourced
    # snaive_backtest. Oracle shared verbatim with events_snaive.
    def stream_snaive(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            snaive_backtest,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "ssnaive",
            [halves],
            lambda st: st.groupBy("event_type", "day").agg(
                F.count(F.lit(1)).cast("long").alias("c")
            ),
            "update",
        )
        daily = (
            cells.groupBy("event_type", "day")
            .agg(F.max("c").cast("long").alias("n_ev"))
            .localCheckpoint(eager=True)
        )
        return snaive_backtest(daily, ["event_type"], "day", "n_ev", season=7)

    q["stream_snaive"] = stream_snaive

    # Pairwise cosine between per-label embedding CENTROIDS — the
    # separability/drift screen. Centroids live in integer space
    # (row-level ×1e4 quantization, exact BIGINT per-dim sums off one
    # posexplode) so the mean's addition order cannot matter; the 1/n
    # factors cancel in the cosine.
    def sim_centroids(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            label_centroid_cosines,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        g = label_centroid_cosines(emb, "label")
        return g.select(
            "l1",
            "l2",
            "n1",
            "n2",
            (
                F.floor(F.col("cos_c") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("cos_c"),
        )

    q["sim_centroids"] = sim_centroids

    # Additive seasonal indices (classical decomposition): detrend by the
    # centered 7-wide moving average (exact frame-bounded BIGINT sums),
    # micro-quantize each residual BEFORE the per-phase mean. The
    # day-of-week effect extractor.
    def events_seasonal(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            seasonal_indices,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
        return seasonal_indices(daily, ["event_type"], "day", "n_ev", period=7)

    q["events_seasonal"] = events_seasonal

    # Leave-one-out kNN label accuracy over the deterministic
    # vec_id % 17 query sample — the embedding-quality probe (neighbor
    # selection on the ×1e9-quantized cosine, majority vote with
    # count/label tiebreak, accuracy ONE floor-quantized division).
    def sim_knn_acc(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            knn_loo_accuracy,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        return knn_loo_accuracy(emb, "label", k=5, sample_mod=17)

    q["sim_knn_acc"] = sim_knn_acc

    # Term burstiness (Church-Gale Fano factor over per-doc counts,
    # zeros included): (D·Σc² − t²)/(D·t) — exact BIGINTs, one division.
    # Top-20 by document frequency; the stopword-free content-word screen.
    def text_burstiness(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            term_burstiness,
        )

        return term_burstiness(_t(s, d, "documents"), k=20)

    q["text_burstiness"] = text_burstiness

    # U-shaped (40/20/40) position-based multi-touch attribution over
    # converting (user, day) journeys: credit in exact integer
    # micro-units (middles get 200000 div (n-2)); per-channel sums are
    # order-free BIGINTs, the /1e6 at the end the only float.
    def events_attrib_ushape(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.funnel import (
            position_attribution,
        )

        g = position_attribution(_t(s, d, "events"))
        return g.select(
            "channel", "n_touches", F.round("credit", 4).alias("credit")
        )

    q["events_attrib_ushape"] = events_attrib_ushape

    # Pareto concentration: the smallest top-spender prefix covering 80%
    # of each type's revenue — pure integer threshold crossing
    # (100·cum ≥ 80·total), order-invariant under spend ties. The
    # who-carries-the-corpus concentration screen next to events_gini.
    def events_pareto(s, d):
        ev = _t(s, d, "events")
        spend = ev.groupBy(
            "event_type", "user_id"
        ).agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("c"),
        )
        wt = Window.partitionBy("event_type")
        wo = Window.partitionBy("event_type").orderBy(
            F.desc("c"), F.asc("user_id")
        )
        m = spend.select(
            "event_type",
            "c",
            F.row_number().over(wo).cast("long").alias("rn"),
            F.sum("c")
            .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long")
            .alias("cum"),
            F.sum("c").over(wt).cast("long").alias("total"),
            F.count(F.lit(1)).over(wt).cast("long").alias("n_users"),
        )
        g = m.groupBy("event_type").agg(
            F.max("n_users").cast("long").alias("n_users"),
            F.max("total").cast("long").alias("total_c"),
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(80) * F.col("total"),
                    F.col("rn"),
                )
            )
            .cast("long")
            .alias("n_top80"),
        )
        share = F.col("n_top80").cast("double") / F.col("n_users").cast(
            "double"
        )
        return g.select(
            "event_type",
            "n_users",
            "total_c",
            "n_top80",
            (
                F.floor(share * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
            ).alias("user_share80"),
        )

    q["events_pareto"] = events_pareto

    # Code-vs-prose heuristic: regex census of code punctuation + digit
    # density, weighted into an integer micro-unit score with an integer
    # threshold — the curation router that keeps source code out of a
    # prose corpus (and vice versa). No float comparison anywhere.
    def text_code_detect(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_code_score,
        )

        return with_code_score(_t(s, d, "documents"))

    q["text_code_detect"] = text_code_detect

    # Weekly-frequency periodogram (one-frequency Goertzel): the
    # day-of-week cycle detector. cos/sin live as repr()-literal doubles
    # shared verbatim with the oracle (transcendentals are NOT correctly
    # rounded cross-engine; literals are); products micro-quantized
    # before the cross-row sums.
    def events_periodogram(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
            periodogram_weekly,
        )

        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
        return periodogram_weekly(daily, ["event_type"], "day", "n_ev")

    q["events_periodogram"] = events_periodogram

    # Retrieval-quality eval: recall@5 and reciprocal rank of the IVF
    # approximate search against the exact cosine top-5, per query — the
    # ANN eval harness AS a gate query. recall is an exact rational;
    # rr = 1000000 div approx_rank (0 when the exact top-1 is missed).
    def sim_recall_eval(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            topk_cosine,
            topk_cosine_ivf,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        qs = _queries_dim(s, d)
        exact = topk_cosine(emb, qs, k=5).select(
            "query_id", "vec_id", F.col("rank").alias("ex_rank")
        )
        approx = topk_cosine_ivf(emb, qs, k=5, n_cells=16).select(
            "query_id", "vec_id", F.col("rank").alias("ap_rank")
        )
        j = exact.join(approx, ["query_id", "vec_id"], "left")
        g = j.groupBy("query_id").agg(
            F.sum(F.when(F.col("ap_rank").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.max(
                F.when(F.col("ex_rank") == 1, F.coalesce("ap_rank", F.lit(0)))
            )
            .cast("long")
            .alias("top1_ap_rank"),
        )
        rr = F.when(
            F.col("top1_ap_rank") > 0,
            F.expr("1000000 div top1_ap_rank"),
        ).otherwise(F.lit(0)).cast("long")
        return g.select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(5.0)).alias("recall5"),
            (rr / F.lit(1000000.0)).alias("rr"),
        )

    q["sim_recall_eval"] = sim_recall_eval

    # Mann-Whitney rank-sum U + tie-corrected z for every event-type
    # pair over value cents — the significance twin of events_ks.
    # Pooled mid-ranks as exact 2×BIGINTs off distinct-value cells;
    # U doubled to stay integral; z one closed form under sqrt.
    def events_mannwhitney(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            mann_whitney_pairs,
        )

        ev = _t(s, d, "events")
        ev2 = ev.select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = mann_whitney_pairs(ev2, "event_type", "cents")
        return g.select(
            F.col("g1").alias("t1"),
            F.col("g2").alias("t2"),
            "n1",
            "n2",
            "u2",
            (
                F.floor(F.col("z_u") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("z_u"),
        )

    q["events_mannwhitney"] = events_mannwhitney

    # UNPIVOT surface (the inverse of events_pivot): pivot the daily
    # census wide over the 5 known types, then melt it back with the
    # native unpivot operator — round-trip over the wide/long boundary
    # every BI export crosses. Pure integer cells.
    def events_unpivot(s, d):
        types = ["click", "error", "purchase", "signup", "view"]
        ev = _t(s, d, "events")
        daily = ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day")
        ).pivot("event_type", types).agg(
            F.count(F.lit(1)).cast("long")
        )
        wide = daily.select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
        )
        return wide.unpivot(["day"], types, "event_type", "n")

    q["events_unpivot"] = events_unpivot

    # Difference-in-differences: the 2×2 (cohort × period) causal panel
    # estimate per event type — DiD = (T₂−T₁) − (C₂−C₁) over group-mean
    # revenue. Cell sums exact BIGINT cents; each mean ONE division in
    # identical operand order; the estimate a fixed-order combination.
    def events_did(s, d):
        ev = _t(s, d, "events")
        cells = ev.groupBy(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("treated"),
            (
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")) >= 15
            ).alias("post"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("s"),
        )
        m = F.col("s").cast("double") / F.col("n").cast("double")
        cell = (
            F.when(F.col("treated") & F.col("post"), F.lit("t2"))
            .when(F.col("treated"), F.lit("t1"))
            .when(F.col("post"), F.lit("c2"))
            .otherwise(F.lit("c1"))
        )
        wide = (
            cells.select("event_type", cell.alias("cell"), m.alias("m"))
            .groupBy("event_type")
            .pivot("cell", ["t1", "t2", "c1", "c2"])
            .agg(F.max("m"))
        )
        did = (F.col("t2") - F.col("t1")) - (F.col("c2") - F.col("c1"))
        return wide.select(
            "event_type",
            *[
                (
                    F.floor(F.col(c) * F.lit(10000.0) + F.lit(0.5))
                    / F.lit(10000.0)
                ).alias(c)
                for c in ["t1", "t2", "c1", "c2"]
            ],
            (
                F.floor(did * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
            ).alias("did"),
        )

    q["events_did"] = events_did

    # CUPED variance reduction (Deng 2013): θ = cov(X,Y)/var(X) from the
    # pre/post per-user spend panel, and the achievable variance cut
    # ρ² = cov²/(var·var). Per-user sums exact BIGINT cents; the five
    # Pearson moments cast to double once and combined in identical
    # operand order; outputs floor-quantized.
    def events_cuped(s, d):
        ev = _t(s, d, "events")
        cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
            "long"
        )
        per_user = ev.groupBy("event_type", "user_id").agg(
            F.sum(
                F.when(
                    F.datediff(F.to_date("ts"), F.lit("2024-01-01")) < 15,
                    cents,
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.datediff(F.to_date("ts"), F.lit("2024-01-01")) >= 15,
                    cents,
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("y"),
        )
        g = per_user.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
        nd = F.col("n").cast("double")
        cov = nd * F.col("sxy").cast("double") - F.col("sx").cast(
            "double"
        ) * F.col("sy").cast("double")
        vx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
            "double"
        ) * F.col("sx").cast("double")
        vy = nd * F.col("syy").cast("double") - F.col("sy").cast(
            "double"
        ) * F.col("sy").cast("double")
        theta = cov / vx
        rho2 = (cov * cov) / (vx * vy)
        q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
            10000.0
        )
        return g.select(
            "event_type",
            "n",
            q4(theta).alias("theta"),
            q4(rho2).alias("var_reduction"),
        )

    q["events_cuped"] = events_cuped

    # Streaming diff-in-diff: the 2×2 panel's (n, Σcents) cells as a
    # NATIVE update-mode streaming aggregation (non-negative cents ⇒
    # both moments monotone; drained per-cell max == final cell), folded
    # into the same closed form. Oracle shared verbatim with events_did.
    def stream_did(s, d):
        ev = _t(s, d, "events").select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("treated"),
            (F.datediff(F.to_date("ts"), F.lit("2024-01-01")) >= 15).alias("post"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "sdid",
            [halves],
            lambda st: st.groupBy("event_type", "treated", "post").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("s"),
            ),
            "update",
        )
        drained = (
            cells.groupBy("event_type", "treated", "post")
            .agg(
                F.max("n").cast("long").alias("n"),
                F.max("s").cast("long").alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        m = F.col("s").cast("double") / F.col("n").cast("double")
        cell = (
            F.when(F.col("treated") & F.col("post"), F.lit("t2"))
            .when(F.col("treated"), F.lit("t1"))
            .when(F.col("post"), F.lit("c2"))
            .otherwise(F.lit("c1"))
        )
        wide = (
            drained.select("event_type", cell.alias("cell"), m.alias("m"))
            .groupBy("event_type")
            .pivot("cell", ["t1", "t2", "c1", "c2"])
            .agg(F.max("m"))
        )
        did = (F.col("t2") - F.col("t1")) - (F.col("c2") - F.col("c1"))
        return wide.select(
            "event_type",
            *[
                (
                    F.floor(F.col(c) * F.lit(10000.0) + F.lit(0.5))
                    / F.lit(10000.0)
                ).alias(c)
                for c in ["t1", "t2", "c1", "c2"]
            ],
            (
                F.floor(did * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
            ).alias("did"),
        )

    q["stream_did"] = stream_did

    # ── sixteenth-session family: time-series MODEL estimation ──────────
    # Shared input: the per-type DAILY series (30 observed days per type at
    # every SF), positions from row_number over the day order (unique day
    # per type ⇒ fully deterministic), value = exact BIGINT cents (dollars
    # = cents div 100 where squared moments must stay far from int64).
    def _ev_daily(s, d):
        ev = _t(s, d, "events")
        daily = ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        ).agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cents")
        )
        w = Window.partitionBy("event_type").orderBy("day")
        return daily.select(
            "event_type",
            F.row_number().over(w).cast("long").alias("pos"),
            "cents",
            F.expr("cents div 100").alias("dollars"),
        )

    _q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
        10000.0
    )

    # Yule-Walker AR(2) over the daily revenue series: autocovariances as
    # n²-scaled exact BIGINT polynomials (no mean division ever happens —
    # C_k = n²P_k − nS(H_k+T_k) + (n−k)S²), the YW solution two closed-form
    # double expressions in pinned operand order. Dollars, not cents: n²P_k
    # must stay far from int64.
    def events_ar2(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            yule_walker_ar2,
        )

        g = yule_walker_ar2(_ev_daily(s, d), ["event_type"], "pos", "dollars")
        return g.select(
            "event_type",
            "n",
            _q4(F.col("r1")).alias("r1"),
            _q4(F.col("r2")).alias("r2"),
            _q4(F.col("phi1")).alias("phi1"),
            _q4(F.col("phi2")).alias("phi2"),
        )

    q["events_ar2"] = events_ar2

    # Ljung-Box portmanteau Q(3) on the same series: each r_k ONE division
    # of the exact scaled autocovariances (bit-identical), the three terms
    # summed in a FIXED literal order, never a float aggregate.
    def events_ljungbox(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            ljung_box,
        )

        g = ljung_box(_ev_daily(s, d), ["event_type"], "pos", "dollars", 3)
        return g.select("event_type", "n", _q4(F.col("q_lb")).alias("q_lb"))

    q["events_ljungbox"] = events_ljungbox

    # Lo-MacKinlay variance ratio (q=5, non-overlapping buckets): the
    # random-walk diagnostic as TWO all-BIGINT cross-multiplied polynomials
    # and ONE division.
    def events_vratio(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            variance_ratio,
        )

        g = variance_ratio(_ev_daily(s, d), ["event_type"], "pos", "dollars", 5)
        return g.select("event_type", "n", "nb", _q4(F.col("vr")).alias("vr"))

    q["events_vratio"] = events_vratio

    # Haar wavelet detail energy per level (4 levels over the first 16
    # days): the multiresolution variance decomposition as two nested
    # BIGINT aggregates — sign = bit (k−1) of the 0-based position, zero
    # floats anywhere in the query.
    def events_haar(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            haar_energy,
        )

        return haar_energy(_ev_daily(s, d), ["event_type"], "pos", "cents", 4)

    q["events_haar"] = events_haar

    # Matrix profile (motif discovery): per length-4 daily window, the L2
    # distance to its nearest non-trivial match (|i−j| ≥ 4 exclusion zone).
    # d² pure BIGINT; nearest = min(struct(d2, j)) — ties to the smallest
    # j; dist = the bit-exact sqrt.
    def events_matrix_profile(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            matrix_profile,
        )

        g = matrix_profile(_ev_daily(s, d), ["event_type"], "pos", "cents", 4)
        return g.select(
            "event_type", "i", "nn", "d2", _q4(F.col("dist")).alias("dist")
        )

    q["events_matrix_profile"] = events_matrix_profile

    # Isotonic (monotone) regression via the minimax closed form of PAVA's
    # solution: fit_i = max_{j≤i} min_{k≥i} mean(x[j..k]) — interval means
    # are single divisions of exact BIGINT prefix sums (bit-identical), so
    # the min/max lattice is engine-independent. O(span³) per key on the
    # 30-day series.
    def events_isotonic(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            isotonic_fit,
        )

        g = isotonic_fit(_ev_daily(s, d), ["event_type"], "pos", "cents")
        return g.select(
            "event_type", "pos", "x", _q4(F.col("fit")).alias("fit")
        )

    q["events_isotonic"] = events_isotonic

    # Deterministic multiplier bootstrap CI (32 replicates) for the
    # per-type mean spend: integer weights {0,1,2} from md5(event_id:r),
    # replicate mean ONE division of exact BIGINTs, interval = positional
    # [min, max] of the 32 bit-identical replicate means.
    def events_bootstrap_ci(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            bootstrap_ci_mean,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = bootstrap_ci_mean(ev, ["event_type"], "cents", "event_id", b=32)
        return g.select(
            "event_type",
            "n",
            _q4(F.col("mean")).alias("mean"),
            _q4(F.col("ci_lo")).alias("ci_lo"),
            _q4(F.col("ci_hi")).alias("ci_hi"),
        )

    q["events_bootstrap_ci"] = events_bootstrap_ci

    # Cluster-randomization permutation test (64 deterministic
    # reassignments of USERS to arms by md5 parity): two-sided p-value of
    # the observed arm difference in mean spend. Every replicate diff is
    # the same two-division closed form over exact BIGINT cells, so the
    # |diff_r| >= |obs| comparisons are between bit-identical doubles.
    def events_permtest(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            cluster_perm_test,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            "user_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = cluster_perm_test(ev, ["event_type"], "cents", "user_id", b=64)
        return g.select(
            "event_type",
            "n",
            _q4(F.col("obs_diff")).alias("obs_diff"),
            "n_ge",
            _q4(F.col("p_value")).alias("p_value"),
        )

    q["events_permtest"] = events_permtest

    # Yule's characteristic K (vocabulary richness, Yule 1944): pure
    # BIGINT frequency-spectrum moments + one closed-form double — the
    # length-invariant repetitiveness screen next to text_repetition.
    def text_yule_k(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_yule_k,
        )

        g = with_yule_k(_t(s, d, "documents"))
        return g.select(
            "doc_id", "n_tokens", _q4(F.col("yule_k")).alias("yule_k")
        )

    q["text_yule_k"] = text_yule_k

    # Mean Segmental TTR (25-token complete segments): per-segment TTRs
    # share the denominator, so the mean is ONE BIGINT division.
    def text_msttr(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            with_msttr,
        )

        g = with_msttr(_t(s, d, "documents"), seg=25)
        return g.select(
            "doc_id", "n_segments", _q4(F.col("msttr")).alias("msttr")
        )

    q["text_msttr"] = text_msttr

    # Longest common token substring per blocked candidate pair: positional
    # n-gram matches lie on diagonals, maximal runs via gaps-and-islands —
    # the boilerplate-vs-true-duplicate discriminator over the same
    # rare-shingle blocking as dedup_ngram_jaccard.
    def dedup_lcs_run(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            lcs_run_pairs,
        )

        return lcs_run_pairs(_t(s, d, "documents"))

    q["dedup_lcs_run"] = dedup_lcs_run

    # Content-defined chunking (FastCDC-style) shared-segment detection:
    # cut after any token whose trailing-3-gram hash is 0 mod 16, hash the
    # variable chunks, report segments shared across >= 2 docs. Boundaries
    # are content-anchored, so head edits do not shift later cut points —
    # the property fixed-window chunk dedup lacks.
    def dedup_cdc(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            cdc_chunk_dedup,
        )

        return cdc_chunk_dedup(_t(s, d, "documents"))

    q["dedup_cdc"] = dedup_cdc

    # Simple exponential smoothing (alpha = 1/2) computed EXACTLY: dyadic
    # weights are exact in binary, so 2^(n-1)·L_n is an order-free BIGINT
    # weighted sum and the level is ONE division — no float recursion.
    def events_ses(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            ses_dyadic,
        )

        g = ses_dyadic(_ev_daily(s, d), ["event_type"], "pos", "cents")
        return g.select(
            "event_type",
            "n",
            _q4(F.col("level")).alias("level"),
            _q4(F.col("last_err")).alias("last_err"),
        )

    q["events_ses"] = events_ses

    # Grubbs' outlier statistic per type: max deviation as the exact
    # BIGINT max|n·x − S| (argmax via one max-struct aggregate), G one
    # fixed-order double with the bit-exact sqrt.
    def events_grubbs(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            grubbs_stat,
        )

        g = grubbs_stat(_ev_daily(s, d), ["event_type"], "pos", "cents")
        return g.select(
            "event_type", "n", "pos_at_max", _q4(F.col("g")).alias("g")
        )

    q["events_grubbs"] = events_grubbs

    # Lead-lag screening: Pearson corr of every ordered type pair at lags
    # −1/0/+1 over the aligned daily series — five exact BIGINT moments per
    # (pair, lag), one closed-form double (two bit-exact sqrts).
    def events_leadlag(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            leadlag_corr,
        )

        g = leadlag_corr(
            _ev_daily(s, d), "event_type", "pos", "dollars", lags=(-1, 0, 1)
        )
        return g.select(
            "k1", "k2", "lag", "n", _q4(F.col("corr")).alias("corr")
        )

    q["events_leadlag"] = events_leadlag

    # Native RANGE window frame (event-anchored trailing hour, not the
    # grid-anchored F.window of events_sliding): per purchase, the user's
    # trailing-3600s event count and spend. Epoch seconds are integral so
    # the frame is pure integer arithmetic; RANGE frames include all ties
    # by value, so no ordering convention is needed at all.
    def events_range_frame(s, d):
        ev = _t(s, d, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 1000000"
            ).alias("es"),
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("es")
            .rangeBetween(-3600, 0)
        )
        trailed = ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.count(F.lit(1)).over(w).cast("long").alias("trail_n"),
            F.sum("cents").over(w).cast("long").alias("trail_cents"),
        )
        return trailed.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "trail_n", "trail_cents"
        )

    q["events_range_frame"] = events_range_frame

    # k-anonymity audit (data-governance twin of text_pii_scrub): group
    # sizes over the (type, day-of-week, 20-dollar spend bucket)
    # quasi-identifier; per type, the groups below k = 5 and the rows they
    # expose. Pure BIGINT counts.
    def events_kanon(s, d):
        ev = _t(s, d, "events")
        cells = ev.groupBy(
            "event_type",
            (
                F.expr(
                    "unix_micros(cast(ts as timestamp)) div 86400000000"
                )
                % 7
            ).alias("dow"),
            F.expr(
                "floor(value * 100.0 + 0.5) div 2000"
            ).cast("long").alias("vb"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
        return cells.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(F.col("c") < 5, 1).otherwise(0))
            .cast("long")
            .alias("n_small"),
            F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_at_risk"),
        )

    q["events_kanon"] = events_kanon

    # Binary sign-mask retrieval (1 bit/dim — the compression tier below
    # sim_sq8/sim_pq): Hamming top-5 per query via bit_count(xor) on two
    # 32-bit words. Integer distances, no float convention anywhere.
    def sim_hamming(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            hamming_topk,
        )

        return hamming_topk(
            _dbl_emb(_t(s, d, "embeddings")), _queries_dim(s, d), k=5
        )

    q["sim_hamming"] = sim_hamming

    # Streaming isotonic regression: the per-(type, day) cents cells are a
    # NATIVE update-mode streaming aggregation (non-negative cents ⇒ the
    # sum is monotone across update emissions; drained per-cell max ==
    # final cell); the drained daily series feeds the SAME isotonic_fit
    # minimax closed form. Oracle shared verbatim with events_isotonic.
    def stream_isotonic(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            isotonic_fit,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "siso",
            [halves],
            lambda st: st.groupBy("event_type", "day").agg(
                F.sum("cents").cast("long").alias("s")
            ),
            "update",
        )
        drained = (
            cells.groupBy("event_type", "day")
            .agg(F.max("s").cast("long").alias("cents"))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("event_type").orderBy("day")
        ser = drained.select(
            "event_type",
            F.row_number().over(w).cast("long").alias("pos"),
            "cents",
        )
        g = isotonic_fit(ser, ["event_type"], "pos", "cents")
        return g.select(
            "event_type", "pos", "x", _q4(F.col("fit")).alias("fit")
        )

    q["stream_isotonic"] = stream_isotonic

    # Streaming multiplier bootstrap: the per-(type, replicate) cells
    # (n, Σx, Σw, Σwx) are one update-mode streaming aggregation over the
    # weight-tagged exploded stream — every cell a monotone non-negative
    # sum/count, so drained max == final — folded by the single-sourced
    # bootstrap_from_cells. Oracle shared verbatim with events_bootstrap_ci.
    def stream_bootstrap(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            bootstrap_from_cells,
            bootstrap_weight,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("x"),
        )
        rep = ev.select(
            "event_type",
            "event_id",
            "x",
            F.explode(F.array(*[F.lit(r) for r in range(32)])).alias("r"),
        ).select(
            "event_type",
            "event_id",
            "x",
            "r",
            bootstrap_weight(F.col("event_id").cast("string"), F.col("r")).alias("w"),
        )
        halves = [
            rep.where(F.col("event_id") % 2 == 0).drop("event_id"),
            rep.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "sboot",
            [halves],
            lambda st: st.groupBy("event_type", "r").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("x").cast("long").alias("sx"),
                F.sum("w").cast("long").alias("sw"),
                F.sum(F.col("w") * F.col("x")).cast("long").alias("swx"),
            ),
            "update",
        )
        drained = (
            cells.groupBy("event_type", "r")
            .agg(
                F.max("n").cast("long").alias("__n"),
                F.max("sx").cast("long").alias("__sx"),
                F.max("sw").cast("long").alias("__sw"),
                F.max("swx").cast("long").alias("__swx"),
            )
            .localCheckpoint(eager=True)
        )
        g = bootstrap_from_cells(drained, ["event_type"])
        return g.select(
            "event_type",
            "n",
            _q4(F.col("mean")).alias("mean"),
            _q4(F.col("ci_lo")).alias("ci_lo"),
            _q4(F.col("ci_hi")).alias("ci_hi"),
        )

    q["stream_bootstrap"] = stream_bootstrap

    # Two-arm log-rank test (Mantel-Haenszel) on time-to-first-purchase
    # (censored at day 30): the survival INFERENCE twin of events_survival.
    # No logs despite the name — E/V terms are rationals micro-quantized to
    # BIGINT before the cross-time sum; Z is one closed form with the
    # bit-exact sqrt. ONE summary row.
    def events_logrank(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            logrank_test,
        )

        ev = _t(s, d, "events")
        day = F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        fp = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.min(day).alias("t"))
        )
        allu = ev.select("user_id").distinct()
        per = allu.join(fp, "user_id", "left").select(
            "user_id",
            F.coalesce(F.col("t"), F.lit(30)).cast("long").alias("time"),
            F.col("t").isNotNull().cast("long").alias("event"),
        )
        g = logrank_test(per, [], "user_id", "time", "event")
        return g.select(
            "o1",
            _q4(F.col("e1")).alias("e1"),
            _q4(F.col("v")).alias("v"),
            _q4(F.col("z")).alias("z"),
        )

    q["events_logrank"] = events_logrank

    # Best single-split regression stump (the CART building block) on the
    # daily revenue series: every candidate SSE a fixed-order double over
    # exact BIGINT prefix moments; argmin via min-struct (ties to the
    # smallest split).
    def events_stump(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            best_stump,
        )

        g = best_stump(_ev_daily(s, d), ["event_type"], "pos", "cents")
        return g.select(
            "event_type",
            "split_pos",
            _q4(F.col("sse")).alias("sse"),
            _q4(F.col("mean_l")).alias("mean_l"),
            _q4(F.col("mean_r")).alias("mean_r"),
        )

    q["events_stump"] = events_stump

    # Experiment power analysis: minimum detectable effect for a 50/50
    # split at alpha 0.05 / power 0.80 — z literals as plain decimals both
    # engines parse identically, variance from exact BIGINT moments, two
    # bit-exact sqrts.
    def events_power(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            mde_power,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        g = mde_power(ev, ["event_type"], "cents")
        return g.select(
            "event_type",
            "n",
            _q4(F.col("sd")).alias("sd"),
            _q4(F.col("mde")).alias("mde"),
        )

    q["events_power"] = events_power

    # Correlated LATERAL subquery surface (Catalyst LateralJoin): top-2
    # purchases per sampled user via ORDER BY ... LIMIT inside the lateral —
    # the per-entity top-k idiom SQL users reach for before window
    # functions. Users with no purchases drop (cross join lateral).
    def events_lateral(s, d):
        p = os.path.join(d, "events.parquet")
        return s.sql(
            f"""
            SELECT u.user_id, t.event_id, t.cents
            FROM (SELECT DISTINCT user_id FROM parquet.`{p}`
                  WHERE user_id % 20 = 0) u,
            LATERAL (
              SELECT event_id,
                     CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
              FROM parquet.`{p}` e
              WHERE e.user_id = u.user_id AND e.event_type = 'purchase'
              ORDER BY cents DESC, event_id ASC LIMIT 2
            ) t"""
        )

    q["events_lateral"] = events_lateral

    # SimHash near-dup PAIRS via pigeonhole banding (Manku et al. 2007):
    # hamming <= 3 forces agreement on >= 1 of 4 fifteen-bit bands, so the
    # banded join is LOSSLESS and the brute-force all-pairs oracle IS the
    # parity claim (the dedup_prefix_filter convention).
    def dedup_simhash_pairs(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            simhash_hamming_pairs,
        )

        return simhash_hamming_pairs(_t(s, d, "documents"), max_hamming=3)

    q["dedup_simhash_pairs"] = dedup_simhash_pairs

    # Retrieval-quality eval for the MinHash LSH blocker (the dedup twin of
    # sim_recall_eval): candidate pairs vs ground-truth Jaccard >= 0.5 on
    # the % 2 doc subset (the % 7 slice holds zero true pairs below sf0.1)
    # — the threshold test is the pure-integer cross-multiplication
    # 3*inter >= |A| + |B|. ONE summary row.
    def dedup_pr_eval(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            doc_shingles,
            minhash_band_pairs,
        )

        from medical_doc_knowledge_graph_system_spark.functions.dedup import (
            set_jaccard_pairs,
            shingles_col,
        )
        from medical_doc_knowledge_graph_system_spark.operators.skew import (
            ensure_parallelism,
        )

        docs = _t(s, d, "documents").where(F.col("doc_id") % 2 == 0)
        sh = doc_shingles(docs).localCheckpoint(eager=True)
        cand = (
            minhash_band_pairs(docs, shingles=sh)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            .localCheckpoint(eager=True)  # read twice: the hit join + count
        )
        # r6 (VERDICT #3): the ground-truth side previously hand-rolled an
        # UNCAPPED shingle-level self-join (sh ⋈ sh on shingle) — the one
        # plan in queries() a Zipf-headed shingle could blow up. 3i >= sa+sb
        # is EXACTLY shingle-set Jaccard >= 1/2, so the truth set now comes
        # from the shared set_jaccard_pairs engine (set dedup + lossless
        # prefix-filter blocking + bounded verify) — identical rows, bounded
        # plan, no uncapped self-join left anywhere in queries().
        shingle_sets = ensure_parallelism(
            docs.select("doc_id", F.col("text"))
        ).select("doc_id", shingles_col("text").alias("toks"))
        truth = (
            set_jaccard_pairs(shingle_sets, t_num=1, t_den=2)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            .localCheckpoint(eager=True)
        )
        hit = cand.join(truth, ["a", "b"])
        counts = (
            cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
            .crossJoin(
                truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
            )
            .crossJoin(hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
        )
        return counts.select(
            "n_cand",
            "n_truth",
            "n_hit",
            _q4(
                F.col("n_hit").cast("double") / F.col("n_cand").cast("double")
            ).alias("precision"),
            _q4(
                F.col("n_hit").cast("double") / F.col("n_truth").cast("double")
            ).alias("recall"),
        )

    q["dedup_pr_eval"] = dedup_pr_eval

    # Pettitt rank change-point test: the nonparametric twin of
    # events_changepoint — PURE INTEGER via the telescoping identity
    # ΔU_t = Σ_k sgn(x_k − x_t); argmax via max-struct.
    def events_pettitt(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            pettitt_test,
        )

        return pettitt_test(_ev_daily(s, d), ["event_type"], "pos", "dollars")

    q["events_pettitt"] = events_pettitt

    # Burrows' Delta stylometry between sources: z-scored top-20 word
    # frequencies (frequencies micro-quantized so cross-source moments are
    # exact; per-word |Δz| micro-quantized before the pair sum).
    def text_burrows(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
            burrows_delta,
        )

        g = burrows_delta(_t(s, d, "documents"), "source", "text", k=20)
        return g.select("s1", "s2", _q4(F.col("delta")).alias("delta"))

    q["text_burrows"] = text_burrows

    # Post-stratification ATE (stratify on day-of-week): the causal-panel
    # family's third member next to events_did/events_cuped — per-stratum
    # arm diffs micro-quantized before the weighted cross-stratum sum;
    # strata missing an arm drop from numerator AND weight mass.
    def events_strat_ate(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            stratified_ate,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            "user_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            (
                F.expr(
                    "unix_micros(cast(ts as timestamp)) div 86400000000"
                )
                % 7
            ).alias("dow"),
        )
        g = stratified_ate(ev, ["event_type"], "cents", "user_id", "dow")
        return g.select(
            "event_type", "n_used", "n_strata", _q4(F.col("ate")).alias("ate")
        )

    q["events_strat_ate"] = events_strat_ate

    # Streaming CART stump: the daily revenue cells are a native
    # update-mode streaming aggregation (monotone sums), drained into the
    # SAME best_stump minimax argmin. Oracle shared verbatim with
    # events_stump.
    def stream_stump(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            best_stump,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "sstump",
            [halves],
            lambda st: st.groupBy("event_type", "day").agg(
                F.sum("cents").cast("long").alias("s")
            ),
            "update",
        )
        drained = (
            cells.groupBy("event_type", "day")
            .agg(F.max("s").cast("long").alias("cents"))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("event_type").orderBy("day")
        ser = drained.select(
            "event_type",
            F.row_number().over(w).cast("long").alias("pos"),
            "cents",
        )
        g = best_stump(ser, ["event_type"], "pos", "cents")
        return g.select(
            "event_type",
            "split_pos",
            _q4(F.col("sse")).alias("sse"),
            _q4(F.col("mean_l")).alias("mean_l"),
            _q4(F.col("mean_r")).alias("mean_r"),
        )

    q["stream_stump"] = stream_stump

    # Tukey box-plot fences per type — PURE INTEGER: quartiles are
    # positional order statistics over the (cents, event_id) total order
    # and the 1.5-IQR outlier tests are cross-multiplied
    # (2x < 5Q1 − 3Q3), so no float exists anywhere in the operator.
    def events_fences(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            tukey_fences,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        return tukey_fences(ev, ["event_type"], "cents", "event_id")

    q["events_fences"] = events_fences

    # Szekely energy distance between every type pair over the daily
    # dollars series: the |diff| double-sums are exact BIGINTs from
    # span²-bounded cross joins; E is one fixed-order three-term double.
    def events_energy_dist(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
            energy_distance_pairs,
        )

        g = energy_distance_pairs(_ev_daily(s, d), "event_type", "dollars")
        return g.select(
            "k1", "k2", "n", "m", _q4(F.col("e_stat")).alias("e_stat")
        )

    q["events_energy_dist"] = events_energy_dist

    # nDCG@5 of the IVF ranking against the exact-cosine ranking — the
    # graded-relevance retrieval metric next to sim_recall_eval's
    # recall/RR. rel = 6 − exact_rank; the 1/log2(r+1) discounts are
    # repr() decimal literals both engines parse to identical doubles
    # (the BENFORD_P convention); per-term quantized to BIGINT 1e-9 units
    # before the per-query sum; IDCG is the shared precomputed constant.
    def sim_ndcg_eval(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
            topk_cosine,
            topk_cosine_ivf,
        )

        emb = _dbl_emb(_t(s, d, "embeddings"))
        qs = _queries_dim(s, d)
        exact = topk_cosine(emb, qs, k=5).select(
            "query_id", "vec_id", F.col("rank").alias("ex_rank")
        )
        approx = topk_cosine_ivf(emb, qs, k=5, n_cells=16).select(
            "query_id", "vec_id", F.col("rank").alias("ap_rank")
        )
        j = approx.join(exact, ["query_id", "vec_id"], "left")
        rel = F.coalesce(F.lit(6) - F.col("ex_rank"), F.lit(0)).cast(
            "double"
        )
        disc = (
            F.when(F.col("ap_rank") == 1, F.lit(1.0))
            .when(F.col("ap_rank") == 2, F.lit(1.584962500721156))
            .when(F.col("ap_rank") == 3, F.lit(2.0))
            .when(F.col("ap_rank") == 4, F.lit(2.321928094887362))
            .otherwise(F.lit(2.584962500721156))
        )
        term9 = F.floor(rel / disc * F.lit(1000000000.0) + F.lit(0.5)).cast(
            "long"
        )
        g = j.groupBy("query_id").agg(
            F.sum(term9).cast("long").alias("dcg9"),
            F.sum(F.when(F.col("ex_rank").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap"),
        )
        return g.select(
            "query_id",
            "n_overlap",
            _q4(
                F.col("dcg9").cast("double") / F.lit(10271924937.0)
            ).alias("ndcg5"),
        )

    q["sim_ndcg_eval"] = sim_ndcg_eval

    # Rich-club coefficient over the doc-similarity graph: among nodes of
    # degree > k, the fraction of possible edges present — pure BIGINT
    # counts, one division per k, the k dimension an explode over ONE
    # degree-joined edge frame.
    def kg_richclub(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
            rich_club,
        )

        g = rich_club(_kg_docgraph(s, d), ks=(1, 2, 4, 8))
        return g.select(
            "k", "n_nodes", "n_edges", _q4(F.col("phi")).alias("phi")
        )

    q["kg_richclub"] = kg_richclub

    # Detrended lag-1 autocorrelation (the Durbin-Watson question): OLS
    # residuals as exact BIGINTs scaled by n·b_den, shifted positive so the
    # truncating quantization div agrees across engines, then r1 off the
    # shared scaled-autocovariance machinery.
    def events_detrended_acf(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            detrended_acf1,
        )

        g = detrended_acf1(_ev_daily(s, d), ["event_type"], "pos", "dollars")
        return g.select("event_type", "n", _q4(F.col("r1")).alias("r1"))

    q["events_detrended_acf"] = events_detrended_acf

    # Greedy facility-location document selection (submodular coverage —
    # the (1−1/e)-greedy behind coverage-driven corpus curation): 5 rounds
    # of argmax-new-shingles, ties to the smallest doc_id; oracle unrolls
    # the identical rounds (every pick/covered CTE MATERIALIZED).
    def sample_coverage(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.curate import (
            coverage_select,
        )

        return coverage_select(_t(s, d, "documents"), n_pick=5)

    q["sample_coverage"] = sample_coverage

    # Winsorized mean per type: positional p05/p95 order statistics over
    # the (cents, event_id) total order, values CLAMPED (not dropped —
    # the trimmed-mean sibling), ONE division at the end.
    def events_winsor(s, d):
        ev = _t(s, d, "events").select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        w = Window.partitionBy("event_type").orderBy("cents", "event_id")
        ranked = ev.select(
            "event_type",
            "cents",
            F.row_number().over(w).cast("long").alias("r"),
            F.count(F.lit(1))
            .over(Window.partitionBy("event_type"))
            .cast("long")
            .alias("n"),
        )
        qs = ranked.groupBy("event_type", "n").agg(
            F.max(
                F.when(
                    F.col("r")
                    == F.greatest(F.expr("(n + 1) div 20"), F.lit(1)),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("p05"),
            F.max(
                F.when(
                    F.col("r")
                    == F.least(F.expr("(19 * (n + 1)) div 20"), F.col("n")),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("p95"),
        )
        j = ev.join(qs, "event_type")
        return j.groupBy("event_type", "n", "p05", "p95").agg(
            _q4(
                F.sum(
                    F.greatest(F.least(F.col("cents"), F.col("p95")), F.col("p05"))
                ).cast("double")
                / F.col("n").cast("double")
            ).alias("wmean")
        )

    q["events_winsor"] = events_winsor

    # Exact media dedup census by content digest — THE production
    # media-dedup primitive: md5 over the BINARY payload column (the
    # digest-of-bytes path both engines must agree on), per-kind distinct
    # vs duplicate row counts (always populated, unlike a dup-groups
    # listing which is empty below sf0.1).
    def mm_dedup(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.multimodal import (
            media_from_documents,
        )

        media = media_from_documents(_t(s, d, "documents"))
        per_hash = media.groupBy(
            "kind", F.md5(F.col("payload")).alias("payload_md5")
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
        return per_hash.groupBy("kind").agg(
            F.sum("c").cast("long").alias("n_media"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("c") - F.lit(1)).cast("long").alias("n_dup_rows"),
        )

    q["mm_dedup"] = mm_dedup

    # Chapman capture-recapture estimator: treat the first/second
    # half-month ACTIVE USER sets as two captures; N̂ = (n1+1)(n2+1)/(m+1)
    # − 1 estimates the true population from overlap alone — the coverage
    # estimator dedup pipelines use to size the unseen tail. Pure BIGINT
    # counts + ONE division.
    def events_chapman(s, d):
        ev = _t(s, d, "events")
        post = F.datediff(F.to_date("ts"), F.lit("2024-01-01")) >= 15
        per = ev.groupBy("event_type", "user_id").agg(
            F.max(F.when(~post, 1).otherwise(0)).alias("c1"),
            F.max(F.when(post, 1).otherwise(0)).alias("c2"),
        )
        g = per.groupBy("event_type").agg(
            F.sum("c1").cast("long").alias("n1"),
            F.sum("c2").cast("long").alias("n2"),
            F.sum(F.col("c1") * F.col("c2")).cast("long").alias("m"),
            F.count(F.lit(1)).cast("long").alias("n_true"),
        )
        nhat = (
            (F.col("n1") + F.lit(1)) * (F.col("n2") + F.lit(1))
        ).cast("double") / (F.col("m") + F.lit(1)).cast("double") - F.lit(
            1.0
        )
        return g.select(
            "event_type", "n1", "n2", "m", "n_true",
            _q4(nhat).alias("n_hat"),
        )

    q["events_chapman"] = events_chapman

    # Corpus n-gram coverage curve: the token-mass share of the top-k
    # unigrams for k in {10, 100, 1000} — the vocabulary-truncation
    # planning table. Rank by (count desc, token) then ONE division per k.
    def text_ngram_coverage(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            tokens_col,
        )

        tf = (
            _t(s, d, "documents")
            .select(F.explode(tokens_col("text")).alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint(eager=True)  # ranked head + total both read it
        )
        # head via TakeOrderedAndProject (never a global sort of the full
        # vocabulary); the global row_number window then runs on <= 1000
        # rows (the 256-row offsets-frame precedent)
        head = tf.orderBy(F.desc("c"), F.asc("t")).limit(1000)
        w = Window.orderBy(F.desc("c"), F.asc("t"))
        ranked = head.select(
            "c", F.row_number().over(w).cast("long").alias("r")
        )
        tot = tf.agg(F.sum("c").cast("long").alias("total"))
        ks = s.createDataFrame([(10,), (100,), (1000,)], "k int")
        cum = (
            ranked.crossJoin(F.broadcast(ks))
            .where(F.col("r") <= F.col("k"))
            .groupBy("k")
            .agg(F.sum("c").cast("long").alias("mass"))
        )
        return cum.crossJoin(F.broadcast(tot)).select(
            "k",
            "mass",
            "total",
            _q4(
                F.col("mass").cast("double") / F.col("total").cast("double")
            ).alias("coverage"),
        )

    q["text_ngram_coverage"] = text_ngram_coverage

    # McNemar paired test on the pre/post purchase panel: b = users who
    # purchased only pre, c = only post; chi2 = (b−c)²/(b+c) — pure BIGINT
    # counts + ONE division (the paired twin of events_chisq).
    def events_mcnemar(s, d):
        ev = _t(s, d, "events")
        day = F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        # SPARSE windows (first/last 3 days), not half-months: with
        # month-half windows every purchaser is active on both sides at
        # every SF and b + c == 0 (found at sf0.001/sf0.01)
        per = ev.where(F.col("event_type") == "purchase").groupBy(
            "user_id"
        ).agg(
            F.max(F.when(day <= 2, 1).otherwise(0)).alias("pre"),
            F.max(F.when(day >= 27, 1).otherwise(0)).alias("pst"),
        )
        g = per.agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.when((F.col("pre") == 1) & (F.col("pst") == 0), 1).otherwise(0))
            .cast("long")
            .alias("b"),
            F.sum(F.when((F.col("pre") == 0) & (F.col("pst") == 1), 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
        chi2 = (
            (F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))
        ).cast("double") / (F.col("b") + F.col("c")).cast("double")
        return g.select("n_users", "b", "c", _q4(chi2).alias("chi2"))

    q["events_mcnemar"] = events_mcnemar

    # Cochran's Q over three ten-day periods: did per-user purchase
    # incidence shift across k related periods — Q = k(k−1)·Σ(C_j − T/k)²
    # / (k·T − ΣR²) cross-multiplied into all-BIGINT numerator/denominator
    # (×k² both sides) and ONE division.
    def events_cochran_q(s, d):
        ev = _t(s, d, "events")
        # k = 3 SINGLE probe days (0/15/29), not ten-day periods: with
        # dense periods every user has R in {0, k} and the denominator
        # k*T - sum R^2 collapses to 0 (found at sf0.001)
        day = F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        cells = (
            ev.where(
                (F.col("event_type") == "purchase")
                & day.isin(0, 15, 29)
            )
            .select(
                "user_id",
                F.expr(
                    "datediff(to_date(ts), date'2024-01-01') div 14"
                ).alias("j"),
            )
            .distinct()
        )
        rows = cells.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("r")
        )
        cols = cells.groupBy("j").agg(F.count(F.lit(1)).cast("long").alias("cj"))
        tots = rows.agg(
            F.sum("r").cast("long").alias("t"),
            F.sum(F.col("r") * F.col("r")).cast("long").alias("r2"),
        )
        colm = cols.agg(
            F.sum(F.col("cj") * F.col("cj")).cast("long").alias("c2"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
        g = tots.crossJoin(colm)
        # sum_j (C_j - T/k)^2 * k^2 = k^2*C2 - 2kT*T + k*T^2 = k^2*C2 - k*T^2
        num = (
            F.col("k")
            * (F.col("k") - F.lit(1))
            * (F.col("k") * F.col("k") * F.col("c2") - F.col("k") * F.col("t") * F.col("t"))
        )
        den = (
            F.col("k")
            * F.col("k")
            * (F.col("k") * F.col("t") - F.col("r2"))
        )
        return g.select(
            "k",
            "t",
            _q4(num.cast("double") / den.cast("double")).alias("q_c"),
        )

    q["events_cochran_q"] = events_cochran_q

    # Hapax legomena rate per source (the vocabulary-richness twin of
    # Yule's K at the collection level): share of types occurring exactly
    # once. Pure BIGINT + one division.
    def text_hapax(s, d):
        from medical_doc_knowledge_graph_system_spark.functions.textfns import (
            tokens_col,
        )

        tf = (
            _t(s, d, "documents")
            .select("source", F.explode(tokens_col("text")).alias("t"))
            .groupBy("source", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        g = tf.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        return g.select(
            "source",
            "n_types",
            "n_hapax",
            _q4(
                F.col("n_hapax").cast("double") / F.col("n_types").cast("double")
            ).alias("hapax_rate"),
        )

    q["text_hapax"] = text_hapax

    # Streaming Pettitt change-point: the per-(type, day) cents cells are
    # the same monotone update-mode aggregation as stream_isotonic; the
    # drained series feeds the SAME pettitt_test telescoping closed form
    # (dollars = cents div 100 derived post-drain). Oracle shared verbatim
    # with events_pettitt.
    def stream_pettitt(s, d):
        from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
            pettitt_test,
        )

        ev = _t(s, d, "events").select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "event_id",
        )
        halves = [
            ev.where(F.col("event_id") % 2 == 0).drop("event_id"),
            ev.where(F.col("event_id") % 2 != 0).drop("event_id"),
        ]
        cells = _drain_stream(
            s,
            d,
            "spett",
            [halves],
            lambda st: st.groupBy("event_type", "day").agg(
                F.sum("cents").cast("long").alias("s")
            ),
            "update",
        )
        drained = (
            cells.groupBy("event_type", "day")
            .agg(F.max("s").cast("long").alias("cents"))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("event_type").orderBy("day")
        ser = drained.select(
            "event_type",
            F.row_number().over(w).cast("long").alias("pos"),
            F.expr("cents div 100").alias("dollars"),
        )
        return pettitt_test(ser, ["event_type"], "pos", "dollars")

    q["stream_pettitt"] = stream_pettitt

    # Driver-record rotation (VERDICT r4 #7): the driver samples roughly the
    # first 50 queries in registration order, so with 60+ registered some
    # tail queries never land in a CORRECTNESS_r{N}.json. Rotate
    # automatically: any query ABSENT from the latest committed
    # CORRECTNESS record sorts first (stable within each group), so every
    # query is driver-recorded at least every other round. Falls back to
    # registration order on a fresh checkout with no records.
    import glob as _glob
    import json as _json

    _here = os.path.dirname(os.path.abspath(__file__))
    _recs = sorted(_glob.glob(os.path.join(_here, "CORRECTNESS_r*.json")))
    _seen_last: set[str] = set()
    if _recs:
        try:
            with open(_recs[-1]) as _f:
                _seen_last = set(_json.load(_f))
        except (OSError, ValueError):
            _seen_last = set()
    if _seen_last:
        q = {k: q[k] for k in sorted(q, key=lambda k: k in _seen_last)}
    return q


# ── oracle SQL ───────────────────────────────────────────────────────────────

_TOKS = "string_split(lower(trim(text)), ' ')"


def _mentions_cte() -> str:
    return f"""
mentions AS (
  SELECT doc_id, term, label
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t
  JOIN {webkg.gazetteer_values_sql()} ON list_contains(t.toks, gaz.term)
)"""


def _triples_cte() -> str:
    return f"""{_mentions_cte()},
triples AS (
  SELECT s.term AS subj, pat.pred, o.term AS obj, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM mentions s
  JOIN {webkg.patterns_values_sql()} ON s.label = pat.src_label
  JOIN mentions o ON o.doc_id = s.doc_id AND o.label = pat.dst_label AND s.term <> o.term
  GROUP BY 1, 2, 3
)"""


def _shingles_cte(n: int = 3) -> str:
    # word n-gram shingles matching Spark's sequence(0, size-n) + slice(i+1, n)
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(ts[i:i+{n - 1}], ' ')
                               for i in range(1, greatest(len(ts)-{n}+1, 1) + 1)])) AS shingle
  FROM toks
)"""


def _docgraph_ctes() -> str:
    """CTE chain to e0 = the doc-similarity graph of shingle_overlap_edges
    (pairs sharing >= 3 rare shingles): same shingle/rare blocking as the
    dedup oracles. MATERIALIZED — the truss/triangle oracles reference e0
    several times and DuckDB inlines CTEs (invariant #3)."""
    return f"""{_shingles_cte()},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
e0 AS MATERIALIZED (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM shr l JOIN shr r USING (shingle)
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)"""


def _minhash_sig_select(k: int = MINHASH_SEEDS) -> str:
    aggs = ", ".join(f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(k))
    return f"SELECT doc_id, {aggs} FROM sh GROUP BY doc_id"


def _mh_pairs_ctes() -> str:
    """CTE chain sig->banded->pairs matching minhash_band_pairs: full pairwise
    within buckets of <= MAX_DEDUP_BUCKET docs, star (bucket-min -> doc) in
    larger buckets. Shares the cap constant with the Spark side."""
    bands = ", ".join(
        f"concat_ws(':', '{b}', mh_{2 * b}, mh_{2 * b + 1})" for b in range(MINHASH_SEEDS // 2)
    )
    return f"""
sig AS ({_minhash_sig_select()}),
banded AS (SELECT doc_id, unnest([{bands}]) AS band FROM sig),
bstats AS (SELECT band, COUNT(*) AS bkt_n, min(doc_id) AS bkt_min FROM banded GROUP BY band),
tagged AS (SELECT b.doc_id, b.band, s.bkt_n, s.bkt_min FROM banded b JOIN bstats s USING (band)),
small AS (SELECT band, doc_id FROM tagged WHERE bkt_n <= {MAX_DEDUP_BUCKET}),
mh_pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM small l JOIN small r ON l.band = r.band AND l.doc_id < r.doc_id
  UNION
  SELECT bkt_min AS doc_a, doc_id AS doc_b
  FROM tagged WHERE bkt_n > {MAX_DEDUP_BUCKET} AND doc_id <> bkt_min
)"""


def _dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def _cos(a: str, b: str) -> str:
    return f"({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # same canonicalization steps as functions/urlfns.py, spelled in DuckDB's
    # dialect-safe primitives (literal replace, explicit-group regexp_extract,
    # split+filter+join — no capture-group replacement strings)
    o["url_canonical"] = """
WITH raw AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.Example' || CAST(doc_id % 50 AS VARCHAR)
                  || '.COM:443/Articles/' || CAST(doc_id AS VARCHAR)
                  || '/?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR) || '#top'
      WHEN 1 THEN 'http://News.Example' || CAST(doc_id % 50 AS VARCHAR)
                  || '.com:80/item/' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                  || '.com/a/b/' || CAST(doc_id AS VARCHAR)
                  || '/?gclid=' || CAST(doc_id AS VARCHAR) || '&q=x&utm_campaign=z'
      ELSE 'HTTP://WWW.blog.Example' || CAST(doc_id % 50 AS VARCHAR)
           || '.Org/Post/' || CAST(doc_id AS VARCHAR)
           || '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc#frag'
    END AS url
  FROM documents
),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u FROM raw),
s2 AS (SELECT *, regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS head0 FROM s1),
s3 AS (SELECT *, substr(u, length(head0) + 1) AS rest,
              replace(lower(head0), '://www.', '://') AS head1 FROM s2),
s4 AS (SELECT *, CASE WHEN head1 LIKE 'https://%' AND head1 LIKE '%:443'
                      THEN substr(head1, 1, length(head1) - 4)
                      WHEN head1 LIKE 'http://%' AND head1 LIKE '%:80'
                      THEN substr(head1, 1, length(head1) - 3)
                      ELSE head1 END AS head FROM s3),
s5 AS (SELECT *, regexp_extract(rest, '^[^?]*', 0) AS path0 FROM s4),
s6 AS (SELECT *, CASE WHEN length(rest) > length(path0)
                      THEN substr(rest, length(path0) + 2) ELSE '' END AS q FROM s5),
s7 AS (SELECT *,
    coalesce(array_to_string(list_filter(string_split(q, '&'),
      t -> NOT starts_with(t, 'utm_') AND NOT starts_with(t, 'fbclid')
           AND NOT starts_with(t, 'gclid') AND t <> ''), '&'), '') AS kept,
    CASE WHEN path0 LIKE '%/' AND length(path0) > 1
         THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path
  FROM s6)
SELECT doc_id, url,
       head || path || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
FROM s7"""

    # salt affects distribution only, never values: the oracle is the PLAIN
    # join + count the salted pipeline must be indistinguishable from
    o["kg_remap_salted"] = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS name FROM documents),
nm AS (SELECT name, md5(name) AS canonical_id
       FROM (SELECT DISTINCT name FROM toks))
SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM toks JOIN nm USING (name)
GROUP BY canonical_id"""

    # min-label propagation == min over the reachability closure: comp(n) =
    # min name reachable from n (undirected), which the recursive CTE
    # computes directly
    o["kg_components"] = f"""
WITH RECURSIVE {_triples_cte()},
e AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
und AS (SELECT a AS x, b AS y FROM e UNION SELECT b AS x, a AS y FROM e),
nodes AS (SELECT DISTINCT term AS name FROM mentions),
reach AS (
  SELECT name, name AS r FROM nodes
  UNION
  SELECT reach.name, und.y AS r FROM reach JOIN und ON reach.r = und.x
)
SELECT name, min(r) AS comp FROM reach GROUP BY name"""
    # same oracle: the component labeling is implementation-independent
    o["kg_components_star"] = o["kg_components"]

    # degree histogram of the (a<b) doc-similarity edge set: mirror,
    # count per node, count per degree — all integers.
    o["kg_degree_hist"] = f"""
WITH {_docgraph_ctes()},
und AS (SELECT a AS x FROM e0 UNION ALL SELECT b AS x FROM e0),
deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY x)
SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY deg"""

    # closeness: BFS min-distance == MIN(d) over the d-capped recursive
    # closure seeded by the SAME doc_id % 31 source sample (walk rows
    # dedup on the full (src, node, d) tuple — bounded by
    # sources x reach x rounds). (count-1)/sum is the same two-BIGINT
    # double division the Spark side performs.
    o["kg_closeness"] = f"""
WITH RECURSIVE {_docgraph_ctes()},
und AS (SELECT a AS x, b AS y FROM e0 UNION SELECT b AS x, a AS y FROM e0),
nodes AS (SELECT DISTINCT x AS name FROM und WHERE x % 31 = 0),
walk AS (
  SELECT name AS src, name AS node, 0 AS d FROM nodes
  UNION
  SELECT walk.src, und.y, walk.d + 1
  FROM walk JOIN und ON walk.node = und.x
  WHERE walk.d < 8
),
sp AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2)
SELECT src AS name,
       CAST(count(*) - 1 AS BIGINT) AS n_reach,
       CAST(sum(d) AS BIGINT) AS sum_d,
       CAST(max(d) AS BIGINT) AS ecc,
       CASE WHEN sum(d) > 0
            THEN round((count(*) - 1) / sum(d), 4) ELSE 0.0 END AS closeness
FROM sp GROUP BY src"""

    # assortativity: six exact integer moments, one closed-form double
    # expression in the identical operand order (sqrt x sqrt, then one
    # division) — NULL when either variance is degenerate.
    o["kg_assortativity"] = f"""
WITH {_docgraph_ctes()},
und AS (SELECT a AS x, b AS y FROM e0 UNION ALL SELECT b AS x, a AS y FROM e0),
deg AS (SELECT x AS name, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY x),
ends AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM und JOIN deg dx ON dx.name = und.x JOIN deg dy ON dy.name = und.y
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM ends
)
SELECT m AS m_ends,
       CASE WHEN sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy) > 0
            THEN round((m * sxy - sx * sy)
                       / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy)), 4)
            ELSE NULL END AS r_assort
FROM mom"""

    # PMI: integer doc counts, one BIGINT/BIGINT double division + ln in
    # the same operand order.
    o["kg_pmi"] = f"""
WITH {_mentions_cte()},
md AS (SELECT DISTINCT doc_id, term FROM mentions),
cx AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM md GROUP BY term),
pairs AS (
  SELECT l.term AS x, r.term AS y, CAST(count(*) AS BIGINT) AS cxy
  FROM md l JOIN md r ON l.doc_id = r.doc_id AND l.term < r.term
  GROUP BY 1, 2
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT x, y, cxy,
       round(ln((cxy * n_docs) / (a.c * b.c)), 4) AS pmi
FROM pairs JOIN cx a ON a.term = pairs.x
           JOIN cx b ON b.term = pairs.y
           CROSS JOIN n"""

    # PageRank: the fixed-iteration power recurrence unrolled as CTEs —
    # r_{k+1}(v) = (1-d)/N + d * sum_{u~v} r_k(u)/deg(u) over the mirrored
    # edge set, exactly the update the Spark loop computes (same IEEE-double
    # operand order per term; 4dp rounding of rank*N absorbs the
    # summation-order ulps).
    _pr_iters = "".join(
        f""",
r{k + 1} AS (
  SELECT und.y AS name,
         (1.0 - 0.85) / (SELECT n FROM nn)
         + 0.85 * SUM(r{k}.rank / deg.deg) AS rank
  FROM und JOIN r{k} ON r{k}.name = und.x JOIN deg ON deg.x = und.x
  GROUP BY und.y
)"""
        for k in range(8)
    )
    o["kg_pagerank"] = f"""
WITH {_triples_cte()},
e AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
und AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY x),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT x AS name, 1.0 / (SELECT n FROM nn) AS rank FROM deg){_pr_iters}
SELECT name, round(rank * (SELECT n FROM nn), 4) AS rank_norm FROM r8"""

    # weighted PageRank: same unrolled recurrence with W(u) = SUM(wt) and
    # per-edge contribution (rank/deg)*wt — parenthesized to match the
    # Spark operand order (share first, then the weight multiply).
    _wpr_iters = "".join(
        f""",
r{k + 1} AS (
  SELECT und.y AS name,
         (1.0 - 0.85) / (SELECT n FROM nn)
         + 0.85 * SUM((r{k}.rank / deg.deg) * und.wt) AS rank
  FROM und JOIN r{k} ON r{k}.name = und.x JOIN deg ON deg.x = und.x
  GROUP BY und.y
)"""
        for k in range(8)
    )
    o["kg_pagerank_weighted"] = f"""
WITH {_triples_cte()},
e AS (
  SELECT least(subj, obj) AS a, greatest(subj, obj) AS b,
         CAST(SUM(n_docs) AS BIGINT) AS wt
  FROM triples WHERE subj <> obj GROUP BY 1, 2
),
und AS (SELECT a AS x, b AS y, wt FROM e
        UNION ALL SELECT b AS x, a AS y, wt FROM e),
deg AS (SELECT x, CAST(SUM(wt) AS BIGINT) AS deg FROM und GROUP BY x),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT x AS name, 1.0 / (SELECT n FROM nn) AS rank FROM deg){_wpr_iters}
SELECT name, round(rank * (SELECT n FROM nn), 4) AS rank_norm FROM r8"""

    # weighted SSSP: the 6 Bellman-Ford rounds unrolled; all-BIGINT
    # min-plus (no floats anywhere). // is BIGINT floor division, matching
    # Spark's div on positive operands; MATERIALIZED because each d{k} is
    # referenced twice per round (relax + carry).
    _sssp_rounds = "".join(
        f""",
d{k + 1} AS MATERIALIZED (
  SELECT name, min(dist) AS dist FROM (
    SELECT und.y AS name, d{k}.dist + und.w AS dist
    FROM und JOIN d{k} ON d{k}.name = und.x
    UNION ALL SELECT name, dist FROM d{k}
  ) GROUP BY name
)"""
        for k in range(6)
    )
    o["kg_sssp"] = f"""
WITH {_triples_cte()},
e AS (
  SELECT least(subj, obj) AS a, greatest(subj, obj) AS b,
         (1000 + CAST(SUM(n_docs) AS BIGINT) - 1) // CAST(SUM(n_docs) AS BIGINT) AS w
  FROM triples WHERE subj <> obj GROUP BY 1, 2
),
und AS MATERIALIZED (SELECT a AS x, b AS y, w FROM e
                     UNION ALL SELECT b AS x, a AS y, w FROM e),
d0 AS (SELECT 'slow' AS name, CAST(0 AS BIGINT) AS dist){_sssp_rounds}
SELECT name, dist FROM d6"""

    # personalized PageRank: the seeded recurrence unrolled — base(v) =
    # (1-d)*p(v) with p uniform over the 2 smallest node names, r0 = p;
    # each round joins the per-node base back on the grouped contribution
    # sum. Same 4dp rank*N convention as kg_pagerank.
    _ppr_iters = "".join(
        f""",
r{k + 1} AS (
  SELECT und.y AS name, b.base + 0.85 * SUM(r{k}.rank / deg.deg) AS rank
  FROM und JOIN r{k} ON r{k}.name = und.x JOIN deg ON deg.x = und.x
  JOIN r0 b ON b.name = und.y
  GROUP BY und.y, b.base
)"""
        for k in range(8)
    )
    o["kg_ppr"] = f"""
WITH {_triples_cte()},
e AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
und AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
deg AS MATERIALIZED (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY x),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
sd AS (SELECT x AS name FROM deg ORDER BY x LIMIT 2),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sd),
r0 AS MATERIALIZED (
  SELECT deg.x AS name,
         CASE WHEN sd.name IS NOT NULL THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS rank,
         CASE WHEN sd.name IS NOT NULL
              THEN (1.0 - 0.85) * (1.0 / (SELECT n FROM ns)) ELSE 0.0 END AS base
  FROM deg LEFT JOIN sd ON sd.name = deg.x){_ppr_iters}
SELECT name, round(rank * (SELECT n FROM nn), 4) AS rank_norm FROM r8"""

    # link prediction: wedge enumeration through the common neighbor,
    # grouped per non-adjacent pair; jaccard = cn/(deg_u+deg_v-cn) is a
    # single division of exact integers (bit-identical across engines),
    # adamic_adar = SUM(1.0/ln(deg)) rounds at 4dp on both sides.
    o["kg_linkpred"] = f"""
WITH {_triples_cte()},
e AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
und AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY x),
wed AS (
  SELECT c1.y AS u, c2.y AS v, c1.x AS w
  FROM und c1 JOIN und c2 ON c1.x = c2.x AND c1.y < c2.y
),
cand AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn, SUM(1.0 / ln(d.deg)) AS aa
  FROM wed JOIN deg d ON d.x = wed.w
  GROUP BY u, v
),
nonadj AS (
  SELECT c.u, c.v, c.cn, c.aa FROM cand c
  LEFT JOIN e ON e.a = c.u AND e.b = c.v
  WHERE e.a IS NULL
)
SELECT n.u, n.v, n.cn,
       round(n.aa, 4) AS adamic_adar,
       round(n.cn / (du.deg + dv.deg - n.cn), 4) AS jaccard
FROM nonadj n JOIN deg du ON du.x = n.u JOIN deg dv ON dv.x = n.v"""

    # k-truss (k=3): 4 peel rounds unrolled over the doc-similarity graph;
    # per round, triangles by direct a<b<c enumeration, per-edge support by
    # crediting each triangle's 3 id-ordered pairs, then the supp >= k-2
    # filter; final support recomputed on the surviving edge set (t4/s4).
    # MATERIALIZED is load-bearing (each e{i} is referenced 4x by t{i} +
    # s-join — DuckDB would inline exponentially, same trap as kg_kcore).
    _kt_rounds = "".join(
        f""",
t{i} AS MATERIALIZED (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e{i} e1 JOIN e{i} e2 ON e2.a = e1.b
  JOIN e{i} e3 ON e3.a = e1.a AND e3.b = e2.b
),
s{i} AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS supp
  FROM (SELECT u AS a, v AS b FROM t{i}
        UNION ALL SELECT u AS a, w AS b FROM t{i}
        UNION ALL SELECT v AS a, w AS b FROM t{i}) p
  GROUP BY a, b
)""" + (
            f""",
e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i} e JOIN s{i} s ON s.a = e.a AND s.b = e.b
  WHERE s.supp >= 1
)"""
            if i < 4
            else ""
        )
        for i in range(5)
    )
    o["kg_ktruss"] = f"""
WITH {_docgraph_ctes()}{_kt_rounds}
SELECT e.a, e.b, CAST(coalesce(s.supp, 0) AS BIGINT) AS supp
FROM e4 e LEFT JOIN s4 s ON s.a = e.a AND s.b = e.b"""

    # triangle counts: direct enumeration off the a<b doc-graph edge list
    # (each triangle appears once as a<b<c); clust = 2T/deg(deg-1)
    o["kg_triangles"] = f"""
WITH {_docgraph_ctes()},
e AS (SELECT a, b FROM e0),
und AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
deg AS (SELECT x AS name, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY x),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
cnt AS (
  SELECT name, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT u AS name FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
  GROUP BY name
)
SELECT d.name,
       CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN round(2.0 * coalesce(c.n_tri, 0) / (d.deg * (d.deg - 1)), 4)
            ELSE 0.0 END AS clust
FROM deg d LEFT JOIN cnt c USING (name)"""

    # k-core: the fixed-8-round peel unrolled — round i drops nodes whose
    # degree in e{i} is < 2, then edges touching a dropped node; both
    # engines execute exactly 8 rounds, so equality holds even before the
    # peel reaches its fixpoint.
    # MATERIALIZED is load-bearing: DuckDB inlines CTEs, and each round
    # references the previous edge set ~4x — unmaterialized, e8 would expand
    # to an exponential number of parquet scans (observed: fd exhaustion).
    _kc_rounds = "".join(
        f""",
deg{i} AS MATERIALIZED (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS x FROM e{i} UNION ALL SELECT b AS x FROM e{i}) u GROUP BY x
),
keep{i} AS MATERIALIZED (SELECT x FROM deg{i} WHERE deg >= 2),
e{i + 1} AS MATERIALIZED (
  SELECT t.a, t.b FROM e{i} t
  JOIN keep{i} ka ON t.a = ka.x
  JOIN keep{i} kb ON t.b = kb.x
)"""
        for i in range(8)
    )
    o["kg_kcore"] = f"""
WITH {_triples_cte()},
e0 AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
){_kc_rounds}
SELECT x AS name, CAST(COUNT(*) AS BIGINT) AS deg
FROM (SELECT a AS x FROM e8 UNION ALL SELECT b AS x FROM e8) u GROUP BY x"""

    # HITS: the fixed-8-round recurrence unrolled (a_k = gather of h_{k-1}
    # over in-edges, h_k = gather of a_k over out-edges) — all integer sums
    # until the single final L1 normalization, same (x * N) / S operand
    # order on both engines; MATERIALIZED for the same inlining reason as
    # kg_kcore.
    _hits_rounds = "".join(
        f""",
a{k + 1} AS MATERIALIZED (
  SELECT d AS name, SUM(h) AS a FROM de JOIN h{k} ON name = s GROUP BY d
),
h{k + 1} AS MATERIALIZED (
  SELECT s AS name, SUM(a) AS h FROM de JOIN a{k + 1} ON name = d GROUP BY s
)"""
        for k in range(8)
    )
    o["kg_hits"] = f"""
WITH {_triples_cte()},
de AS MATERIALIZED (
  SELECT DISTINCT subj AS s, obj AS d FROM triples WHERE subj <> obj
),
hnodes AS MATERIALIZED (SELECT s AS name FROM de UNION SELECT d AS name FROM de),
hn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM hnodes),
h0 AS MATERIALIZED (SELECT name, 1.0 AS h FROM hnodes){_hits_rounds},
sh AS (SELECT SUM(h) AS s FROM h8),
sa AS (SELECT SUM(a) AS s FROM a8)
SELECT n.name,
       round(coalesce(h8.h, 0.0) * (SELECT n FROM hn) / (SELECT s FROM sh), 4) AS hub_norm,
       round(coalesce(a8.a, 0.0) * (SELECT n FROM hn) / (SELECT s FROM sa), 4) AS auth_norm
FROM hnodes n LEFT JOIN h8 ON h8.name = n.name LEFT JOIN a8 ON a8.name = n.name"""

    # LPA: 4 unrolled synchronous rounds; the per-node top-1 is a window
    # over the neighbor-label counts with the identical (count DESC, label
    # ASC) order both engines use. No floats anywhere.
    _lpa_rounds = "".join(
        f""",
l{k + 1} AS MATERIALIZED (
  SELECT name, label FROM (
    SELECT u.y AS name, l.label, COUNT(*) AS c,
           row_number() OVER (PARTITION BY u.y
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM lund u JOIN l{k} l ON l.name = u.x
    GROUP BY u.y, l.label
  ) t WHERE rn = 1
)"""
        for k in range(4)
    )
    o["kg_lpa"] = f"""
WITH {_triples_cte()},
le AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
lund AS MATERIALIZED (SELECT a AS x, b AS y FROM le UNION ALL SELECT b AS x, a AS y FROM le),
l0 AS MATERIALIZED (SELECT DISTINCT x AS name, x AS label FROM lund){_lpa_rounds}
SELECT name, label AS community FROM l4"""

    # modularity of the LPA partition: the identical 4 LPA rounds, then
    # exact BIGINT moments per community (e_in, deg_tot, m) and ONE
    # closed-form double per row — coalesce(e_in,0)/m minus the squared
    # half-degree fraction, written operand-for-operand as the Spark side.
    o["kg_modularity"] = f"""
WITH {_triples_cte()},
le AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
lund AS MATERIALIZED (SELECT a AS x, b AS y FROM le UNION ALL SELECT b AS x, a AS y FROM le),
l0 AS MATERIALIZED (SELECT DISTINCT x AS name, x AS label FROM lund){_lpa_rounds},
lab AS MATERIALIZED (SELECT name, label AS community FROM l4),
deg AS (SELECT x AS name, CAST(count(*) AS BIGINT) AS deg FROM lund GROUP BY x),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM le),
ein AS (
  SELECT la.community AS community, CAST(count(*) AS BIGINT) AS e_in
  FROM le JOIN lab la ON la.name = le.a JOIN lab lb ON lb.name = le.b
  WHERE la.community = lb.community GROUP BY 1
),
degc AS (
  SELECT l.community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.deg) AS BIGINT) AS deg_tot
  FROM lab l JOIN deg d ON d.name = l.name GROUP BY 1
)
SELECT degc.community, degc.n_nodes,
       CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, degc.deg_tot,
       round(coalesce(ein.e_in, 0) / m.m
             - (degc.deg_tot / (2 * m.m)) * (degc.deg_tot / (2 * m.m)), 4) + 0.0 AS q_c
FROM degc LEFT JOIN ein ON ein.community = degc.community CROSS JOIN m"""

    # Luby MIS: 4 unrolled synchronous rounds over md5(name)||name
    # priorities — per round the strict-min rule (NULL neighbor-min means
    # isolated-in-the-residual, which joins the MIS), neighbor knock-out,
    # and residual-edge restriction. MATERIALIZED per invariant #3 (every
    # CTE is referenced more than once).
    _mis_rounds = "".join(
        f""",
nb{k} AS (SELECT x, min(py) AS mn FROM e{k} GROUP BY x),
mis{k} AS MATERIALIZED (
  SELECT u.name FROM u{k} u LEFT JOIN nb{k} n ON n.x = u.name
  WHERE n.mn IS NULL OR u.p < n.mn
),
rem{k} AS MATERIALIZED (
  SELECT DISTINCT e.y AS name FROM e{k} e JOIN mis{k} mm ON e.x = mm.name
),
u{k + 1} AS MATERIALIZED (
  SELECT u.name, u.p FROM u{k} u
  WHERE NOT EXISTS (SELECT 1 FROM mis{k} mm WHERE mm.name = u.name)
    AND NOT EXISTS (SELECT 1 FROM rem{k} rr WHERE rr.name = u.name)
),
e{k + 1} AS MATERIALIZED (
  SELECT e.x, e.y, e.py FROM e{k} e
  JOIN u{k + 1} a ON a.name = e.x JOIN u{k + 1} b ON b.name = e.y
)"""
        for k in range(4)
    )
    _mis_final = "\nUNION ALL ".join(
        f"SELECT name, 'mis' AS status, CAST({k + 1} AS BIGINT) AS mis_round FROM mis{k}\n"
        f"UNION ALL SELECT name, 'removed', CAST({k + 1} AS BIGINT) FROM rem{k}"
        for k in range(4)
    )
    o["kg_mis"] = f"""
WITH {_triples_cte()},
le AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM triples WHERE subj <> obj
),
lund AS MATERIALIZED (SELECT a AS x, b AS y FROM le UNION ALL SELECT b AS x, a AS y FROM le),
u0 AS MATERIALIZED (SELECT DISTINCT x AS name, md5(x) || x AS p FROM lund),
e0 AS MATERIALIZED (
  SELECT l.x AS x, l.y AS y, p2.p AS py FROM lund l JOIN u0 p2 ON p2.name = l.y
){_mis_rounds}
SELECT name, 'undecided' AS status, CAST(-1 AS BIGINT) AS mis_round FROM u4
UNION ALL {_mis_final}"""

    # as-of attribution: DuckDB's native ASOF LEFT JOIN is an independent
    # implementation of the same backward point-in-time semantics; the 24 h
    # tolerance is applied as a post-filter (any other candidate is older
    # still, so nulling the out-of-tolerance match is exact). date_diff
    # counts second boundaries == floor-to-second subtraction, matching
    # Spark's unix_timestamp difference.
    o["events_asof"] = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       CASE WHEN p.ts - c.ts <= INTERVAL 1 DAY THEN c.click_id END AS click_id,
       CASE WHEN p.ts - c.ts <= INTERVAL 1 DAY
            THEN date_diff('second', c.ts, p.ts) END AS gap_s
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""

    # funnel: one sequential min-aggregate per step, each gated on the
    # previous step's match time; stage = 1 + completed later steps.
    # date_diff('second', ...) == Spark's unix_timestamp floor-diff (the
    # events_asof equivalence).
    o["events_funnel"] = """
WITH v AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY e.user_id
)
SELECT v.user_id,
       CAST(1 + CAST(c.user_id IS NOT NULL AS INT)
              + CAST(p.user_id IS NOT NULL AS INT) AS INT) AS stage,
       date_diff('second', v.t0, c.t1) AS sec_to_click,
       date_diff('second', v.t0, p.t2) AS sec_to_purchase
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id"""

    # range join: DuckDB's native inequality LEFT JOIN evaluates the same
    # half-open [ts, ts+30min) window the Spark side reaches through the
    # time-bucket equi-join; count(c.ts) keeps empty windows as 0 rows.
    o["events_range_join"] = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, CAST(count(c.ts) AS BIGINT) AS n_points
FROM p LEFT JOIN c
  ON c.user_id = p.user_id AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 30 MINUTE
GROUP BY p.event_id, p.user_id"""

    # cohort retention: distinct user-days, min-day cohort, day-offset
    # counts. CAST(DATE AS VARCHAR) prints ISO dates exactly like Spark's
    # date->string cast; date_diff('day', ...) on DATE values == Spark
    # datediff (whole-day integers, no timezone in play).
    # dense calendar: generate_series is inclusive like F.sequence; LOCF via
    # IGNORE NULLS over the same bounded per-key frame
    o["events_gapfill"] = """
WITH f AS (
  SELECT event_type, CAST(ts AS DATE) AS day
  FROM events WHERE user_id % 397 = 0
),
daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2
),
span AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
cal AS (
  SELECT event_type,
         CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
filled AS (
  SELECT cal.event_type, cal.day, daily.c
  FROM cal LEFT JOIN daily USING (event_type, day)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day_str,
       COALESCE(c, 0) AS cnt, c IS NULL AS is_gap,
       last_value(c IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_cnt
FROM filled"""

    o["events_retention"] = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
coh AS (SELECT user_id, min(day) AS cohort_d FROM days GROUP BY user_id)
SELECT CAST(coh.cohort_d AS VARCHAR) AS cohort_d,
       CAST(date_diff('day', coh.cohort_d, days.day) AS BIGINT) AS offset_d,
       CAST(count(*) AS BIGINT) AS n_users
FROM days JOIN coh ON days.user_id = coh.user_id
GROUP BY 1, 2"""

    # temperature remix: the identical integer pipeline — sqrt weights
    # floored to BIGINT at 2^20 scale (sqrt is correctly rounded, so the
    # quantized weights are bit-identical), BIGINT floor-division targets
    # (// == Spark DIV on positives; DuckDB's BIGINT sum() widening to
    # HUGEINT is exact), md5-order per-group ranks.
    o["sample_temperature"] = """
WITH base AS (SELECT doc_id, lang FROM documents WHERE doc_id IS NOT NULL),
cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY lang),
wts AS (SELECT lang, c,
               CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT) AS s
        FROM cnt),
tg AS (SELECT lang,
              least((CAST(200 AS BIGINT) * s) // (SELECT sum(s) FROM wts), c)
                AS n_target
       FROM wts),
rk AS (SELECT doc_id, lang,
              row_number() OVER (
                PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
              ) AS smp_rank
       FROM base)
SELECT rk.doc_id, rk.lang, CAST(rk.smp_rank AS BIGINT) AS smp_rank
FROM rk JOIN tg ON rk.lang = tg.lang
WHERE rk.smp_rank <= tg.n_target"""

    # CUBE: all four grouping sets in one statement on both engines;
    # '(all)' marks a rolled-up dimension (no real NULLs in these columns,
    # so the sentinel is unambiguous). sum(value) parity: ~60k doubles of
    # magnitude <= 1e3 — accumulation-order ulps are ~1e-9, far inside the
    # 4dp round.
    o["events_cube"] = """
WITH base AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value FROM events
)
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(day, '(all)') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM base GROUP BY CUBE(event_type, day)"""

    # trailing 7-row moving average: the frame sums <= 7 BIGINTs (exact in
    # a double in any order) then divides once — structural float parity.
    o["events_ma7"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(day AS VARCHAR) AS day, n,
       round(avg(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily"""

    # exact distinct users per type — the oracle states the semantics
    # directly; the Spark side spells the two-level shape out.
    o["events_distinct2"] = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type"""

    # sliding windows: an epoch-aligned 60/30 window contains ts iff its
    # start is one of the two 1800s-grid points below ts; floor(epoch)
    # is safe because window boundaries are integral seconds (ts and
    # floor(ts) share the same 1800s bucket). make_timestamp(us) renders
    # identically to Spark's timestamp_ntz->string cast.
    o["events_sliding"] = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type FROM events
),
w AS (
  SELECT event_type, (es // 1800) * 1800 - off.off AS ws
  FROM e CROSS JOIN (SELECT unnest([0, 1800]) AS off) off
)
SELECT CAST(make_timestamp(ws * 1000000) AS VARCHAR) AS w_start,
       CAST(make_timestamp((ws + 3600) * 1000000) AS VARCHAR) AS w_end,
       event_type, CAST(count(*) AS BIGINT) AS n_events
FROM w GROUP BY 1, 2, 3"""

    # gaps-and-islands: identical rn_all - rn_type island derivation under
    # the same (ts, event_id) total order.
    o["events_streaks"] = """
WITH isl AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS grp
  FROM events
),
runs AS (
  SELECT user_id, event_type, grp, CAST(count(*) AS BIGINT) AS streak
  FROM isl GROUP BY 1, 2, 3
),
per_type AS (
  SELECT user_id, event_type, CAST(max(streak) AS BIGINT) AS streak
  FROM runs GROUP BY 1, 2
)
SELECT user_id, event_type, streak
FROM (SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY streak DESC, event_type ASC) AS rn
      FROM per_type)
WHERE rn = 1"""

    # native session windows: session_window starts a NEW session at
    # gap >= 30 min (window end = last ts + gap, next ts >= end closes) —
    # the >= island rule here, exact interval arithmetic, no floats.
    # Equal-ts rows merge regardless of lag order (diff 0), so the
    # ts-only window order is deterministic in effect.
    o["events_session_native"] = """
WITH flg AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flg
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_s,
       CAST(sid AS BIGINT) AS sess_seq
FROM sess GROUP BY user_id, sid"""

    # Markov transitions: lead() under the same total order; the p
    # denominator is an integer window sum over the bounded
    # (type, next_type) frame.
    o["events_transitions"] = """
WITH pr AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
cnt AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS c
  FROM pr WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type, c,
       round(c / CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT), 4)
         AS p
FROM cnt"""

    # anomaly z-scores: exact integer moments (cnt, s1, s2), Bessel
    # variance and z in the identical closed-form operand order.
    o["events_anomaly"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, day, n,
         CAST(count(*) OVER w AS BIGINT) AS cnt,
         CAST(sum(n) OVER w AS BIGINT) AS s1,
         CAST(sum(n * n) OVER w AS BIGINT) AS s2
  FROM daily WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type, CAST(day AS VARCHAR) AS day, n,
       CASE WHEN (cnt * s2 - s1 * s1) / (cnt * (cnt - 1)) > 0
            THEN round((n - s1 / cnt)
                       / sqrt((cnt * s2 - s1 * s1) / (cnt * (cnt - 1))), 4)
            ELSE 0.0 END AS z
FROM m WHERE cnt >= 2"""

    # kg_name_map: band keys and fuzzy verdicts are DETERMINISTIC functions
    # of the name strings alone, so they are precomputed HERE from the same
    # corelib the Spark UDFs call (minhash_band_keys / fuzzy_match) over the
    # full possible vocabulary (gazetteer terms + 's' variants) and embedded
    # as VALUES tables; the SQL then applies the identical data-dependent
    # steps — restrict to present names, band-bucket cap, blocked self-join,
    # fuzzy join, recursive-CTE CC, longest-name-then-asc canonical. The
    # fuzzy VALUES cover every pair sharing ANY band over the full
    # vocabulary, a superset of any data subset's blocked pairs (band keys
    # are per-name), so the inner join is exact at every SF.
    from collections import defaultdict

    from medical_doc_knowledge_graph_system_spark.corelib.similarity import (
        MAX_LSH_BUCKET,
        fuzzy_match,
        minhash_band_keys,
    )

    _nm_vocab = sorted(set(webkg.WEB_GAZETTEER) | {t + "s" for t in webkg.WEB_GAZETTEER})
    _nm_band_rows = ", ".join(
        f"('{n}', '{b}')" for n in _nm_vocab for b in minhash_band_keys(n)
    )
    _nm_byband: dict[str, set[str]] = defaultdict(set)
    for _n in _nm_vocab:
        for _b in minhash_band_keys(_n):
            _nm_byband[_b].add(_n)
    _nm_fz = sorted(
        {
            (a, b)
            for mem in _nm_byband.values()
            if len(mem) >= 2
            for a in mem
            for b in mem
            if a < b and fuzzy_match(a, b)
        }
    )
    _nm_fz_rows = ", ".join(f"('{a}', '{b}')" for a, b in _nm_fz)
    o["kg_name_map"] = f"""
WITH RECURSIVE {_mentions_cte()},
base AS (SELECT DISTINCT term AS name FROM mentions),
names AS (SELECT name FROM base UNION SELECT name || 's' FROM base),
vb(name, band) AS (VALUES {_nm_band_rows}),
banded AS (SELECT vb.name, vb.band FROM vb JOIN names USING (name)),
ok_bands AS (SELECT band FROM banded GROUP BY band
             HAVING COUNT(DISTINCT name) BETWEEN 2 AND {MAX_LSH_BUCKET}),
pruned AS (SELECT banded.name, banded.band FROM banded JOIN ok_bands USING (band)),
cand AS (SELECT DISTINCT l.name AS a, r.name AS b
         FROM pruned l JOIN pruned r ON l.band = r.band AND l.name < r.name),
fz(a, b) AS (VALUES {_nm_fz_rows}),
edges AS (SELECT cand.a, cand.b FROM cand JOIN fz USING (a, b)),
und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
reach AS (
  SELECT name, name AS r FROM names
  UNION
  SELECT reach.name, und.y AS r FROM reach JOIN und ON reach.r = und.x
),
members AS (SELECT name, min(r) AS comp FROM reach GROUP BY name),
canon AS (SELECT comp, name AS canonical FROM (
    SELECT comp, name,
           row_number() OVER (PARTITION BY comp ORDER BY length(name) DESC, name) AS rn
    FROM members) WHERE rn = 1)
SELECT m.name, c.canonical FROM members m JOIN canon c USING (comp)"""

    o["kg_mentions"] = f"WITH {_mentions_cte()} SELECT doc_id, term, label FROM mentions"
    o["kg_mention_counts"] = (
        f"WITH {_mentions_cte()} SELECT term, label, CAST(COUNT(*) AS BIGINT) AS n_docs "
        "FROM mentions GROUP BY term, label"
    )
    o["kg_triples"] = f"WITH {_triples_cte()} SELECT subj, pred, obj, n_docs FROM triples"
    o["kg_cooccur_topk"] = f"""
WITH {_mentions_cte()}
SELECT l.term AS term_a, r.term AS term_b, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM mentions l JOIN mentions r ON l.doc_id = r.doc_id AND l.term < r.term
GROUP BY 1, 2
ORDER BY n_docs DESC, term_a, term_b
LIMIT 20"""
    o["kg_khop2"] = f"""
WITH {_triples_cte()},
und AS (
  SELECT subj, obj FROM triples
  UNION
  SELECT obj AS subj, subj AS obj FROM triples
),
hop1 AS (SELECT DISTINCT obj AS node_id FROM und WHERE subj = 'join' AND obj <> 'join'),
hop2 AS (
  SELECT DISTINCT u.obj AS node_id
  FROM und u JOIN hop1 h ON u.subj = h.node_id
  WHERE u.obj <> 'join' AND u.obj NOT IN (SELECT node_id FROM hop1)
)
SELECT node_id, 1 AS hops FROM hop1
UNION ALL
SELECT node_id, 2 AS hops FROM hop2"""
    o["kg_chunks"] = """
SELECT doc_id, chunk_idx,
       substring(text, chunk_idx * 100 + 1, 120) AS chunk_text,
       chunk_idx * 100 AS start_char,
       substring(md5(concat_ws('::', doc_id, chunk_idx)), 1, 16) AS chunk_id
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(CAST(ceil(length(text) / 100.0) AS INT), 1) - 1)) AS chunk_idx
  FROM documents
) t"""
    o["kg_provenance"] = f"""
WITH {_mentions_cte()}
SELECT m.doc_id, m.term, m.label, d.source, d.lang, d.n_chars
FROM mentions m JOIN documents d ON m.doc_id = d.doc_id"""

    o["text_token_stats"] = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INT) AS token_count,
       CAST(len(list_distinct({_TOKS})) AS INT) AS distinct_token_count,
       round(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) * 1.0
             / len({_TOKS}), 4) AS avg_token_len
FROM documents"""
    stopws = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    o["text_quality"] = f"""
WITH base AS (
  SELECT doc_id, n_chars,
         CAST(len({_TOKS}) AS INT) AS token_count,
         len(list_filter({_TOKS}, t -> list_contains([{stopws}], t))) * 1.0
           / len({_TOKS}) AS stop_ratio,
         length(regexp_replace(lower(trim(text)), '[^a-z]', '', 'g')) * 1.0
           / length(lower(trim(text))) AS alpha_ratio
  FROM documents
)
SELECT doc_id, n_chars, token_count,
       round(stop_ratio, 4) AS stopword_ratio,
       round(alpha_ratio, 4) AS alpha_ratio,
       round(0.4 * least(token_count / 100.0, 1.0)
             + 0.3 * least(stop_ratio * 2.0, 1.0)
             + 0.3 * alpha_ratio, 4) AS quality_score
FROM base"""
    langs = sorted(LANG_MARKERS)
    score_exprs = ", ".join(
        "CAST(len(list_filter({t}, x -> list_contains([{ms}], x))) AS INT) AS score_{lg}".format(
            t=_TOKS, ms=", ".join(f"'{m}'" for m in LANG_MARKERS[lg]), lg=lg
        )
        for lg in langs
    )
    argmax = "CASE WHEN " + " + ".join(f"score_{lg}" for lg in langs) + " = 0 THEN 'und' "
    for i, lg in enumerate(langs):
        conds = " AND ".join(f"score_{lg} >= score_{other}" for other in langs[i + 1 :])
        argmax += f"WHEN {conds or 'TRUE'} THEN '{lg}' "
    argmax += "END"
    o["text_langid"] = f"""
WITH scored AS (SELECT doc_id, lang AS lang_actual, {score_exprs} FROM documents)
SELECT doc_id, lang_actual, {argmax} AS lang_guess, {", ".join(f"score_{lg}" for lg in langs)}
FROM scored"""
    o["text_fingerprint"] = f"""
SELECT doc_id, md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
FROM documents"""

    o["dedup_exact"] = """
SELECT doc_id, md5(text) AS text_hash,
       (COUNT(*) OVER (PARTITION BY md5(text))) > 1 AS is_dup
FROM documents"""
    o["dedup_minhash_sig"] = f"WITH {_shingles_cte()} {_minhash_sig_select()}"
    o["dedup_minhash_pairs"] = f"""
WITH {_shingles_cte()},{_mh_pairs_ctes()}
SELECT DISTINCT doc_a, doc_b FROM mh_pairs"""
    o["dedup_ngram_jaccard"] = f"""
WITH {_shingles_cte()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM shr l JOIN shr r USING (shingle)
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8"""
    # dedup_cluster: candidate pairs + Jaccard verify reuse the shared CTE
    # builders; components via the same recursive-reachability closure as
    # kg_components (comp = min doc_id reachable over verified dup edges).
    o["dedup_cluster"] = f"""
WITH RECURSIVE {_shingles_cte()},{_mh_pairs_ctes()},
cand AS (SELECT DISTINCT doc_a, doc_b FROM mh_pairs),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
dedges AS (
  SELECT doc_a AS a, doc_b AS b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8
),
dund AS (SELECT a AS x, b AS y FROM dedges UNION SELECT b AS x, a AS y FROM dedges),
dreach AS (
  SELECT doc_id AS name, doc_id AS r FROM documents
  UNION
  SELECT dreach.name, dund.y AS r FROM dreach JOIN dund ON dreach.r = dund.x
),
dcomp AS (SELECT name AS doc_id, min(r) AS cluster_id FROM dreach GROUP BY name)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_cluster,
       doc_id = cluster_id AS keep
FROM dcomp"""

    o["dedup_containment"] = f"""
WITH {_shingles_cte()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM shr l JOIN shr r USING (shingle)
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / sa.n_sh, 4) AS cont_a,
       round(n_inter * 1.0 / sb.n_sh, 4) AS cont_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter * 1.0 / sa.n_sh, 4) >= 0.5
   OR round(n_inter * 1.0 / sb.n_sh, 4) >= 0.5"""

    # brute-force all-pairs word-set Jaccard >= 3/5 on the % 7 doc subset:
    # the prefix-filter join is lossless, so its output must equal this
    # exactly (integer cross-multiplication decides membership on both
    # sides — no float boundary can disagree)
    o["dedup_prefix_filter"] = f"""
WITH toksd AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({_TOKS})) AS token
  FROM documents WHERE doc_id % 7 = 0
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toksd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM toksd a JOIN toksd b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
       round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 5 * n_inter >= 3 * (sa.n + sb.n - n_inter)"""

    bit_sums = ", ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(60)
    )
    bit_recon = " + ".join(
        f"(CASE WHEN b{j} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)" for j in range(60)
    )
    o["dedup_simhash"] = f"""
WITH tokh AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS th
  FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS token FROM documents) t
),
sums AS (SELECT doc_id, {bit_sums} FROM tokh GROUP BY doc_id)
SELECT doc_id, {bit_recon} AS simhash FROM sums"""

    emb = "embedding::DOUBLE[]"
    o["sim_topk"] = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_embedding FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_cos("q.q_embedding", "e.embedding")}, 4) AS score
  FROM e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5"""
    blk = ", ".join(
        f"CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
    )
    o["sim_neardup"] = f"""
WITH keyed AS (SELECT vec_id, {emb} AS embedding, concat_ws('', {blk}) AS blk FROM embeddings)
SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
       round({_cos("l.embedding", "r.embedding")}, 4) AS score
FROM keyed l JOIN keyed r USING (blk)
WHERE l.vec_id < r.vec_id
  AND round({_cos("l.embedding", "r.embedding")}, 4) >= 0.25"""
    o["sim_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM e ORDER BY vec_id LIMIT 16),
scored_assign AS (
  SELECT e.vec_id, e.embedding, cents.cell,
         round({_cos("e.embedding", "cents.c_emb")}, 6) AS cs,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({_cos("e.embedding", "cents.c_emb")}, 6) DESC,
                                     cents.cell ASC) AS rn
  FROM e, cents
),
assigned AS (SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
q AS (
  SELECT a.vec_id AS query_id, a.embedding AS q_embedding, a.cell AS q_cell
  FROM assigned a WHERE a.vec_id < 5
),
scored AS (
  SELECT q.query_id, a.vec_id,
         round({_cos("q.q_embedding", "a.embedding")}, 4) AS score
  FROM assigned a JOIN q ON a.cell = q.q_cell
  WHERE a.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5"""
    band_keys = ", ".join(
        "'{b}:' || concat_ws('', {bits})".format(
            b=b,
            bits=", ".join(
                f"CASE WHEN embedding[{b * 8 + i + 1}] >= 0 THEN '1' ELSE '0' END"
                for i in range(8)
            ),
        )
        for b in range(3)
    )
    o["sim_neardup_bands"] = f"""
WITH keyed AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
bands AS (SELECT vec_id, unnest([{band_keys}]) AS blk FROM keyed),
cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM bands l JOIN bands r USING (blk)
  WHERE l.vec_id < r.vec_id
)
SELECT vec_a, vec_b,
       round({_cos("a.embedding", "b.embedding")}, 4) AS score
FROM cand JOIN keyed a ON a.vec_id = vec_a JOIN keyed b ON b.vec_id = vec_b
WHERE round({_cos("a.embedding", "b.embedding")}, 4) >= 0.25"""
    o["sim_ivf_probe2"] = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM e ORDER BY vec_id LIMIT 16),
scored_assign AS (
  SELECT e.vec_id, e.embedding, cents.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({_cos("e.embedding", "cents.c_emb")}, 6) DESC,
                                     cents.cell ASC) AS rn
  FROM e, cents
),
assigned AS (SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
qprobe AS (
  SELECT e.vec_id AS query_id, e.embedding AS q_embedding, cents.cell AS q_cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({_cos("e.embedding", "cents.c_emb")}, 6) DESC,
                                     cents.cell ASC) AS qrn
  FROM e, cents WHERE e.vec_id < 5
),
probes AS (SELECT query_id, q_embedding, q_cell FROM qprobe WHERE qrn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({_cos("p.q_embedding", "a.embedding")}, 4) AS score
  FROM assigned a JOIN probes p ON a.cell = p.q_cell
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5"""
    # SemDeDup: same assignment CTE as the IVF oracles, then within-cell
    # pairs only; _cos operand order (earlier vector first) matches the
    # Spark expression exactly.
    o["sim_semdedup"] = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM e ORDER BY vec_id LIMIT 16),
scored_assign AS (
  SELECT e.vec_id, e.embedding, cents.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({_cos("e.embedding", "cents.c_emb")}, 6) DESC,
                                     cents.cell ASC) AS rn
  FROM e, cents
),
assigned AS (SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
pairs AS (
  SELECT r.vec_id, l.vec_id AS dup_of,
         round({_cos("l.embedding", "r.embedding")}, 4) AS score
  FROM assigned l JOIN assigned r ON l.cell = r.cell AND l.vec_id < r.vec_id
  WHERE round({_cos("l.embedding", "r.embedding")}, 4) >= 0.25
),
ranked AS (
  SELECT vec_id, dup_of, score,
         row_number() OVER (PARTITION BY vec_id ORDER BY dup_of ASC) AS rn
  FROM pairs
)
SELECT vec_id, dup_of, score FROM ranked WHERE rn = 1"""

    # sim_kmeans: the 2-round quantized-Lloyd recurrence unrolled. dist via
    # the dot-product identity |a|^2 - 2ab + |b|^2 — every term an integer
    # <= 2^48, exact in a double, so the BIGINT cast equals Spark's direct
    # zip_with sum; centroid update = per-dim BIGINT sum // count (both
    # operands positive, so DuckDB // == Spark div).
    def _km_round(i: int) -> str:
        return f"""
d{i} AS (
  SELECT e.vec_id, c.cid,
         CAST(list_dot_product(e.qe, e.qe) - 2 * list_dot_product(e.qe, c.ce)
              + list_dot_product(c.ce, c.ce) AS BIGINT) AS dist
  FROM e, c{i - 1} c
),
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{i}) WHERE rn = 1
),
s{i} AS (
  SELECT a.cid, t.i, CAST(SUM(e.qe[t.i]) AS BIGINT) AS s_,
         CAST(COUNT(*) AS BIGINT) AS n_
  FROM a{i} a JOIN e USING (vec_id), range(1, 65) t(i)
  GROUP BY 1, 2
),
c{i} AS (SELECT cid, list(s_ // n_ ORDER BY i) AS ce FROM s{i} GROUP BY cid)"""

    o["sim_kmeans"] = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform({emb},
                        x -> CAST(floor(x * 1048576.0) AS BIGINT) + 1048576) AS qe
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id < 4),{_km_round(1)},{_km_round(2)},
df_ AS (
  SELECT e.vec_id, c.cid,
         CAST(list_dot_product(e.qe, e.qe) - 2 * list_dot_product(e.qe, c.ce)
              + list_dot_product(c.ce, c.ce) AS BIGINT) AS dist
  FROM e, c2 c
),
af AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM df_) WHERE rn = 1
)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia, MIN(vec_id) AS rep
FROM af GROUP BY cid"""

    o["rerank_class_cap"] = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding, label FROM embeddings),
qv AS (SELECT embedding AS q_embedding FROM e WHERE vec_id = 0),
scored AS (
  SELECT e.label AS class, e.vec_id,
         round({_cos("qv.q_embedding", "e.embedding")}, 4) AS score
  FROM e, qv WHERE e.vec_id <> 0
),
ranked AS (
  SELECT class, vec_id, score,
         row_number() OVER (PARTITION BY class ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored WHERE score >= 0.25
)
SELECT class, vec_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 8"""

    o["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_str,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2"""
    # streaming variant drains to the identical aggregate — same oracle
    o["stream_hourly"] = o["events_hourly"]
    o["tpch_pricing"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""
    o["tpch_top_customers"] = """
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 10"""
    o["events_user_rank"] = """
WITH per_user AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, user_id, n,
         row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rnk
  FROM per_user
)
SELECT event_type, user_id, n, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 3"""

    o["kg_next_chunk"] = """
WITH ch AS (
  SELECT doc_id, chunk_idx,
         substring(md5(concat_ws('::', doc_id, chunk_idx)), 1, 16) AS chunk_id
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(0, greatest(CAST(ceil(length(text) / 100.0) AS INT), 1) - 1)) AS chunk_idx
    FROM documents
  ) t
)
SELECT doc_id, chunk_idx, chunk_id,
       lead(chunk_id) OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS next_chunk_id
FROM ch"""
    o["kg_label_collect"] = f"""
WITH {_mentions_cte()},
dm AS (SELECT DISTINCT term, label FROM mentions)
SELECT label,
       string_agg(term, '|' ORDER BY term) AS terms,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM dm GROUP BY label"""
    # Simple-path enumeration oracle for the BFS operators: min (hops, path,
    # rels) over all simple paths == the BFS result (every prefix of a
    # shortest path is itself shortest, and min-per-node prefixes compose to
    # the global min path — see graph_queries.shortest_path).
    _paths_rec = f"""
WITH RECURSIVE {_triples_cte()},
und AS (
  SELECT subj AS x, obj AS y, pred AS rel FROM triples
  UNION
  SELECT obj AS x, subj AS y, pred AS rel FROM triples
),
paths(y, path, rels, hops) AS (
  SELECT 'slow', ['slow'], []::VARCHAR[], 0
  UNION ALL
  SELECT u.y, list_append(p.path, u.y), list_append(p.rels, u.rel), p.hops + 1
  FROM paths p JOIN und u ON u.x = p.y
  WHERE NOT list_contains(p.path, u.y) AND p.hops < {{max_hops}} AND p.y <> 'table'
)
SELECT CAST(hops AS INT) AS hops,
       array_to_string(path, '|') AS path_str,
       array_to_string(rels, '|') AS rels_str
FROM paths WHERE y = 'table'
ORDER BY hops, path, rels LIMIT {{lim}}"""
    o["kg_shortest_path"] = _paths_rec.format(max_hops=4, lim=1)
    o["kg_paths"] = _paths_rec.format(max_hops=3, lim=5)
    # Per-seed simple-path enumeration; first-arrival per (seed, target) ==
    # per-pair BFS shortest path (multi_source_shortest_paths docstring).
    o["kg_reasoning_paths"] = f"""
WITH RECURSIVE {_triples_cte()},
und AS (
  SELECT subj AS x, obj AS y, pred AS rel FROM triples
  UNION
  SELECT obj AS x, subj AS y, pred AS rel FROM triples
),
seeds(s) AS (VALUES ('slow'), ('scan')),
paths(seed_id, y, path, rels, hops) AS (
  SELECT s, s, [s], []::VARCHAR[], 0 FROM seeds
  UNION ALL
  SELECT p.seed_id, u.y, list_append(p.path, u.y), list_append(p.rels, u.rel), p.hops + 1
  FROM paths p JOIN und u ON u.x = p.y
  WHERE NOT list_contains(p.path, u.y) AND p.hops < 3
),
hits AS (
  SELECT seed_id, y AS target_id, hops, path, rels,
         row_number() OVER (PARTITION BY seed_id, y
                            ORDER BY hops, path, rels) AS rn
  FROM paths
  WHERE y IN ('table', 'join') AND y <> seed_id
)
SELECT seed_id, target_id, CAST(hops AS INT) AS hops,
       array_to_string(path, '|') AS path_str,
       array_to_string(rels, '|') AS rels_str
FROM hits WHERE rn = 1"""
    o["kg_khop_rel"] = f"""
WITH {_triples_cte()},
und AS (
  SELECT DISTINCT x, y FROM (
    SELECT subj AS x, obj AS y FROM triples WHERE pred IN ('APPLIED_TO', 'EXECUTES')
    UNION
    SELECT obj AS x, subj AS y FROM triples WHERE pred IN ('APPLIED_TO', 'EXECUTES')
  )
),
hop1 AS (SELECT DISTINCT y AS node_id FROM und WHERE x = 'join' AND y <> 'join'),
hop2 AS (
  SELECT DISTINCT u.y AS node_id
  FROM und u JOIN hop1 h ON u.x = h.node_id
  WHERE u.y <> 'join' AND u.y NOT IN (SELECT node_id FROM hop1)
)
SELECT * FROM (
  SELECT node_id, 1 AS hops FROM hop1
  UNION ALL
  SELECT node_id, 2 AS hops FROM hop2
) ORDER BY hops, node_id LIMIT 100"""
    o["events_sessions"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
),
per_sess AS (
  SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions, max(n_events) AS max_session_events
FROM per_sess GROUP BY user_id"""
    o["dedup_union"] = f"""
WITH {_shingles_cte()},{_mh_pairs_ctes()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM shr l JOIN shr r USING (shingle)
  WHERE l.doc_id < r.doc_id GROUP BY 1, 2
),
jac_pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8
)
SELECT doc_a, doc_b FROM mh_pairs UNION SELECT doc_a, doc_b FROM jac_pairs"""

    # multimodal: md5-digest features over utf-8 payload bytes (md5(text) in
    # DuckDB hashes the same bytes Spark's encode(text,'UTF-8') ships to the
    # pandas UDF); features[i] = digest_byte[i]/255.0 computed in doubles on
    # both sides, rounded 4dp
    o["mm_features"] = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
       CAST(strlen(coalesce(text, '')) AS INT) AS payload_bytes,
       round(CAST(('0x' || substr(md5(coalesce(text, '')), 1, 2)) AS INT) / 255.0, 4) AS f0,
       round(CAST(('0x' || substr(md5(coalesce(text, '')), 17, 2)) AS INT) / 255.0, 4) AS f8
FROM documents"""
    o["mm_frame_sample"] = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(unnest(generate_series(0, greatest(CAST(n_chars % 9000 AS INT) + 1000 - 1, 0), 1000)) AS INT) AS frame_ts_ms
FROM documents WHERE doc_id % 3 = 2"""

    o["curate_docs"] = f"""
WITH {_shingles_cte()},{_mh_pairs_ctes()},
base AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS INT) AS token_count,
         len(list_filter({_TOKS}, t -> list_contains([{stopws}], t))) * 1.0
           / len({_TOKS}) AS stop_ratio,
         length(regexp_replace(lower(trim(text)), '[^a-z]', '', 'g')) * 1.0
           / length(lower(trim(text))) AS alpha_ratio,
         {score_exprs},
         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
  FROM documents
),
scored AS (
  SELECT doc_id,
         {argmax} AS lang_guess,
         token_count,
         round(0.4 * least(token_count / 100.0, 1.0)
               + 0.3 * least(stop_ratio * 2.0, 1.0)
               + 0.3 * alpha_ratio, 4) AS quality_score,
         keep_id
  FROM base
)
SELECT doc_id, lang_guess, token_count, quality_score
FROM scored
WHERE lang_guess = 'en' AND quality_score >= 0.45 AND doc_id = keep_id
  AND doc_id NOT IN (SELECT doc_b FROM mh_pairs)"""

    o["sample_tokens"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS INT) AS token_count,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, token_count,
         CAST(SUM(token_count) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, token_count, cum_tokens FROM c WHERE cum_tokens <= 20000"""

    # sequence packing: same cumulative-sum CTE, then per-row pack-range
    # arithmetic (generate_series is inclusive on both ends, matching
    # F.sequence; // is BIGINT floor division on the non-negative offsets)
    o["sample_pack"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS INT) AS tc,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, tc,
         CAST(SUM(tc) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum
  FROM t
),
e AS (
  SELECT doc_id, tc, cum - tc AS g0,
         unnest(generate_series((cum - tc) // 64, (cum - 1) // 64)) AS pack_id
  FROM c
)
SELECT doc_id,
       CAST(pack_id AS BIGINT) AS pack_id,
       CAST(greatest(pack_id * 64, g0) - g0 AS BIGINT) AS doc_offset,
       CAST(least((pack_id + 1) * 64, g0 + tc) - greatest(pack_id * 64, g0) AS BIGINT)
         AS seg_len
FROM e"""

    # pattern shared verbatim with the Spark side (SQL string literals do not
    # process backslash escapes, so the regex reaches RE2 exactly as written)
    o["text_bpe_tokens"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT)
         AS bpe_token_count
FROM documents"""
    o["text_rolling_hash"] = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({_TOKS}, t -> CAST(('0x' || substr(md5(t), 1, 10)) AS BIGINT))),
         (acc, h) -> (acc * 31 + h) % 1099511627776) AS rolling_hash
FROM documents"""
    o["sample_stratified"] = """
SELECT doc_id, source, smp_rank
FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS INT) AS smp_rank
  FROM documents
  WHERE doc_id IS NOT NULL
)
WHERE smp_rank <= 20"""
    # the two-phase plan must be indistinguishable from the single window
    o["sample_stratified_2phase"] = o["sample_stratified"]
    o["text_repetition"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                        i -> concat_ws(' ', t[i], t[i+1])) AS grams
  FROM toks
),
f AS (
  SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams,
         CASE WHEN len(grams) > 0
              THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 4)
              ELSE 0.0 END AS dup_ngram_frac
  FROM g
)
SELECT doc_id, n_ngrams, dup_ngram_frac, dup_ngram_frac > 0.2 AS flag_repetitive
FROM f"""

    # corpus bigram counts, top-100 under the (c DESC, ngram ASC) total
    # order — deterministic ties, so LIMIT selects the same SET. Same
    # full-window multiset grams as text_repetition.
    o["text_ngram_topk"] = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
g AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> concat_ws(' ', t[i], t[i+1]))) AS ngram
  FROM toks
)
SELECT ngram, CAST(count(*) AS BIGINT) AS c
FROM g GROUP BY ngram
ORDER BY c DESC, ngram ASC
LIMIT 100"""

    # bigram LM: two equal-length unnests zip positionally in DuckDB, so
    # (w1, w2) pairs come straight off the token array; integer counts,
    # one exact double division rounded 4dp (both engines divide the same
    # two BIGINTs — c1 is an integer sum, order-free).
    o["text_bigram_lm"] = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
pr AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i+1])) AS w2
  FROM toks
),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pr GROUP BY 1, 2),
tot AS (
  SELECT w1, w2, c12,
         CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
         row_number() OVER (PARTITION BY w1 ORDER BY c12 DESC, w2 ASC) AS rn
  FROM big
)
SELECT w1, w2 AS w2_top, c1, c12, round(c12 / c1, 4) AS p
FROM tot WHERE rn = 1 AND c1 >= 5"""

    # per-doc LM surprisal: the same positional-zip bigrams retained per
    # doc as a pre-aggregate (dpg, MATERIALIZED — it feeds both the global
    # count and the scoring join); per-bigram floor(ln(c1/c12)*1e5) is a
    # BIGINT, so the per-doc sums are order-free; one closed-form double.
    o["text_doc_surprisal"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dp AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i+1])) AS w2
  FROM toks WHERE len(t) >= 2
),
dpg AS MATERIALIZED (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k FROM dp GROUP BY 1, 2, 3
),
c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM dpg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
st AS (
  SELECT c12.w1, c12.w2,
         CAST(floor(ln(c1.c1 / c12.c12) * 100000.0) AS BIGINT) AS sq
  FROM c12 JOIN c1 ON c1.w1 = c12.w1
)
SELECT g.doc_id, CAST(sum(g.k) AS BIGINT) AS n_bigrams,
       CAST(sum(g.k * s.sq) AS BIGINT) AS sum_sq,
       round(CAST(sum(g.k * s.sq) AS DOUBLE) / CAST(sum(g.k) AS BIGINT)
             / 100000.0, 4) AS mean_nats
FROM dpg g JOIN st s ON s.w1 = g.w1 AND s.w2 = g.w2
GROUP BY g.doc_id"""

    # DSIR weights: hashed unigram+bigram buckets (md5-prefix hex cast,
    # invariant #3), add-one-smoothed target/raw models, floor-quantized
    # ln of exact BIGINT-product ratios; per-doc sums integer-exact.
    o["sample_dsir"] = f"""
WITH base AS (SELECT doc_id, (lang = 'en') AS tgt, {_TOKS} AS t FROM documents),
uni AS (SELECT doc_id, tgt, unnest(t) AS g FROM base),
bi AS (
  SELECT doc_id, tgt,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i] || ' ' || t[i+1])) AS g
  FROM base WHERE len(t) >= 2
),
feats AS (
  SELECT doc_id, tgt,
         CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS f
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
dk AS MATERIALIZED (
  SELECT doc_id, tgt, f, CAST(count(*) AS BIGINT) AS k FROM feats GROUP BY 1, 2, 3
),
cr AS (SELECT f, CAST(sum(k) AS BIGINT) AS cr FROM dk GROUP BY f),
ct AS (SELECT f, CAST(sum(k) AS BIGINT) AS ct FROM dk WHERE tgt GROUP BY f),
tots AS (
  SELECT CAST(sum(k) AS BIGINT) AS c_raw,
         CAST(sum(CASE WHEN tgt THEN k ELSE 0 END) AS BIGINT) AS c_tgt FROM dk
),
lr AS (
  SELECT cr.f,
         CAST(floor(ln(((coalesce(ct.ct, 0) + 1) * (tots.c_raw + 1024))
                       / ((cr.cr + 1) * (tots.c_tgt + 1024))) * 100000.0)
              AS BIGINT) AS lrq
  FROM cr LEFT JOIN ct ON ct.f = cr.f CROSS JOIN tots
)
SELECT dk.doc_id, CAST(sum(dk.k) AS BIGINT) AS n_feat,
       CAST(sum(dk.k * lr.lrq) AS BIGINT) AS w_q,
       round(CAST(sum(dk.k * lr.lrq) AS DOUBLE) / CAST(sum(dk.k) AS BIGINT)
             / 100000.0, 4) + 0.0 AS lr_mean
FROM dk JOIN lr ON lr.f = dk.f GROUP BY dk.doc_id"""

    # dyadic EWMA: alpha = 1/2 decayed daily counts — all weights are
    # powers of two, so every term is exact in binary and both engines
    # evaluate the identical left-associated closed form over lag rows.
    o["events_ewma"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(day AS VARCHAR) AS day, n,
       round(CAST(n AS DOUBLE)
             + coalesce(lag(n, 1) OVER w, 0) / 2.0
             + coalesce(lag(n, 2) OVER w, 0) / 4.0
             + coalesce(lag(n, 3) OVER w, 0) / 8.0
             + coalesce(lag(n, 4) OVER w, 0) / 16.0
             + coalesce(lag(n, 5) OVER w, 0) / 32.0
             + coalesce(lag(n, 6) OVER w, 0) / 64.0
             + coalesce(lag(n, 7) OVER w, 0) / 128.0, 4) AS ewma
FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)"""

    # inverted index: ordered array_agg sliced to 20, stringified per
    # element then joined (matches Spark's sort_array + transform cast +
    # array_join); coalesce per invariant #3 (array_to_string on an empty
    # list is NULL in DuckDB, '' in Spark).
    o["text_inverted_index"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pairs AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       coalesce(array_to_string(
         list_transform(list_slice(array_agg(doc_id ORDER BY doc_id), 1, 20),
                        x -> CAST(x AS VARCHAR)), ','), '') AS postings
FROM pairs GROUP BY term"""

    # TF-IDF: integer tf/df, scalar N, one ln over the same BIGINT/BIGINT
    # double division; rank on the ROUNDED score + term tiebreak (the
    # total order both engines share).
    o["text_tfidf_topk"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM pairs GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(n.n_docs / dfreq.df), 4) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= 3"""

    # vocab growth: "introduced by min doc_id" + a running sum in doc_id
    # order (unique key, so RANGE == ROWS frame).
    o["text_vocab_growth"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pairs AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
),
intro AS (SELECT term, min(doc_id) AS doc_id FROM pairs GROUP BY term),
newc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
         FROM intro GROUP BY doc_id),
base AS (
  SELECT d.doc_id, coalesce(n.n_new, 0) AS n_new
  FROM documents d LEFT JOIN newc n ON n.doc_id = d.doc_id
)
SELECT doc_id, CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_new) OVER (ORDER BY doc_id) AS BIGINT) AS vocab
FROM base"""

    # global rank: the oracle IS the bare global window the distributed
    # two-phase spelling must be indistinguishable from.
    o["docs_global_rank"] = """
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM documents"""
    # PII scrub: patterns come verbatim from PII_PATTERNS (no drift); the
    # synthetic PII fixture mirrors the Spark side expression for
    # expression. DuckDB regexp_replace needs the explicit 'g' flag (Spark
    # replaces all matches by default).
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        PII_PATTERNS,
    )

    _pii_counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items()
    )
    _pii_scrub_expr = "t"
    for _kind, _pat in PII_PATTERNS.items():
        _pii_scrub_expr = (
            f"regexp_replace({_pii_scrub_expr}, '{_pat}', '<{_kind.upper()}>', 'g')"
        )
    o["text_pii_scrub"] = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST(doc_id % 256 AS VARCHAR)
              || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         AS t
  FROM documents
)
SELECT doc_id, {_pii_counts}, {_pii_scrub_expr} AS scrubbed
FROM aug"""

    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        GOPHER_STOPWORDS as _GSW,
    )

    _gsw = ", ".join(f"'{w}'" for w in _GSW)
    o["text_gopher_rules"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS INT) AS word_count,
         length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) * 1.0
           / len({_TOKS}) AS mwl,
         len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]'))) * 1.0
           / len({_TOKS}) AS af,
         len(list_filter({_TOKS},
             t -> contains(t, '#') OR ends_with(t, '...'))) * 1.0
           / len({_TOKS}) AS sf,
         CAST(len(list_intersect(list_distinct({_TOKS}), [{_gsw}])) AS INT)
           AS stop_hits
  FROM documents
)
SELECT doc_id, word_count,
       round(mwl, 4) AS mean_word_len,
       round(af, 4) AS alpha_word_frac,
       round(sf, 4) AS symbol_word_frac,
       stop_hits,
       word_count >= 50 AND word_count <= 100000 AS flag_words,
       mwl >= 3.0 AND mwl <= 10.0 AS flag_mean_len,
       af >= 0.8 AS flag_alpha,
       sf <= 0.1 AS flag_symbol,
       stop_hits >= 2 AS flag_stop,
       (word_count >= 50 AND word_count <= 100000)
         AND (mwl >= 3.0 AND mwl <= 10.0)
         AND af >= 0.8 AND sf <= 0.1 AND stop_hits >= 2 AS keep
FROM base"""

    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        SUBSTR_WINDOW as _SW,
    )

    o["dedup_substring"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
wins AS (
  SELECT doc_id,
         unnest([md5(array_to_string(ts[i:i+{_SW - 1}], ' '))
                 for i in range(1, greatest(len(ts)-{_SW}+1, 1) + 1)]) AS win_hash
  FROM toks
)
SELECT win_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM wins
GROUP BY win_hash
HAVING COUNT(*) >= 2"""

    o["decontam_ngram"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gl AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(t) - 3, 0)),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])) AS grams
  FROM toks
),
g AS (SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id, unnest(grams) AS gram FROM gl)),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
FROM g JOIN ev USING (gram)
WHERE g.doc_id % 50 <> 0
GROUP BY g.doc_id"""
    o["decontam_suite"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gl AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(t) - 3, 0)),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])) AS grams
  FROM toks
),
g AS (SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id, unnest(grams) AS gram FROM gl)),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
FROM g JOIN ev USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id"""

    # Bloom probe: identical gram stream; bit = md5("j:gram")[:12] % 2^18
    # (the events_cms '0x' cast pattern); a gram is flagged iff all 4
    # DISTINCT j positions are set (within-gram collisions count once).
    _bloom_bit_sql = (
        "CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || gram), 1, 12))"
        " AS BIGINT) % 262144"
    )
    o["decontam_bloom"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gl AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(t) - 3, 0)),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])) AS grams
  FROM toks
),
g AS MATERIALIZED (
  SELECT DISTINCT doc_id, gram
  FROM (SELECT doc_id, unnest(grams) AS gram FROM gl)
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
bits AS MATERIALIZED (
  SELECT DISTINCT {_bloom_bit_sql} AS bit
  FROM (SELECT gram, unnest([0, 1, 2, 3]) AS j FROM ev)
),
tr AS MATERIALIZED (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
probe AS (
  SELECT doc_id, gram, j, {_bloom_bit_sql} AS bit
  FROM (SELECT doc_id, gram, unnest([0, 1, 2, 3]) AS j FROM tr)
),
fl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
  FROM (SELECT doc_id, gram FROM probe JOIN bits USING (bit)
        GROUP BY doc_id, gram HAVING count(DISTINCT j) = 4)
  GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1)
SELECT tot.doc_id, tot.n_grams,
       CAST(coalesce(fl.n_flagged, 0) AS BIGINT) AS n_flagged
FROM tot LEFT JOIN fl USING (doc_id)"""
    o["mm_resize"] = """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CAST(320 + (doc_id % 5) * 160 AS INT) AS width,
         CAST(240 + (doc_id % 3) * 120 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id, width, height,
       CAST(greatest(floor(width * least(greatest(width, height), 256.0)
                           / greatest(width, height)), 1) AS INT) AS new_width,
       CAST(greatest(floor(height * least(greatest(width, height), 256.0)
                           / greatest(width, height)), 1) AS INT) AS new_height
FROM m"""

    o["stream_stateful_dedup"] = """
SELECT md5(CAST(doc_id AS VARCHAR)) AS chunk_id,
       CAST(doc_id AS VARCHAR) AS url,
       CAST(0 AS INT) AS chunk_idx,
       text
FROM documents"""
    # native watermarked dedup drains to the same distinct set (ts dropped)
    o["stream_dedup_native"] = o["stream_stateful_dedup"]
    # the drained stream-stream join == the batch self-join
    o["stream_join_attrib"] = """
SELECT v.user_id,
       epoch_us(v.ts) AS view_us,
       epoch_us(c.ts) AS click_us
FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 2 HOUR"""

    o["docs_sample"] = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28'"""
    o["events_quantiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events
GROUP BY event_type"""

    # histogram quantile sketch: binning and edges are exact doubles
    # (power-of-two range), thresholds pure BIGINT ceiling division;
    # DuckDB window sums return HUGEINT — cast n back to BIGINT.
    o["events_hist"] = """
WITH cells AS (
  SELECT event_type,
         least(4095, greatest(0,
           CAST(floor((value - 0.0) / (1024.0 - 0.0) * 4096) AS BIGINT)
         )) AS bin,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM cells
),
agg AS (
  SELECT event_type,
         CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bin END) AS bin_p50,
         min(CASE WHEN cum >= (95 * n + 99) // 100 THEN bin END) AS bin_p95
  FROM cum GROUP BY event_type
)
SELECT event_type, n, bin_p50, bin_p95,
       0.0 + (bin_p50 + 1) * (1024.0 - 0.0) / 4096.0 AS est_p50,
       0.0 + (bin_p95 + 1) * (1024.0 - 0.0) / 4096.0 AS est_p95
FROM agg"""
    o["tpch_rollup"] = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""

    # Q5: revenue quantized to BIGINT cents per row (floor(x*100 + 0.5) in
    # identical operand order) so the aggregate is exact integer arithmetic
    o["tpch_local_supplier"] = """
SELECT n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name"""

    # latest-wins compaction: the Spark side is an algebraic max over a
    # (ts, event_id, value) struct; (ts, event_id) is a unique total order,
    # so the window formulation below selects the identical row
    o["events_latest"] = """
WITH r AS (
  SELECT user_id, event_type, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, ts, event_id,
       round(value, 4) + 0.0 AS value
FROM r WHERE rn = 1"""

    # the streaming struct-max fold is monotone across update-mode batches,
    # so the drained max per key == the batch compaction — oracle shared
    o["stream_latest"] = o["events_latest"]

    # applyInPandas ECDF rank pinned to the exact window formulation
    o["events_ecdf"] = """
SELECT user_id, event_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rnk,
       CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
FROM events"""

    # cogroup searchsorted (side='left') == the strict v.ts < p.ts
    # inequality join; COUNT(v.ts) counts only matched views
    o["events_attrib_pandas"] = """
SELECT p.user_id, p.event_id, CAST(COUNT(v.ts) AS BIGINT) AS n_views_before
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
  ON v.user_id = p.user_id AND v.ts < p.ts
GROUP BY p.user_id, p.event_id"""

    o["docs_profile"] = """
SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v
FROM documents
UNION ALL
SELECT 'text', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT text) AS BIGINT), MIN(text), MAX(text)
FROM documents
UNION ALL
SELECT 'lang', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT lang) AS BIGINT), MIN(lang), MAX(lang)
FROM documents
UNION ALL
SELECT 'source', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT source) AS BIGINT), MIN(source), MAX(source)
FROM documents
UNION ALL
SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT n_chars) AS BIGINT),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
FROM documents"""

    # filtered corrupt-tail negatives: candidate index = md5(triple|k) %
    # n_entities over the name-dense entity ids — a pure function of the
    # triple key, so the oracle reproduces it verbatim
    o["kg_negatives"] = f"""
WITH {_triples_cte()},
ents AS (
  SELECT name, ROW_NUMBER() OVER (ORDER BY name) - 1 AS ent_id
  FROM (SELECT subj AS name FROM triples UNION SELECT obj FROM triples) u
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ents FROM ents),
cand AS (
  SELECT t.subj, t.pred, t.obj, k.neg_k, e.name AS neg_obj
  FROM triples t
  CROSS JOIN nn
  CROSS JOIN (SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS neg_k) k
  JOIN ents e
    ON e.ent_id = ('0x' || substring(md5(t.subj || '|' || t.pred || '|' || t.obj
                                         || '|' || CAST(k.neg_k AS VARCHAR)),
                                     1, 12))::BIGINT % nn.n_ents
  WHERE e.name <> t.obj AND e.name <> t.subj
)
SELECT c.subj, c.pred, c.obj, c.neg_k, c.neg_obj
FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM triples tt
  WHERE tt.subj = c.subj AND tt.pred = c.pred AND tt.obj = c.neg_obj
)"""
    o["events_pivot"] = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
FROM events
GROUP BY user_id"""
    o["docs_setops"] = """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks, lang FROM documents)
SELECT doc_id FROM t WHERE list_contains(toks, 'spark')
INTERSECT
SELECT doc_id FROM t WHERE lang = 'en'
EXCEPT ALL
SELECT doc_id FROM t WHERE list_contains(toks, 'slow')"""
    o["events_json"] = """
SELECT event_type,
       CAST(floor(CAST(props->>'k' AS INT) / 10.0) AS INT) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2"""
    o["events_stats"] = """
SELECT event_type,
       round(avg(value), 4) AS avg_value,
       round(stddev_samp(value), 4) AS stddev_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY event_type"""

    # KMV distinct sketch: 32 smallest 48-bit md5 prefixes per group;
    # estimate numerator (k-1)*2^48 = 8725724278030336 is an EXACT double
    # (mantissa 31), so kmv_est is one closed-form division over BIGINTs.
    o["events_kmv"] = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h
  FROM events
),
rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM h
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_min,
       max(h) AS h_k,
       CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
            ELSE round(8725724278030336.0 / max(h), 4) END AS kmv_est
FROM rk WHERE r <= 32 GROUP BY event_type"""
    # the drained streaming fold == the batch sketch (KMV merge is
    # associative+commutative), so stream_kmv shares the oracle verbatim
    o["stream_kmv"] = o["events_kmv"]

    # Theta-sketch set algebra: union sketch = 32 smallest of the two
    # sketches' hash union; rho = common hashes inside it. Doubles appear
    # only as the exact numerator divided/multiplied through BIGINTs in
    # the SAME left-to-right operand order as the Spark expressions.
    o["events_kmv_ops"] = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h
  FROM events
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM h
  ) WHERE r <= 32
),
prs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM sk) a
  JOIN (SELECT DISTINCT event_type FROM sk) b
    ON a.event_type < b.event_type
),
cand AS (
  SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
    FROM prs p JOIN sk s ON s.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, s.h, 0 AS in_a, 1 AS in_b
    FROM prs p JOIN sk s ON s.event_type = p.type_b
  ) GROUP BY type_a, type_b, h
),
u AS (
  SELECT * FROM (
    SELECT type_a, type_b, h, in_a, in_b,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS r
    FROM cand
  ) WHERE r <= 32
),
agg AS (
  SELECT type_a, type_b,
         CAST(count(*) AS BIGINT) AS n_u,
         max(h) AS h_u,
         CAST(sum(in_a * in_b) AS BIGINT) AS rho
  FROM u GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_u, h_u, rho,
       CASE WHEN n_u < 32 THEN CAST(n_u AS DOUBLE)
            ELSE round(8725724278030336.0 / h_u, 4) END AS union_est,
       round(CAST(rho AS DOUBLE) / n_u, 4) AS jacc,
       CASE WHEN n_u < 32 THEN CAST(rho AS DOUBLE)
            ELSE round(8725724278030336.0 / h_u * rho / n_u, 4)
       END AS inter_est
FROM agg"""

    # Count-Min sketch: 4 md5-derived hash rows x 256 buckets, estimate =
    # min bucket count — pure BIGINT arithmetic end to end.
    o["events_cms"] = """
WITH ex AS (
  SELECT CAST(user_id AS VARCHAR) AS k, unnest([0, 1, 2, 3]) AS j FROM events
),
cells AS MATERIALIZED (
  SELECT j,
         CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || k), 1, 8))
              AS BIGINT) % 256 AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM ex GROUP BY 1, 2
),
keys AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id,
         CAST(count(*) AS BIGINT) AS n_true
  FROM events GROUP BY 1
),
kx AS (SELECT user_id, n_true, unnest([0, 1, 2, 3]) AS j FROM keys)
SELECT kx.user_id, kx.n_true, min(cells.c) AS cms_est
FROM kx JOIN cells
  ON cells.j = kx.j
 AND cells.bucket = CAST(('0x' || substring(md5(CAST(kx.j AS VARCHAR) || ':'
                                                || kx.user_id), 1, 8))
                         AS BIGINT) % 256
GROUP BY 1, 2"""

    # HyperLogLog: register = md5 hex chars 1-2 mod 64, rank = leading-zero
    # bits of the 60-bit suffix + 1 computed on the hex string (nibble-run
    # strip + 4-way CASE on the first non-zero nibble — shared verbatim
    # with Spark). 2^-rank terms are the exact BIGINTs 2^(56-rank); the
    # estimate and its linear-counting branch condition are one closed-form
    # double over those BIGINTs, so both engines take identical branches.
    o["events_hll"] = """
WITH vals AS (
  SELECT event_type,
         md5(CAST(user_id AS VARCHAR) || ':'
             || CAST(CAST(ts AS DATE) AS VARCHAR)) AS h
  FROM events
),
rr AS (
  SELECT event_type,
         CAST(('0x' || substring(h, 1, 2)) AS BIGINT) % 64 AS reg,
         substring(h, 3, 15) AS suffix,
         regexp_replace(substring(h, 3, 15), '^0+', '') AS stripped
  FROM vals
),
rk AS (
  SELECT event_type, reg,
         CAST((length(suffix) - length(stripped)) * 4
           + CASE
               WHEN length(stripped) = 0 THEN 0
               WHEN CAST(('0x' || substring(stripped, 1, 1)) AS BIGINT) >= 8 THEN 0
               WHEN CAST(('0x' || substring(stripped, 1, 1)) AS BIGINT) >= 4 THEN 1
               WHEN CAST(('0x' || substring(stripped, 1, 1)) AS BIGINT) >= 2 THEN 2
               ELSE 3
             END + 1 AS INT) AS rank
  FROM rr
),
regs AS (
  SELECT event_type, reg, max(rank) AS m_j FROM rk GROUP BY 1, 2
),
ag AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_regs,
         CAST(sum(CASE WHEN m_j <= 56
                       THEN CAST(power(2.0, 56 - m_j) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum_q
  FROM regs GROUP BY 1
),
dn AS (
  SELECT event_type, n_regs,
         CAST(64 - n_regs AS BIGINT) AS zero_regs,
         CAST(sum_q + (64 - n_regs) * 72057594037927936 AS BIGINT) AS denom_q
  FROM ag
)
SELECT event_type, n_regs, zero_regs, denom_q,
       CASE WHEN zero_regs > 0
             AND 0.709 * 4096.0 * 7.2057594037927936e16 / denom_q <= 160.0
            THEN round(64.0 * ln(64.0 / zero_regs), 4)
            ELSE round(0.709 * 4096.0 * 7.2057594037927936e16 / denom_q, 4)
       END AS hll_est
FROM dn"""
    # the drained streaming fold == the batch sketch (register MAX is
    # associative+commutative+idempotent), so stream_hll shares the
    # events_hll oracle verbatim
    o["stream_hll"] = o["events_hll"]
    # drained native session windows == batch F.session_window (the
    # sentinel flush closes every real session), so the streaming gate
    # shares the events_session_native oracle verbatim
    o["stream_session_native"] = o["events_session_native"]
    # drained histogram cells (monotone counts -> max(c) = latest) fold
    # to the batch sketch, so stream_hist shares the events_hist oracle
    o["stream_hist"] = o["events_hist"]
    # the CMS cell fold (max of monotone update-mode counts) == the batch
    # cells, and the probe is the same cms_probe — oracle shared verbatim
    o["stream_cms"] = o["events_cms"]

    # warehouse_ivm: the incrementally-maintained view must equal the plain
    # aggregate over the post-merge table = all docs, with every
    # doc_id % 3 == 0 row carrying the upserted n_chars + 1000
    o["warehouse_ivm"] = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                     ELSE n_chars END) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang"""

    o["sample_split"] = """
WITH s AS (
  SELECT source, n_chars,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 AS b
  FROM documents
)
SELECT source,
       CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY 1, 2"""

    # Flesch: three exact BIGINT counts (regex vowel-group syllables,
    # punctuation-run sentences), one closed-form double, banded on the
    # ROUNDED score so both engines bucket identically.
    o["text_flesch"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS word_count,
         greatest(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS n_sentences,
         CAST(list_sum(list_transform({_TOKS},
              t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))))
           AS BIGINT) AS n_syllables
  FROM documents
),
sc AS (
  SELECT doc_id, word_count, n_sentences, n_syllables,
         round(206.835 - 1.015 * (word_count * 1.0 / n_sentences)
                       - 84.6 * (n_syllables * 1.0 / word_count), 4) AS flesch
  FROM base
)
SELECT doc_id, word_count, n_sentences, n_syllables, flesch,
       CASE WHEN flesch >= 90.0 THEN 'very_easy'
            WHEN flesch >= 60.0 THEN 'standard'
            WHEN flesch >= 30.0 THEN 'difficult'
            ELSE 'very_confusing' END AS band
FROM sc"""

    # Token entropy: per-token ln floor-quantized to BIGINT (doc_lm_scores
    # pattern) -> order-free integer sums -> one closed-form double.
    o["text_entropy"] = f"""
WITH tc AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
ag AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * CAST(floor(ln(c) * 100000.0) AS BIGINT)) AS BIGINT)
           AS sum_clnc
  FROM tc GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct, sum_clnc,
       round(ln(n_tokens) - sum_clnc / (n_tokens * 100000.0), 4) AS entropy_nats
FROM ag"""

    # Zipf slope: the two-phase topk_per_group head == the bare window
    # top-k (sample_stratified_2phase precedent); floor-quantized logs,
    # exact BIGINT moments, closed-form slope with double products.
    o["text_zipf"] = f"""
WITH tc AS (
  SELECT grp, term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang AS grp, unnest({_TOKS}) AS term FROM documents)
  GROUP BY 1, 2
),
rk AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY c DESC, term ASC) AS r
  FROM tc
),
pts AS (
  SELECT grp,
         CAST(floor(ln(r) * 100000.0) AS BIGINT) AS xq,
         CAST(floor(ln(c) * 100000.0) AS BIGINT) AS yq
  FROM rk WHERE r <= 1000
),
ag AS (
  SELECT grp AS lang, CAST(count(*) AS BIGINT) AS n_head,
         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * yq) AS BIGINT) AS sxy,
         CAST(sum(xq * xq) AS BIGINT) AS sxx
  FROM pts GROUP BY 1
)
SELECT lang, n_head, sx, sy, sxy, sxx,
       CASE WHEN n_head >= 2
             AND CAST(n_head AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx != 0.0
            THEN round((CAST(n_head AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n_head AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx), 4) + 0.0
       END AS slope
FROM ag"""

    # Efraimidis-Spirtes keys: ln over an exact-double/BIGINT division,
    # then /w and *scale in the identical operand order, floor-quantized.
    o["sample_weighted"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h48
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor(ln(281474976710656.0 / (h48 + 1)) / n_tokens * 1000000.0)
            AS BIGINT) AS es_key
FROM base
WHERE n_tokens >= 1
ORDER BY es_key, doc_id
LIMIT 100"""

    # CCNet perplexity buckets: the doc_lm_scores chain (dpg MATERIALIZED —
    # referenced by both the global count and the scoring join; lm too,
    # feeding the window AND the total), then the bare global window the
    # two-phase bucketed rank must be indistinguishable from.
    o["text_ppl_buckets"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dp AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i+1])) AS w2
  FROM toks WHERE len(t) >= 2
),
dpg AS MATERIALIZED (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k FROM dp GROUP BY 1, 2, 3
),
c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM dpg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
st AS (
  SELECT c12.w1, c12.w2,
         CAST(floor(ln(c1.c1 / c12.c12) * 100000.0) AS BIGINT) AS sq
  FROM c12 JOIN c1 ON c1.w1 = c12.w1
),
lm AS MATERIALIZED (
  SELECT g.doc_id, CAST(sum(g.k) AS BIGINT) AS n_bigrams,
         CAST(sum(g.k * s.sq) AS BIGINT) AS sum_sq,
         round(CAST(sum(g.k * s.sq) AS DOUBLE) / CAST(sum(g.k) AS BIGINT)
               / 100000.0, 4) AS mean_nats
  FROM dpg g JOIN st s ON s.w1 = g.w1 AND s.w2 = g.w2
  GROUP BY g.doc_id
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM lm),
rk AS (
  SELECT doc_id, mean_nats,
         CAST(row_number() OVER (ORDER BY sum_sq / n_bigrams ASC, doc_id ASC)
              AS BIGINT) AS ppl_rank
  FROM lm
)
SELECT rk.doc_id, rk.mean_nats, rk.ppl_rank,
       CAST(floor((rk.ppl_rank - 1) * 3 / n.n_tot) + 1 AS BIGINT) AS bucket
FROM rk CROSS JOIN n"""

    # harmonic centrality: the kg_closeness BFS closure, 1/d terms
    # floor-quantized to BIGINT inside the sum (order-free), one closed
    # form per row. scale 10^4: h_q/10^4 is already exact at 4dp, so the
    # 4dp round can never land on a .5 boundary (where Spark rounds
    # HALF_UP but Python rounds half-even — measured on 1269995/10^5).
    o["kg_harmonic"] = f"""
WITH RECURSIVE {_docgraph_ctes()},
und AS (SELECT a AS x, b AS y FROM e0 UNION SELECT b AS x, a AS y FROM e0),
nodes AS (SELECT DISTINCT x AS name FROM und WHERE x % 31 = 0),
walk AS (
  SELECT name AS src, name AS node, 0 AS d FROM nodes
  UNION
  SELECT walk.src, und.y, walk.d + 1
  FROM walk JOIN und ON walk.node = und.x
  WHERE walk.d < 8
),
sp AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2),
agg AS (
  SELECT src,
         CAST(count(*) - 1 AS BIGINT) AS n_reach,
         CAST(sum(CASE WHEN d >= 1
                       THEN CAST(floor(10000.0 / d) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS h_q
  FROM sp GROUP BY src
)
SELECT src AS name, n_reach, h_q, round(h_q / 10000.0, 4) AS harmonic
FROM agg"""

    # effective diameter: same capped distance closure + source sample as
    # kg_harmonic; percentile selection is 100*cum >= 90*n in pure
    # integers (DuckDB window sums are HUGEINT — compare there, CAST the
    # outputs back to BIGINT).
    o["kg_eff_diameter"] = f"""
WITH RECURSIVE {_docgraph_ctes()},
und AS (SELECT a AS x, b AS y FROM e0 UNION SELECT b AS x, a AS y FROM e0),
nodes AS (SELECT DISTINCT x AS name FROM und WHERE x % 31 = 0),
walk AS (
  SELECT name AS src, name AS node, 0 AS d FROM nodes
  UNION
  SELECT walk.src, und.y, walk.d + 1
  FROM walk JOIN und ON walk.node = und.x
  WHERE walk.d < 8
),
sp AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2),
dd AS (
  SELECT d, CAST(count(*) AS BIGINT) AS c
  FROM sp WHERE d >= 1 GROUP BY d
),
cum AS (
  SELECT d, c,
         sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS n
  FROM dd
),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n_pairs,
         CAST(sum(d * c) AS BIGINT) AS sum_d,
         CAST(max(d) AS BIGINT) AS diameter,
         CAST(min(CASE WHEN 100 * cum >= 90 * n THEN d END) AS BIGINT)
           AS eff_d
  FROM cum
)
SELECT n_pairs, sum_d,
       round(CAST(sum_d AS DOUBLE) / n_pairs, 4) AS mean_d,
       diameter, eff_d
FROM agg"""

    # Sampled Brandes betweenness, unrolled level-by-level (the kg_pagerank
    # fixed-budget convention — recursive UNION ALL would enumerate raw
    # walks combinatorially). Forward: f{i} = level-i (src, node, sigma)
    # with sigma summed over level-(i-1) predecessors, visited-set
    # anti-join via NOT EXISTS on the MATERIALIZED v{i} (invariant #3:
    # DuckDB inlines CTEs referenced more than once). Backward: b{L} =
    # per-node dependency at level L from the level-(L+1) deltas; every
    # term (sv*(10^4+dq)) // sw is positive-BIGINT floor division ==
    # Spark's `div`, so per-level sums are order-free and bit-exact.
    _bc_fwd = "".join(
        f""",
f{i + 1} AS MATERIALIZED (
  SELECT f.src, und.y AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM f{i} f JOIN und ON f.node = und.x
  WHERE NOT EXISTS (SELECT 1 FROM v{i} v
                    WHERE v.src = f.src AND v.node = und.y)
  GROUP BY 1, 2
),
v{i + 1} AS MATERIALIZED (
  SELECT src, node FROM v{i} UNION ALL SELECT src, node FROM f{i + 1}
)"""
        for i in range(8)
    )
    _bc_dist = " UNION ALL ".join(
        f"SELECT src, node, {i} AS d, sigma FROM f{i}" for i in range(9)
    )
    _bc_bwd = """,
b7 AS MATERIALIZED (
  SELECT src, v AS node,
         CAST(sum((sv * 10000) // sw) AS BIGINT) AS dq
  FROM dag WHERE dv = 7 GROUP BY 1, 2
)""" + "".join(
        f""",
b{lev} AS MATERIALIZED (
  SELECT dag.src, dag.v AS node,
         CAST(sum((dag.sv * (10000 + coalesce(nb.dq, 0))) // dag.sw)
              AS BIGINT) AS dq
  FROM dag LEFT JOIN b{lev + 1} nb
    ON nb.src = dag.src AND nb.node = dag.w
  WHERE dag.dv = {lev} GROUP BY 1, 2
)"""
        for lev in range(6, 0, -1)
    )
    _bc_acc = " UNION ALL ".join(
        f"SELECT node, dq FROM b{lev}" for lev in range(1, 8)
    )
    o["kg_betweenness"] = f"""
WITH {_docgraph_ctes()},
und AS (SELECT a AS x, b AS y FROM e0 UNION SELECT b AS x, a AS y FROM e0),
srcs AS (SELECT DISTINCT x AS name FROM und WHERE x % 31 = 0),
f0 AS MATERIALIZED (
  SELECT name AS src, name AS node, CAST(1 AS BIGINT) AS sigma FROM srcs
),
v0 AS MATERIALIZED (SELECT src, node FROM f0){_bc_fwd},
dist AS MATERIALIZED ({_bc_dist}),
dag AS MATERIALIZED (
  SELECT dv.src, dv.node AS v, dv.d AS dv, dv.sigma AS sv,
         dw.node AS w, dw.sigma AS sw
  FROM dist dv JOIN und ON dv.node = und.x
  JOIN dist dw ON dw.src = dv.src AND dw.node = und.y AND dw.d = dv.d + 1
){_bc_bwd},
acc AS ({_bc_acc}),
nodes AS (SELECT DISTINCT x AS name FROM und)
SELECT n.name,
       CAST(coalesce(sum(acc.dq), 0) AS BIGINT) AS bc_q,
       round(coalesce(sum(acc.dq), 0) / 10000.0, 4) AS bc
FROM nodes n LEFT JOIN acc ON acc.node = n.name
GROUP BY 1"""

    # Deterministic walks: 8 unrolled steps; each picks the neighbor with
    # the smallest md5("src:step:u:v") hash (row_number over the (hash, y)
    # total order == Spark's min-struct aggregate).
    def _walk_step(i: int) -> str:
        h = (
            "CAST(('0x' || substring(md5(CAST(w.src AS VARCHAR) || "
            f"':{i}:' || CAST(w.node AS VARCHAR) || ':' || "
            "CAST(und.y AS VARCHAR)), 1, 12)) AS BIGINT)"
        )
        return f""",
w{i + 1} AS MATERIALIZED (
  SELECT src, node FROM (
    SELECT w.src, und.y AS node,
           row_number() OVER (PARTITION BY w.src ORDER BY {h}, und.y) AS rn
    FROM w{i} w JOIN und ON w.node = und.x)
  WHERE rn = 1
)"""

    _walk_steps = "".join(_walk_step(i) for i in range(8))
    _walk_union = " UNION ALL ".join(
        f"SELECT src, {i} AS step, node FROM w{i}" for i in range(9)
    )
    o["kg_walks"] = f"""
WITH {_docgraph_ctes()},
und AS (SELECT a AS x, b AS y FROM e0 UNION SELECT b AS x, a AS y FROM e0),
srcs AS (SELECT DISTINCT x AS name FROM und WHERE x % 31 = 0),
w0 AS MATERIALIZED (SELECT name AS src, name AS node FROM srcs){_walk_steps}
SELECT src AS name, step, node FROM ({_walk_union})"""

    # BM25: identical operand order per (doc, term); the per-doc sum runs
    # over BIGINT micro-units (order-free); 2.2 == repr(1.2 + 1.0) and
    # 0.25 == repr(1.0 - 0.75) round-trip exactly, so the literals ARE the
    # Spark-side doubles.
    o["text_bm25_topk"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM pairs GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
stats AS (
  SELECT n_docs, sum_dl / n_docs AS avgdl
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl)
),
qsel AS (
  SELECT term, df FROM (
    SELECT term, df,
           row_number() OVER (ORDER BY df DESC, term ASC) AS qrk
    FROM dfreq)
  WHERE qrk BETWEEN 10 AND 14
),
scored AS (
  SELECT tf.doc_id,
         CAST(FLOOR(
           ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
           * 1000000.0 + 0.5) AS BIGINT) AS sq
  FROM tf JOIN qsel q USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
),
agg AS (SELECT doc_id, CAST(sum(sq) AS BIGINT) AS s_q,
               CAST(count(*) AS BIGINT) AS n_qterms
        FROM scored GROUP BY doc_id),
rk AS (SELECT *, row_number() OVER (ORDER BY s_q DESC, doc_id ASC) AS rk
       FROM agg)
SELECT doc_id, n_qterms, round(s_q / 1000000.0, 4) AS bm25,
       CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= 20"""

    # SymSpell blocking: neighborhood = {name} union all 1-deletions;
    # generate_series is inclusive like F.sequence; substr past the end is
    # '' on both engines. Native levenshtein on both sides.
    o["dedup_editdist"] = """
WITH names AS (SELECT DISTINCT c_name AS name FROM customer),
vars AS (
  SELECT name,
         unnest(list_distinct(list_prepend(name,
           list_transform(generate_series(1, length(name)),
             i -> concat(substr(name, 1, i - 1),
                         substr(name, i + 1, length(name))))))) AS v
  FROM names
),
cand AS (
  SELECT DISTINCT l.name AS name_a, r.name AS name_b
  FROM vars l JOIN vars r ON l.v = r.v AND l.name < r.name
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 1"""

    # butterflies: sh is already per-doc-distinct (array_distinct in
    # shingles_col == list_distinct in _shingles_cte); MATERIALIZED because
    # the incidence feeds both halves of the wedge self-join (invariant #3).
    o["kg_butterflies"] = f"""
WITH {_shingles_cte()},
rare AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING COUNT(*) BETWEEN 2 AND 50),
ir AS MATERIALIZED (
  SELECT i.doc_id, i.shingle FROM sh i JOIN rare USING (shingle)),
pairs AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS c
  FROM ir l JOIN ir r USING (shingle)
  WHERE l.doc_id < r.doc_id GROUP BY 1, 2),
bf AS (SELECT a, b, (c * (c - 1)) // 2 AS bfly,
              CASE WHEN c >= 2 THEN 1 ELSE 0 END AS cop FROM pairs),
per AS (
  SELECT doc_id, CAST(sum(cop) AS BIGINT) AS n_copair,
         CAST(sum(bfly) AS BIGINT) AS n_bfly
  FROM (SELECT a AS doc_id, bfly, cop FROM bf
        UNION ALL SELECT b, bfly, cop FROM bf)
  GROUP BY doc_id)
SELECT doc_id, n_copair, n_bfly FROM per WHERE n_bfly > 0"""

    # Q3: the deterministic (revenue desc, date asc, orderkey asc) top-10.
    o["tpch_ship_priority"] = """
WITH agg AS (
  SELECT l_orderkey, o_orderdate,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1997-01-01'
    AND l_shipdate > TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
rk AS (
  SELECT *, row_number() OVER (
    ORDER BY revenue_c DESC, o_orderdate ASC, l_orderkey ASC) AS rk
  FROM agg
)
SELECT l_orderkey, o_orderdate, revenue_c, n_items, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= 10"""

    # OHLC: (ts, event_id) is a unique total order, so the window first/last
    # rows select exactly the struct-min/max rows the Spark side aggregates.
    o["events_ohlc"] = """
WITH r AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value,
         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts ASC, event_id ASC) AS rn_o,
         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_c
  FROM events
)
SELECT event_type, day,
       round(max(CASE WHEN rn_o = 1 THEN value END), 4) + 0.0 AS open,
       round(max(value), 4) + 0.0 AS high,
       round(min(value), 4) + 0.0 AS low,
       round(max(CASE WHEN rn_c = 1 THEN value END), 4) + 0.0 AS close,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY 1, 2"""

    # Welch: six exact BIGINT moments (cents), t and df each one closed-form
    # double in identical operand order. DuckDB sum(BIGINT) returns HUGEINT
    # — CAST back so the divisions are BIGINT/BIGINT like Spark's.
    o["events_ab_welch"] = """
WITH m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vc) AS BIGINT) AS s1, CAST(sum(vc * vc) AS BIGINT) AS s2
  FROM (SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc FROM events)
  GROUP BY event_type
),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS n_a, b.n AS n_b,
         a.s1 / a.n AS ma, b.s1 / b.n AS mb,
         (a.n * a.s2 - a.s1 * a.s1) / (a.n * (a.n - 1)) AS va,
         (b.n * b.s2 - b.s1 * b.s1) / (b.n * (b.n - 1)) AS vb
  FROM m a JOIN m b ON a.event_type < b.event_type
),
e AS (SELECT *, va / n_a + vb / n_b AS se2 FROM j)
SELECT type_a, type_b, n_a, n_b,
       round((ma - mb) / sqrt(se2), 4) + 0.0 AS t_welch,
       round((se2 * se2) / ((va / n_a) * (va / n_a) / (n_a - 1)
                            + (vb / n_b) * (vb / n_b) / (n_b - 1)), 4)
         AS df_welch
FROM e"""

    # chunk dedup: 1-based inclusive slice ts[a:b] == Spark slice(arr,a,w);
    # first occurrence by the bare (doc_id, idx) window == the Spark
    # min-struct; string_agg is NULL for fully-deduped docs (invariant #3:
    # coalesce the DuckDB side).
    o["text_chunk_dedup"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
nch AS (SELECT doc_id, ts, (len(ts) + 19) // 20 AS m FROM toks),
chh AS MATERIALIZED (
  SELECT doc_id, i - 1 AS idx,
         array_to_string(ts[(i - 1) * 20 + 1:(i - 1) * 20 + 20], ' ') AS chunk
  FROM (SELECT doc_id, ts, unnest(generate_series(1, m)) AS i FROM nch)
),
firsts AS (
  SELECT doc_id, idx FROM (
    SELECT doc_id, idx,
           row_number() OVER (PARTITION BY md5(chunk)
                              ORDER BY doc_id, idx) AS rn
    FROM chh)
  WHERE rn = 1
),
kept AS (SELECT c.doc_id, c.idx, c.chunk
         FROM chh c JOIN firsts f USING (doc_id, idx)),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(chunk, ' ' ORDER BY idx) AS new_text
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        FROM chh GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.new_text, '') AS new_text,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_chunks - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot t LEFT JOIN agg a USING (doc_id)"""

    o["kg_rel_cardinality"] = f"""
WITH {_triples_cte()},
g AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
         CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
         CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
  FROM triples GROUP BY pred
)
SELECT pred, n_triples, n_subj, n_obj,
       round(n_triples / n_subj, 4) AS tails_per_head,
       round(n_triples / n_obj, 4) AS heads_per_tail,
       CASE WHEN n_triples / n_subj > 1.5 AND n_triples / n_obj > 1.5
              THEN 'N-N'
            WHEN n_triples / n_subj > 1.5 THEN '1-N'
            WHEN n_triples / n_obj > 1.5 THEN 'N-1'
            ELSE '1-1' END AS rel_class
FROM g"""

    # BPE: round-for-round unroll; every CTE referenced twice per round is
    # MATERIALIZED (invariant #3); list_reduce with the prepended ''
    # sentinel == Spark's F.aggregate with init '' — greedy left-to-right
    # non-overlapping merge on both engines (validated: 'b b b' under
    # (b,b) folds to '|bb|b' in both).
    def _bpe_round(r: int) -> str:
        return f""",
tk{r} AS MATERIALIZED (
  SELECT w, freq, list_filter(string_split(s, '|'), x -> x <> '') AS tk
  FROM s{r - 1}),
p{r} AS (
  SELECT lt, rt, CAST(sum(freq) AS BIGINT) AS n FROM (
    SELECT freq, tk[i] AS lt, tk[i + 1] AS rt
    FROM (SELECT freq, tk,
                 unnest(generate_series(1, len(tk) - 1)) AS i FROM tk{r}))
  GROUP BY lt, rt),
t{r} AS MATERIALIZED (
  SELECT lt, rt, n FROM p{r} ORDER BY n DESC, lt ASC, rt ASC LIMIT 1),
s{r} AS MATERIALIZED (
  SELECT w, freq,
         list_reduce(list_prepend('', tk),
           (acc, x) -> CASE WHEN x = t.rt AND ends_with(acc, '|' || t.lt)
                       THEN acc || x ELSE acc || '|' || x END) AS s
  FROM tk{r} CROSS JOIN t{r} t)"""

    _bpe_rounds = "".join(_bpe_round(r) for r in range(1, 5))
    _bpe_union = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, lt AS left_tok,"
        f" rt AS right_tok, n FROM t{r}"
        for r in range(1, 5)
    )
    o["text_bpe_merges"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
w AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(t) AS w FROM toks) WHERE len(w) > 0 GROUP BY w),
s0 AS MATERIALIZED (
  SELECT w, freq,
         '|' || array_to_string(
           list_transform(generate_series(1, length(w)),
                          i -> substr(w, i, 1)), '|') AS s
  FROM w){_bpe_rounds}
{_bpe_union}"""

    # Wilson: the z^2 literal is repr(1.96*1.96) so it parses to the exact
    # Spark-side double; every term in the bound is written in the
    # identical operand order.
    _z2 = repr(1.96 * 1.96)
    o["events_wilson"] = f"""
WITH g AS (
  SELECT user_id % 20 AS cohort,
         CAST(count(*) AS BIGINT) AS n_trials,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_buy
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
),
s AS (
  SELECT cohort, n_trials, n_buy,
         round((n_buy / n_trials + {_z2} / (2.0 * n_trials)
                - 1.96 * sqrt((n_buy / n_trials * (1.0 - n_buy / n_trials)
                               + {_z2} / (4.0 * n_trials)) / n_trials))
               / (1.0 + {_z2} / n_trials), 4) AS wilson_lb
  FROM g
)
SELECT cohort, n_trials, n_buy, wilson_lb,
       CAST(row_number() OVER (ORDER BY wilson_lb DESC, cohort ASC)
            AS BIGINT) AS rk
FROM s"""

    # streaming OHLC fold: every cell monotone across update-mode batches,
    # so drained == batch — oracle shared verbatim
    o["stream_ohlc"] = o["events_ohlc"]

    # Q4 shape: EXISTS == the Spark LEFT SEMI join
    o["tpch_order_priority"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY 1"""

    # Q14 shape: both sums exact BIGINT cents, one closed-form double
    o["tpch_promo"] = """
WITH j AS (
  SELECT CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
              AS BIGINT) AS rev_c,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
),
a AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_c ELSE 0 END)
              AS BIGINT) AS promo_rev_c,
         CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
         CAST(count(*) AS BIGINT) AS n_items
  FROM j
)
SELECT promo_rev_c, total_rev_c, n_items,
       round(100.0 * promo_rev_c / total_rev_c, 4) + 0.0 AS promo_pct
FROM a"""

    # Q19 shape: identical OR-of-ANDs branches, BIGINT cents, per brand
    o["tpch_complex_pred"] = """
SELECT p_brand,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
GROUP BY 1"""

    # winnowing: list slices are 1-based inclusive (ts[i+1:i+5] == Spark
    # slice(ts, i+1, 5)); the encoded min carries the leftmost-position
    # tiebreak on both engines; md5-prefix hash via the '0x' cast
    # (invariant #3).
    o["text_winnowing"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
ok AS (SELECT doc_id, ts FROM toks WHERE len(ts) >= 5),
enc AS (
  SELECT doc_id,
         list_transform(generate_series(0, len(ts) - 5), i ->
           CAST(('0x' || substr(md5(array_to_string(ts[i + 1:i + 5], ' ')),
                                1, 10)) AS BIGINT) * 1048576 + i) AS g
  FROM ok
),
sel AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(0, greatest(len(g) - 8, 0)),
           j -> list_min(g[j + 1:j + 8])))) AS e
  FROM enc
)
SELECT doc_id, CAST(e % 1048576 AS BIGINT) AS pos,
       CAST(e // 1048576 AS BIGINT) AS fp
FROM sel"""

    # CUSUM: every quantity BIGINT (dev = s1*N - S*n needs no division);
    # sum(BIGINT) returns HUGEINT — CAST back (invariant #3)
    o["events_cusum"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s1
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT *,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS nn,
         CAST(sum(s1) OVER (PARTITION BY event_type) AS BIGINT) AS ss
  FROM daily
),
cum AS (
  SELECT *,
         CAST(sum(s1 * nn - ss * n) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cusum
  FROM tot
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY abs(cusum) DESC, day ASC) AS rk
  FROM cum
)
SELECT event_type, CAST(day AS VARCHAR) AS cp_day, cusum,
       nn AS n_total
FROM rk WHERE rk = 1"""

    # chi-squared: dow from pure epoch arithmetic; per-cell term quantized
    # to BIGINT micro-units before the sum (order-free)
    o["events_chisq"] = """
WITH cells AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT *,
         CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
         CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
         CAST(sum(o) OVER () AS BIGINT) AS nn
  FROM cells
),
t AS (
  SELECT *,
         CAST(FLOOR((o * nn - rt * ct) * (o * nn - rt * ct)
                    / (nn * rt * ct) * 1000000.0 + 0.5) AS BIGINT) AS term_u
  FROM m
)
SELECT round(CAST(sum(term_u) AS BIGINT) / 1000000.0, 4) AS chi2,
       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
            AS BIGINT) AS dof,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(max(nn) AS BIGINT) AS n_events
FROM t"""

    # association rules: identical basket key, closed-form doubles from
    # exact BIGINT supports in identical operand order
    o["events_assoc_rules"] = """
WITH bi AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
nb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT user_id, day FROM bi)
),
supp AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS supp FROM bi GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
         CAST(count(*) AS BIGINT) AS supp_ab
  FROM bi a JOIN bi b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT item_a, item_b, supp_ab,
       sa.supp AS supp_a, sb.supp AS supp_b, n_baskets,
       round(supp_ab / sa.supp, 4) + 0.0 AS conf_ab,
       round(supp_ab / sb.supp, 4) + 0.0 AS conf_ba,
       round((supp_ab * n_baskets) / (sa.supp * sb.supp), 4) + 0.0 AS lift
FROM pairs
JOIN supp sa ON pairs.item_a = sa.event_type
JOIN supp sb ON pairs.item_b = sb.event_type
CROSS JOIN nb"""

    # Q13 shape: the non-urgent filter lives in the ON clause (preserved
    # customers keep count 0), then the count histogram
    o["tpch_cust_dist"] = """
WITH per AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per GROUP BY 1"""

    # Q17 shape: decorrelated avg-subquery; the 20%-of-avg predicate is
    # the pure-integer cross-multiplication (quantities integral)
    o["tpch_small_qty"] = """
WITH lb AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
              AS BIGINT) AS rev_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#2'
),
pa AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_q,
         CAST(count(*) AS BIGINT) AS n
  FROM lb GROUP BY 1
)
SELECT CAST(sum(lb.rev_c) AS BIGINT) AS rev_c,
       CAST(count(*) AS BIGINT) AS n_items
FROM lb JOIN pa USING (l_partkey)
WHERE qty * n * 5 < sum_q"""

    # Q18 shape: HAVING-threshold keys join back; date as an explicit
    # yyyy-MM-dd string (TIMESTAMP_NTZ parity without timezone semantics)
    o["tpch_big_orders"] = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS BIGINT)) > 300
)
SELECT c_name, o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS odate,
       CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_c,
       sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey"""

    # Q7 shape: identical star, BIGINT cents, calendar year of the naive
    # timestamp on both engines
    o["tpch_nation_volume"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3"""

    # Q22 shape: scalar average as the integer cross-multiplication,
    # NOT EXISTS == the Spark LEFT ANTI against the date-filtered fact
    o["tpch_idle_customers"] = """
WITH cc AS (
  SELECT c_custkey, c_nationkey,
         CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
  FROM customer
),
pos AS (
  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
         CAST(count(*) AS BIGINT) AS n_pos
  FROM cc WHERE bal_c > 0
),
rich AS (SELECT cc.* FROM cc, pos WHERE bal_c * n_pos > sum_c),
idle AS (
  SELECT * FROM rich
  WHERE NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-08-01')
)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(bal_c) AS BIGINT) AS bal_sum_c
FROM idle GROUP BY 1"""

    # Q15 shape: global max broadcast back onto the per-supplier
    # aggregate; exact BIGINT tie semantics
    o["tpch_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS total_rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
),
mx AS (SELECT max(total_rev_c) AS mx FROM rev)
SELECT l_suppkey AS suppkey, s_name, total_rev_c
FROM rev CROSS JOIN mx
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_c = mx"""

    # SQ8: parallel unnests zip in DuckDB (posexplode equivalent);
    # min/max are comparisons (bit-exact on float→double), the code and
    # the error are each ONE closed-form double in identical operand
    # order, the error quantized to pico-units before the per-vector sum
    o["sim_sq8"] = """
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(0, len(embedding) - 1)) AS dim,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
  FROM embeddings
),
st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY 1),
qz AS (
  SELECT vec_id, v, mn, mx,
         CASE WHEN mx > mn
              THEN CAST(FLOOR((v - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT)
              ELSE 0 END AS code
  FROM ex JOIN st USING (dim)
),
e2 AS (
  SELECT vec_id, code,
         CAST(FLOOR((v - (mn + code * (mx - mn) / 255.0))
                    * (v - (mn + code * (mx - mn) / 255.0))
                    * 1000000000000.0 + 0.5) AS BIGINT) AS err_u
  FROM qz
)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(err_u) AS BIGINT) AS sse_u
FROM e2 GROUP BY 1"""

    # RFM: bare row_number totals orders ARE the bucketed two-phase ranks;
    # quintile boundaries from pure integer arithmetic on both engines
    o["events_rfm"] = """
WITH u AS (
  SELECT user_id,
         CAST(date_diff('day', max(CAST(ts AS DATE)), DATE '2024-02-01')
              AS BIGINT) AS recency_d,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS monetary_c
  FROM events GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u),
r AS (
  SELECT u.*,
         row_number() OVER (ORDER BY recency_d ASC, user_id ASC) AS r_rank,
         row_number() OVER (ORDER BY freq DESC, user_id ASC) AS f_rank,
         row_number() OVER (ORDER BY monetary_c DESC, user_id ASC) AS m_rank
  FROM u
),
sc AS (
  SELECT user_id, recency_d, freq, monetary_c,
         CAST(5 - ((r_rank - 1) * 5) // n_users AS BIGINT) AS r_score,
         CAST(5 - ((f_rank - 1) * 5) // n_users AS BIGINT) AS f_score,
         CAST(5 - ((m_rank - 1) * 5) // n_users AS BIGINT) AS m_score
  FROM r, n
)
SELECT *, r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
FROM sc"""

    # RRF: both systems' rankings mirror the bm25 oracle structure; the
    # fused score is the exact integer 1e9 // (60 + rank) per retrieving
    # system (absent -> rank 0, contributes 0)
    o["text_rrf_fusion"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM pairs GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
stats AS (
  SELECT n_docs, sum_dl / n_docs AS avgdl
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl)
),
qsel AS (
  SELECT term, df FROM (
    SELECT term, df,
           row_number() OVER (ORDER BY df DESC, term ASC) AS qrk
    FROM dfreq)
  WHERE qrk BETWEEN 10 AND 14
),
qtf AS (SELECT tf.* , q.df FROM tf JOIN qsel q USING (term)),
scored AS (
  SELECT qtf.doc_id,
         CAST(FLOOR(
           ln(1.0 + (s.n_docs - qtf.df + 0.5) / (qtf.df + 0.5))
           * (qtf.tf * 2.2)
           / (qtf.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
           * 1000000.0 + 0.5) AS BIGINT) AS sq
  FROM qtf JOIN dl d USING (doc_id) CROSS JOIN stats s
),
bm AS (SELECT doc_id, CAST(sum(sq) AS BIGINT) AS s_q FROM scored GROUP BY 1),
top_a AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s_q DESC, doc_id ASC)
                      AS BIGINT) AS rk_a
  FROM bm ORDER BY s_q DESC, doc_id ASC LIMIT 20
),
ov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_match,
              CAST(sum(tf) AS BIGINT) AS tf_sum
       FROM qtf GROUP BY 1),
top_b AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY n_match DESC, tf_sum DESC,
                                 doc_id ASC) AS BIGINT) AS rk_b
  FROM ov ORDER BY n_match DESC, tf_sum DESC, doc_id ASC LIMIT 20
),
fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(COALESCE(rk_a, 0) AS BIGINT) AS bm25_rk,
         CAST(COALESCE(rk_b, 0) AS BIGINT) AS overlap_rk
  FROM top_a a FULL OUTER JOIN top_b b USING (doc_id)
),
sc AS (
  SELECT *,
         CAST((CASE WHEN bm25_rk > 0 THEN 1000000000 // (60 + bm25_rk)
                    ELSE 0 END)
              + (CASE WHEN overlap_rk > 0 THEN 1000000000 // (60 + overlap_rk)
                      ELSE 0 END) AS BIGINT) AS rrf_u
  FROM fused
)
SELECT *, CAST(row_number() OVER (ORDER BY rrf_u DESC, doc_id ASC) AS BIGINT)
            AS fused_rk
FROM sc"""

    # Nelson–Aalen: every quantity BIGINT; (d*1e6) // n is the exact
    # hazard increment, the suffix/cumulative windows mirror exactly
    o["events_survival"] = """
WITH u AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events GROUP BY 1
),
mx AS (SELECT max(d1) AS dmax FROM u),
lif AS (
  SELECT CAST(user_id % 4 AS BIGINT) AS cohort,
         CAST(date_diff('day', d0, d1) AS BIGINT) AS t,
         CASE WHEN date_diff('day', d1, dmax) > 3 THEN 1 ELSE 0 END AS death
  FROM u, mx
),
at_t AS (
  SELECT cohort, t, CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(death) AS BIGINT) AS d_t
  FROM lif GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(sum(n_t) OVER (
    PARTITION BY cohort ORDER BY t DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM at_t
),
h AS (SELECT *, CAST((d_t * 1000000) // n_risk AS BIGINT) AS term_u FROM r)
SELECT cohort, t, n_risk, d_t,
       CAST(sum(term_u) OVER (
         PARTITION BY cohort ORDER BY t ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS haz_u
FROM h"""

    # Neyman: sqrt is IEEE-correctly-rounded on both engines, so the
    # micro-quantized weight is bit-exact; seats by integer largest
    # remainder; the draw is the md5 bottom-n_h per stratum
    o["sample_neyman"] = """
WITH st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                  * CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY 1
),
ws AS (
  SELECT event_type, n,
         CASE WHEN n > 1
              THEN CAST(FLOOR(n * sqrt((n * s2 - s1 * s1) / (n * (n - 1)))
                              * 1000000.0 + 0.5) AS BIGINT)
              ELSE 0 END AS w_u
  FROM st
),
tot AS (SELECT CAST(sum(w_u) AS BIGINT) AS w_tot FROM ws),
seats AS (
  SELECT event_type, n, w_u,
         CAST((500 * w_u) // w_tot AS BIGINT) AS base,
         CAST((500 * w_u) % w_tot AS BIGINT) AS rem
  FROM ws, tot
),
alloc AS (
  SELECT event_type, n, w_u,
         CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
                                                  event_type ASC)
                          <= 500 - (SELECT sum(base) FROM seats)
                     THEN 1 ELSE 0 END AS BIGINT) AS alloc
  FROM seats
),
rk AS (
  SELECT event_type, event_id,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id ASC)
           AS BIGINT) AS rk
  FROM events
)
SELECT rk.event_type, rk.event_id, rk.rk, a.alloc, a.n, a.w_u
FROM rk JOIN alloc a USING (event_type)
WHERE rk.rk <= a.alloc"""

    # Gini: bare ascending row_number IS the bucketed two-phase rank;
    # every moment BIGINT, one floor division (numerator >= 0 by the
    # rearrangement inequality, so // == div)
    o["events_gini"] = """
WITH u AS (
  SELECT user_id,
         CAST(sum(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_c
  FROM events GROUP BY 1
),
r AS (
  SELECT spend_c,
         row_number() OVER (ORDER BY spend_c ASC, user_id ASC) AS rnk
  FROM u
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(spend_c) AS BIGINT) AS total_c,
         CAST(sum(rnk * spend_c) AS BIGINT) AS s1
  FROM r
)
SELECT n_users, total_c,
       CAST(((2 * s1 - (n_users + 1) * total_c) * 1000000)
            // (n_users * total_c) AS BIGINT) AS gini_u
FROM a"""

    # KWIC contexts: DuckDB lists are 1-based (the oracle shifts every
    # index); ts[a:b] slicing is 1-based inclusive and truncates like
    # Spark slice; empty-slice array_to_string is NULL — coalesce
    # (invariant #3)
    _gaz_list = "[" + ", ".join(
        f"'{t}'" for t in sorted(webkg.WEB_GAZETTEER)
    ) + "]"
    o["kg_mention_contexts"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
hits AS (
  SELECT doc_id,
         unnest(list_transform(
           list_filter(generate_series(0, len(ts) - 1),
                       i -> list_contains({_gaz_list}, ts[i + 1])),
           p -> struct_pack(
             pos := p,
             term := ts[p + 1],
             left_ctx := coalesce(array_to_string(
               ts[greatest(p - 3, 0) + 1 : p], ' '), ''),
             right_ctx := coalesce(array_to_string(
               ts[p + 2 : p + 4], ' '), '')))) AS h
  FROM toks
)
SELECT doc_id, CAST(h.pos AS BIGINT) AS pos, h.term AS term, gaz.label,
       h.left_ctx AS left_ctx, h.right_ctx AS right_ctx
FROM hits JOIN {webkg.gazetteer_values_sql()} ON h.term = gaz.term"""

    # streaming LEFT OUTER == the batch LEFT JOIN with the identical
    # interval window once the sentinel has flushed all outer state;
    # unmatched -> -1 (the coalesce convention), epoch micros of the
    # naive timestamps on both engines
    o["stream_outer_join"] = """
WITH v AS (
  SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id AS p_user, ts AS purch_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id,
       CAST(epoch_us(view_ts) AS BIGINT) AS view_us,
       CAST(COALESCE(epoch_us(purch_ts), -1) AS BIGINT) AS purch_us
FROM v LEFT JOIN p
  ON v.user_id = p.p_user
 AND p.purch_ts >= v.view_ts
 AND p.purch_ts <= v.view_ts + INTERVAL 2 HOUR"""

    # SQ8 rerank: stage 1 is pure-BIGINT code dot products (list(...)
    # ORDER BY dim mirrors the array_sort(collect_list(struct)) assembly);
    # stage 2 is the sim_topk cosine convention (list_dot_product == the
    # Spark left fold, round 4dp, vec_id tiebreak)
    o["sim_sq8_rerank"] = f"""
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(0, len(embedding) - 1)) AS dim,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
  FROM embeddings
),
st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY 1),
cf AS (
  SELECT vec_id, dim,
         CASE WHEN mx > mn
              THEN CAST(FLOOR((v - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT)
              ELSE 0 END AS code
  FROM ex JOIN st USING (dim)
),
codes AS (SELECT vec_id, list(code ORDER BY dim) AS codes FROM cf GROUP BY 1),
qc AS (SELECT vec_id AS query_id, codes AS qcodes FROM codes WHERE vec_id < 5),
coarse AS (
  SELECT query_id, c.vec_id,
         CAST(list_sum(list_transform(generate_series(1, len(c.codes)),
                                      i -> (c.codes[i] - 128)
                                           * (qcodes[i] - 128)))
              AS BIGINT) AS coarse_dot
  FROM codes c CROSS JOIN qc
  WHERE c.vec_id <> query_id
),
surv AS (
  SELECT query_id, vec_id, coarse_dot FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY coarse_dot DESC, vec_id ASC) AS crk
    FROM coarse)
  WHERE crk <= 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_embedding FROM e
      WHERE vec_id < 5),
scored AS (
  SELECT surv.query_id, surv.vec_id, surv.coarse_dot,
         round({_cos("q.q_embedding", "e.embedding")}, 4) AS score
  FROM surv JOIN e USING (vec_id) JOIN q ON surv.query_id = q.query_id
)
SELECT query_id, vec_id, coarse_dot, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id ASC)
            AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5"""

    # cohort LTV: week = (epoch div 86400) div 7 on both engines (no
    # week-of-year rules); every cell BIGINT; LTV one integer division
    o["events_cohort_ltv"] = """
WITH uf AS (
  SELECT user_id,
         CAST(min((CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 7)
              AS BIGINT) AS cohort_w
  FROM events GROUP BY 1
),
sizes AS (
  SELECT cohort_w, CAST(count(*) AS BIGINT) AS n_users FROM uf GROUP BY 1
),
cells AS (
  SELECT cohort_w,
         ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 7) - cohort_w
           AS age_w,
         CAST(sum(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_c,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events JOIN uf USING (user_id)
  GROUP BY 1, 2
),
cum AS (
  SELECT cells.*, n_users,
         CAST(sum(rev_c) OVER (
           PARTITION BY cohort_w ORDER BY age_w
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_rev_c
  FROM cells JOIN sizes USING (cohort_w)
)
SELECT cohort_w, CAST(age_w AS BIGINT) AS age_w, n_users, n_events, rev_c,
       cum_rev_c,
       CAST((cum_rev_c * 1000000) // n_users AS BIGINT) AS ltv_u
FROM cum"""

    # top paths: list(... ORDER BY ts, event_id) == the
    # array_sort(collect_list(struct)) assembly; deterministic
    # (count desc, path asc) top-k
    o["events_top_paths"] = """
WITH b AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         array_to_string(list(event_type ORDER BY ts, event_id), '>')
           AS path
  FROM events GROUP BY 1, 2
),
c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_baskets FROM b GROUP BY 1),
r AS (
  SELECT *, row_number() OVER (ORDER BY n_baskets DESC, path ASC) AS rk
  FROM c
)
SELECT path, n_baskets, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20"""

    # streaming basket assembly: monotone row counter => drained
    # max_by(list, n) is the complete basket; sorted-struct path assembly
    # is order-free => the batch oracle applies verbatim
    o["stream_top_paths"] = o["events_top_paths"]

    # streaming activity set: drained distinct (user, day) keys == the
    # batch DISTINCT => the batch retention oracle applies verbatim
    o["stream_retention"] = o["events_retention"]

    # windowed funnel: the unbounded-funnel chain with each step's match
    # bounded to (prev, prev + 1 day]; interval arithmetic only
    o["events_funnel_windowed"] = """
WITH v AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t0
    AND e.ts <= v.t0 + INTERVAL 86400 SECOND
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1
    AND e.ts <= c.t1 + INTERVAL 86400 SECOND
  GROUP BY e.user_id
)
SELECT v.user_id,
       CAST(1 + CAST(c.user_id IS NOT NULL AS INT)
              + CAST(p.user_id IS NOT NULL AS INT) AS INT) AS stage,
       date_diff('second', v.t0, c.t1) AS sec_to_click,
       date_diff('second', c.t1, p.t2) AS sec_click_to_buy
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id"""

    # crawlpages DataSource: expected rows as VALUES from the same seeded
    # generator the source executes (pure function of (i, seed))
    import hashlib as _hl

    from medical_doc_knowledge_graph_system_spark.datagen import (
        page_row as _pr,
    )

    _crawl_vals = ",\n".join(
        "('{}', '{}', '{}', '{}', {})".format(
            r["url"],
            r["warc_ts"].strftime("%Y-%m-%d %H:%M:%S"),
            r["lang"],
            _hl.md5((r["text"] or "").encode()).hexdigest(),
            len(r["text"] or ""),
        )
        for r in (_pr(i, 42) for i in range(64))
    )
    o["source_crawl"] = f"""
SELECT url, wts, lang, text_md5, CAST(text_len AS BIGINT) AS text_len
FROM (VALUES
{_crawl_vals}
) AS t(url, wts, lang, text_md5, text_len)"""

    # Q6: every predicate on the scan; revenue quantized to 1e-4 units
    # per row (2dp * 2dp is exact at 4dp), BIGINT sum order-free
    o["tpch_forecast_revenue"] = """
SELECT CAST(sum(CAST(FLOOR(l_extendedprice * l_discount * 10000.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_u,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24"""

    # Q8: exact BIGINT cent volumes; share = one closed-form division
    o["tpch_market_share"] = """
WITH v AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
              AS BIGINT) AS vol_c,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
),
a AS (
  SELECT o_year,
         CAST(sum(vol_c) AS BIGINT) AS total_c,
         CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c
                       ELSE 0 END) AS BIGINT) AS nation_c
  FROM v GROUP BY 1
)
SELECT o_year, total_c, nation_c,
       round(nation_c / total_c, 4) AS mkt_share
FROM a"""

    # PQ / ADC: codebook = lowest-16 vec_ids sliced into 4 subspaces
    # (DuckDB list_slice is 1-based inclusive == Spark F.slice(col, pos,
    # len)); code = argmax subvector dot (ties to lowest cell); ADC sum
    # pivots the 4 LUT entries into fixed-order d0+d1+d2+d3
    _pq_pivot = ", ".join(
        f"max(CASE WHEN sub = {j} THEN qd END) AS d{j}" for j in range(4)
    )
    o["sim_pq"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
subs AS (SELECT unnest(range(0, 4)) AS sub),
cb AS (
  SELECT vec_id AS cell, sub,
         list_slice(emb, sub * 16 + 1, sub * 16 + 16) AS c_sub
  FROM e, subs WHERE vec_id < 16
),
vs AS (
  SELECT vec_id, sub, list_slice(emb, sub * 16 + 1, sub * 16 + 16) AS v_sub
  FROM e, subs
),
sc AS (
  SELECT vec_id, vs.sub, cell,
         row_number() OVER (
           PARTITION BY vec_id, vs.sub
           ORDER BY list_dot_product(v_sub, v_sub)
                    - 2.0 * list_dot_product(v_sub, c_sub)
                    + list_dot_product(c_sub, c_sub) ASC,
                    cell ASC) AS rn
  FROM vs JOIN cb ON vs.sub = cb.sub
),
codes AS (SELECT vec_id, sub, cell FROM sc WHERE rn = 1),
lut AS (
  SELECT q.vec_id AS query_id, cb.sub, cb.cell,
         list_dot_product(
           list_slice(q.emb, cb.sub * 16 + 1, cb.sub * 16 + 16), c_sub) AS qd
  FROM e q, cb WHERE q.vec_id < 5
),
adc AS (
  SELECT query_id, vec_id, {_pq_pivot}
  FROM codes JOIN lut USING (sub, cell)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, vec_id, round(d0 + d1 + d2 + d3, 4) AS score
  FROM adc WHERE vec_id <> query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5"""

    _daily_cents = """
daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y_c
  FROM events GROUP BY 1, 2
)"""

    o["events_trend_ols"] = f"""
WITH {_daily_cents},
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y_c) AS BIGINT) AS sy,
         CAST(sum(x * y_c) AS BIGINT) AS sxy
  FROM daily GROUP BY 1
)
SELECT event_type, n AS n_days,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 4) AS intercept
FROM m"""

    o["events_mann_kendall"] = f"""
WITH {_daily_cents},
p AS (
  SELECT a.event_type,
         CASE WHEN b.y_c > a.y_c THEN 1
              WHEN b.y_c < a.y_c THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.x < b.x
),
c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
      FROM daily GROUP BY 1),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(sgn) AS BIGINT) AS s_stat
      FROM p GROUP BY 1)
SELECT event_type, n_points,
       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat
FROM c LEFT JOIN s USING (event_type)"""

    # skyline: the oracle states the DEFINITION (no dominator exists);
    # the Spark side is the two-phase group-max + suffix-max reduction.
    o["docs_skyline"] = """
WITH t AS (
  SELECT doc_id, -CAST(n_chars AS BIGINT) AS neg_chars,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_toks
  FROM documents
)
SELECT p.doc_id, -p.neg_chars AS n_chars, p.n_toks
FROM t p
WHERE NOT EXISTS (
  SELECT 1 FROM t q
  WHERE (q.neg_chars > p.neg_chars AND q.n_toks >= p.n_toks)
     OR (q.neg_chars = p.neg_chars AND q.n_toks > p.n_toks)
)"""

    # TPC-H adaptations (no partsupp / commitdate / receiptdate / shipmode
    # in this schema — see the queries() comments). Oracles state the
    # CANONICAL correlated forms; the Spark side is the decorrelated plan.
    o["tpch_waiting_suppliers"] = """
WITH f AS MATERIALIZED (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM f l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late = 1
  AND EXISTS (SELECT 1 FROM f l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM f l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late = 1)
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 20"""

    o["tpch_shipmode"] = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1"""

    o["tpch_supplier_cnt"] = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 17, 25, 33, 41, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3"""

    o["tpch_important_parts"] = """
WITH sl AS (
  SELECT s_suppkey
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
pp AS MATERIALIZED (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                             + 0.5) AS BIGINT)) AS BIGINT) AS value_c
  FROM lineitem JOIN sl ON l_suppkey = s_suppkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(value_c) AS BIGINT) AS tot_c,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM pp
)
SELECT l_partkey, value_c
FROM pp, tot
WHERE value_c * n_parts > tot_c * 2"""

    o["tpch_profit"] = """
SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                           + 0.5) AS BIGINT)
                - CAST(l_quantity AS BIGINT)
                  * CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS profit_c
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2"""

    o["tpch_min_cost_supp"] = """
WITH eur AS MATERIALIZED (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
off AS MATERIALIZED (
  SELECT l_partkey, l_suppkey,
         min(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS price_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
  JOIN eur ON l_suppkey = s_suppkey
  GROUP BY 1, 2
)
SELECT l_partkey, s_name, n_name, round(s_acctbal, 4) AS acctbal, price_c
FROM off o JOIN eur ON o.l_suppkey = eur.s_suppkey
WHERE price_c = (SELECT min(price_c) FROM off i
                 WHERE i.l_partkey = o.l_partkey)
ORDER BY acctbal DESC, s_name, l_partkey
LIMIT 100"""

    o["tpch_part_promotion"] = """
WITH per AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-04-01'
                        AND l_shipdate < TIMESTAMP '1997-07-01'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q_win,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_all
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%'
  GROUP BY 1, 2
)
SELECT s_name, CAST(count(*) AS BIGINT) AS n_parts
FROM per JOIN supplier ON l_suppkey = s_suppkey
WHERE q_win * 3 > q_all
GROUP BY 1"""

    o["events_autocorr"] = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS BIGINT) AS y_c
  FROM events GROUP BY 1, 2
),
pr AS (
  SELECT a.event_type, a.y_c AS ya, b.y_c AS yb
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.x = b.x - 1
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(ya) AS BIGINT) AS sa,
         CAST(sum(yb) AS BIGINT) AS sb,
         CAST(sum(ya * ya) AS BIGINT) AS saa,
         CAST(sum(yb * yb) AS BIGINT) AS sbb,
         CAST(sum(ya * yb) AS BIGINT) AS sab
  FROM pr GROUP BY 1
)
SELECT event_type, m AS n_pairs,
       round(CAST(m * sab - sa * sb AS DOUBLE)
             / (sqrt(CAST(m * saa - sa * sa AS DOUBLE))
                * sqrt(CAST(m * sbb - sb * sb AS DOUBLE))), 4) AS acf
FROM m"""

    o["docs_checks"] = """
WITH a AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_null_text,
         CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_id,
         CAST(sum(CASE WHEN n_chars < 1 OR n_chars > 10000
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_oob,
         CAST(sum(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
         CAST(sum(CASE WHEN n_chars <> length(text)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch
  FROM documents
)
SELECT 'row_count' AS check_name, n_rows AS observed, n_rows >= 1 AS passed
FROM a
UNION ALL SELECT 'null_text', n_null_text, n_null_text = 0 FROM a
UNION ALL SELECT 'dup_doc_id', n_dup_id, n_dup_id = 0 FROM a
UNION ALL SELECT 'chars_oob', n_chars_oob, n_chars_oob = 0 FROM a
UNION ALL SELECT 'bad_lang', n_bad_lang, n_bad_lang = 0 FROM a
UNION ALL SELECT 'len_mismatch', n_len_mismatch, n_len_mismatch = 0 FROM a"""

    o["events_simpson"] = """
WITH cells AS (
  SELECT user_id % 101 AS bucket, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * (c - 1)) AS BIGINT) AS pairs
  FROM cells GROUP BY 1
)
SELECT bucket, n_items, n,
       round(1.0 - CAST(pairs AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 4)
         AS simpson
FROM g WHERE n >= 2"""

    o["events_bollinger"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, n,
         CAST(count(*) OVER win AS BIGINT) AS n_obs,
         CAST(sum(n) OVER win AS BIGINT) AS s,
         CAST(sum(n * n) OVER win AS BIGINT) AS ss
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS VARCHAR) AS day, n, n_obs,
       round(CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE), 4) AS ma7,
       round(sqrt(CAST(n_obs * ss - s * s AS DOUBLE)
                  / CAST(n_obs * (n_obs - 1) AS DOUBLE)), 4) AS sd7,
       round(CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE)
             + 2.0 * sqrt(CAST(n_obs * ss - s * s AS DOUBLE)
                          / CAST(n_obs * (n_obs - 1) AS DOUBLE)), 4) AS upper,
       round(CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE)
             - 2.0 * sqrt(CAST(n_obs * ss - s * s AS DOUBLE)
                          / CAST(n_obs * (n_obs - 1) AS DOUBLE)), 4) AS lower
FROM w WHERE n_obs >= 2"""

    from medical_doc_knowledge_graph_system_spark.functions.profiling import (
        BENFORD_P as _BEN,
    )

    _ben_vals = ", ".join(f"({d}, {p})" for d, p in _BEN.items())
    o["events_benford"] = f"""
WITH obs AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM (SELECT CAST(floor(value * 100.0) AS BIGINT) AS cents FROM events) s
  WHERE cents >= 1 GROUP BY 1
),
j AS (
  SELECT d.digit, d.p, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
  FROM (VALUES {_ben_vals}) AS d(digit, p)
  LEFT JOIN obs o ON o.digit = d.digit
),
t AS (
  SELECT digit, p, n_obs, CAST(sum(n_obs) OVER () AS BIGINT) AS nn FROM j
),
terms AS (
  SELECT digit, n_obs,
         CAST(nn AS DOUBLE) * p AS e,
         CAST(floor((CAST(n_obs AS DOUBLE) - CAST(nn AS DOUBLE) * p)
                    * (CAST(n_obs AS DOUBLE) - CAST(nn AS DOUBLE) * p)
                    / (CAST(nn AS DOUBLE) * p) * 1000000.0 + 0.5)
              AS BIGINT) AS tu
  FROM t
)
SELECT digit, n_obs, round(e, 4) AS expected,
       round(CAST(sum(tu) OVER () AS BIGINT) / 1000000.0, 4) AS chi2
FROM terms"""

    o["text_kn_bigram"] = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
pr AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i+1])) AS w2
  FROM toks
),
big AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pr GROUP BY 1, 2
),
per1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1fwd
  FROM big GROUP BY 1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM big GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM big),
top AS (SELECT * FROM big ORDER BY c12 DESC, w1, w2 LIMIT 20)
SELECT t.w1, t.w2, t.c12, p1.c1, p1.n1fwd, co.ncont, nt.n_types,
       round(CAST((4 * t.c12 - 3) * nt.n_types
                  + 3 * p1.n1fwd * co.ncont AS DOUBLE)
             / CAST(4 * p1.c1 * nt.n_types AS DOUBLE), 4) AS p_kn
FROM top t JOIN per1 p1 USING (w1) JOIN cont co USING (w2) CROSS JOIN nt"""

    _z_terms = " + ".join(
        f"(((x >> {i}) & 1) * {1 << (2 * i)}"
        f" + ((y >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(10)
    )
    o["docs_zorder"] = f"""
WITH pts AS (
  SELECT least(n_chars, 1023) AS x, doc_id % 1024 AS y FROM documents
),
keyed AS (SELECT x, y, ({_z_terms}) AS z FROM pts)
SELECT z // 16384 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
       CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
FROM keyed GROUP BY 1"""

    # the drained streaming funnel == the batch funnel (per-step min
    # aggregates are order-insensitive over the complete basket)
    o["stream_funnel"] = o["events_funnel"]

    o["events_theilsen"] = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS BIGINT) AS y_c
  FROM events GROUP BY 1, 2
),
pr AS (
  SELECT a.event_type,
         CAST(b.y_c - a.y_c AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.x < b.x
),
r AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM pr
)
SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
       round(sum(slope) / count(*), 4) AS ts_slope
FROM r
WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2 + 1)
GROUP BY 1"""

    def _kd2(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    # 4 unrolled greedy rounds; every m_i is MATERIALIZED because the
    # next selection AND the next update both read it (DuckDB would
    # otherwise inline the recurrence exponentially — invariant #3)
    _kc = [
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings),",
        "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),",
        f"m1 AS MATERIALIZED (SELECT e.vec_id, e.v, {_kd2('e.v', 'c1.v')}"
        " AS d2 FROM e, c1),",
    ]
    for i in range(2, 5):
        _kc.append(
            f"s{i} AS MATERIALIZED (SELECT vec_id, v, d2 FROM m{i - 1}"
            f" ORDER BY d2 DESC, vec_id LIMIT 1),"
        )
        if i < 4:
            _kc.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.v,"
                f" least(m.d2, {_kd2('m.v', f's{i}.v')}) AS d2"
                f" FROM m{i - 1} m, s{i}),"
            )
    _kc[-1] = _kc[-1].rstrip(",")
    _kc.append(
        """
SELECT 1 AS sel_rank, vec_id, 0.0 AS radius2 FROM c1
UNION ALL SELECT 2, vec_id, round(d2, 4) FROM s2
UNION ALL SELECT 3, vec_id, round(d2, 4) FROM s3
UNION ALL SELECT 4, vec_id, round(d2, 4) FROM s4"""
    )
    o["sim_kcenter"] = "\n".join(_kc)

    # 4 unrolled Jones-Plassmann rounds; every nb/nodes/edges frame is
    # MATERIALIZED (each is read by 2+ later CTEs — invariant #3).
    # Colored condition and its exact complement: self-loops are absent
    # (a < b), so v == mx is impossible and <= is the true complement.
    _jp = [
        f"WITH {_docgraph_ctes()},",
        "nodes1 AS MATERIALIZED (SELECT DISTINCT v FROM"
        " (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)),",
        "edges1 AS MATERIALIZED (SELECT a, b FROM e0),",
    ]
    for r in range(1, 5):
        _jp.append(
            f"nb{r} AS MATERIALIZED ("
            f" SELECT n.v, max(m.w) AS mx"
            f" FROM nodes{r} n LEFT JOIN"
            f" (SELECT a AS v, b AS w FROM edges{r}"
            f"  UNION ALL SELECT b, a FROM edges{r}) m ON m.v = n.v"
            f" GROUP BY 1),"
        )
        if r < 4:
            _jp.append(
                f"nodes{r + 1} AS MATERIALIZED ("
                f" SELECT v FROM nb{r} WHERE mx IS NOT NULL AND v <= mx),"
            )
            _jp.append(
                f"edges{r + 1} AS MATERIALIZED ("
                f" SELECT a, b FROM edges{r}"
                f" WHERE a IN (SELECT v FROM nodes{r + 1})"
                f" AND b IN (SELECT v FROM nodes{r + 1})),"
            )
    _jp[-1] = _jp[-1].rstrip(",")
    _jp.append(
        "SELECT v AS doc_id, 1 AS color FROM nb1 WHERE mx IS NULL OR v > mx"
    )
    for r in range(2, 5):
        _jp.append(
            f"UNION ALL SELECT v, {r} FROM nb{r} WHERE mx IS NULL OR v > mx"
        )
    o["kg_coloring"] = "\n".join(_jp)

    o["events_anova"] = """
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(c) AS BIGINT) AS s_i, CAST(sum(c * c) AS BIGINT) AS q_i
  FROM (SELECT event_type, CAST(floor(value) AS BIGINT) AS c FROM events) s
  GROUP BY 1
),
t AS (
  SELECT *, CAST(sum(n_i) OVER () AS BIGINT) AS n,
         CAST(sum(s_i) OVER () AS BIGINT) AS s,
         CAST(sum(q_i) OVER () AS BIGINT) AS q,
         CAST(count(*) OVER () AS BIGINT) AS k
  FROM g
),
u AS (
  SELECT *,
    CAST(floor(CAST(n_i AS DOUBLE)
               * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
                  - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
                  - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS bu,
    CAST(floor(CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT) AS wu
  FROM t
),
a AS (
  SELECT CAST(max(k) AS BIGINT) AS k, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(bu) AS BIGINT) AS ssb_u,
         CAST(max(q) * 1000000 - sum(wu) AS BIGINT) AS ssw_u
  FROM u
)
SELECT k, n,
       round(ssb_u / 1000000.0, 4) AS ssb,
       round(ssw_u / 1000000.0, 4) AS ssw,
       round((ssb_u / CAST(k - 1 AS DOUBLE))
             / (ssw_u / CAST(n - k AS DOUBLE)), 4) AS f_stat
FROM a"""

    o["sample_systematic"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS INT) AS token_count,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, token_count,
         CAST(SUM(token_count) OVER (ORDER BY h, doc_id) AS BIGINT)
           AS cum_tokens
  FROM t
),
s AS (
  SELECT doc_id, token_count, cum_tokens,
         CAST((cum_tokens + 2048) // 4096
              - (cum_tokens - token_count + 2048) // 4096 AS BIGINT) AS n_hits
  FROM c
)
SELECT doc_id, token_count, cum_tokens, n_hits FROM s WHERE n_hits >= 1"""

    o["events_markov2"] = """
WITH pr AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
cnt AS (
  SELECT event_type AS a, next_type AS b, CAST(count(*) AS BIGINT) AS c
  FROM pr WHERE next_type IS NOT NULL GROUP BY 1, 2
),
q AS MATERIALIZED (
  SELECT a, b,
         (c * 1000000)
           // CAST(sum(c) OVER (PARTITION BY a) AS BIGINT) AS qv
  FROM cnt
)
SELECT x.a AS src, y.b AS dst, CAST(count(*) AS BIGINT) AS n_mid,
       round(CAST(sum(x.qv * y.qv) AS BIGINT) / 1000000000000.0, 4) AS p2
FROM q x JOIN q y ON x.b = y.a
GROUP BY 1, 2"""

    o["text_colloc_chi2"] = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
pr AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i+1])) AS w2
  FROM toks
),
big AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pr GROUP BY 1, 2
),
per1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
per2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM big GROUP BY 1),
nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM big),
sc AS (
  SELECT b.w1, b.w2, b.c12, p1.c1, p2.c2, nn.n,
         round(CAST(nn.n AS DOUBLE)
               * CAST(nn.n * b.c12 - p1.c1 * p2.c2 AS DOUBLE)
               * CAST(nn.n * b.c12 - p1.c1 * p2.c2 AS DOUBLE)
               / (CAST(p1.c1 * p2.c2 AS DOUBLE)
                  * CAST((nn.n - p1.c1) * (nn.n - p2.c2) AS DOUBLE)), 4)
           AS chi2
  FROM big b JOIN per1 p1 USING (w1) JOIN per2 p2 USING (w2) CROSS JOIN nn
  WHERE b.c12 >= 5
)
SELECT w1, w2, c12, c1, c2, n, chi2
FROM sc ORDER BY chi2 DESC, w1, w2 LIMIT 20"""

    # drained streaming moments == batch moments (monotone fold)
    o["stream_anova"] = o["events_anova"]

    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        _EN_STOPWORDS as _SW,
    )

    _sw_list = ", ".join(f"'{w}'" for w in _SW)
    o["text_rake"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
ex AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t))) AS pos,
         unnest(t) AS tok
  FROM toks
),
ns AS (
  SELECT doc_id, pos, tok FROM ex
  WHERE tok <> '' AND tok NOT IN ({_sw_list})
),
pw AS MATERIALIZED (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM ns
),
pl AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS plen
  FROM pw
),
ws AS (
  SELECT tok,
         (CAST(sum(plen) AS BIGINT) * 1000000000)
           // CAST(count(*) AS BIGINT) AS ws_q
  FROM pl GROUP BY 1
),
pp AS (
  SELECT p.doc_id, p.grp,
         string_agg(p.tok, ' ' ORDER BY p.pos) AS phrase,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(w.ws_q) AS BIGINT) AS score_q
  FROM pw p JOIN ws w USING (tok)
  GROUP BY 1, 2
),
ag AS (
  SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_occur,
         CAST(max(score_q) AS BIGINT) AS score_q
  FROM pp GROUP BY 1
)
SELECT phrase, n_words, n_occur,
       round(score_q / 1000000000.0, 4) AS score
FROM ag ORDER BY score_q DESC, phrase LIMIT 20"""

    o["events_ks"] = """
WITH cells AS MATERIALIZED (
  SELECT event_type AS g, value AS v, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
pairs AS (
  SELECT a.g AS g1, a.n AS n1, b.g AS g2, b.n AS n2
  FROM totals a JOIN totals b ON a.g < b.g
),
merged AS (
  SELECT p.g1, p.g2, p.n1, p.n2, c.v,
         CAST(sum(CASE WHEN c.g = p.g1 THEN c.c ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN c.g = p.g2 THEN c.c ELSE 0 END) AS BIGINT) AS d2
  FROM pairs p JOIN cells c ON c.g = p.g1 OR c.g = p.g2
  GROUP BY 1, 2, 3, 4, 5
),
walked AS (
  SELECT g1, g2, n1, n2,
         CAST(sum(d1) OVER w AS BIGINT) AS cum1,
         CAST(sum(d2) OVER w AS BIGINT) AS cum2
  FROM merged
  WINDOW w AS (PARTITION BY g1, g2 ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT g1 AS t1, g2 AS t2, n1, n2,
       CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
       round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE), 4) AS ks_d
FROM walked GROUP BY 1, 2, 3, 4"""

    _daily_nr = """
daily AS MATERIALIZED (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(count(*) AS BIGINT) AS n_ev,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM events GROUP BY 1, 2
)"""

    o["events_kendall"] = f"""
WITH {_daily_nr},
pr AS (
  SELECT a.event_type,
         sign(CAST(b.n_ev - a.n_ev AS DOUBLE)) AS sx,
         sign(CAST(b.rev_c - a.rev_c AS DOUBLE)) AS sy
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
         CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
         CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_y
  FROM pr GROUP BY 1
)
SELECT event_type, n_pairs, conc, disc,
       round(CAST(conc - disc AS DOUBLE)
             / sqrt(CAST(n_pairs - tie_x AS DOUBLE)
                    * CAST(n_pairs - tie_y AS DOUBLE)), 4) AS tau_b
FROM agg"""

    o["events_spearman"] = f"""
WITH {_daily_nr},
r AS (
  SELECT event_type,
         CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY n_ev)
              + count(*) OVER (PARTITION BY event_type, n_ev) - 1
              AS BIGINT) AS rx,
         CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY rev_c)
              + count(*) OVER (PARTITION BY event_type, rev_c) - 1
              AS BIGINT) AS ry
  FROM daily
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy
  FROM r GROUP BY 1
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 4) AS rho
FROM agg"""

    o["events_kruskal"] = """
WITH cells AS MATERIALIZED (
  SELECT user_id % 8 AS bucket,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
         event_type AS g, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
),
vtot AS MATERIALIZED (
  SELECT bucket, v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1, 2
),
ranked AS (
  SELECT bucket, v, t,
         CAST(2 * sum(t) OVER (PARTITION BY bucket ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - t + 1 AS BIGINT) AS r2
  FROM vtot
),
per_g AS (
  SELECT c.bucket, c.g, CAST(sum(c.c) AS BIGINT) AS n_g,
         CAST(sum(c.c * r.r2) AS BIGINT) AS s2_g
  FROM cells c JOIN ranked r ON c.bucket = r.bucket AND c.v = r.v
  GROUP BY 1, 2
),
tot AS (
  SELECT bucket, n_g, s2_g,
         CAST(sum(n_g) OVER (PARTITION BY bucket) AS BIGINT) AS n,
         CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS k
  FROM per_g
),
terms AS (
  SELECT bucket, n, k, n_g,
         CAST(s2_g AS DOUBLE) / CAST(2 * n_g AS DOUBLE)
           - CAST(n + 1 AS DOUBLE) / 2.0 AS dg
  FROM tot
),
between_t AS (
  SELECT bucket, CAST(max(k) AS BIGINT) AS k, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(CAST(floor(CAST(n_g AS DOUBLE) * dg * dg * 1000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS b_u
  FROM terms GROUP BY 1
),
ties AS (
  SELECT bucket, CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM vtot GROUP BY 1
)
SELECT b.bucket, b.k, b.n,
       round(12.0 * (CAST(b.b_u AS DOUBLE) / 1000.0)
             / CAST(b.n * (b.n + 1) AS DOUBLE), 4) AS h_stat,
       round((12.0 * (CAST(b.b_u AS DOUBLE) / 1000.0)
              / CAST(b.n * (b.n + 1) AS DOUBLE))
             / (1.0 - CAST(t.tie3 AS DOUBLE)
                      / CAST(b.n * b.n * b.n - b.n AS DOUBLE)), 4) AS h_adj
FROM between_t b JOIN ties t USING (bucket)"""

    o["events_trimmed"] = """
WITH r AS (
  SELECT event_type, v,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY v)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM (SELECT event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        FROM events) z
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(v) AS BIGINT) AS sum_kept,
       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS tmean_c
FROM r
WHERE rn > floor(n * 1 / 10) AND rn <= n - floor(n * 1 / 10)
GROUP BY 1"""

    o["events_mad"] = """
WITH r1 AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM events
),
med AS MATERIALIZED (
  SELECT event_type, sum(value) / count(*) AS med,
         CAST(max(m) AS BIGINT) AS n
  FROM r1 WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2) + 1
  GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.med, m.n, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, med, n, adev,
         row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM dev
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n, round(max(med), 4) AS med,
       round(sum(adev) / count(*), 4) AS mad
FROM r2 WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2) + 1
GROUP BY 1"""

    o["events_runs"] = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
              AS DOUBLE) AS rev
  FROM events GROUP BY 1, 2
),
r1 AS (
  SELECT event_type, rev,
         row_number() OVER (PARTITION BY event_type ORDER BY rev) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM daily
),
med AS MATERIALIZED (
  SELECT event_type, sum(rev) / count(*) AS med
  FROM r1 WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2) + 1
  GROUP BY 1
),
sided AS (
  SELECT d.event_type, d.day,
         CASE WHEN d.rev > m.med THEN 1 ELSE 0 END AS side
  FROM daily d JOIN med m USING (event_type)
  WHERE d.rev <> m.med
),
marked AS (
  SELECT event_type, side,
         CASE WHEN lag(side) OVER w IS NULL
                OR lag(side) OVER w <> side THEN 1 ELSE 0 END AS new_run
  FROM sided WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
agg AS (
  SELECT event_type, CAST(sum(side) AS BIGINT) AS n1,
         CAST(sum(1 - side) AS BIGINT) AS n2,
         CAST(sum(new_run) AS BIGINT) AS runs
  FROM marked GROUP BY 1
)
SELECT event_type, n1, n2, runs,
       round((CAST(runs AS DOUBLE)
              - (1.0 + CAST(2 * n1 * n2 AS DOUBLE)
                       / CAST(n1 + n2 AS DOUBLE)))
             / sqrt(CAST((2 * n1 * n2) * ((2 * n1 * n2) - (n1 + n2))
                         AS DOUBLE)
                    / CAST((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1)
                           AS DOUBLE)), 4) AS z_runs
FROM agg"""

    o["text_ari"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT)
           AS n_alnum,
         CAST(len({_TOKS}) AS BIGINT) AS word_count,
         greatest(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS n_sentences
  FROM documents
)
SELECT doc_id, n_alnum, word_count, n_sentences,
       floor((4.71 * (n_alnum * 1.0 / word_count)
              + 0.5 * (word_count * 1.0 / n_sentences) - 21.43)
             * 10000.0 + 0.5) / 10000.0 AS ari,
       floor((0.0588 * (n_alnum * 100.0 / word_count)
              - 0.296 * (n_sentences * 100.0 / word_count) - 15.8)
             * 10000.0 + 0.5) / 10000.0 AS cli
FROM base"""

    o["text_textrank"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
ex AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t))) AS pos,
         unnest(t) AS tok
  FROM toks
),
ns AS MATERIALIZED (
  SELECT doc_id, pos, tok FROM ex
  WHERE tok <> '' AND tok NOT IN ({_sw_list})
),
e AS (
  SELECT least(a.tok, b.tok) AS a, greatest(a.tok, b.tok) AS b,
         CAST(count(*) AS BIGINT) AS wt
  FROM ns a JOIN ns b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2
   AND a.tok <> b.tok
  GROUP BY 1, 2
),
und AS (SELECT a AS x, b AS y, wt FROM e
        UNION ALL SELECT b AS x, a AS y, wt FROM e),
deg AS (SELECT x, CAST(SUM(wt) AS BIGINT) AS deg FROM und GROUP BY x),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT x AS name, 1.0 / (SELECT n FROM nn) AS rank FROM deg){_wpr_iters}
SELECT name AS word, round(rank * (SELECT n FROM nn), 4) AS rank_norm
FROM r8
ORDER BY rank_norm DESC, word LIMIT 30"""

    o["kg_reciprocity"] = f"""
WITH {_triples_cte()},
e AS (
  SELECT DISTINCT pred, subj AS s, obj AS d FROM triples WHERE subj <> obj
),
pair AS (
  SELECT pred, least(s, d) AS lo, greatest(s, d) AS hi,
         CAST(count(*) AS BIGINT) AS n_dir
  FROM e GROUP BY 1, 2, 3
),
g AS (
  SELECT pred,
         CAST(sum(CASE WHEN n_dir = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS mutual,
         CAST(sum(CASE WHEN n_dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS asym
  FROM pair GROUP BY 1
)
SELECT pred, mutual, asym,
       round(CAST(2 * mutual AS DOUBLE)
             / CAST(2 * mutual + asym AS DOUBLE), 4) AS reciprocity
FROM g"""

    o["events_groupsets"] = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(CAST(dow AS VARCHAR), '(all)') AS dow,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(dow) AS BIGINT) AS g_dow,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS rev_c
FROM (SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow,
             value
      FROM events) z
GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))"""

    o["stream_benford"] = o["events_benford"]
    o["stream_simpson"] = o["events_simpson"]

    o["events_changepoint"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, day AS o,
         CAST(row_number() OVER wd AS BIGINT) AS rn,
         CAST(sum(rev_c) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(rev_c) OVER (PARTITION BY event_type) AS BIGINT) AS s
  FROM daily
  WINDOW wd AS (PARTITION BY event_type ORDER BY day)
),
scored AS (
  SELECT event_type, o, rn, cum, n, s,
         CAST(floor((CAST(cum * cum AS DOUBLE) / CAST(rn AS DOUBLE)
                     + CAST((s - cum) * (s - cum) AS DOUBLE)
                       / CAST(n - rn AS DOUBLE)
                     - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000.0 + 0.5) AS BIGINT) AS gain_milli
  FROM seq WHERE rn < n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY gain_milli DESC, rn ASC) AS rk
  FROM scored
)
SELECT event_type, n, o AS split_at, rn AS n_before,
       CAST(n - rn AS BIGINT) AS n_after,
       CAST(cum // rn AS BIGINT) AS mean_before,
       CAST((s - cum) // (n - rn) AS BIGINT) AS mean_after,
       gain_milli
FROM best WHERE rk = 1"""

    o["events_phi"] = """
WITH cells AS MATERIALIZED (
  SELECT DISTINCT event_type AS g,
         CAST(user_id * 1000000
              + datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS u
  FROM events
),
nu AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_units FROM cells),
marg AS (SELECT g, CAST(count(*) AS BIGINT) AS m FROM cells GROUP BY 1),
ovl AS (
  SELECT l.g AS g1, r.g AS g2, CAST(count(*) AS BIGINT) AS n11
  FROM cells l JOIN cells r ON l.u = r.u AND l.g < r.g
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.g AS g1, b.g AS g2, a.m AS m1, b.m AS m2,
         CAST(coalesce(ovl.n11, 0) AS BIGINT) AS n11,
         (SELECT n_units FROM nu) AS n_units
  FROM marg a JOIN marg b ON a.g < b.g
  LEFT JOIN ovl ON ovl.g1 = a.g AND ovl.g2 = b.g
)
SELECT g1 AS t1, g2 AS t2, n11,
       CAST(m1 - n11 AS BIGINT) AS n10,
       CAST(m2 - n11 AS BIGINT) AS n01,
       CAST(n_units - m1 - m2 + n11 AS BIGINT) AS n00,
       round(CASE WHEN m1 > 0 AND m1 < n_units AND m2 > 0 AND m2 < n_units
             THEN CAST(n11 * (n_units - m1 - m2 + n11)
                       - (m1 - n11) * (m2 - n11) AS DOUBLE)
                  / sqrt(CAST(m1 * (n_units - m1) AS DOUBLE)
                         * CAST(m2 * (n_units - m2) AS DOUBLE))
             ELSE 0.0 END, 4) AS phi
FROM pairs"""

    o["text_lexical"] = f"""
WITH tf AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest({_TOKS}) AS tok FROM documents) z
  WHERE tok <> ''
  GROUP BY 1, 2
),
g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
  FROM tf GROUP BY 1
)
SELECT lang, vocab, n_tokens, hapax, dis,
       round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS ttr,
       round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 4)
         AS hapax_share
FROM g"""

    o["events_rank_fns"] = """
WITH r AS (
  SELECT event_type, cents,
         CAST(ntile(10) OVER w AS BIGINT) AS decile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM (SELECT event_type, event_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events) z
  WINDOW w AS (PARTITION BY event_type ORDER BY cents, event_id)
)
SELECT event_type, decile, CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS min_c,
       CAST(max(cents) AS BIGINT) AS max_c,
       CAST(sum(cents) AS BIGINT) AS sum_c,
       floor(max(pr) * 10000.0 + 0.5) / 10000.0 AS pr_hi,
       floor(max(cd) * 10000.0 + 0.5) / 10000.0 AS cd_hi
FROM r GROUP BY 1, 2"""

    o["events_snaive"] = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT cur.event_type, abs(cur.n_ev - prev.n_ev) AS err
  FROM daily cur JOIN daily prev
    ON cur.event_type = prev.event_type AND cur.day = prev.day + 7
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_backtest,
       CAST(sum(err) AS BIGINT) AS total_abs_err,
       floor(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS mae
FROM j GROUP BY 1"""

    o["events_sax"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, day, n_ev AS y,
         CAST(count(*) OVER wk AS BIGINT) AS cnt,
         CAST(sum(n_ev) OVER wk AS BIGINT) AS s,
         CAST(sum(n_ev * n_ev) OVER wk AS BIGINT) AS ss
  FROM daily WINDOW wk AS (PARTITION BY event_type)
),
sy AS (
  SELECT event_type, day,
         CASE WHEN cnt * ss - s * s = 0 THEN 'b'
              WHEN z < -0.6745 THEN 'a'
              WHEN z < 0.0 THEN 'b'
              WHEN z < 0.6745 THEN 'c'
              ELSE 'd' END AS sym
  FROM (SELECT *,
               (CAST(y AS DOUBLE) - CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
               / sqrt(CAST(cnt * ss - s * s AS DOUBLE)
                      / CAST(cnt * (cnt - 1) AS DOUBLE)) AS z
        FROM m WHERE cnt >= 2) t
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       coalesce(string_agg(sym, '' ORDER BY day), '') AS sax
FROM sy GROUP BY 1"""

    o["events_intervals"] = """
WITH iv AS (
  SELECT event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS st,
         CAST(floor(epoch(ts)) AS BIGINT) + 300 AS en
  FROM events
),
m AS (
  SELECT event_type, st, en,
         max(en) OVER (PARTITION BY event_type ORDER BY st, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(CASE WHEN prev_max IS NULL OR st > prev_max
                THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
       CAST(sum(greatest(0, en - greatest(st, coalesce(prev_max, st))))
            AS BIGINT) AS covered
FROM m GROUP BY 1"""

    o["text_keyness"] = f"""
WITH tf AS MATERIALIZED (
  SELECT tok,
         CAST(sum(f) AS BIGINT) AS a,
         CAST(sum(1 - f) AS BIGINT) AS b
  FROM (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f,
               unnest({_TOKS}) AS tok
        FROM documents) z
  WHERE tok <> ''
  GROUP BY 1
),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
        FROM tf),
scored AS (
  SELECT tok, a, b,
         CASE WHEN a * nb > b * na THEN 'focus' ELSE 'reference' END
           AS enriched,
         CAST(floor(CAST(na + nb AS DOUBLE)
               * (CAST(a * (nb - b) - b * (na - a) AS DOUBLE)
                  * CAST(a * (nb - b) - b * (na - a) AS DOUBLE))
               / ((CAST(a + b AS DOUBLE)
                   * CAST((na - a) + (nb - b) AS DOUBLE))
                  * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
               * 1000.0 + 0.5) AS BIGINT) AS chi2_q
  FROM tf, tot
)
SELECT tok, a, b, enriched, chi2_q / 1000.0 AS chi2
FROM scored ORDER BY chi2_q DESC, tok LIMIT 20"""

    # 8 closure-expansion rounds, each MATERIALIZED (referenced by the
    # next round's join AND carry — invariant #3)
    _scc_rounds = "".join(
        f""",
r{k + 1} AS MATERIALIZED (
  SELECT DISTINCT v, w FROM (
    SELECT v, w FROM r{k}
    UNION ALL
    SELECT r{k}.v, e.y AS w FROM r{k} JOIN e ON r{k}.w = e.x
  )
)"""
        for k in range(8)
    )
    o["kg_scc"] = f"""
WITH {_triples_cte()},
e AS MATERIALIZED (
  SELECT DISTINCT subj AS x, obj AS y FROM triples WHERE subj <> obj
),
nodes AS (SELECT DISTINCT x AS v FROM e
          UNION SELECT DISTINCT y AS v FROM e),
r0 AS (SELECT v, v AS w FROM nodes){_scc_rounds},
sigs AS (
  SELECT v, md5(string_agg(w, '|' ORDER BY w)) AS sig
  FROM r8 GROUP BY v
)
SELECT v AS name,
       min(v) OVER (PARTITION BY sig) AS scc_id,
       CAST(count(*) OVER (PARTITION BY sig) AS BIGINT) AS scc_size
FROM sigs"""

    # degree-discount: 4 unrolled greedy rounds; each state s{i} is
    # MATERIALIZED (the pick AND the next state read it)
    _dd_rounds = []
    for i in range(1, 5):
        _dd_rounds.append(
            f"""
p{i} AS MATERIALIZED (
  SELECT {i} AS sel_rank, name, dd FROM (
    SELECT name, CAST(deg - 2 * t AS BIGINT) AS dd FROM s{i - 1}
  ) ORDER BY dd DESC, name LIMIT 1
)"""
        )
        if i < 4:
            _dd_rounds.append(
                f"""
s{i} AS MATERIALIZED (
  SELECT s.name, s.deg,
         CAST(s.t + CASE WHEN EXISTS (
           SELECT 1 FROM und u, p{i}
           WHERE u.x = p{i}.name AND u.y = s.name) THEN 1 ELSE 0 END
           AS BIGINT) AS t
  FROM s{i - 1} s
  WHERE s.name <> (SELECT name FROM p{i})
)"""
            )
    o["kg_influence"] = f"""
WITH {_docgraph_ctes()},
und AS MATERIALIZED (SELECT a AS x, b AS y FROM e0
                     UNION ALL SELECT b AS x, a AS y FROM e0),
s0 AS MATERIALIZED (
  SELECT x AS name, CAST(count(*) AS BIGINT) AS deg,
         CAST(0 AS BIGINT) AS t
  FROM und GROUP BY x
),{",".join(_dd_rounds)}
SELECT CAST(sel_rank AS BIGINT) AS sel_rank, name AS doc_id, dd FROM p1
UNION ALL SELECT 2, name, dd FROM p2
UNION ALL SELECT 3, name, dd FROM p3
UNION ALL SELECT 4, name, dd FROM p4"""

    o["sim_mips"] = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qs AS (SELECT vec_id AS query_id, v AS q FROM emb WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         CAST(floor(list_dot_product(q.q, e.v) * 1000000000.0 + 0.5)
              AS BIGINT) AS dot_q
  FROM emb e, qs q WHERE e.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, dot_q,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY dot_q DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id,
       floor((dot_q / 1000000000.0) * 10000.0 + 0.5) / 10000.0 AS dot,
       rank
FROM rk WHERE rank <= 5"""

    o["events_peaks"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2
),
marked AS (
  SELECT event_type, day, n_ev,
         coalesce(n_ev > lag(n_ev) OVER w AND n_ev > lead(n_ev) OVER w,
                  FALSE) AS is_peak
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
pk AS (
  SELECT event_type, day, n_ev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n_ev DESC, day ASC) AS rk
  FROM marked WHERE is_peak
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CASE WHEN is_peak THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks
  FROM marked GROUP BY 1
)
SELECT agg.event_type, agg.n_days, agg.n_peaks,
       CAST(pk.day AS BIGINT) AS top_peak_day,
       CAST(pk.n_ev AS BIGINT) AS top_peak_val
FROM agg LEFT JOIN pk ON agg.event_type = pk.event_type AND pk.rk = 1"""

    # min_shared=2 (see the gate comment): swap the >=3 blocking of the
    # shared docgraph CTE chain for the denser 2-shared-shingle graph
    o["kg_cliques4"] = f"""
WITH {_docgraph_ctes().replace("COUNT(*) >= 3", "COUNT(*) >= 2")},
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
    SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0
  ) GROUP BY 1
),
eo AS MATERIALIZED (
  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e0.a < e0.b)
              THEN e0.a ELSE e0.b END AS x,
         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e0.a < e0.b)
              THEN e0.b ELSE e0.a END AS y
  FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
),
tri AS MATERIALIZED (
  SELECT w1.x AS u, w1.y AS v, w2.y AS w
  FROM eo w1 JOIN eo w2 ON w1.x = w2.x
  JOIN eo c ON c.x = w1.y AND c.y = w2.y
),
c4 AS (
  SELECT count(*) AS n FROM tri
  JOIN eo e1 ON e1.y = tri.u
  JOIN eo e2 ON e2.x = e1.x AND e2.y = tri.v
  JOIN eo e3 ON e3.x = e1.x AND e3.y = tri.w
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
       (SELECT CAST(n AS BIGINT) FROM c4) AS n_cliques4"""

    o["events_realized_var"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM events GROUP BY 1, 2
),
diffs AS (
  SELECT event_type,
         rev_c - lag(rev_c) OVER (PARTITION BY event_type ORDER BY day)
           AS dlt
  FROM daily
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_diffs,
       CAST(sum(dlt * dlt) AS BIGINT) AS rv_sum,
       floor(CAST(sum(dlt * dlt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS rv_mean
FROM diffs WHERE dlt IS NOT NULL GROUP BY 1"""

    o["stream_snaive"] = o["events_snaive"]

    o["sim_centroids"] = """
WITH cells AS MATERIALIZED (
  SELECT label AS l, dim - 1 AS dim,
         CAST(sum(CAST(floor(v * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM (SELECT label,
               unnest(generate_series(1, len(embedding))) AS dim,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings) z
  GROUP BY 1, 2
),
counts AS (SELECT label AS l, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1),
mom AS (
  SELECT a.l AS l1, b.l AS l2,
         CAST(sum(a.s * b.s) AS BIGINT) AS sxy,
         CAST(sum(a.s * a.s) AS BIGINT) AS sxx,
         CAST(sum(b.s * b.s) AS BIGINT) AS syy
  FROM cells a JOIN cells b ON a.dim = b.dim AND a.l < b.l
  GROUP BY 1, 2
)
SELECT mom.l1, mom.l2, c1.n AS n1, c2.n AS n2,
       floor(CAST(sxy AS DOUBLE)
             / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
             * 10000.0 + 0.5) / 10000.0 AS cos_c
FROM mom JOIN counts c1 ON c1.l = mom.l1 JOIN counts c2 ON c2.l = mom.l2"""

    o["events_seasonal"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, day, n_ev AS y,
         CAST(count(*) OVER w AS BIGINT) AS n_w,
         CAST(sum(n_ev) OVER w AS BIGINT) AS s_w
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
cells AS (
  SELECT event_type, CAST(day % 7 AS BIGINT) AS phase,
         CAST(floor((CAST(y AS DOUBLE) - CAST(s_w AS DOUBLE) / 7.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS dq
  FROM m WHERE n_w = 7
),
g AS (
  SELECT event_type, phase, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(dq) AS BIGINT) AS sq
  FROM cells GROUP BY 1, 2
)
SELECT event_type, phase, n_obs,
       floor(CAST(sq AS DOUBLE) / CAST(n_obs AS DOUBLE) / 1000000.0
             * 10000.0 + 0.5) / 10000.0 AS seasonal
FROM g"""

    o["sim_knn_acc"] = f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
qs AS (SELECT vec_id AS query_id, label AS true_label, v AS q
       FROM emb WHERE vec_id % 17 = 0),
scored AS (
  SELECT q.query_id, q.true_label, e.label AS nbr_label, e.vec_id,
         CAST(floor({_cos('q.q', 'e.v')} * 1000000000.0 + 0.5) AS BIGINT)
           AS score_q
  FROM emb e, qs q WHERE e.vec_id <> q.query_id
),
nbrs AS (
  SELECT query_id, true_label, nbr_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score_q DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= 5
),
votes AS (
  SELECT query_id, true_label, nbr_label, CAST(count(*) AS BIGINT) AS c
  FROM nbrs GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, true_label, nbr_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY c DESC, nbr_label) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       floor(CAST(sum(CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS acc
FROM pred GROUP BY 1"""

    o["text_burstiness"] = f"""
WITH cells AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) z
  WHERE tok <> ''
  GROUP BY 1, 2
),
dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
g AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM cells GROUP BY 1
)
SELECT tok, df, total,
       floor(CAST(d * sq - total * total AS DOUBLE)
             / CAST(d * total AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS fano
FROM g, dd ORDER BY df DESC, tok LIMIT 20"""

    o["events_attrib_ushape"] = """
WITH m AS (
  SELECT event_type AS channel,
         CAST(row_number() OVER wo AS BIGINT) AS rn,
         CAST(count(*) OVER wj AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER wj AS BIGINT) AS n_conv
  FROM events
  WINDOW wj AS (PARTITION BY user_id, CAST(ts AS DATE)),
         wo AS (PARTITION BY user_id, CAST(ts AS DATE)
                ORDER BY ts, event_id)
),
c AS (
  SELECT channel,
         CASE WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN rn = 1 OR rn = n THEN 400000
              ELSE 200000 // (n - 2) END AS credit_u
  FROM m WHERE n_conv >= 1
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
       round(CAST(sum(credit_u) AS BIGINT) / 1000000.0, 4) AS credit
FROM c GROUP BY 1"""

    o["events_pareto"] = """
WITH spend AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, c,
         CAST(row_number() OVER wo AS BIGINT) AS rn,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY c DESC, user_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(c) OVER wt AS BIGINT) AS total,
         CAST(count(*) OVER wt AS BIGINT) AS n_users
  FROM spend
  WINDOW wo AS (PARTITION BY event_type ORDER BY c DESC, user_id),
         wt AS (PARTITION BY event_type)
)
SELECT event_type, CAST(max(n_users) AS BIGINT) AS n_users,
       CAST(max(total) AS BIGINT) AS total_c,
       CAST(min(CASE WHEN 100 * cum >= 80 * total THEN rn END) AS BIGINT)
         AS n_top80,
       floor(CAST(min(CASE WHEN 100 * cum >= 80 * total THEN rn END)
                  AS DOUBLE) / CAST(max(n_users) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS user_share80
FROM m GROUP BY 1"""

    o["text_code_detect"] = """
WITH base AS (
  SELECT doc_id,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars_ns,
         CAST(len(regexp_extract_all(text, '[{}();=\\[\\]<>#]')) AS BIGINT)
           AS n_sym,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
  FROM documents
)
SELECT doc_id, n_chars_ns, n_sym, n_digit,
       CAST(floor((3.0 * (CAST(n_sym AS DOUBLE) / CAST(n_chars_ns AS DOUBLE))
                   + 2.0 * (CAST(n_digit AS DOUBLE)
                            / CAST(n_chars_ns AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) AS code_score_q,
       CAST(floor((3.0 * (CAST(n_sym AS DOUBLE) / CAST(n_chars_ns AS DOUBLE))
                   + 2.0 * (CAST(n_digit AS DOUBLE)
                            / CAST(n_chars_ns AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) >= 150000 AS is_codelike
FROM base WHERE n_chars_ns > 0"""

    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        P7_COS,
        P7_SIN,
    )

    _c_case = "CASE CAST(day % 7 AS INT) " + " ".join(
        f"WHEN {k} THEN {P7_COS[k]}" for k in range(7)
    ) + " ELSE 0.0 END"
    _s_case = "CASE CAST(day % 7 AS INT) " + " ".join(
        f"WHEN {k} THEN {P7_SIN[k]}" for k in range(7)
    ) + " ELSE 0.0 END"
    o["events_periodogram"] = f"""
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(CAST(n_ev AS DOUBLE) * ({_c_case})
                             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS a_q,
         CAST(sum(CAST(floor(CAST(n_ev AS DOUBLE) * ({_s_case})
                             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS b_q
  FROM daily GROUP BY 1
)
SELECT event_type, n, a_q, b_q,
       floor(((a_q / 1000000.0) * (a_q / 1000000.0)
              + (b_q / 1000000.0) * (b_q / 1000000.0)) / CAST(n AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS p7
FROM g"""

    # shared exact-vs-IVF ranking CTE chain (recall/RR and nDCG evals)
    _IVF_EVAL = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_embedding FROM e
      WHERE vec_id < 5),
ex_scored AS (
  SELECT q.query_id, e.vec_id,
         round({_cos("q.q_embedding", "e.embedding")}, 4) AS score
  FROM e, q WHERE e.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id, ex_rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id ASC) AS ex_rank
    FROM ex_scored
  ) WHERE ex_rank <= 5
),
cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM e
          ORDER BY vec_id LIMIT 16),
scored_assign AS (
  SELECT e.vec_id, e.embedding, cents.cell,
         row_number() OVER (PARTITION BY e.vec_id
            ORDER BY round({_cos("e.embedding", "cents.c_emb")}, 6) DESC,
                     cents.cell ASC) AS rn
  FROM e, cents
),
assigned AS (SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
q2 AS (
  SELECT a.vec_id AS query_id, a.embedding AS q_embedding, a.cell AS q_cell
  FROM assigned a WHERE a.vec_id < 5
),
ap_scored AS (
  SELECT q2.query_id, a.vec_id,
         round({_cos("q2.q_embedding", "a.embedding")}, 4) AS score
  FROM assigned a JOIN q2 ON a.cell = q2.q_cell
  WHERE a.vec_id <> q2.query_id
),
approx AS (
  SELECT query_id, vec_id, ap_rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id ASC) AS ap_rank
    FROM ap_scored
  ) WHERE ap_rank <= 5
)"""

    o["sim_recall_eval"] = f"""{_IVF_EVAL},
j AS (
  SELECT exact.query_id, exact.ex_rank, approx.ap_rank
  FROM exact LEFT JOIN approx
    ON exact.query_id = approx.query_id AND exact.vec_id = approx.vec_id
),
g AS (
  SELECT query_id,
         CAST(sum(CASE WHEN ap_rank IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(max(CASE WHEN ex_rank = 1 THEN coalesce(ap_rank, 0) END)
              AS BIGINT) AS top1_ap_rank
  FROM j GROUP BY 1
)
SELECT query_id, n_hits,
       CAST(n_hits AS DOUBLE) / 5.0 AS recall5,
       (CASE WHEN top1_ap_rank > 0 THEN 1000000 // top1_ap_rank
             ELSE 0 END) / 1000000.0 AS rr
FROM g"""

    o["events_mannwhitney"] = """
WITH cells AS MATERIALIZED (
  SELECT event_type AS g, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
pairs AS (
  SELECT a.g AS g1, a.n AS n1, b.g AS g2, b.n AS n2
  FROM totals a JOIN totals b ON a.g < b.g
),
merged AS (
  SELECT p.g1, p.g2, p.n1, p.n2, c.v,
         CAST(sum(CASE WHEN c.g = p.g1 THEN c.c ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(c.c) AS BIGINT) AS t
  FROM pairs p JOIN cells c ON c.g = p.g1 OR c.g = p.g2
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT g1, g2, n1, n2, d1, t,
         CAST(2 * sum(t) OVER w - t + 1 AS BIGINT) AS r2
  FROM merged
  WINDOW w AS (PARTITION BY g1, g2 ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
g AS (
  SELECT g1, g2, n1, n2,
         CAST(sum(d1 * r2) AS BIGINT) AS s2_1,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM ranked GROUP BY 1, 2, 3, 4
)
SELECT g1 AS t1, g2 AS t2, n1, n2,
       CAST(s2_1 - n1 * (n1 + 1) AS BIGINT) AS u2,
       floor(CAST((s2_1 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE)
             / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
                * (CAST((n1 + n2) + 1 AS DOUBLE)
                   - CAST(tie3 AS DOUBLE)
                     / CAST((n1 + n2) * ((n1 + n2) - 1) AS DOUBLE))))
             * 10000.0 + 0.5) / 10000.0 AS z_u
FROM g"""

    o["events_unpivot"] = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily),
types AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view'])
            AS event_type)
SELECT days.day, types.event_type,
       CAST(coalesce(daily.n, 0) AS BIGINT) AS n
FROM days CROSS JOIN types
LEFT JOIN daily ON daily.day = days.day
              AND daily.event_type = types.event_type"""

    o["events_did"] = """
WITH cells AS (
  SELECT event_type,
         CASE WHEN user_id % 2 = 0 AND
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
              THEN 't2'
              WHEN user_id % 2 = 0 THEN 't1'
              WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
              THEN 'c2'
              ELSE 'c1' END AS cell,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
wide AS (
  SELECT event_type,
         max(CASE WHEN cell = 't1' THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             END) AS t1,
         max(CASE WHEN cell = 't2' THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             END) AS t2,
         max(CASE WHEN cell = 'c1' THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             END) AS c1,
         max(CASE WHEN cell = 'c2' THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             END) AS c2
  FROM cells GROUP BY 1
)
SELECT event_type,
       floor(t1 * 10000.0 + 0.5) / 10000.0 AS t1,
       floor(t2 * 10000.0 + 0.5) / 10000.0 AS t2,
       floor(c1 * 10000.0 + 0.5) / 10000.0 AS c1,
       floor(c2 * 10000.0 + 0.5) / 10000.0 AS c2,
       floor(((t2 - t1) - (c2 - c1)) * 10000.0 + 0.5) / 10000.0 AS did
FROM wide"""

    o["events_cuped"] = """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(sum(CASE WHEN datediff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) < 15
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN datediff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) >= 15
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per_user GROUP BY 1
)
SELECT event_type, n,
       floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS theta,
       floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 10000.0 + 0.5) / 10000.0 AS var_reduction
FROM g"""

    o["stream_did"] = o["events_did"]
    # streaming folds share the batch oracles verbatim (drain contracts:
    # monotone update-mode cells, see the gate docstrings); entries are
    # attached after the batch oracles are defined, at the end of this
    # function.

    # ── sixteenth-session family: time-series model estimation ──────────
    # shared CTE: the per-type daily series with row_number positions
    _SER = """
daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
),
ser AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS pos,
         cents, cents // 100 AS dollars
  FROM daily
)"""

    _ACOV = (
        _SER
        + """,
lagged AS (
  SELECT event_type, dollars AS x,
         lag(dollars, 1) OVER (PARTITION BY event_type ORDER BY pos) AS x1,
         lag(dollars, 2) OVER (PARTITION BY event_type ORDER BY pos) AS x2,
         lag(dollars, 3) OVER (PARTITION BY event_type ORDER BY pos) AS x3
  FROM ser
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS p0,
         CAST(sum(x * x1) AS BIGINT) AS p1,
         CAST(sum(x1) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS t1,
         CAST(sum(x * x2) AS BIGINT) AS p2,
         CAST(sum(x2) AS BIGINT) AS h2,
         CAST(sum(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT) AS t2,
         CAST(sum(x * x3) AS BIGINT) AS p3,
         CAST(sum(x3) AS BIGINT) AS h3,
         CAST(sum(CASE WHEN x3 IS NOT NULL THEN x END) AS BIGINT) AS t3
  FROM lagged GROUP BY 1
),
c AS (
  SELECT event_type, n,
         n * n * p0 - n * s * s AS c0,
         n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s AS c1,
         n * n * p2 - n * s * (h2 + t2) + (n - 2) * s * s AS c2,
         n * n * p3 - n * s * (h3 + t3) + (n - 3) * s * s AS c3
  FROM g
)"""
    )

    o["events_ar2"] = f"""
WITH {_ACOV}
SELECT event_type, n,
       floor(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS r1,
       floor(CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS r2,
       floor(CAST(c1 AS DOUBLE) * (CAST(c0 AS DOUBLE) - CAST(c2 AS DOUBLE))
             / (CAST(c0 AS DOUBLE) * CAST(c0 AS DOUBLE)
                - CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS phi1,
       floor((CAST(c2 AS DOUBLE) * CAST(c0 AS DOUBLE)
              - CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE))
             / (CAST(c0 AS DOUBLE) * CAST(c0 AS DOUBLE)
                - CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS phi2
FROM c"""

    o["events_ljungbox"] = f"""
WITH {_ACOV},
r AS (
  SELECT event_type, CAST(n AS DOUBLE) AS nd, n,
         CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
         CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
         CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3
  FROM c
)
SELECT event_type, n,
       floor(nd * (nd + 2.0)
             * ((r1 * r1) / (nd - 1.0) + (r2 * r2) / (nd - 2.0)
                + (r3 * r3) / (nd - 3.0))
             * 10000.0 + 0.5) / 10000.0 AS q_lb
FROM r"""

    o["events_vratio"] = f"""
WITH {_SER},
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dollars) AS BIGINT) AS s,
         CAST(sum(dollars * dollars) AS BIGINT) AS p0
  FROM ser GROUP BY 1
),
buck AS (
  SELECT event_type, (pos - 1) // 5 AS b,
         CAST(sum(dollars) AS BIGINT) AS y, count(*) AS bn
  FROM ser GROUP BY 1, 2 HAVING count(*) = 5
),
bg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS pyy
  FROM buck GROUP BY 1
)
SELECT base.event_type, n, nb,
       floor(CAST((nb * pyy - sy * sy) * n * (n - 1) AS DOUBLE)
             / CAST(5 * nb * (nb - 1) * (n * p0 - s * s) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS vr
FROM base JOIN bg ON base.event_type = bg.event_type"""

    o["events_haar"] = f"""
WITH {_SER},
lv AS (SELECT * FROM (VALUES (1, 1, 2), (2, 2, 4), (3, 4, 8), (4, 8, 16))
       AS t(level, pw, bs)),
d AS (
  SELECT event_type, level, (pos - 1) // bs AS blk,
         CAST(sum(cents * (1 - 2 * (((pos - 1) // pw) % 2))) AS BIGINT)
           AS dcoef
  FROM ser, lv WHERE pos <= 16 GROUP BY 1, 2, 3
)
SELECT event_type, CAST(level AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(dcoef * dcoef) AS BIGINT) AS energy
FROM d GROUP BY 1, 2"""

    o["events_matrix_profile"] = f"""
WITH {_SER},
offs AS (
  SELECT event_type, pos - t AS i, t, cents
  FROM ser, (VALUES (0), (1), (2), (3)) AS o(t)
  WHERE pos - t >= 1
),
win AS MATERIALIZED (
  SELECT event_type, i,
         CAST(sum(CASE WHEN t = 0 THEN cents END) AS BIGINT) AS x0,
         CAST(sum(CASE WHEN t = 1 THEN cents END) AS BIGINT) AS x1,
         CAST(sum(CASE WHEN t = 2 THEN cents END) AS BIGINT) AS x2,
         CAST(sum(CASE WHEN t = 3 THEN cents END) AS BIGINT) AS x3
  FROM offs GROUP BY 1, 2 HAVING count(*) = 4
),
pairs AS MATERIALIZED (
  SELECT a.event_type AS event_type, a.i AS i, b.i AS j,
         (a.x0 - b.x0) * (a.x0 - b.x0) + (a.x1 - b.x1) * (a.x1 - b.x1)
         + (a.x2 - b.x2) * (a.x2 - b.x2) + (a.x3 - b.x3) * (a.x3 - b.x3)
           AS d2
  FROM win a JOIN win b
    ON a.event_type = b.event_type AND abs(a.i - b.i) >= 4
),
mn AS (SELECT event_type, i, min(d2) AS d2 FROM pairs GROUP BY 1, 2)
SELECT p.event_type, p.i AS i, CAST(min(p.j) AS BIGINT) AS nn,
       mn.d2 AS d2,
       floor(sqrt(CAST(mn.d2 AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS dist
FROM pairs p JOIN mn ON p.event_type = mn.event_type AND p.i = mn.i
WHERE p.d2 = mn.d2
GROUP BY 1, 2, 4, 5"""

    o["dedup_lcs_run"] = f"""
WITH {_docgraph_ctes()},
shp AS MATERIALIZED (
  SELECT doc_id,
         unnest([array_to_string(ts[i:i+2], ' ')
                 for i in range(1, greatest(len(ts)-2, 1) + 1)]) AS g,
         unnest(generate_series(1, greatest(len(ts)-2, 1))) AS p
  FROM toks
),
m AS MATERIALIZED (
  SELECT DISTINCT e0.a, e0.b, la.p - lb.p AS d, la.p AS pa
  FROM e0 JOIN shp la ON la.doc_id = e0.a
          JOIN shp lb ON lb.doc_id = e0.b AND lb.g = la.g
),
isl AS (
  SELECT a, b, d,
         pa - row_number() OVER (PARTITION BY a, b, d ORDER BY pa) AS grp
  FROM m
),
runs AS (
  SELECT a, b, d, grp, CAST(count(*) AS BIGINT) AS run
  FROM isl GROUP BY 1, 2, 3, 4
)
SELECT a, b, CAST(max(run) + 2 AS BIGINT) AS lcs_tokens
FROM runs GROUP BY 1, 2"""

    o["dedup_cdc"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
pt AS (
  SELECT doc_id, unnest(ts) AS t,
         unnest(generate_series(1, len(ts))) AS p
  FROM toks
),
marked AS (
  SELECT doc_id, p, t,
         CASE WHEN p >= 3 AND
              CAST(('0x' || substr(md5(concat_ws(' ',
                   lag(t, 2) OVER (PARTITION BY doc_id ORDER BY p),
                   lag(t, 1) OVER (PARTITION BY doc_id ORDER BY p),
                   t)), 1, 8)) AS BIGINT) % 16 = 0
         THEN 1 ELSE 0 END AS b
  FROM pt
),
chunked AS (
  SELECT doc_id, p, t,
         CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS chunk
  FROM marked
),
ch AS (
  SELECT doc_id, chunk,
         md5(coalesce(string_agg(t, ' ' ORDER BY p), '')) AS chunk_md5
  FROM chunked GROUP BY 1, 2
)
SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2"""

    o["events_ses"] = f"""
WITH {_SER},
rows_w AS (
  SELECT event_type, pos, cents,
         max(pos) OVER (PARTITION BY event_type) AS n,
         cents * (CASE WHEN pos = 1 THEN CAST(1 AS BIGINT)
                       ELSE CAST(1 AS BIGINT) << CAST(pos - 2 AS INT) END)
           AS wx
  FROM ser
),
g AS (
  SELECT event_type, n,
         CAST(sum(wx) AS BIGINT) AS num_n,
         CAST(sum(CASE WHEN pos < n THEN wx END) AS BIGINT) AS num_nm1,
         CAST(max(CASE WHEN pos = n THEN cents END) AS BIGINT) AS xn
  FROM rows_w GROUP BY 1, 2
)
SELECT event_type, n,
       floor(CAST(num_n AS DOUBLE)
             / CAST(CAST(1 AS BIGINT) << CAST(n - 1 AS INT) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS level,
       floor((CAST(xn AS DOUBLE)
              - CAST(num_nm1 AS DOUBLE)
                / CAST(CAST(1 AS BIGINT) << CAST(n - 2 AS INT) AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS last_err
FROM g"""

    o["events_grubbs"] = f"""
WITH {_SER},
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS p0
  FROM ser GROUP BY 1
),
dev AS MATERIALIZED (
  SELECT ser.event_type AS event_type, base.n, base.s, base.p0, ser.pos,
         abs(base.n * ser.cents - base.s) AS d
  FROM ser JOIN base ON ser.event_type = base.event_type
),
mx AS (
  SELECT event_type, n, max(d) AS maxdev,
         floor((CAST(max(d) AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt(CAST(n * p0 - s * s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
               * 10000.0 + 0.5) / 10000.0 AS g
  FROM dev GROUP BY event_type, n, s, p0
)
SELECT mx.event_type, mx.n, CAST(min(dev.pos) AS BIGINT) AS pos_at_max,
       mx.g AS g
FROM dev JOIN mx
  ON dev.event_type = mx.event_type AND dev.d = mx.maxdev
GROUP BY 1, 2, 4"""

    o["events_leadlag"] = f"""
WITH {_SER},
ser2 AS MATERIALIZED (SELECT * FROM ser),
lv AS (SELECT unnest([-1, 0, 1]) AS lag),
m AS (
  SELECT a.event_type AS k1, b.event_type AS k2,
         CAST(lv.lag AS BIGINT) AS lag, a.dollars AS xa, b.dollars AS xb
  FROM ser2 a, lv, ser2 b
  WHERE a.event_type < b.event_type AND b.pos = a.pos + lv.lag
),
g AS (
  SELECT k1, k2, lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
         CAST(sum(xa * xa) AS BIGINT) AS sxx,
         CAST(sum(xb * xb) AS BIGINT) AS syy,
         CAST(sum(xa * xb) AS BIGINT) AS sxy
  FROM m GROUP BY 1, 2, 3
)
SELECT k1, k2, lag, n,
       floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 10000.0 + 0.5) / 10000.0 AS corr
FROM g"""

    o["events_range_frame"] = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         epoch_us(ts) // 1000000 AS es
  FROM events
),
t AS (
  SELECT event_id, user_id, event_type,
         CAST(count(*) OVER w AS BIGINT) AS trail_n,
         CAST(sum(cents) OVER w AS BIGINT) AS trail_cents
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY es
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, trail_n, trail_cents
FROM t WHERE event_type = 'purchase'"""

    o["events_kanon"] = """
WITH cells AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) % 7 AS dow,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) // 2000 AS vb,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
       CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM cells GROUP BY 1"""

    o["sim_hamming"] = f"""
WITH e AS (SELECT vec_id, {emb} AS embedding FROM embeddings),
enc AS MATERIALIZED (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(embedding[1:32],
             x -> CAST(CASE WHEN x >= 0 THEN 1 ELSE 0 END AS BIGINT))),
           (acc, b) -> acc * 2 + b) AS w1,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(embedding[33:64],
             x -> CAST(CASE WHEN x >= 0 THEN 1 ELSE 0 END AS BIGINT))),
           (acc, b) -> acc * 2 + b) AS w2
  FROM e
),
q AS (SELECT vec_id AS query_id, w1 AS qw1, w2 AS qw2
      FROM enc WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, enc.vec_id,
         CAST(bit_count(xor(enc.w1, q.qw1))
              + bit_count(xor(enc.w2, q.qw2)) AS BIGINT) AS hamming
  FROM enc, q WHERE enc.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, hamming, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5"""

    o["events_bootstrap_ci"] = """
WITH rep AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x,
         CAST(event_id AS VARCHAR) AS id, r
  FROM events, (SELECT unnest(generate_series(0, 31)) AS r) reps
),
wtd AS (
  SELECT event_type, x, r,
         CASE WHEN u % 4 = 0 THEN 0 WHEN u % 4 = 1 THEN 2 ELSE 1 END AS w
  FROM (SELECT *,
               CAST(('0x' || substr(md5(id || ':' || CAST(r AS VARCHAR)),
                                    1, 8)) AS BIGINT) AS u
        FROM rep) t
),
cells AS (
  SELECT event_type, r,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(w * x) AS BIGINT) AS swx
  FROM wtd GROUP BY 1, 2
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       floor(CAST(max(sx) AS DOUBLE) / CAST(max(n) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS mean,
       floor(min(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS ci_lo,
       floor(max(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS ci_hi
FROM cells GROUP BY 1"""

    o["events_permtest"] = """
WITH per_unit AS MATERIALIZED (
  SELECT event_type, user_id AS u, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s
  FROM events GROUP BY 1, 2
),
obs AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
         CAST(CAST(sum(CASE WHEN u % 2 = 0 THEN s END) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(CASE WHEN u % 2 = 0 THEN n END) AS BIGINT)
                  AS DOUBLE)
         - CAST(CAST(sum(CASE WHEN u % 2 <> 0 THEN s END) AS BIGINT)
                AS DOUBLE)
           / CAST(CAST(sum(CASE WHEN u % 2 <> 0 THEN n END) AS BIGINT)
                  AS DOUBLE) AS obs_diff
  FROM per_unit GROUP BY 1
),
rep AS (
  SELECT event_type, u, n, s, r,
         CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || ':'
                                  || CAST(r AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 = 0 AS g
  FROM per_unit, (SELECT unnest(generate_series(0, 63)) AS r) reps
),
diffs AS (
  SELECT event_type, r,
         CAST(CAST(sum(CASE WHEN g THEN s END) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(CASE WHEN g THEN n END) AS BIGINT) AS DOUBLE)
         - CAST(CAST(sum(CASE WHEN NOT g THEN s END) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(CASE WHEN NOT g THEN n END) AS BIGINT)
                  AS DOUBLE) AS diff
  FROM rep GROUP BY 1, 2
)
SELECT o.event_type, o.n,
       floor(o.obs_diff * 10000.0 + 0.5) / 10000.0 AS obs_diff,
       CAST(sum(CASE WHEN abs(d.diff) >= abs(o.obs_diff) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ge,
       floor(CAST(CAST(sum(CASE WHEN abs(d.diff) >= abs(o.obs_diff)
                           THEN 1 ELSE 0 END) AS BIGINT) + 1 AS DOUBLE)
             / 65.0 * 10000.0 + 0.5) / 10000.0 AS p_value
FROM diffs d JOIN obs o ON d.event_type = o.event_type
GROUP BY 1, 2, 3"""

    o["text_yule_k"] = f"""
WITH tf AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents) x
  GROUP BY 1, 2
),
g AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM tf GROUP BY 1
)
SELECT doc_id, n_tokens,
       floor(10000.0 * CAST(s2 - n_tokens AS DOUBLE)
             / CAST(n_tokens * n_tokens AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS yule_k
FROM g"""

    o["text_msttr"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
pt AS (
  SELECT doc_id, unnest(ts) AS t,
         unnest(generate_series(0, len(ts) - 1)) AS p
  FROM toks
),
segs AS (
  SELECT doc_id, p // 25 AS s, count(*) AS sn,
         CAST(count(DISTINCT t) AS BIGINT) AS d
  FROM pt GROUP BY 1, 2 HAVING count(*) = 25
),
g AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(d) AS BIGINT) AS sd
  FROM segs GROUP BY 1
)
SELECT doc_id, n_segments,
       floor(CAST(sd AS DOUBLE) / CAST(25 * n_segments AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS msttr
FROM g"""

    o["events_isotonic"] = f"""
WITH {_SER},
pre AS MATERIALIZED (
  SELECT event_type, pos, cents AS x,
         CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY pos)
              AS BIGINT) AS cs
  FROM ser
),
jk AS MATERIALIZED (
  SELECT j.event_type AS event_type, j.pos AS j, k.pos AS k,
         CAST(k.cs - (j.cs - j.x) AS DOUBLE)
           / CAST(k.pos - j.pos + 1 AS DOUBLE) AS avgv
  FROM pre j JOIN pre k
    ON j.event_type = k.event_type AND k.pos >= j.pos
),
mink AS (
  SELECT i.event_type AS event_type, i.pos AS i, i.x AS x, jk.j,
         min(jk.avgv) AS mn
  FROM pre i JOIN jk
    ON i.event_type = jk.event_type AND jk.j <= i.pos AND jk.k >= i.pos
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, i AS pos, x,
       floor(max(mn) * 10000.0 + 0.5) / 10000.0 AS fit
FROM mink GROUP BY 1, 2, 3"""

    o["stream_isotonic"] = o["events_isotonic"]
    o["stream_bootstrap"] = o["events_bootstrap_ci"]

    o["events_pettitt"] = f"""
WITH {_SER},
ser2 AS MATERIALIZED (SELECT * FROM ser),
d AS (
  SELECT a.event_type AS event_type, a.pos AS t,
         CAST(sum(CASE WHEN b.dollars > a.dollars THEN 1
                       WHEN b.dollars < a.dollars THEN -1
                       ELSE 0 END) AS BIGINT) AS dd,
         CAST(count(*) AS BIGINT) AS n
  FROM ser2 a JOIN ser2 b ON a.event_type = b.event_type
  GROUP BY 1, 2
),
w AS (
  SELECT event_type, n, t,
         CAST(sum(dd) OVER (PARTITION BY event_type ORDER BY t)
              AS BIGINT) AS u
  FROM d
),
f AS MATERIALIZED (
  SELECT event_type, n, t, abs(u) AS k FROM w WHERE t < n
),
mx AS (SELECT event_type, n, max(k) AS k_stat FROM f GROUP BY 1, 2)
SELECT mx.event_type, mx.n, CAST(min(f.t) AS BIGINT) AS cp_pos,
       mx.k_stat AS k_stat
FROM f JOIN mx ON f.event_type = mx.event_type AND f.k = mx.k_stat
GROUP BY 1, 2, 4"""

    o["text_burrows"] = f"""
WITH tf AS MATERIALIZED (
  SELECT source AS s, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({_TOKS}) AS t FROM documents) x
  GROUP BY 1, 2
),
topk AS (
  SELECT t FROM (SELECT t, sum(c) AS ct FROM tf GROUP BY 1) g
  ORDER BY ct DESC, t ASC LIMIT 20
),
totals AS (SELECT s, CAST(sum(c) AS BIGINT) AS n_s FROM tf GROUP BY 1),
grid AS (SELECT s, n_s, t FROM totals, topk),
cells AS MATERIALIZED (
  SELECT g.s, g.t,
         CAST(floor(CAST(coalesce(tf.c, 0) AS DOUBLE)
                    / CAST(g.n_s AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS f9
  FROM grid g LEFT JOIN tf ON tf.s = g.s AND tf.t = g.t
),
stats AS (
  SELECT t, CAST(count(*) AS BIGINT) AS m, CAST(sum(f9) AS BIGINT) AS sf,
         CAST(sum(f9 * f9) AS BIGINT) AS sff
  FROM cells GROUP BY 1
),
z AS MATERIALIZED (
  SELECT s, cells.t AS t,
         (CAST(f9 AS DOUBLE) - CAST(sf AS DOUBLE) / CAST(m AS DOUBLE))
         / sqrt(CAST(m * sff - sf * sf AS DOUBLE)
                / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0))) AS z
  FROM cells JOIN stats ON cells.t = stats.t
),
micro AS (
  SELECT a.s AS s1, b.s AS s2,
         CAST(floor(abs(a.z - b.z) * 1000000.0 + 0.5) AS BIGINT) AS dz6
  FROM z a JOIN z b ON a.t = b.t AND a.s < b.s
),
g2 AS (
  SELECT s1, s2, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(dz6) AS BIGINT) AS sdz
  FROM micro GROUP BY 1, 2
)
SELECT s1, s2,
       floor(CAST(sdz AS DOUBLE) / 1000000.0 / CAST(k AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS delta
FROM g2"""

    o["events_strat_ate"] = """
WITH cells AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) % 7 AS st,
         CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(CASE WHEN user_id % 2 = 0
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)
              AS BIGINT) AS s1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(sum(CASE WHEN user_id % 2 <> 0
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)
              AS BIGINT) AS s0,
         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0
  FROM events GROUP BY 1, 2
),
kept AS (SELECT * FROM cells WHERE n1 > 0 AND n0 > 0),
micro AS (
  SELECT event_type, ns,
         CAST(floor(CAST(ns AS DOUBLE)
                    * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS wd6
  FROM kept
),
g AS (
  SELECT event_type, CAST(sum(ns) AS BIGINT) AS n_used,
         CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(wd6) AS BIGINT) AS swd
  FROM micro GROUP BY 1
)
SELECT event_type, n_used, n_strata,
       floor(CAST(swd AS DOUBLE) / 1000000.0 / CAST(n_used AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS ate
FROM g"""

    o["events_logrank"] = """
WITH per AS MATERIALIZED (
  SELECT u.user_id,
         CAST(coalesce(fp.t, 30) AS BIGINT) AS t,
         CASE WHEN fp.t IS NULL THEN 0 ELSE 1 END AS e,
         CASE WHEN u.user_id % 2 = 0 THEN 1 ELSE 0 END AS a1
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN (SELECT user_id,
                    min(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)))
                      AS t
             FROM events WHERE event_type = 'purchase' GROUP BY 1) fp
    USING (user_id)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS N, CAST(sum(a1) AS BIGINT) AS N1
        FROM per),
deaths AS (SELECT t, CAST(count(*) AS BIGINT) AS d,
                  CAST(sum(a1) AS BIGINT) AS d1
           FROM per WHERE e = 1 GROUP BY 1),
exits AS (SELECT t, CAST(count(*) AS BIGINT) AS x,
                 CAST(sum(a1) AS BIGINT) AS x1
          FROM per GROUP BY 1),
risk AS (
  SELECT t,
         CAST(coalesce(sum(x) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gone,
         CAST(coalesce(sum(x1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gone1
  FROM exits
),
j AS (
  SELECT deaths.d, deaths.d1, tot.N - risk.gone AS n,
         tot.N1 - risk.gone1 AS n1
  FROM deaths JOIN risk USING (t), tot
),
micro AS (
  SELECT d1,
         CAST(floor(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                    / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS e6,
         CASE WHEN n > 1 THEN
           CAST(floor(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE)
                      / CAST(n AS DOUBLE))
                      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * ((CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1.0))
                      * 1000000.0 + 0.5) AS BIGINT)
         ELSE 0 END AS v6
  FROM j
),
g AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(e6) AS BIGINT) AS se6,
         CAST(sum(v6) AS BIGINT) AS sv6
  FROM micro
)
SELECT o1,
       floor(CAST(se6 AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0
         AS e1,
       floor(CAST(sv6 AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0
         AS v,
       floor((CAST(o1 AS DOUBLE) - CAST(se6 AS DOUBLE) / 1000000.0)
             / sqrt(CAST(sv6 AS DOUBLE) / 1000000.0) * 10000.0 + 0.5)
         / 10000.0 AS z
FROM g"""

    o["events_stump"] = f"""
WITH {_SER},
pre AS (
  SELECT event_type, pos AS s,
         CAST(sum(cents) OVER w AS BIGINT) AS cs,
         CAST(sum(cents * cents) OVER w AS BIGINT) AS cp,
         CAST(count(*) OVER w AS BIGINT) AS cn,
         CAST(sum(cents) OVER t AS BIGINT) AS ts_,
         CAST(sum(cents * cents) OVER t AS BIGINT) AS tp,
         CAST(count(*) OVER t AS BIGINT) AS tn
  FROM ser
  WINDOW w AS (PARTITION BY event_type ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         t AS (PARTITION BY event_type)
),
cand AS (
  SELECT event_type, s,
         CAST(cn * cp - cs * cs AS DOUBLE) / CAST(cn AS DOUBLE)
         + CAST((tn - cn) * (tp - cp) - (ts_ - cs) * (ts_ - cs) AS DOUBLE)
           / CAST(tn - cn AS DOUBLE) AS sse,
         CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS ml,
         CAST(ts_ - cs AS DOUBLE) / CAST(tn - cn AS DOUBLE) AS mr
  FROM pre WHERE s < tn
),
ranked AS (
  SELECT event_type, s, sse, ml, mr,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY sse ASC, s ASC) AS rn
  FROM cand
)
SELECT event_type, s AS split_pos,
       floor(sse * 10000.0 + 0.5) / 10000.0 AS sse,
       floor(ml * 10000.0 + 0.5) / 10000.0 AS mean_l,
       floor(mr * 10000.0 + 0.5) / 10000.0 AS mean_r
FROM ranked WHERE rn = 1"""

    o["events_power"] = """
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                  * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS p0
  FROM events GROUP BY 1
)
SELECT event_type, n,
       floor(sqrt(CAST(n * p0 - s * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             * 10000.0 + 0.5) / 10000.0 AS sd,
       floor(2.8 * sqrt(2.0 * (CAST(n * p0 - s * s AS DOUBLE)
                               / (CAST(n AS DOUBLE)
                                  * (CAST(n AS DOUBLE) - 1.0)))
                        / CAST(n // 2 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS mde
FROM g"""

    o["events_lateral"] = """
SELECT u.user_id, t.event_id, t.cents
FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0) u,
LATERAL (
  SELECT event_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events e
  WHERE e.user_id = u.user_id AND e.event_type = 'purchase'
  ORDER BY cents DESC, event_id ASC LIMIT 2
) t"""

    o["dedup_simhash_pairs"] = f"""
WITH tokh AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS th
  FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS token
        FROM documents) t
),
sums AS (SELECT doc_id, {bit_sums} FROM tokh GROUP BY doc_id),
sh AS MATERIALIZED (SELECT doc_id, {bit_recon} AS simhash FROM sums)
SELECT l.doc_id AS a, r.doc_id AS b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3"""

    o["dedup_pr_eval"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents
              WHERE doc_id % 2 = 0),
sh AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                 for i in range(1, greatest(len(ts)-3+1, 1) + 1)])) AS shingle
  FROM toks
),{_mh_pairs_ctes()},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY 1),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS i
  FROM sh l JOIN sh r USING (shingle)
  WHERE l.doc_id < r.doc_id GROUP BY 1, 2
),
truth AS MATERIALIZED (
  SELECT a, b
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.a
  JOIN sizes sb ON sb.doc_id = inter.b
  WHERE 3 * i >= sa.n_sh + sb.n_sh
),
cand AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM mh_pairs),
hit AS (SELECT cand.a, cand.b FROM cand JOIN truth
        ON cand.a = truth.a AND cand.b = truth.b),
counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit
)
SELECT n_cand, n_truth, n_hit,
       floor(CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS precision,
       floor(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS recall
FROM counts"""

    o["stream_stump"] = o["events_stump"]
    o["stream_pettitt"] = o["events_pettitt"]

    o["events_mcnemar"] = """
WITH per AS (
  SELECT user_id,
         max(CASE WHEN datediff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) <= 2
             THEN 1 ELSE 0 END) AS pre,
         max(CASE WHEN datediff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) >= 27
             THEN 1 ELSE 0 END) AS pst
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN pre = 1 AND pst = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN pre = 0 AND pst = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM per
)
SELECT n_users, b, c,
       floor(CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS chi2
FROM g"""

    o["events_cochran_q"] = """
WITH cells AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 14 AS j
  FROM events
  WHERE event_type = 'purchase'
    AND datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) IN (0, 15, 29)
),
rows_ AS (SELECT user_id, CAST(count(*) AS BIGINT) AS r
          FROM cells GROUP BY 1),
cols_ AS (SELECT j, CAST(count(*) AS BIGINT) AS cj FROM cells GROUP BY 1),
tots AS (SELECT CAST(sum(r) AS BIGINT) AS t,
                CAST(sum(r * r) AS BIGINT) AS r2
         FROM rows_),
colm AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS c2,
                CAST(count(*) AS BIGINT) AS k
         FROM cols_)
SELECT k, t,
       floor(CAST(k * (k - 1) * (k * k * c2 - k * t * t) AS DOUBLE)
             / CAST(k * k * (k * t - r2) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS q_c
FROM tots, colm"""

    o["text_hapax"] = f"""
WITH tf AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({_TOKS}) AS t FROM documents) x
  GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS hapax_rate
FROM tf GROUP BY 1"""

    o["mm_dedup"] = """
WITH media AS (
  SELECT doc_id, md5(coalesce(text, '')) AS payload_md5,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind
  FROM documents
),
per_hash AS (
  SELECT kind, payload_md5, CAST(count(*) AS BIGINT) AS c
  FROM media GROUP BY 1, 2
)
SELECT kind, CAST(sum(c) AS BIGINT) AS n_media,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(c - 1) AS BIGINT) AS n_dup_rows
FROM per_hash GROUP BY 1"""

    o["events_chapman"] = """
WITH per AS (
  SELECT event_type, user_id,
         max(CASE WHEN datediff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) < 15
             THEN 1 ELSE 0 END) AS c1,
         max(CASE WHEN datediff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) >= 15
             THEN 1 ELSE 0 END) AS c2
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * c2) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_true
  FROM per GROUP BY 1
)
SELECT event_type, n1, n2, m, n_true,
       floor((CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
              / CAST(m + 1 AS DOUBLE) - 1.0) * 10000.0 + 0.5) / 10000.0
         AS n_hat
FROM g"""

    o["text_ngram_coverage"] = f"""
WITH tf AS MATERIALIZED (
  SELECT t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({_TOKS}) AS t FROM documents) x GROUP BY 1
),
head AS (SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r
         FROM tf ORDER BY c DESC, t ASC LIMIT 1000),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tf),
ks AS (SELECT unnest([10, 100, 1000]) AS k),
cum AS (
  SELECT k, CAST(sum(c) AS BIGINT) AS mass
  FROM head, ks WHERE r <= k GROUP BY 1
)
SELECT CAST(k AS INT) AS k, mass, total,
       floor(CAST(mass AS DOUBLE) / CAST(total AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS coverage
FROM cum, tot"""

    _cov_rounds = []
    for _r in range(2, 6):
        _prev_c = f"c{_r - 1}"
        _prev_picks = " UNION ALL ".join(
            f"SELECT doc_id FROM p{_i}" for _i in range(1, _r)
        )
        _cov_rounds.append(f"""
p{_r} AS MATERIALIZED (
  SELECT shm.doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM shm LEFT JOIN {_prev_c} ON shm.shingle = {_prev_c}.shingle
  WHERE {_prev_c}.shingle IS NULL
    AND shm.doc_id NOT IN ({_prev_picks})
  GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1
),
c{_r} AS MATERIALIZED (
  SELECT shingle FROM {_prev_c}
  UNION
  SELECT shingle FROM shm JOIN p{_r} USING (doc_id)
)""")
    o["sample_coverage"] = f"""
WITH {_shingles_cte()},
shm AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh),
p1 AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM shm GROUP BY 1
  ORDER BY gain DESC, doc_id ASC LIMIT 1
),
c1 AS MATERIALIZED (
  SELECT DISTINCT shingle FROM shm JOIN p1 USING (doc_id)
),{",".join(_cov_rounds)},
picks AS (
  SELECT CAST(1 AS INT) AS rank, doc_id, gain FROM p1
  UNION ALL SELECT CAST(2 AS INT), doc_id, gain FROM p2
  UNION ALL SELECT CAST(3 AS INT), doc_id, gain FROM p3
  UNION ALL SELECT CAST(4 AS INT), doc_id, gain FROM p4
  UNION ALL SELECT CAST(5 AS INT), doc_id, gain FROM p5
)
SELECT rank, doc_id, gain,
       CAST(sum(gain) OVER (ORDER BY rank) AS BIGINT) AS cum_covered
FROM picks"""

    o["events_winsor"] = """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY cents, event_id) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM ev
),
qs AS (
  SELECT event_type, n,
         CAST(max(CASE WHEN r = greatest((n + 1) // 20, 1)
                  THEN cents END) AS BIGINT) AS p05,
         CAST(max(CASE WHEN r = least((19 * (n + 1)) // 20, n)
                  THEN cents END) AS BIGINT) AS p95
  FROM ranked GROUP BY 1, 2
)
SELECT qs.event_type, qs.n, qs.p05, qs.p95,
       floor(CAST(sum(greatest(least(ev.cents, qs.p95), qs.p05))
                  AS DOUBLE) / CAST(qs.n AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS wmean
FROM ev JOIN qs ON ev.event_type = qs.event_type
GROUP BY 1, 2, 3, 4"""

    o["kg_richclub"] = f"""
WITH {_docgraph_ctes()},
deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0
  ) t GROUP BY 1
),
ks AS (SELECT unnest([1, 2, 4, 8]) AS k),
nodes_k AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg, ks WHERE deg > k GROUP BY 1
),
edges_k AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
  FROM e0
  JOIN deg da ON da.v = e0.a
  JOIN deg db ON db.v = e0.b, ks
  WHERE da.deg > k AND db.deg > k
  GROUP BY 1
)
SELECT CAST(nodes_k.k AS INT) AS k, n_nodes,
       CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
       floor(2.0 * CAST(coalesce(n_edges, 0) AS DOUBLE)
             / CAST(n_nodes * (n_nodes - 1) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS phi
FROM nodes_k LEFT JOIN edges_k ON nodes_k.k = edges_k.k
WHERE n_nodes >= 2"""

    o["events_detrended_acf"] = f"""
WITH {_SER},
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS sx,
         CAST(sum(dollars) AS BIGINT) AS sy,
         CAST(sum(pos * pos) AS BIGINT) AS sxx,
         CAST(sum(pos * dollars) AS BIGINT) AS sxy
  FROM ser GROUP BY 1
),
quant AS (
  SELECT ser.event_type AS event_type, ser.pos,
         ((n * (n * sxx - sx * sx) * ser.dollars
           - (sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)
           - n * (n * sxy - sx * sy) * ser.pos
           + 1000000000000) // 100000) - 10000000 AS e
  FROM ser JOIN base ON ser.event_type = base.event_type
),
lagged AS (
  SELECT event_type, e AS x,
         lag(e, 1) OVER (PARTITION BY event_type ORDER BY pos) AS x1
  FROM quant
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS p0,
         CAST(sum(x * x1) AS BIGINT) AS p1,
         CAST(sum(x1) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS t1
  FROM lagged GROUP BY 1
)
SELECT event_type, n,
       floor(CAST(n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s
                  AS DOUBLE)
             / CAST(n * n * p0 - n * s * s AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS r1
FROM g"""

    o["events_fences"] = """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY cents, event_id) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM ev
),
qs AS (
  SELECT event_type, n,
         CAST(max(CASE WHEN r = greatest((n + 1) // 4, 1)
                  THEN cents END) AS BIGINT) AS q1,
         CAST(max(CASE WHEN r = greatest((n + 1) // 2, 1)
                  THEN cents END) AS BIGINT) AS q2,
         CAST(max(CASE WHEN r = greatest((3 * (n + 1)) // 4, 1)
                  THEN cents END) AS BIGINT) AS q3
  FROM ranked GROUP BY 1, 2
)
SELECT qs.event_type, qs.n, qs.q1, qs.q2, qs.q3,
       CAST(sum(CASE WHEN 2 * ev.cents < 5 * qs.q1 - 3 * qs.q3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
       CAST(sum(CASE WHEN 2 * ev.cents > 5 * qs.q3 - 3 * qs.q1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi
FROM ev JOIN qs ON ev.event_type = qs.event_type
GROUP BY 1, 2, 3, 4, 5"""

    o["events_energy_dist"] = f"""
WITH {_SER},
v AS MATERIALIZED (SELECT event_type AS k, dollars AS x FROM ser),
within AS (
  SELECT a.k, CAST(sum(abs(a.x - b.x)) AS BIGINT) AS aw,
         CAST(count(*) AS BIGINT) AS nn
  FROM v a JOIN v b ON a.k = b.k GROUP BY 1
),
w2 AS (SELECT k, aw, CAST(sqrt(CAST(nn AS DOUBLE)) AS BIGINT) AS n
       FROM within),
crossed AS (
  SELECT a.k AS k1, b.k AS k2,
         CAST(sum(abs(a.x - b.x)) AS BIGINT) AS axy
  FROM v a JOIN v b ON a.k < b.k GROUP BY 1, 2
)
SELECT c.k1, c.k2, wa.n AS n, wb.n AS m,
       floor((2.0 * CAST(c.axy AS DOUBLE)
              / (CAST(wa.n AS DOUBLE) * CAST(wb.n AS DOUBLE))
              - CAST(wa.aw AS DOUBLE)
                / (CAST(wa.n AS DOUBLE) * CAST(wa.n AS DOUBLE))
              - CAST(wb.aw AS DOUBLE)
                / (CAST(wb.n AS DOUBLE) * CAST(wb.n AS DOUBLE)))
             * 10000.0 + 0.5) / 10000.0 AS e_stat
FROM crossed c
JOIN w2 wa ON wa.k = c.k1
JOIN w2 wb ON wb.k = c.k2"""

    o["sim_ndcg_eval"] = f"""{_IVF_EVAL},
j AS (
  SELECT approx.query_id, approx.ap_rank, exact.ex_rank
  FROM approx LEFT JOIN exact
    ON approx.query_id = exact.query_id AND approx.vec_id = exact.vec_id
),
terms AS (
  SELECT query_id, ex_rank,
         CAST(floor(CAST(coalesce(6 - ex_rank, 0) AS DOUBLE)
                    / (CASE WHEN ap_rank = 1 THEN 1.0
                            WHEN ap_rank = 2 THEN 1.584962500721156
                            WHEN ap_rank = 3 THEN 2.0
                            WHEN ap_rank = 4 THEN 2.321928094887362
                            ELSE 2.584962500721156 END)
                    * 1000000000.0 + 0.5) AS BIGINT) AS t9
  FROM j
),
g AS (
  SELECT query_id, CAST(sum(t9) AS BIGINT) AS dcg9,
         CAST(sum(CASE WHEN ex_rank IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
  FROM terms GROUP BY 1
)
SELECT query_id, n_overlap,
       floor(CAST(dcg9 AS DOUBLE) / 10271924937.0 * 10000.0 + 0.5)
         / 10000.0 AS ndcg5
FROM g"""

    return o
