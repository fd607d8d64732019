"""Physical plan assertions: predicate pushdown reaches the parquet scan,
small dimensions broadcast, top-k plans as TakeOrderedAndProject, column
pruning works — the plans we designed for, not just plans that pass."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from medical_doc_knowledge_graph_system_spark.corelib.gazetteer import ALIASES, REL_PATTERNS
from medical_doc_knowledge_graph_system_spark.functions import webkg
from medical_doc_knowledge_graph_system_spark.functions.textfns import with_token_stats
from medical_doc_knowledge_graph_system_spark.plans.checks import (
    assert_in_plan,
    plan_string,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_filter_pushed_to_parquet_scan(lineitem):
    q = lineitem.where(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag")
    p = assert_in_plan(q, "PushedFilters")
    assert "LessThanOrEqual(l_shipdate" in p


def test_column_pruning(docs):
    q = with_token_stats(docs)
    p = plan_string(q)
    # scan must read only doc_id + text; untouched columns pruned
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_gazetteer_join_broadcasts(docs):
    p = plan_string(webkg.doc_mentions(docs))
    # must be a HASH join (one probe per token) — plain "Broadcast" would
    # also match the 7x-slower array_contains BroadcastNestedLoopJoin shape
    assert "BroadcastHashJoin" in p


def test_topk_is_take_ordered(docs):
    p = plan_string(webkg.cooccur_topk(docs))
    assert "TakeOrderedAndProject" in p  # no full sort for ORDER BY+LIMIT


def test_remap_join_broadcasts(spark):
    from medical_doc_knowledge_graph_system_spark.operators.resolve import remap

    big = spark.createDataFrame([("a", 1)], "name string, x int")
    nm = spark.createDataFrame([("a", "b")], "name string, canonical string")
    p = plan_string(remap(big, nm, "name"))
    assert "BroadcastHashJoin" in p


def test_salted_join_plans_shuffle_hash_on_salted_key(spark):
    """The skew fallback (kg_remap_salted gate query): the salted big-small
    join must plan as a SHUFFLE hash join keyed on (key, __salt) — a
    broadcast would mean the salt machinery is untested, and a join without
    __salt in the keys would put every hot-key row back on one reducer."""
    from medical_doc_knowledge_graph_system_spark.operators.skew import (
        salted_join_big_small,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    big = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, x int")
    small = spark.createDataFrame([("a", "ca"), ("b", "cb")], "k string, c string")
    df = salted_join_big_small(big, small, "k")
    p = physical_plan_string(df)
    assert "ShuffledHashJoin" in p and "__salt" in p, p
    assert "BroadcastHashJoin" not in p, p
    # values must be indistinguishable from the plain join
    got = sorted((r.k, r.x, r.c) for r in df.collect())
    assert got == [("a", 1, "ca"), ("a", 2, "ca"), ("b", 3, "cb")]


def test_whole_stage_codegen_in_text_path(docs):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_quality_score,
    )

    p = plan_string(with_quality_score(docs))
    # quality scoring is pure column expressions: a single Project over the
    # parquet scan, no Python evaluation anywhere in the plan (higher-order
    # filter() lambdas don't codegen, but they stay JVM-side)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Scan parquet" in p and "Project" in p


def test_bucketed_chunk_family_join_no_exchange(spark, tmp_path_factory):
    """url-hash bucketed warehouse tables co-locate the chunk-family joins:
    provenance ⋈ chunks and the next-chunk window both plan with NO Exchange
    (SURVEY §4.2.6 Iceberg bucket(N, url) analogue). This is the shuffle that
    dominates downstream graph queries at 100 TB."""
    from medical_doc_knowledge_graph_system_spark.operators.graph_queries import (
        next_chunk_join,
        provenance_citations,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path_factory.mktemp("bwh")))
    chunks = spark.createDataFrame(
        [
            (f"c{i}", f"u{i % 20}", i // 20, f"text {i}", "body", 0, 10)
            for i in range(100)
        ],
        "chunk_id string, url string, chunk_idx int, text string, "
        "section string, start_char int, end_char int",
    )
    prov = spark.createDataFrame(
        [
            (f"n{i}", f"c{i}", "SOURCED_FROM", f"name{i}", "Condition", 0.9,
             "gazetteer", f"u{i % 20}")
            for i in range(100)
        ],
        "src string, dst string, rel_type string, name string, label string, "
        "confidence double, extraction_method string, url string",
    )
    wh.write_bucketed(chunks, "chunks", n_buckets=4)
    wh.write_bucketed(prov, "provenance_edges", n_buckets=4)
    bc = wh.read(spark, "chunks")
    bp = wh.read(spark, "provenance_edges")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cites = provenance_citations(bp, bc)
        # orderBy adds a range Exchange at the very top (global sort); the
        # join itself must not shuffle — strip the sort by checking the join
        # subtree via the unsorted variant
        joined = bp.join(
            bc.select("url", "chunk_id"),
            on=(bp.dst == bc.chunk_id) & (bp.url == bc.url),
        )
        p = physical_plan_string(joined)
        assert "Exchange" not in p, p
        assert "Bucketed: true" in p, p
        assert joined.count() == 100
        assert cites.count() == 100
        pw = physical_plan_string(next_chunk_join(bc))
        assert "Exchange" not in pw, pw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_redundant_corpus_scans(docs, spark):
    """Catalyst gives zero ReusedExchange across union/self-join branches, so
    any DataFrame referenced more than once re-runs its whole lineage unless
    the shared intermediate is pinned. Lock in the scan-collapse fixes: each
    multi-branch query must read the corpus a bounded number of times."""
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        minhash_band_pairs,
        ngram_jaccard_pairs,
    )
    from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
        neardup_pairs_signblock,
    )

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for q, cap in [
        (webkg.khop2(docs), 0),            # edge set pinned -> no scans at all
        (minhash_band_pairs(docs), 1),     # banded+stats pinned
        (ngram_jaccard_pairs(docs), 1),    # shingle set + rare side pinned
        (neardup_pairs_signblock(emb), 2), # band keys pinned; verify re-scans
    ]:
        # physical_plan_string: one line per node (formatted mode would list
        # each scan twice — tree + node-detail section)
        n = physical_plan_string(q).count("Scan parquet")
        assert n <= cap, f"{n} corpus scans (cap {cap})"


def test_gate_query_scan_budget(spark):
    """Scan-count audit for the r4/r5 iterative gate queries (VERDICT r4
    #5): the one-corpus-scan property is pinned, not just measured. The
    iterative queries (frontier loops / CC rounds / LSH+CC resolution)
    must return frames whose lineage roots in CHECKPOINTED intermediates
    only — ZERO parquet scans in the final plan, because every corpus-
    derived input (mention frame, edge set, name dictionary) was pinned
    exactly once during the loop. decontam_suite reads the corpus twice
    by design: once to build the doc gram stream, once for the doc-side
    projection of the report."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    for name, cap in [
        ("kg_name_map", 0),
        ("kg_components_star", 0),
        ("kg_components", 0),
        ("kg_reasoning_paths", 0),
        ("kg_khop_rel", 0),
        ("kg_pagerank", 0),
        ("kg_pagerank_weighted", 0),
        ("kg_ppr", 0),
        ("kg_ktruss", 0),
        ("kg_sssp", 0),
        ("kg_linkpred", 0),
        ("kg_triangles", 0),
        ("kg_kcore", 0),
        ("kg_hits", 0),
        ("kg_lpa", 0),
        ("dedup_cluster", 0),
        ("decontam_suite", 2),
        # bloom probe: training grams pinned once; the single remaining
        # scan is the eval-suite side feeding the broadcast bit set
        ("decontam_bloom", 1),
        # third-session r5: closeness roots in checkpointed frontier
        # layers; degree_hist/assortativity root in the pinned docgraph
        ("kg_closeness", 0),
        ("kg_degree_hist", 0),
        ("kg_assortativity", 0),
        # fifth-session r5: betweenness roots in the checkpointed BFS
        # layers, the pinned DAG frame, and per-level delta checkpoints;
        # walks in the per-step checkpointed walker frames
        ("kg_betweenness", 0),
        ("kg_walks", 0),
        # fourth-session r5: MIS statuses root in per-round checkpointed
        # frames; modularity in the pinned edge/label frames; surprisal
        # scoring in the pinned (doc_id, w1, w2) pre-aggregate; DSIR in
        # the pinned (doc_id, f) feature counts
        ("kg_mis", 0),
        ("kg_modularity", 0),
        ("text_doc_surprisal", 0),
        ("sample_dsir", 0),
        # sixth-session r5: single-scan column pipelines — the HLL register
        # build, the Gopher/Flesch/entropy quality signals — must never
        # re-read the corpus
        ("events_hll", 1),
        ("text_gopher_rules", 1),
        ("text_flesch", 1),
        ("text_entropy", 1),
        ("text_zipf", 1),
        # seventh-session r5: the theta set-ops pair algebra roots in the
        # PINNED G*k sketch table (both expansion sides) — zero scans; the
        # histogram sketch is one pass over the corpus
        ("events_kmv_ops", 0),
        ("events_hist", 1),
        # eff-diameter roots in the checkpointed BFS distance layers
        ("kg_eff_diameter", 0),
        # eighth-session r5: negatives root in the pinned mention/triple
        # frames (entity dim, candidate base and the anti-join's build
        # side are all derivatives of the one checkpoint); the profiler
        # is the canonical ONE-scan census
        ("kg_negatives", 0),
        ("docs_profile", 1),
        ("events_latest", 1),
        ("events_ecdf", 1),
        # ninth-session: bm25 roots in the pinned tf frame; editdist in the
        # pinned variant frame; butterflies in the pinned filtered incidence
        ("text_bm25_topk", 0),
        ("dedup_editdist", 0),
        ("kg_butterflies", 0),
        # ohlc is one straight aggregate over the scan; welch roots both
        # pair-join sides in the pinned group-cardinality moment frame
        ("events_ohlc", 1),
        ("events_ab_welch", 0),
        # chunk dedup roots every consumer in the pinned chunk frame
        ("text_chunk_dedup", 0),
        # bpe output rows root in the per-round checkpointed top-1 frames
        ("text_bpe_merges", 0),
        # wilson is one conditional aggregate over the filtered scan
        ("events_wilson", 1),
        # tenth-session: winnowing is one narrow projection pipeline over
        # the corpus scan; cusum/chisq are one aggregate + bounded-frame
        # windows; assoc rules root every consumer (pair self-join sides,
        # item supports, basket count) in the pinned basket-item frame
        ("text_winnowing", 1),
        ("events_cusum", 1),
        ("events_chisq", 1),
        ("events_assoc_rules", 0),
        # eleventh-session: sq8 pins the exploded frame (stats + quantize
        # both read it); rfm pins the per-user frame (count + three
        # ranks); small_qty pins the brand slice (per-part aggregate +
        # rejoin); idle_customers pins the customer projection so only
        # the orders anti-join side scans; top_supplier pins the
        # per-supplier aggregate so only the supplier dim scans
        ("sim_sq8", 0),
        ("events_rfm", 0),
        ("tpch_small_qty", 0),
        ("tpch_idle_customers", 1),
        ("tpch_top_supplier", 1),
        # rrf pins the (doc,term) tf frame once for both retrieval
        # systems; survival pins the per-user frame (horizon scalar +
        # lifetime frame); neyman reads events twice BY DESIGN (stats
        # pass + ranking pass — pinning the corpus is the wrong trade
        # at 100 TB, the decontam_suite convention)
        ("text_rrf_fusion", 0),
        ("events_survival", 0),
        ("sample_neyman", 2),
        # gini pins the per-user spend frame (the two-phase rank reads
        # it twice)
        ("events_gini", 0),
        # mention contexts: one per-document projection + one explode +
        # the broadcast label dim — a single corpus scan
        ("kg_mention_contexts", 1),
        # sq8 rerank: codes pinned; the rerank re-reads raw embeddings
        # twice BY DESIGN (doc vectors for survivors + the query slice)
        ("sim_sq8_rerank", 2),
        # cohort LTV pins the per-user first-week frame (cohort sizes +
        # the event mapping both read it); one event-stream scan
        ("events_cohort_ltv", 1),
        ("events_top_paths", 1),
        # PQ pins the codebook; scans = corpus encode + query slice
        ("sim_pq", 2),
        # Q6 is the pure scan-side query; Q8 reads its 7 tables once each
        # (nation twice — two roles)
        ("tpch_forecast_revenue", 1),
        ("tpch_market_share", 8),
        # fifteenth-session: KS roots everything (totals, the pair dim,
        # both walk sides) in the pinned cells frame; kruskal likewise in
        # its pinned cells; phi in the pinned presence cells; kendall's
        # self-join reads the pinned daily frame; scc/influence/cliques4/
        # textrank root in pinned edge/token frames (per-round
        # checkpoints); centroids in the pinned per-dim sums + counts
        ("events_ks", 0),
        ("events_kruskal", 0),
        ("events_phi", 0),
        ("events_kendall", 0),
        ("kg_scc", 0),
        ("kg_influence", 0),
        ("kg_cliques4", 0),
        ("text_textrank", 0),
        ("sim_centroids", 0),
        # single-pass column pipelines: one corpus/event scan each
        ("text_ari", 1),
        ("text_lexical", 1),
        ("events_trimmed", 1),
        ("events_sax", 1),
        ("events_intervals", 1),
        ("events_rank_fns", 1),
        ("events_peaks", 1),
        ("events_realized_var", 1),
        ("events_groupsets", 1),
        # keyness pins tf; only the 2-row totals' build side re-derives
        # from the pin (0 scans); snaive joins two branches of one
        # un-pinned daily aggregate (2 scans BY DESIGN — pinning a
        # 365-row frame saves nothing at 100 TB, decontam convention);
        # mad/runs read the source twice (median frame + deviation side)
        ("text_keyness", 0),
        ("events_snaive", 2),
        ("events_mad", 1),
        ("events_runs", 0),
        ("events_changepoint", 1),
        ("sim_mips", 2),
        # sixteenth-session: matrix profile pins the window frame,
        # isotonic its prefix frame, lcs_run the pair+positional-gram
        # frames, simhash_pairs the hash table, pr_eval the shingle/cand/
        # truth frames, logrank/permtest their per-unit collapses — all
        # 0-scan; vratio/grubbs/leadlag re-derive the 30-row daily
        # aggregate per branch BY DESIGN (pinning a calendar-length frame
        # saves nothing at 100 TB, the snaive convention); lateral and
        # sim_hamming read probe+build sides once each
        ("events_matrix_profile", 0),
        ("events_isotonic", 0),
        ("dedup_lcs_run", 0),
        ("dedup_simhash_pairs", 0),
        ("dedup_pr_eval", 0),
        ("events_logrank", 0),
        ("events_permtest", 0),
        ("events_ar2", 1),
        ("events_ljungbox", 1),
        ("events_haar", 1),
        ("events_ses", 1),
        ("events_stump", 1),
        ("events_bootstrap_ci", 1),
        ("events_kanon", 1),
        ("events_range_frame", 1),
        ("events_power", 1),
        ("text_yule_k", 1),
        ("text_msttr", 1),
        ("dedup_cdc", 1),
        ("events_vratio", 2),
        ("events_grubbs", 2),
        ("events_leadlag", 2),
        ("events_lateral", 2),
        ("sim_hamming", 2),
        # r6 (VERDICT #7): richclub roots in the pinned docgraph-edge
        # lineage; coverage's output is a driver-assembled LocalTableScan
        # (the greedy rounds consumed the pinned array frame); semdedup
        # pins the cell assignment feeding both self-join legs
        ("kg_richclub", 0),
        ("sample_coverage", 0),
        ("sim_semdedup", 0),
        ("dedup_prefix_filter", 0),
    ]:
        p = physical_plan_string(q[name](spark, SF))
        n = p.count("Scan parquet")
        assert n <= cap, f"{name}: {n} corpus scans (cap {cap})"


def test_asof_join_is_single_shuffle(spark):
    """The as-of join's whole point at scale: ONE exchange (the window
    partition on the equality keys), never a broadcast of the build side,
    never a range explode. Two scans are the probe/build branches."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    p = physical_plan_string(entry.queries()["events_asof"](spark, SF))
    assert p.count("Scan parquet") == 2
    assert p.count("Exchange") == 1 and p.count("BroadcastExchange") == 0


def test_decontam_eval_suite_broadcasts(spark, docs):
    """ngram_decontam_against with a benchmark-sized eval gram table
    (VERDICT r3 #7): the planner must pick BroadcastHashJoin with the eval
    side as the build side purely from size statistics (no hint in the
    code), keeping the training gram stream map-side."""
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        eval_suite_grams,
        ngram_decontam_against,
    )

    eval_docs = spark.range(0, 40).selectExpr(
        "id as doc_id",
        "concat('benchmark question ', id, ' asks about topic ', id % 7, "
        "' with answer choices alpha beta gamma delta') as text",
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    grams = eval_suite_grams(eval_docs).localCheckpoint()  # bounded suite
    p = physical_plan_string(ngram_decontam_against(docs, grams))
    assert "BroadcastHashJoin" in p and "BuildRight" in p
    assert "BroadcastNestedLoopJoin" not in p
    # simple mode prints the probe branch (parquet scan) BEFORE the build
    # branch: everything after BroadcastExchange must be the checkpointed
    # eval grams (ExistingRDD), never the corpus scan
    bx = p.split("BroadcastExchange", 1)[1]
    assert "Scan ExistingRDD" in bx and "Scan parquet" not in bx


def test_tpch_local_supplier_broadcasts_every_dimension(spark):
    """The Q5 snowflake: the only permissible shuffle join is the
    lineitem-orders fact join; every dimension side (customer, supplier,
    nation, region) must be a BroadcastHashJoin, and nothing may plan as
    a nested-loop or cartesian product."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_local_supplier"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_tpch_ship_priority_broadcasts_customer_and_topk(spark):
    """Q3 shape: the segment-filtered customer dim must broadcast, the
    top-10 must be TakeOrderedAndProject (never a global sort), and the
    date filters must reach the scans as pushed filters."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_ship_priority"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in p


def test_tpch_order_priority_plans_left_semi(spark):
    """Q4 shape: EXISTS must compile to a LEFT SEMI join (the lineitem
    side never materializes matched rows — at fact-scale the probe streams
    past the build once), the one-year window must reach the orders scan
    as pushed filters, and no nested-loop may appear despite the
    non-equi shipdate > orderdate conjunct riding on the equi key."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_order_priority"](spark, SF))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert (
        "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p
    )


def test_tpch_promo_broadcasts_part_and_pushes_month(spark):
    """Q14 shape: part broadcasts, the ship-month window reaches the
    lineitem scan, and both conditional sums partial-aggregate BEFORE the
    single-partition exchange (map-side combine — the exchange carries 3
    numbers per task, not the month's rows)."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_promo"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in p
    )
    assert "partial_sum" in p


def test_tpch_complex_pred_splits_disjunction_per_side(spark):
    """Q19 shape: Catalyst must factor the OR-of-ANDs into per-side
    implied disjunctions — the quantity-band OR pushed into the lineitem
    scan, the brand/size OR filtering the broadcast part build — so
    neither side reads rows no branch can accept."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_complex_pred"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # quantity disjunction reached the parquet reader
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in p
    # brand disjunction filters the build side before broadcast
    assert "Brand#13" in p


def test_text_winnowing_is_shuffle_free(spark):
    """Winnowing's scale property: the whole fingerprint selection is one
    narrow projection pipeline (transform/array_min/array_distinct inside
    a single task) — NO exchange anywhere, one corpus scan, and the gram
    loop stays inside whole-stage codegen's Project."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["text_winnowing"](spark, SF))
    # r6: ensure_parallelism may scatter a single-split scan round-robin
    # before the per-row window compute; no DATA-KEYED exchange is allowed
    # (on a many-split corpus the scatter never fires and the plan is
    # exchange-free)
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "Exchange SinglePartition" not in p
    assert p.count("Scan parquet") == 1
    assert "Generate explode" in p


def test_tpch_cust_dist_filtered_left_outer(spark):
    """Q13 shape: the join must stay LEFT OUTER (zero-order customers are
    the point of the query) with the non-urgent filter ON the orders
    side — reaching the orders parquet scan as a pushed filter — and the
    preserved side must NOT be broadcast away."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_cust_dist"](spark, SF))
    assert "LeftOuter" in p
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_big_orders_partial_agg_and_broadcast_customer(spark):
    """Q18 shape: the per-order quantity sum partial-aggregates map-side
    (the shuffle carries one row per order per task, not lineitems), and
    the customer dim broadcasts."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_big_orders"](spark, SF))
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_nation_volume_broadcasts_all_dims(spark):
    """Q7 shape: supplier, customer and both nation aliases broadcast
    (>= 4 broadcast joins), the two-year window reaches the lineitem
    scan, and no nested loop appears in the 6-table star."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_nation_volume"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 4
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_idle_customers_plans_left_anti(spark):
    """Q22 shape: NOT EXISTS must compile to a LEFT ANTI join with the
    trailing-year window pushed to the orders scan (the anti side reads
    one year of keys, not the whole fact)."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_idle_customers"](spark, SF))
    assert "LeftAnti" in p
    assert (
        "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p
    )


def test_sim_sq8_broadcasts_dim_stats(spark):
    """SQ8 shape: the 64-row per-dimension stats frame broadcasts back
    onto the pinned exploded frame (zero re-scan of the corpus), and the
    per-vector reduce partial-aggregates map-side."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["sim_sq8"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p
    assert p.count("Scan parquet") == 0


def test_kg_mention_contexts_no_shuffle(spark):
    """KWIC contexts must build every window inside the per-document
    projection (the winnowing pattern): no shuffle Exchange anywhere —
    the only exchange is the gazetteer label broadcast — and one scan."""
    import re

    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["kg_mention_contexts"](spark, SF))
    assert "BroadcastHashJoin" in p
    # r6: allow only ensure_parallelism's conditional round-robin scatter
    # of the single-split scan (fires only when splits < cores); no
    # data-keyed exchange anywhere
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "Exchange SinglePartition" not in p
    assert p.count("Scan parquet") == 1


def test_tpch_forecast_revenue_all_predicates_pushed(spark):
    """Q6 shape: the pure scan query — date range, discount band and
    quantity cap ALL reach the parquet scan, the projection prunes to the
    four touched columns, and no join appears anywhere."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    df = q["tpch_forecast_revenue"](spark, SF)
    # simple mode truncates long filter lists; the full PushedFilters
    # only appears in the formatted node-detail section
    pf = plan_string(df)
    for frag in [
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ]:
        assert frag in pf, frag
    p = physical_plan_string(df)
    assert "Join" not in p
    assert "l_orderkey" not in p.split("ReadSchema")[1].split("\n")[0]


def test_tpch_market_share_broadcasts_every_dim(spark):
    """Q8 shape: the 8-table star keeps lineitem->orders as the only
    possibly-shuffled join; the filtered part slice, customer, supplier,
    region-filtered nation and the supplier-nation role all broadcast
    (>= 6 broadcast joins), and the two-year window reaches the orders
    scan."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["tpch_market_share"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 6
    assert "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,STANDARD)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sim_pq_stays_jvm_side_and_broadcasts_codebook(spark):
    """PQ/ADC: encode + LUT + score are pure column expressions (no
    Python eval anywhere); the codebook and the per-query LUT broadcast
    onto the codes; the corpus is scanned once for encoding plus the
    query slice."""
    import __spark_entry__ as entry

    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    q = entry.queries()
    p = physical_plan_string(q["sim_pq"](spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert p.count("Scan parquet") == 2


def test_minhash_signatures_one_explode_one_shuffle(docs):
    """Signatures hash every shingle occurrence inside the doc_id aggregate:
    one shingle explode, no join back to a distinct-shingle hash dimension,
    and a single hash shuffle on doc_id (ensure_parallelism's round-robin
    repartition of the narrow scan is the only other exchange)."""
    import re

    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        minhash_signatures,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    p = physical_plan_string(minhash_signatures(docs))
    assert len(re.findall(r"\bGenerate\b", p)) == 1, p
    assert "Join" not in p, p
    exchanges = re.findall(r"Exchange (\w+)\(([^,)]*)", p)
    hashed = [key for kind, key in exchanges if kind == "hashpartitioning"]
    assert len(hashed) == 1 and hashed[0].startswith("doc_id#"), p
    assert {kind for kind, _ in exchanges} <= {"hashpartitioning", "RoundRobinPartitioning"}, p


def _pinned_plans(spark, monkeypatch, run):
    """Call run() under its own job group, recording the physical plan of
    every localCheckpoint pin. Returns (plans, job count)."""
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    plans = []
    df_cls = type(spark.range(1))
    pin = df_cls.localCheckpoint

    def recording_pin(self, *args, **kwargs):
        plans.append(physical_plan_string(self))
        return pin(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", recording_pin)
    sc = spark.sparkContext
    group = f"pins_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "recorded pins")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return plans, len(jobs)


def _cc_round_plans(spark, monkeypatch, nodes, edges):
    """_pinned_plans of _cc_iterative: plans[0] is the vertex-state pin, the
    rest are one per round."""
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        _cc_iterative,
    )

    return _pinned_plans(spark, monkeypatch, lambda: _cc_iterative(nodes, edges))


def _cc_test_graph(spark):
    nodes = spark.range(0, 40).select(F.format_string("n%02d", "id").alias("name"))
    edges = spark.range(0, 30).select(
        F.format_string("n%02d", "id").alias("a"),
        F.format_string("n%02d", (F.col("id") * 7 + 3) % 40).alias("b"),
    )
    return nodes, edges


def test_cc_round_is_one_shuffle_no_join(spark, monkeypatch):
    """Each min-label round is explode(nbrs) messages ∪ self rows and ONE
    groupBy(name): a single Exchange with the partial min below it (the
    map-side aggregate that caps a hub's reducer input), and no join."""
    import re

    plans, _ = _cc_round_plans(spark, monkeypatch, *_cc_test_graph(spark))
    rounds = plans[1:]
    assert rounds
    for p in rounds:
        assert len(re.findall(r"\bExchange\b", p)) == 1, p
        assert "Join" not in p, p
        assert p.index("Exchange") < p.index("partial_min"), p


def test_cc_converging_run_issues_no_probe_job(spark, monkeypatch):
    """Convergence is read from an Observation on each round's eager pin:
    the job group holds at most 2 jobs per pin (AQE runs the shuffle map
    stage and the pin's result stage as separate jobs), so no round pays
    a separate count probe."""
    plans, jobs = _cc_round_plans(spark, monkeypatch, *_cc_test_graph(spark))
    assert len(plans) >= 3, len(plans)
    assert jobs <= 2 * len(plans), (jobs, len(plans))


def test_local_checkpoint_drops_hash_partitioning(spark):
    """Why the CC loops do not repartition before a pin: on this Spark a
    localCheckpoint does not keep the hash partitioning, so the groupBy
    after it still plans an Exchange. If a Spark upgrade makes this fail,
    pre-pin repartitions can pay off again."""
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    df = spark.range(0, 100).select((F.col("id") % 7).alias("k"), "id")
    pinned = df.repartition(8, "k").localCheckpoint()
    p = physical_plan_string(pinned.groupBy("k").agg(F.count("id")))
    assert "Exchange hashpartitioning" in p, p


@pytest.mark.parametrize("op", ["pagerank", "hits"])
def test_rank_loop_pins_carry_no_salt(spark, monkeypatch, op):
    """pagerank and hits sum each step's contributions with one groupBy (a
    partial_sum under one Exchange). No pinned plan carries a __salt column:
    a salt hashed from the group key never splits that key."""
    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics

    _, edges = _cc_test_graph(spark)
    if op == "hits":
        edges = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    rank = getattr(graph_analytics, op)
    plans, _ = _pinned_plans(
        spark, monkeypatch, lambda: rank(edges, iterations=5).collect()
    )
    assert any("partial_sum" in p for p in plans), plans
    assert not [p for p in plans if "__salt" in p]


@pytest.mark.parametrize("table", ["nodes", "edges"])
def test_materialize_is_one_partial_aggregate_shuffle(spark, table):
    """build_nodes / build_edges are one groupBy().agg(): a single hash
    Exchange with the map-side partial_count below it (which caps a Zipf
    head entity at one row per map task) and no salt column."""
    import re

    from medical_doc_knowledge_graph_system_spark.operators.materialize import (
        build_edges,
        build_nodes,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    rows = spark.range(0, 200).select(
        F.when(F.col("id") % 10 < 7, F.lit("Hypertension"))
        .otherwise(F.format_string("e%d", F.col("id") % 13))
        .alias("name"),
        F.lit("Disease").alias("label"),
        ((F.col("id") % 100) / 100.0).alias("confidence"),
    )
    if table == "nodes":
        df = build_nodes(rows)
    else:
        df = build_edges(
            rows.select(
                F.col("name").alias("subj"),
                F.col("label").alias("subj_label"),
                F.lit("TREATS").alias("pred"),
                F.lit("Aspirin").alias("obj"),
                F.lit("Drug").alias("obj_label"),
                "confidence",
            )
        )
    p = physical_plan_string(df)
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert p.index("Exchange hashpartitioning") < p.index("partial_count"), p
    assert "__salt" not in p, p


_LITERAL_DIMS = {
    "webkg_gazetteer": (sorted(webkg.WEB_GAZETTEER.items()), "term string, label string"),
    "webkg_patterns": (webkg.WEB_REL_PATTERNS, "src_label string, pred string, dst_label string"),
    "extract_patterns": (REL_PATTERNS, "src_label string, pred string, dst_label string"),
    "alias_dim": (sorted(ALIASES.items()), "alias_key string, alias_canonical string"),
}


@pytest.mark.parametrize("dim", list(_LITERAL_DIMS))
def test_literal_frame_matches_ddl_and_rows(spark, dim):
    """Each static dictionary built by literal_frame has the DDL's column
    names and types and exactly the rows createDataFrame would hold."""
    from medical_doc_knowledge_graph_system_spark.operators.resolve import alias_dim
    from medical_doc_knowledge_graph_system_spark.session import literal_frame

    rows, ddl = _LITERAL_DIMS[dim]
    got = alias_dim(spark) if dim == "alias_dim" else literal_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())
    assert "ExistingRDD" not in plan_string(got)


def test_literal_frame_rejects_empty_rows(spark):
    from medical_doc_knowledge_graph_system_spark.session import literal_frame

    with pytest.raises(ValueError):
        literal_frame(spark, [], "term string, label string")


def test_literal_dimensions_broadcast_without_python_scan(spark, docs):
    """doc_mentions and doc_triples still broadcast-hash join their static
    dictionary, and no dimension is a Python-RDD scan (the input here is
    parquet-rooted, so any ExistingRDD would be a dimension)."""
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    for df in (webkg.doc_mentions(docs), webkg.doc_triples(docs)):
        p = physical_plan_string(df)
        assert "BroadcastHashJoin" in p, p
        assert "ExistingRDD" not in p, p


@pytest.fixture(scope="module")
def chunk_frame(spark):
    """A Range-rooted chunks frame: any ExistingRDD or extra Python node in
    a plan over it comes from the operator under test."""
    return spark.range(0, 16, 1, numPartitions=2).select(
        F.format_string("c%d", "id").alias("chunk_id"),
        F.format_string("u%d", F.col("id") % 4).alias("url"),
        F.lit("Peter Fern has hypertension and takes aspirin for chest pain").alias("text"),
    )


@pytest.mark.parametrize("with_embedding", [True, False])
def test_chunk_features_is_one_map_in_pandas(chunk_frame, with_embedding):
    """Embeddings, mentions and triples come from ONE Python pass: exactly
    one MapInPandas and no per-column Python UDF node."""
    from medical_doc_knowledge_graph_system_spark.operators.extract import chunk_features
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    df = chunk_features(chunk_frame, with_embedding=with_embedding)
    p = physical_plan_string(df)
    assert p.count("MapInPandas") == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert ("embedding" in df.columns) == with_embedding


def test_feature_projections_no_exchange_no_join(chunk_frame):
    """mentions_raw / triples_raw / chunk_embeddings are projections of the
    feature frame: no Exchange and no Join, unpinned or read from the
    pipeline's cached pin (the old triples_raw was a self-join with two
    shuffles)."""
    from medical_doc_knowledge_graph_system_spark.operators.extract import (
        chunk_features,
        embedding_rows,
        mention_rows,
        triple_rows,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    features = chunk_features(chunk_frame)
    pinned = chunk_features(chunk_frame).persist()
    try:
        for proj in (mention_rows, triple_rows, embedding_rows):
            for src in (features, pinned):
                p = physical_plan_string(proj(src))
                assert "Exchange" not in p and "Join" not in p, p
            assert "InMemoryTableScan" in physical_plan_string(proj(pinned))
        assert triple_rows(pinned).count() > 0
    finally:
        pinned.unpersist()


_NAMES = [
    "heart attack", "Myocardial Infarction", "Acute Myocardial Infarction",
    "Aspirin", "aspirin", "HTN", "Hypertension", "hypertension",
    "Colonoscopy", "Type 2 Diabetes", "type 2 diabetes mellitus", "Metformin",
]


def test_build_name_map_same_on_both_sides_of_driver_threshold(spark, monkeypatch):
    """DRIVER_MAX_ROWS = n runs the driver path, n - 1 the distributed
    path: same map. The driver-path result is a LocalTableScan, so scans of
    it start no Python task (createDataFrame(list) planned ExistingRDD)."""
    from medical_doc_knowledge_graph_system_spark import session
    from medical_doc_knowledge_graph_system_spark.operators.resolve import build_name_map
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    names = spark.range(len(_NAMES)).select(
        F.element_at(F.array(*map(F.lit, _NAMES)), F.col("id").cast("int") + 1).alias("name")
    )
    n = len(_NAMES)
    monkeypatch.setattr(session, "DRIVER_MAX_ROWS", n)
    driver = build_name_map(names)
    p = physical_plan_string(driver)
    assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    got = {r.name: r.canonical for r in driver.collect()}
    monkeypatch.setattr(session, "DRIVER_MAX_ROWS", n - 1)
    assert got == {r.name: r.canonical for r in build_name_map(names).collect()}
    assert set(got) == set(_NAMES) and len(set(got.values())) < n


@pytest.mark.parametrize("bound", ["DRIVER_MAX_ROWS", "CC_DRIVER_MAX_EDGES"])
def test_cc_same_on_both_sides_of_driver_threshold(spark, monkeypatch, bound):
    """Either bound at n_edges runs connected_components on the driver, at
    n_edges - 1 it runs _cc_iterative: same components. The driver result
    is a LocalTableScan."""
    from medical_doc_knowledge_graph_system_spark import session
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        connected_components,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    nodes, edges = _cc_test_graph(spark)
    n_edges = edges.count()
    monkeypatch.setattr(session, bound, n_edges)
    driver = connected_components(nodes, edges)
    p = physical_plan_string(driver)
    assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    got = sorted(map(tuple, driver.collect()))
    monkeypatch.setattr(session, bound, n_edges - 1)
    dist = connected_components(nodes, edges)
    assert "LocalTableScan" not in physical_plan_string(dist)
    assert got == sorted(map(tuple, dist.collect()))
    assert len(got) == 40 and 1 < len({c for _, c in got}) < 40


def test_cc_driver_path_evaluates_edges_once(spark):
    """The driver path of connected_components evaluates the edge lineage
    once: one fetch decides the path and is the edge list. The edges are a
    single-partition mapInPandas that counts its own runs."""
    from medical_doc_knowledge_graph_system_spark.operators.resolve import (
        connected_components,
    )

    runs = spark.sparkContext.accumulator(0)

    def counted(batches):
        runs.add(1)
        for b in batches:
            yield b.assign(a=b["id"] % 7, b=(b["id"] * 3) % 7)[["a", "b"]]

    edges = spark.range(0, 20, 1, numPartitions=1).mapInPandas(counted, "a long, b long")
    nodes = spark.range(0, 10).select(F.col("id").alias("name"))
    got = {r.name: r.comp for r in connected_components(nodes, edges).collect()}
    assert runs.value == 1, runs.value
    assert got == {0: 0, **{i: 1 for i in range(1, 7)}, 7: 7, 8: 8, 9: 9}


def _jaccard_token_sets(spark):
    """30 docs over a 12-token vocabulary, some sets repeated: few enough
    distinct sets and tokens for set_jaccard_pairs' dense bitmask path."""
    import random

    rng = random.Random(5)
    vocab = [f"t{i:02d}" for i in range(12)]
    rows = [(i, rng.sample(vocab, rng.randint(3, 8))) for i in range(24)]
    rows += [(100 + i, toks) for i, toks in rows[:6]]
    return spark.createDataFrame(rows, "doc_id long, toks array<string>")


def test_set_jaccard_dense_path_is_broadcast_bit_count(spark, monkeypatch):
    """Dense set_jaccard_pairs: every cross-set pair is one broadcast
    comparison of BIGINT masks with bit_count, and no aggregate runs on
    pairs (the sets and their masks are pinned, so the final plan holds no
    HashAggregate at all). The general path, forced by DENSE_SETS_MAX = 0,
    aggregates the per-token overlap count on (sa, sb), so the pin is not
    vacuous."""
    from medical_doc_knowledge_graph_system_spark.functions import dedup
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    tok_sets = _jaccard_token_sets(spark)
    p = physical_plan_string(dedup.set_jaccard_pairs(tok_sets, t_num=1, t_den=2))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "bit_count" in p, p
    assert "HashAggregate" not in p, p

    monkeypatch.setattr(dedup, "DENSE_SETS_MAX", 0)
    general = physical_plan_string(dedup.set_jaccard_pairs(tok_sets, t_num=1, t_den=2))
    assert "bit_count" not in general, general
    assert "HashAggregate(keys=[sa#" in general, general


def test_simhash_band_join_reads_the_value_pin(spark, docs):
    """simhash_hamming_pairs dedups simhash VALUES with one
    groupBy("simhash") pin before the band self-join: the final plan reads
    that pin only. Its one aggregate is the value-pair distinct on
    (sa, sb, hamming); neither the per-value collect_list nor the per-doc
    simhash aggregates run under the band join, and no parquet is scanned."""
    import re

    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        simhash_hamming_pairs,
    )
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    p = physical_plan_string(simhash_hamming_pairs(docs))
    assert "Join" in p, p
    assert "Scan parquet" not in p, p
    keys = re.findall(r"HashAggregate\(keys=\[(\w+)#", p)
    assert keys and set(keys) == {"sa"}, p


def test_kg_mention_sets_aggregate_before_fanout(spark, monkeypatch):
    """_kg_mention_sets (behind kg_pagerank's edge graph) collapses
    per-doc mention sets to DISTINCT sets with their doc counts — an
    aggregate keyed by the set itself — inside its pin, before any pair
    explode; the explode fan-out over ms then reads the pin, never the
    documents scan."""
    import __spark_entry__ as entry

    q = entry.queries()
    plans, _ = _pinned_plans(
        spark, monkeypatch, lambda: q["kg_pagerank"](spark, SF).collect()
    )
    sets_pins = [p for p in plans if "collect_set" in p]
    assert len(sets_pins) == 1, plans
    assert "HashAggregate(keys=[ms#" in sets_pins[0], sets_pins[0]
    assert "explode(ms#" not in sets_pins[0], sets_pins[0]
    fanout = [p for p in plans if "explode(ms#" in p]
    assert fanout, plans
    assert all("Scan parquet" not in p for p in fanout), fanout


@pytest.mark.parametrize("op", ["triangle_stats", "count_4cliques"])
def test_triangle_wedge_join_runs_once(spark, monkeypatch, op):
    """_triangles pins its frame, so the wedge self-join on src runs once
    per call: it is in one recorded pin and not in the final plan. Spark
    reuses no exchange across branches, so without the pin the per-node
    u/v/w union of triangle_stats ran it 3 times and count_4cliques'
    n_triangles and apex branches 2 times."""
    import re

    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    pairs = [
        (f"n{i:02d}", f"n{j:02d}") for i in range(10) for j in range(i + 1, 10) if i * j % 4 != 1
    ]
    edges = spark.createDataFrame(pairs, "a string, b string")
    out = []
    plans, _ = _pinned_plans(
        spark, monkeypatch, lambda: out.append(getattr(graph_analytics, op)(edges))
    )
    wedge = re.compile(r"Join \[src#\w+\], \[src#\w+\]")
    final = physical_plan_string(out[0])
    assert not wedge.search(final), final
    assert sum(len(wedge.findall(p)) for p in plans) == 1, plans


def _package_defs_taking(params):
    """'file:line def(param)' for every function in the package that takes
    one of ``params``."""
    import ast
    import pathlib

    import medical_doc_knowledge_graph_system_spark as pkg

    hits = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                hits += [f"{path.name}:{node.lineno} {node.name}({n})" for n in names & params]
    return hits


def test_no_parameter_forces_a_plan_path():
    """Driver-vs-distributed and broadcast-vs-shuffle choices follow the
    input size alone (session.driver_rows, resolve.REMAP_BROADCAST_MAX);
    tests move the bound with monkeypatch. No function in the package takes
    a parameter that forces one path."""
    forcing = {
        "force_distributed", "driver_threshold", "resolve_driver_threshold",
        "broadcast_threshold", "force_shuffle",
    }
    hits = _package_defs_taking(forcing)
    assert not hits, hits


def test_no_operator_takes_a_shingle_df_window():
    """The rare-shingle blocking window is one module constant,
    dedup.MAX_SHINGLE_DF, read at call time; butterflies reads a fixed
    (doc_id, shingle) incidence. No function takes a per-call df bound or
    incidence column names."""
    hits = _package_defs_taking({"max_shingle_df", "min_df", "max_df", "left_col", "right_col"})
    assert not hits, hits


def test_no_graph_operator_takes_num_partitions():
    """The graph loops spread their keyed pins over one width,
    graph_analytics.PIN_PARTITIONS (read at call time), and chunk_pages
    over the session's shuffle width. No def in either module takes a
    per-call partition count."""
    import ast
    import pathlib

    from medical_doc_knowledge_graph_system_spark.operators import chunk, graph_analytics

    hits = []
    for mod in (graph_analytics, chunk):
        path = pathlib.Path(mod.__file__)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                if "num_partitions" in names:
                    hits.append(f"{path.name}:{node.lineno} {node.name}")
    assert not hits, hits


def _seeded_graph(spark):
    """Undirected (a, b) edge list, a < b, distinct, over 16 nodes: node i
    links to a hash-chosen partner, so every name n00..n15 is an endpoint.
    Built from spark.range, so no pinned plan scans a Python RDD."""
    part = F.abs(F.xxhash64("id", F.lit(7))) % 16
    pairs = spark.range(0, 40).select(
        F.format_string("n%02d", F.col("id") % 16).alias("p"),
        F.format_string("n%02d", part).alias("q"),
    ).where(F.col("p") != F.col("q"))
    return pairs.select(F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b")).distinct()


def _graph_operator_calls(spark):
    """name -> zero-argument call of every graph operator whose pins go
    through graph_analytics._pin, on the _seeded_graph."""
    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics as ga

    und = _seeded_graph(spark)
    directed = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    seeds = spark.createDataFrame([("n01",), ("n05",)], "name string")
    return {
        "pagerank": lambda: ga.pagerank(und),
        "pagerank_seeds": lambda: ga.pagerank(und, seeds=seeds),
        "triangle_stats": lambda: ga.triangle_stats(und),
        "link_prediction": lambda: ga.link_prediction(und),
        "greedy_coloring": lambda: ga.greedy_coloring(und),
        "ktruss": lambda: ga.ktruss(und, k=3),
        "sssp": lambda: ga.sssp(und, "n00"),
        "hits": lambda: ga.hits(directed),
        "label_propagation": lambda: ga.label_propagation(und),
        "closeness": lambda: ga.closeness(und),
        "harmonic": lambda: ga.harmonic(und),
        "effective_diameter": lambda: ga.effective_diameter(und),
        "betweenness": lambda: ga.betweenness(und),
        "deterministic_walks": lambda: ga.deterministic_walks(und),
        "maximal_independent_set": lambda: ga.maximal_independent_set(und),
    }


GRAPH_OPERATORS = [
    "pagerank", "pagerank_seeds", "triangle_stats", "link_prediction",
    "greedy_coloring", "ktruss", "sssp", "hits", "label_propagation",
    "closeness", "harmonic", "effective_diameter", "betweenness",
    "deterministic_walks", "maximal_independent_set",
]


@pytest.mark.parametrize("op", GRAPH_OPERATORS)
def test_graph_operator_pin_width_is_pin_partitions(spark, monkeypatch, op):
    """The pin width is one module constant: at PIN_PARTITIONS = 3 every
    hash repartition under a recorded pin has 3 partitions, and the rows
    equal those at the default width."""
    import re

    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics

    call = _graph_operator_calls(spark)[op]
    default = sorted(map(tuple, call().collect()))
    monkeypatch.setattr(graph_analytics, "PIN_PARTITIONS", 3)
    out = []
    plans, _ = _pinned_plans(spark, monkeypatch, lambda: out.append(call()))
    widths = [
        int(w)
        for p in plans
        for w in re.findall(r"Exchange hashpartitioning\([^)]*, (\d+)\), REPARTITION_BY_NUM", p)
    ]
    assert widths and set(widths) == {3}, (widths, plans)
    assert sorted(map(tuple, out[0].collect())) == default


@pytest.mark.parametrize(
    "op",
    [
        "closeness", "harmonic", "effective_diameter", "betweenness",
        "pagerank", "pagerank_seeds", "hits", "kcore", "ktruss", "k_hop",
    ],
)
def test_graph_loop_builds_without_probe_action(spark, monkeypatch, op):
    """Node, seed, frontier and peel counts come from the pins
    (session.pin_rows): the operator builds with count, take and isEmpty
    raising, and its result then collects."""
    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics as ga
    from medical_doc_knowledge_graph_system_spark.operators.graph_queries import k_hop

    calls = _graph_operator_calls(spark)
    und = _seeded_graph(spark)
    calls["kcore"] = lambda: ga.kcore(und, k=3, rounds=None)
    calls["ktruss"] = lambda: ga.ktruss(und, k=3, rounds=None)
    calls["k_hop"] = lambda: k_hop(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"), F.lit("r").alias("rel_type")),
        spark.createDataFrame([("n03",)], "node_id string"),
        max_hops=3,
    )
    df_cls = type(spark.range(1))

    def probe(*_args, **_kwargs):
        raise AssertionError("probe action in a graph loop")

    with monkeypatch.context() as m:
        for name in ("count", "take", "isEmpty"):
            m.setattr(df_cls, name, probe)
        out = calls[op]()
    assert out.collect()


def test_hits_reads_both_sums_in_one_action(spark, monkeypatch):
    """hits takes the hub and authority L1 sums from one aggregate over
    the last round's pins: building it runs at most one action."""
    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics as ga

    und = _seeded_graph(spark)
    directed = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    df_cls = type(spark.range(1))
    calls = []

    def counted(name):
        action = getattr(df_cls, name)

        def run(self, *args, **kwargs):
            calls.append(name)
            return action(self, *args, **kwargs)

        return run

    with monkeypatch.context() as m:
        for name in ("collect", "count", "take", "first", "head", "toPandas", "isEmpty"):
            m.setattr(df_cls, name, counted(name))
        out = ga.hits(directed)
    assert len(calls) <= 1, calls
    assert out.collect()


@pytest.mark.parametrize(
    "case,expected",
    [("static_empty", 0), ("filtered_empty", 0), ("non_empty", 10)],
)
def test_pin_rows_counts_the_pinned_frame(spark, case, expected):
    from medical_doc_knowledge_graph_system_spark.session import pin_rows

    df = {
        "static_empty": spark.range(0),
        "filtered_empty": spark.range(10).where(F.col("id") > 100),
        "non_empty": spark.range(10),
    }[case]
    pinned, n = pin_rows(df)
    assert n == expected
    assert sorted(r.id for r in pinned.collect()) == list(range(expected))


def test_sssp_start_row_scans_no_python_rdd(spark, monkeypatch):
    """sssp's one-row start frame is a session.literal_frame (a Range), so
    no relax round starts a Python worker task. With one round the pins are
    e0, the adjacency and the round; the round's only Scan ExistingRDD is
    the pinned (x, y, w) adjacency. A createDataFrame start row would be a
    second one."""
    import re

    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import sssp

    und = _seeded_graph(spark)
    plans, _ = _pinned_plans(spark, monkeypatch, lambda: sssp(und, "n00", rounds=1))
    assert len(plans) == 3, plans
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plans[-1])
    assert [re.sub(r"#\w+", "", s) for s in scans] == ["x,y,w"], plans[-1]
    assert "Range" in plans[-1], plans[-1]


def test_lcs_run_pairs_scans_the_corpus_once(spark, monkeypatch, docs):
    """lcs_run_pairs pins each document's positional grams once: the
    shingle sets of the candidate blocking and both legs of the match join
    read that pin. Exactly one pin scans parquet and splits the text, and
    the final plan does neither. Before, the shingle_sets pin and the
    positional-gram pin each scanned and split the corpus."""
    from medical_doc_knowledge_graph_system_spark.functions.dedup import lcs_run_pairs
    from medical_doc_knowledge_graph_system_spark.plans.checks import (
        physical_plan_string,
    )

    out = []
    plans, _ = _pinned_plans(spark, monkeypatch, lambda: out.append(lcs_run_pairs(docs)))
    assert sum("Scan parquet" in p for p in plans) == 1, plans
    assert sum("split(" in p for p in plans) == 1, plans
    final = physical_plan_string(out[0])
    assert "Scan parquet" not in final and "split(" not in final, final


def test_codegen_cache_holds_more_than_sparks_default(spark):
    """get_spark sizes Spark's codegen cache (a static conf, fixed when the
    session is built) to session.CODEGEN_CACHE_ENTRIES. 150 distinct small
    plans, each collected twice: the second round compiles nothing. Under
    Spark's default bound of 100 entries the first round evicts its own
    classes and the second recompiles them."""
    from medical_doc_knowledge_graph_system_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    plans = [spark.range(10).select((F.col("id") + i).alias("v")) for i in range(150)]
    for p in plans:
        p.collect()
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    for p in plans:
        p.collect()
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before == 0
