"""Fifteenth-session r5 operators (batch B): ARI/Coleman-Liau readability,
TextRank keywords — known-answer and brute-force parity. The graph
operators of this batch (dyad census, SCC, degree discount, 4-cliques) are
tested in test_graph_analytics.py."""

from __future__ import annotations

SF001 = "/root/testdata/sf0.001"


# ── with_ari_cli ─────────────────────────────────────────────────────────────


def test_ari_cli_known_answer(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_ari_cli,
    )

    text = "The cat sat on the mat. It was happy!"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = with_ari_cli(df).collect()[0]
    # 9 words, 2 sentences, alnum chars of the lowered text
    chars = sum(ch.isalnum() for ch in text.lower())
    assert r["word_count"] == 9
    assert r["n_sentences"] == 2
    assert r["n_alnum"] == chars
    ari = 4.71 * (chars / 9) + 0.5 * (9 / 2) - 21.43
    cli = 0.0588 * (chars / 9 * 100) - 0.296 * (2 / 9 * 100) - 15.8
    assert abs(r["ari"] - ari) < 1e-3
    assert abs(r["cli"] - cli) < 1e-3


def test_ari_no_punctuation_floor_one_sentence(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_ari_cli,
    )

    df = spark.createDataFrame(
        [(1, "just words no stops here")], "doc_id long, text string"
    )
    r = with_ari_cli(df).collect()[0]
    assert r["n_sentences"] == 1 and r["word_count"] == 5


# ── textrank_keywords ────────────────────────────────────────────────────────


def _py_textrank(docs, window=2, iters=8, d=0.85, stop=()):
    from collections import defaultdict

    wt = defaultdict(int)
    for text in docs:
        toks = text.lower().strip().split(" ")
        pos = [(i, t) for i, t in enumerate(toks) if t and t not in stop]
        for i in range(len(pos)):
            for j in range(i + 1, len(pos)):
                if pos[j][0] - pos[i][0] > window:
                    break
                a, b = pos[i][1], pos[j][1]
                if a != b:
                    wt[(min(a, b), max(a, b))] += 1
    nodes = sorted({x for p in wt for x in p})
    W = {v: 0.0 for v in nodes}
    for (a, b), w in wt.items():
        W[a] += w
        W[b] += w
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        nr = {}
        for v in nodes:
            s = 0.0
            for (a, b), w in wt.items():
                if v == a:
                    s += r[b] / W[b] * w
                elif v == b:
                    s += r[a] / W[a] * w
            nr[v] = (1 - d) / n + d * s
        r = nr
    return {v: r[v] * n for v in nodes}


def test_textrank_matches_python_power_method(spark):
    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        textrank_keywords,
    )

    docs = [
        "graph ranking keeps important words central",
        "important words appear near other important words",
        "central words rank high in the graph",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["word"]: r["rank_norm"]
        for r in textrank_keywords(df, k=50, stopwords=["in", "the"]).collect()
    }
    exp = _py_textrank(docs, stop={"in", "the"})
    assert set(got) == set(exp)
    for w, v in exp.items():
        assert abs(got[w] - v) < 1e-3, (w, got[w], v)
    # hubs outrank leaves
    assert got["words"] == max(got.values())


def test_textrank_isolated_token_excluded(spark):
    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        textrank_keywords,
    )

    # single-token doc creates no edges -> the token is not a node
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "lonely")], "doc_id long, text string"
    )
    words = {
        r["word"] for r in textrank_keywords(df, k=10, stopwords=[]).collect()
    }
    assert words == {"alpha", "beta"}


# ── best_changepoint ─────────────────────────────────────────────────────────


def test_changepoint_finds_mean_shift(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        best_changepoint,
    )

    # level 100 for 12 points, then 500 for 8 — split after point 12
    ys = [100] * 12 + [500] * 8
    df = spark.createDataFrame(
        [("g", i, y) for i, y in enumerate(ys)], "k string, o int, v long"
    )
    r = best_changepoint(df, ["k"], "o", "v").collect()[0]
    assert r["n_before"] == 12 and r["n_after"] == 8
    assert r["split_at"] == 11
    assert r["mean_before"] == 100 and r["mean_after"] == 500


def test_changepoint_matches_bruteforce_sse(spark):
    import random as _r

    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        best_changepoint,
    )

    rng = _r.Random(29)
    ys = [rng.randrange(0, 100) for _ in range(15)] + [
        rng.randrange(200, 300) for _ in range(10)
    ]
    df = spark.createDataFrame(
        [("g", i, y) for i, y in enumerate(ys)], "k string, o int, v long"
    )
    r = best_changepoint(df, ["k"], "o", "v").collect()[0]
    n, s = len(ys), sum(ys)
    best_k, best_gain = None, None
    cum = 0
    for k in range(1, n):
        cum += ys[k - 1]
        gain = cum * cum / k + (s - cum) ** 2 / (n - k) - s * s / n
        if best_gain is None or gain > best_gain + 1e-9:
            best_k, best_gain = k, gain
    assert r["n_before"] == best_k
    assert abs(r["gain_milli"] / 1000.0 - best_gain) < 1e-2


def test_changepoint_flat_series_zero_gain(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        best_changepoint,
    )

    df = spark.createDataFrame(
        [("g", i, 50) for i in range(10)], "k string, o int, v long"
    )
    r = best_changepoint(df, ["k"], "o", "v").collect()[0]
    assert r["gain_milli"] == 0
    assert r["n_before"] == 1  # tie-break: smallest split


# ── phi_pairs ────────────────────────────────────────────────────────────────


def test_phi_matches_bruteforce(spark):
    import math as _m
    import random as _r

    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        phi_pairs,
    )

    rng = _r.Random(31)
    rows = []
    present = {"a": set(), "b": set()}
    for u in range(50):
        if rng.random() < 0.5:
            rows.append(("a", u))
            present["a"].add(u)
        if rng.random() < 0.4 or u in present["a"] and rng.random() < 0.5:
            rows.append(("b", u))
            present["b"].add(u)
        if not rows or rows[-1][1] != u:
            rows.append(("c", u))  # ensure every unit exists somewhere
    df = spark.createDataFrame(rows, "g string, u long")
    out = {(r["g1"], r["g2"]): r for r in phi_pairs(df, "g", "u").collect()}
    units = {u for _, u in rows}
    n = len(units)
    n11 = len(present["a"] & present["b"])
    m1, m2 = len(present["a"]), len(present["b"])
    n10, n01 = m1 - n11, m2 - n11
    n00 = n - m1 - m2 + n11
    r = out[("a", "b")]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (n11, n10, n01, n00)
    exp = (n11 * n00 - n10 * n01) / _m.sqrt(
        m1 * (n - m1) * m2 * (n - m2)
    )
    assert abs(r["phi"] - exp) < 1e-12


def test_phi_perfect_association(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        phi_pairs,
    )

    rows = [("a", u) for u in range(5)] + [("b", u) for u in range(5)]
    rows += [("c", u) for u in range(5, 10)]
    df = spark.createDataFrame(rows, "g string, u long")
    out = {(r["g1"], r["g2"]): r["phi"] for r in phi_pairs(df, "g", "u").collect()}
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0


def test_phi_degenerate_margin_zero(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        phi_pairs,
    )

    # 'a' present in EVERY unit -> phi undefined -> guarded to 0.0
    rows = [("a", u) for u in range(6)] + [("b", u) for u in range(3)]
    df = spark.createDataFrame(rows, "g string, u long")
    r = phi_pairs(df, "g", "u").collect()[0]
    assert r["phi"] == 0.0


# ── sax_symbolize ────────────────────────────────────────────────────────────


def test_sax_known_word(spark):
    import math as _m

    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        sax_symbolize,
    )

    ys = [10, 20, 30, 40, 50]
    df = spark.createDataFrame(
        [("g", i, y) for i, y in enumerate(ys)], "k string, o int, v long"
    )
    r = sax_symbolize(df, ["k"], "o", "v").collect()[0]
    mu = sum(ys) / len(ys)
    sd = _m.sqrt(sum((y - mu) ** 2 for y in ys) / (len(ys) - 1))
    exp = ""
    for y in ys:
        z = (y - mu) / sd
        exp += "a" if z < -0.6745 else "b" if z < 0 else "c" if z < 0.6745 else "d"
    assert r["n"] == 5 and r["sax"] == exp


def test_sax_constant_series_all_b(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        sax_symbolize,
    )

    df = spark.createDataFrame(
        [("g", i, 7) for i in range(6)], "k string, o int, v long"
    )
    r = sax_symbolize(df, ["k"], "o", "v").collect()[0]
    assert r["sax"] == "bbbbbb"


# ── snaive_backtest ──────────────────────────────────────────────────────────


def test_snaive_exact_season_zero_mae(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        snaive_backtest,
    )

    # perfectly weekly series -> every backtest error 0
    ys = [(i, 100 + (i % 7) * 10) for i in range(21)]
    df = spark.createDataFrame(
        [("g", i, y) for i, y in ys], "k string, o int, v long"
    )
    r = snaive_backtest(df, ["k"], "o", "v").collect()[0]
    assert r["n_backtest"] == 14 and r["total_abs_err"] == 0 and r["mae"] == 0.0


def test_snaive_respects_calendar_gaps(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        snaive_backtest,
    )

    # day 8 missing: day 15 still matches day 8? no — matches on VALUE,
    # so day 15 has no ancestor and is excluded
    days = [0, 1, 7, 8, 14, 16]
    vals = {0: 5, 1: 6, 7: 9, 8: 2, 14: 19, 16: 30}
    df = spark.createDataFrame(
        [("g", d, vals[d]) for d in days], "k string, o int, v long"
    )
    r = snaive_backtest(df, ["k"], "o", "v").collect()[0]
    # matched: 7<-0 (|9-5|=4), 8<-1 (|2-6|=4), 14<-7 (|19-9|=10); 16 has no 9
    assert r["n_backtest"] == 3
    assert r["total_abs_err"] == 18
    assert r["mae"] == 6.0


# ── interval_union ───────────────────────────────────────────────────────────


def _py_union(intervals):
    ivs = sorted(intervals)
    total = 0
    islands = 0
    cur_end = None
    for st, en in ivs:
        if cur_end is None or st > cur_end:
            islands += 1
            total += en - st
            cur_end = en
        else:
            total += max(0, en - cur_end)
            cur_end = max(cur_end, en)
    return islands, total


def test_interval_union_matches_sweep(spark):
    import random as _r

    from medical_doc_knowledge_graph_system_spark.operators.rangejoin import (
        interval_union,
    )

    rng = _r.Random(37)
    ivs = []
    for i in range(60):
        st = rng.randrange(0, 1000)
        ivs.append((st, st + rng.randrange(1, 80)))
    df = spark.createDataFrame(
        [("g", i, st, en) for i, (st, en) in enumerate(ivs)],
        "k string, i int, st long, en long",
    )
    r = interval_union(df, ["k"], "st", "en", "i").collect()[0]
    islands, total = _py_union(ivs)
    assert r["n_intervals"] == 60
    assert r["n_islands"] == islands
    assert r["covered"] == total


def test_interval_union_contained_interval(spark):
    from medical_doc_knowledge_graph_system_spark.operators.rangejoin import (
        interval_union,
    )

    # second interval fully inside the first: contributes 0, no new island
    df = spark.createDataFrame(
        [("g", 1, 0, 100), ("g", 2, 10, 20), ("g", 3, 150, 160)],
        "k string, i int, st long, en long",
    )
    r = interval_union(df, ["k"], "st", "en", "i").collect()[0]
    assert r["n_islands"] == 2 and r["covered"] == 110


# ── keyness_chi2 ─────────────────────────────────────────────────────────────


def test_keyness_flags_slice_specific_terms(spark):
    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        keyness_chi2,
    )

    rows = [(i, "alpha shared words here", "en") for i in range(10)]
    rows += [(100 + i, "beta shared words here", "fr") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["tok"]: r
        for r in keyness_chi2(df, F.col("lang") == "en", k=10).collect()
    }
    assert out["alpha"]["enriched"] == "focus"
    assert out["beta"]["enriched"] == "reference"
    # slice-exclusive terms outrank shared ones
    assert out["alpha"]["chi2"] > out["shared"]["chi2"]
    assert out["alpha"]["a"] == 10 and out["alpha"]["b"] == 0


def test_keyness_chi2_matches_formula(spark):
    import math as _m

    from pyspark.sql import functions as F

    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        keyness_chi2,
    )

    rows = [(1, "x x y z", "en"), (2, "y z z w", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["tok"]: r["chi2"]
        for r in keyness_chi2(df, F.col("lang") == "en", k=10).collect()
    }
    na, nb = 4, 4

    def chi2(a, b):
        c, d = na - a, nb - b
        n = na + nb
        return n * (a * d - b * c) ** 2 / ((a + b) * (c + d) * na * nb)

    assert abs(out["x"] - chi2(2, 0)) < 2e-3
    assert abs(out["z"] - chi2(1, 2)) < 2e-3


# ── topk_mips ────────────────────────────────────────────────────────────────


def test_topk_mips_matches_numpy(spark):
    import numpy as np

    from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
        topk_mips,
    )

    rng = np.random.RandomState(47)
    vecs = rng.randn(30, 8).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(3)],
        "query_id long, q_embedding array<double>",
    )
    got = topk_mips(emb, qs, k=4).collect()
    for q in range(3):
        dots = vecs @ vecs[q]
        order = sorted(
            (i for i in range(30) if i != q),
            key=lambda i: (-round(dots[i] * 1e9), i),
        )[:4]
        rows = sorted(
            ((r["rank"], r["vec_id"], r["dot"]) for r in got if r["query_id"] == q)
        )
        assert [v for _, v, _ in rows] == order
        for rk, v, dotv in rows:
            assert abs(dotv - dots[v]) < 1e-4


# ── label_centroid_cosines ───────────────────────────────────────────────────


def test_centroid_cosines_match_numpy(spark):
    import numpy as np

    from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
        label_centroid_cosines,
    )

    rng = np.random.RandomState(59)
    rows = []
    for lbl in range(3):
        base = rng.randn(6)
        for i in range(20):
            v = base + rng.randn(6) * 0.1
            rows.append((lbl, [float(round(x, 4)) for x in v]))
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    got = {
        (r["l1"], r["l2"]): r
        for r in label_centroid_cosines(df, "label").collect()
    }
    cents = {}
    for lbl in range(3):
        vs = np.array([v for l, v in rows if l == lbl])
        # mirror the integer quantization: centroid of quantized coords
        cents[lbl] = np.floor(vs * 10000.0 + 0.5).sum(axis=0)
    for (a, b), r in got.items():
        ca, cb = cents[a], cents[b]
        exp = ca @ cb / (np.sqrt(ca @ ca) * np.sqrt(cb @ cb))
        assert abs(r["cos_c"] - exp) < 1e-9
        assert r["n1"] == 20 and r["n2"] == 20


# ── seasonal_indices ─────────────────────────────────────────────────────────


def test_seasonal_recovers_planted_dow_effect(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        seasonal_indices,
    )

    # flat level 100 + planted additive phase effect, 6 full weeks
    effect = [0, 5, -3, 8, 0, -5, -5]
    rows = [("g", d, 100 + effect[d % 7]) for d in range(42)]
    df = spark.createDataFrame(rows, "k string, o int, v long")
    out = {
        r["phase"]: r for r in seasonal_indices(df, ["k"], "o", "v").collect()
    }
    # a strictly periodic series has a periodic MA too; indices recover
    # the effect up to the (constant) weekly mean
    mean_eff = sum(effect) / 7
    for ph in range(7):
        assert abs(out[ph]["seasonal"] - (effect[ph] - mean_eff)) < 0.01


def test_seasonal_edges_dropped(spark):
    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        seasonal_indices,
    )

    rows = [("g", d, d) for d in range(10)]
    df = spark.createDataFrame(rows, "k string, o int, v long")
    out = seasonal_indices(df, ["k"], "o", "v").collect()
    # 10 points, centered 7-window full only for o in [3, 6] -> 4 cells
    assert sum(r["n_obs"] for r in out) == 4


# ── knn_loo_accuracy ─────────────────────────────────────────────────────────


def test_knn_loo_perfect_clusters(spark):
    from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
        knn_loo_accuracy,
    )

    # two tight orthogonal clusters -> LOO 5-NN is perfect
    rows = []
    for i in range(20):
        rows.append((i, 0, [1.0, 0.001 * i, 0.0]))
        rows.append((100 + i, 1, [0.0, 0.001 * i, 1.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = {r["label"]: r for r in knn_loo_accuracy(df, "label", k=5).collect()}
    assert all(r["acc"] == 1.0 for r in out.values())
    # sample: vec_id % 17 == 0 among 0..19 and 100..119
    assert out[0]["n_queries"] == 2  # 0, 17
    assert out[1]["n_queries"] == 2  # 102, 119


# ── term_burstiness ──────────────────────────────────────────────────────────


def test_burstiness_bursty_vs_uniform(spark):
    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        term_burstiness,
    )

    # 'even' once per doc (Fano < 1: under-dispersed); 'burst' 5x in one doc
    rows = [(i, "even " + ("burst " * 5 if i == 0 else "pad")) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["tok"]: r for r in term_burstiness(df, k=10).collect()}
    d = 10
    # even: c=1 in all 10 docs -> fano = (10*10 - 100)/(10*10) = 0
    assert out["even"]["fano"] == 0.0
    # burst: one doc c=5 -> (10*25 - 25)/(10*5) = 4.5
    assert out["burst"]["fano"] == 4.5
    assert out["even"]["df"] == 10 and out["burst"]["df"] == 1


# ── position_attribution ─────────────────────────────────────────────────────


def test_ushape_attribution_credit_conserved(spark):
    import datetime as _dt

    from medical_doc_knowledge_graph_system_spark.operators.funnel import (
        position_attribution,
    )

    t0 = _dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    # user 1: view, click, view, purchase (n=4): 0.4/0.2/0.4 split
    for i, et in enumerate(["view", "click", "view", "purchase"]):
        rows.append((i, t0 + _dt.timedelta(minutes=i), 1, et, 1.0, "{}"))
    # user 2: purchase only (n=1): full credit
    rows.append((10, t0, 2, "purchase", 1.0, "{}"))
    # user 3: view, purchase (n=2): 0.5 each
    rows.append((20, t0, 3, "view", 1.0, "{}"))
    rows.append((21, t0 + _dt.timedelta(minutes=1), 3, "purchase", 1.0, "{}"))
    # user 4: views only, NO conversion -> excluded entirely
    rows.append((30, t0, 4, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["channel"]: r for r in position_attribution(df).collect()}
    # journey 1: view(first)=0.4, click(mid)=0.1, view(mid)=0.1, purchase(last)=0.4
    # journey 2: purchase 1.0 ; journey 3: view 0.5, purchase 0.5
    assert abs(out["view"]["credit"] - (0.4 + 0.1 + 0.5)) < 1e-6
    assert abs(out["click"]["credit"] - 0.1) < 1e-6
    assert abs(out["purchase"]["credit"] - (0.4 + 1.0 + 0.5)) < 1e-6
    # total credit == number of converting journeys
    assert abs(sum(r["credit"] for r in out.values()) - 3.0) < 1e-5
    assert "4" not in out and out["view"]["n_touches"] == 3


# ── with_code_score ──────────────────────────────────────────────────────────


def test_code_score_separates_code_from_prose(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_code_score,
    )

    rows = [
        (1, "def f(x): return {x: [1, 2]} # comment; y = x[0] < 3;"),
        (2, "The quiet afternoon passed slowly as the rain continued."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_code_score(df).collect()}
    assert out[1]["is_codelike"] and not out[2]["is_codelike"]
    assert out[2]["n_sym"] == 0


# ── events_pareto gate sanity ────────────────────────────────────────────────


def test_pareto_concentrated_vs_uniform(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # reuse the gate logic on constructed spends via the oracle identity:
    # one whale covering 80% -> n_top80 = 1
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE spend AS SELECT * FROM (VALUES"
        " ('t', 1, 800), ('t', 2, 100), ('t', 3, 100))"
        " s(event_type, user_id, c)"
    )
    r = con.execute(
        """
        WITH m AS (
          SELECT event_type, c,
                 row_number() OVER wo AS rn,
                 sum(c) OVER (PARTITION BY event_type ORDER BY c DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER (PARTITION BY event_type) AS total
          FROM spend
          WINDOW wo AS (PARTITION BY event_type ORDER BY c DESC, user_id)
        )
        SELECT min(CASE WHEN 100 * cum >= 80 * total THEN rn END) FROM m
        """
    ).fetchone()
    assert r[0] == 1


# ── periodogram_weekly ───────────────────────────────────────────────────────


def test_periodogram_detects_weekly_cycle(spark):
    import math as _m

    from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
        periodogram_weekly,
    )

    # 8 full weeks: planted cos cycle vs flat series
    rows = []
    for d in range(56):
        rows.append(("cyc", d, 100 + round(50 * _m.cos(2 * _m.pi * d / 7))))
        rows.append(("flat", d, 100))
    df = spark.createDataFrame(rows, "k string, o int, v long")
    out = {r["k"]: r for r in periodogram_weekly(df, ["k"], "o", "v").collect()}
    assert out["cyc"]["p7"] > 100 * out["flat"]["p7"] or out["flat"]["p7"] < 1.0
    # analytic check: a ≈ sum over d of y_d cos(2πd/7)
    a = sum(
        (100 + round(50 * _m.cos(2 * _m.pi * d / 7)))
        * _m.cos(2 * _m.pi * (d % 7) / 7)
        for d in range(56)
    )
    b = sum(
        (100 + round(50 * _m.cos(2 * _m.pi * d / 7)))
        * _m.sin(2 * _m.pi * (d % 7) / 7)
        for d in range(56)
    )
    exp = (a * a + b * b) / 56
    assert abs(out["cyc"]["p7"] - exp) < 0.05


# ── sim_recall_eval gate behavior ────────────────────────────────────────────


def test_recall_eval_bounds(spark):
    import __spark_entry__ as entry

    out = entry.queries()["sim_recall_eval"](spark, SF001).collect()
    assert len(out) == 5
    for r in out:
        assert 0 <= r["n_hits"] <= 5
        assert abs(r["recall5"] - r["n_hits"] / 5) < 1e-12
        assert 0.0 <= r["rr"] <= 1.0


# ── events_did / events_cuped (gate-logic known answers) ─────────────────────


def test_did_planted_treatment_effect(spark):
    import datetime as _dt

    import __spark_entry__ as entry

    # build a tiny parquet table with a planted +10.00 DiD effect
    base = _dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in [1, 20]:  # pre (day 1) and post (day 20)
        for uid in [0, 1]:  # uid 0 treated (even), uid 1 control
            # control trend: +5 post; treated: +5 trend +10 effect
            v = 100.0 + (5.0 if day >= 15 else 0.0)
            if uid % 2 == 0 and day >= 15:
                v += 10.0
            rows.append(
                (eid, base + _dt.timedelta(days=day), uid, "view", v, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile, shutil, os

    d = tempfile.mkdtemp()
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = entry.queries()["events_did"](spark, d).collect()[0]
        # means are in cents: +10.00 effect == 1000 cent-units
        assert abs(out["did"] - 1000.0) < 1e-6
        assert abs((out["c2"] - out["c1"]) - 500.0) < 1e-6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cuped_theta_matches_numpy(spark):
    import numpy as np
    import datetime as _dt
    import tempfile, shutil, os

    import __spark_entry__ as entry

    rng = np.random.RandomState(67)
    base = _dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    xs, ys = {}, {}
    for uid in range(30):
        x = float(rng.randint(50, 150))
        y = 2.0 * x + float(rng.randint(0, 50))
        xs[uid], ys[uid] = x, y
        rows.append((eid, base + _dt.timedelta(days=2), uid, "view", x, "{}"))
        eid += 1
        rows.append((eid, base + _dt.timedelta(days=20), uid, "view", y, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = tempfile.mkdtemp()
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = entry.queries()["events_cuped"](spark, d).collect()[0]
        xv = np.array([xs[u] * 100 for u in range(30)])
        yv = np.array([ys[u] * 100 for u in range(30)])
        theta = np.cov(xv, yv, bias=True)[0, 1] / np.var(xv)
        rho2 = np.corrcoef(xv, yv)[0, 1] ** 2
        assert abs(out["theta"] - theta) < 1e-3
        assert abs(out["var_reduction"] - rho2) < 1e-3
        assert out["n"] == 30
    finally:
        shutil.rmtree(d, ignore_errors=True)
