"""Ninth-session r5 operators: BM25 top-k (python-reference equality on
the quantized scores), OHLC, Welch, BPE merges and Wilson. The
butterfly-count tests live in test_graph_analytics.py, the edit-distance
and chunk-dedup tests in test_dedup.py."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from medical_doc_knowledge_graph_system_spark.functions.corpusstats import bm25_topk


# ── BM25 ────────────────────────────────────────────────────────────────────


def test_bm25_topk_matches_python_reference(spark):
    docs = [
        (0, "join scan join filter"),
        (1, "join join join join scan"),
        (2, "filter scan"),
        (3, "merge sort spill"),
        (4, "join filter merge scan sort"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    # rank the full (tiny) vocab band so every term is a query term
    got = {
        r.doc_id: (r.n_qterms, r.bm25, r.rk)
        for r in bm25_topk(df, k=5, q_lo=1, q_hi=100).collect()
    }

    toks = {i: t.split(" ") for i, t in docs}
    tf = {i: {w: ts.count(w) for w in set(ts)} for i, ts in toks.items()}
    dfreq: dict[str, int] = {}
    for ts in tf.values():
        for w in ts:
            dfreq[w] = dfreq.get(w, 0) + 1
    n = len(docs)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    want = {}
    for i, ts in tf.items():
        sq = 0
        for w, f in ts.items():
            idf = math.log(1.0 + (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
            s = idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * len(toks[i]) / avgdl))
            sq += math.floor(s * 1000000.0 + 0.5)
        want[i] = (len(ts), round(sq / 1000000.0, 4))
    order = sorted(want, key=lambda i: (-round(want[i][1] * 1e6), i))
    for rk, i in enumerate(order, 1):
        assert got[i] == (want[i][0], want[i][1], rk)


def test_bm25_rarer_term_outranks_common_at_equal_tf(spark):
    # 'rare' appears in 1 of 4 docs, 'common' in all 4; the rare-term doc
    # must outrank the common-term doc of identical length/tf
    docs = [
        (0, "common rare pad pad"),
        (1, "common pad pad pad"),
        (2, "common pad pad pad"),
        (3, "common pad pad pad"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = bm25_topk(df, k=4, q_lo=1, q_hi=100).collect()
    top = min(rows, key=lambda r: r.rk)
    assert top.doc_id == 0 and top.n_qterms == 3


# ── OHLC + Welch ────────────────────────────────────────────────────────────


def test_events_ohlc_known_answer(spark):
    import datetime as dt

    rows = [
        # (event_id, ts, value): one day, deliberately out of order
        (3, dt.datetime(2024, 1, 1, 12, 0), 5.0),
        (1, dt.datetime(2024, 1, 1, 0, 30), 2.0),   # open (earliest ts)
        (2, dt.datetime(2024, 1, 1, 23, 0), 9.0),   # close (latest ts)
        (4, dt.datetime(2024, 1, 1, 12, 0), 1.0),   # low (ties on ts w/ 3)
        # second day, single row: open==close==high==low
        (5, dt.datetime(2024, 1, 2, 8, 0), 7.5),
    ]
    df = spark.createDataFrame(
        [(i, t, 7, "click", v, "{}") for i, t, v in rows],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    import __spark_entry__ as entry

    # queries() closures take (spark, sf_dir); drive the same expression
    # directly on the in-memory frame instead
    F_ = entry.F
    g = df.groupBy("event_type", F_.to_date("ts").alias("day")).agg(
        F_.min(F_.struct("ts", "event_id", "value")).alias("o"),
        F_.max(F_.struct("ts", "event_id", "value")).alias("c"),
        F_.max("value").alias("high"),
        F_.min("value").alias("low"),
        F_.count(F_.lit(1)).cast("long").alias("n"),
    ).select(
        F_.col("day").cast("string").alias("day"),
        F_.col("o.value").alias("open"),
        "high", "low",
        F_.col("c.value").alias("close"),
        "n",
    )
    got = {r.day: (r.open, r.high, r.low, r.close, r.n) for r in g.collect()}
    assert got["2024-01-01"] == (2.0, 9.0, 1.0, 9.0, 4)
    assert got["2024-01-02"] == (7.5, 7.5, 7.5, 7.5, 1)


def test_events_ab_welch_matches_numpy(spark, tmp_path):
    import numpy as np

    rng = np.random.RandomState(7)
    a = rng.normal(50, 10, 200).clip(0)
    b = rng.normal(55, 20, 150).clip(0)
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1), 1, "A", float(v), "{}")
        for i, v in enumerate(a)
    ] + [
        (1000 + i, dt.datetime(2024, 1, 1), 1, "B", float(v), "{}")
        for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    import __spark_entry__ as entry

    [r] = entry.queries()["events_ab_welch"](spark, d).collect()
    # independent reference on the SAME quantized cents
    qa = np.floor(a * 100.0 + 0.5)
    qb = np.floor(b * 100.0 + 0.5)
    va, vb = qa.var(ddof=1), qb.var(ddof=1)
    se2 = va / len(qa) + vb / len(qb)
    t = (qa.mean() - qb.mean()) / np.sqrt(se2)
    nu = se2**2 / (
        (va / len(qa)) ** 2 / (len(qa) - 1) + (vb / len(qb)) ** 2 / (len(qb) - 1)
    )
    assert (r.type_a, r.type_b, r.n_a, r.n_b) == ("A", "B", 200, 150)
    assert abs(r.t_welch - t) < 2e-4 and abs(r.df_welch - nu) < 2e-3


# ── BPE merges ──────────────────────────────────────────────────────────────


def test_bpe_merges_known_answer_greedy(spark):
    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        bpe_merges,
    )

    # 'aaab' x3 + 'ab' x2: round 1 pairs — (a,a) n=6 (two per 'aaab'),
    # (a,b) n=5 -> merge (a,a). Round 2 operates on greedy-folded 'aa a b'
    # (NOT 'aa aa ...'): pairs (aa,a) n=3, (a,b) n=5 -> merge (a,b).
    docs = [(0, "aaab aaab aaab ab ab")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = [
        (r.round, r.left_tok, r.right_tok, r.n)
        for r in bpe_merges(df, k=2).orderBy("round").collect()
    ]
    assert got == [(1, "a", "a", 6), (2, "a", "b", 5)]


def test_bpe_merges_tie_breaks_lexicographic(spark):
    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        bpe_merges,
    )

    # 'xy' and 'xz' both n=1: (x,y) < (x,z) lexicographically wins
    df = spark.createDataFrame([(0, "xy xz")], "doc_id bigint, text string")
    [r] = bpe_merges(df, k=1).collect()
    assert (r.left_tok, r.right_tok, r.n) == ("x", "y", 1)


def test_events_wilson_penalizes_small_samples(spark, tmp_path):
    import datetime as dt

    # cohort 0: 1/1 (raw rate 1.0, tiny n); cohort 1: 90/100 — the Wilson
    # LOWER bound must rank the large honest cohort above the 1/1 fluke
    rows = [(0, dt.datetime(2024, 1, 1), 0, "purchase", 1.0, "{}")]
    rows += [
        (100 + i, dt.datetime(2024, 1, 1), 1,
         "purchase" if i < 90 else "view", 1.0, "{}")
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    import __spark_entry__ as entry

    got = {r.cohort: r for r in entry.queries()["events_wilson"](spark, d).collect()}
    assert got[0].n_trials == 1 and got[0].n_buy == 1
    assert got[1].n_trials == 100 and got[1].n_buy == 90
    # bound strictly below the raw rate, and the 90/100 cohort ranks first
    assert got[0].wilson_lb < 1.0 and got[1].wilson_lb < 0.9
    assert got[1].rk == 1 and got[0].rk == 2
