"""Sixteenth-session r5 operators: resampling inference (multiplier
bootstrap, cluster permutation test) and text richness (Yule's K, MSTTR)
— brute-force Python parity and structural properties."""

from __future__ import annotations

import hashlib
import random


def _md5_u(sid: str) -> int:
    return int(hashlib.md5(sid.encode()).hexdigest()[:8], 16)


# ── bootstrap_ci_mean ────────────────────────────────────────────────────────


def test_bootstrap_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        bootstrap_ci_mean,
    )

    rng = random.Random(23)
    rows = [("g", i, rng.randrange(0, 1000)) for i in range(40)]
    df = spark.createDataFrame(rows, "k string, id long, x long")
    got = bootstrap_ci_mean(df, ["k"], "x", "id", b=8).collect()[0]

    means = []
    for r in range(8):
        sw = swx = 0
        for _, i, x in rows:
            u = _md5_u(f"{i}:{r}") % 4
            w = 0 if u == 0 else (2 if u == 1 else 1)
            sw += w
            swx += w * x
        means.append(swx / sw)
    assert got["n"] == 40
    assert abs(got["mean"] - sum(x for _, _, x in rows) / 40) < 1e-9
    assert abs(got["ci_lo"] - min(means)) < 1e-12
    assert abs(got["ci_hi"] - max(means)) < 1e-12
    assert got["ci_lo"] <= got["ci_hi"]


def test_bootstrap_constant_series_degenerate_interval(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        bootstrap_ci_mean,
    )

    df = spark.createDataFrame(
        [("g", i, 7) for i in range(30)], "k string, id long, x long"
    )
    got = bootstrap_ci_mean(df, ["k"], "x", "id", b=8).collect()[0]
    assert got["ci_lo"] == got["ci_hi"] == got["mean"] == 7.0


# ── cluster_perm_test ────────────────────────────────────────────────────────


def test_permtest_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        cluster_perm_test,
    )

    rng = random.Random(29)
    rows = []
    for u in range(20):
        for _ in range(rng.randrange(1, 4)):
            rows.append(("g", u, rng.randrange(0, 500)))
    df = spark.createDataFrame(rows, "k string, u long, x long")
    got = cluster_perm_test(df, ["k"], "x", "u", b=16).collect()[0]

    def diff(assign):
        s1 = sum(x for _, u, x in rows if assign(u))
        n1 = sum(1 for _, u, x in rows if assign(u))
        s0 = sum(x for _, u, x in rows if not assign(u))
        n0 = len(rows) - n1
        return s1 / n1 - s0 / n0

    obs = diff(lambda u: u % 2 == 0)
    n_ge = sum(
        1
        for r in range(16)
        if abs(diff(lambda u, r=r: _md5_u(f"{u}:{r}") % 2 == 0)) >= abs(obs)
    )
    assert got["n"] == len(rows)
    assert abs(got["obs_diff"] - obs) < 1e-9
    assert got["n_ge"] == n_ge
    assert abs(got["p_value"] - (n_ge + 1) / 17) < 1e-12


def test_permtest_huge_effect_small_p(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        cluster_perm_test,
    )

    # even users all ~1000, odd users all ~0: almost no random split beats it
    rows = [("g", u, 1000 if u % 2 == 0 else 0) for u in range(40) for _ in range(3)]
    df = spark.createDataFrame(rows, "k string, u long, x long")
    got = cluster_perm_test(df, ["k"], "x", "u", b=32).collect()[0]
    assert got["obs_diff"] == 1000.0
    assert got["p_value"] <= 3 / 33


# ── with_yule_k ──────────────────────────────────────────────────────────────


def test_yule_k_matches_formula(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_yule_k,
    )

    text = "a b a c a b d"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = with_yule_k(df).collect()[0]
    # freqs: a=3 b=2 c=1 d=1; N=7; sum f^2 = 9+4+1+1 = 15
    assert got["n_tokens"] == 7
    assert abs(got["yule_k"] - 10000.0 * (15 - 7) / 49) < 1e-9


def test_yule_k_all_distinct_zero_all_same_max(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_yule_k,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x x x x")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in with_yule_k(df).collect()}
    assert got[1]["yule_k"] == 0.0
    # all-same: K = 1e4 (N^2 - N)/N^2 = 1e4 (1 - 1/N)
    assert abs(got[2]["yule_k"] - 10000.0 * (16 - 4) / 16) < 1e-9


# ── with_msttr ───────────────────────────────────────────────────────────────


def test_msttr_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_msttr,
    )

    rng = random.Random(31)
    toks = [rng.choice("abcdefgh") for _ in range(68)]
    df = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    got = with_msttr(df, seg=25).collect()[0]
    segs = [toks[0:25], toks[25:50]]  # trailing 18 dropped
    expect = sum(len(set(s)) for s in segs) / (25 * 2)
    assert got["n_segments"] == 2
    assert abs(got["msttr"] - expect) < 1e-12


def test_msttr_short_doc_absent(spark):
    from medical_doc_knowledge_graph_system_spark.functions.textfns import (
        with_msttr,
    )

    df = spark.createDataFrame(
        [(1, "only four tokens here"), (2, " ".join(["w"] * 30))],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_msttr(df, seg=25).collect()}
    assert 1 not in rows
    assert rows[2]["msttr"] == 1 / 25  # one segment, one type


# ── ses_dyadic ───────────────────────────────────────────────────────────────


def test_ses_matches_recursion(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        ses_dyadic,
    )

    rng = random.Random(37)
    xs = [rng.randrange(0, 100000) for _ in range(30)]
    got = ses_dyadic(_series_df_ss(spark, xs), ["k"]).collect()[0]
    level = float(xs[0])
    prev = None
    for x in xs[1:]:
        prev = level
        level = (x + level) / 2
    assert got["n"] == 30
    assert abs(got["level"] - level) < 1e-9
    assert abs(got["last_err"] - (xs[-1] - prev)) < 1e-9


def test_ses_constant_series_level_is_constant(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        ses_dyadic,
    )

    got = ses_dyadic(_series_df_ss(spark, [42] * 12), ["k"]).collect()[0]
    assert got["level"] == 42.0 and got["last_err"] == 0.0


def _series_df_ss(spark, xs, key="a"):
    rows = [(key, i + 1, int(v)) for i, v in enumerate(xs)]
    return spark.createDataFrame(rows, "k string, pos long, x long")


# ── grubbs_stat ──────────────────────────────────────────────────────────────


def test_grubbs_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        grubbs_stat,
    )

    import math

    xs = [50, 52, 49, 51, 48, 50, 53, 990, 47, 52]  # planted outlier at pos 8
    got = grubbs_stat(_series_df_ss(spark, xs), ["k"]).collect()[0]
    n = len(xs)
    m = sum(xs) / n
    s = math.sqrt(sum((x - m) ** 2 for x in xs) / (n - 1))
    assert got["pos_at_max"] == 8
    assert abs(got["g"] - max(abs(x - m) for x in xs) / s) < 1e-9


def test_grubbs_tie_breaks_to_first_pos(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        grubbs_stat,
    )

    # symmetric: pos 1 and pos 4 tie on |x - mean|; smallest pos wins
    got = grubbs_stat(_series_df_ss(spark, [0, 50, 50, 100]), ["k"]).collect()[0]
    assert got["pos_at_max"] == 1


# ── leadlag_corr ─────────────────────────────────────────────────────────────


def test_leadlag_detects_planted_lead(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        leadlag_corr,
    )

    rng = random.Random(43)
    a = [rng.randrange(0, 1000) for _ in range(30)]
    b = [0] + a[:-1]  # b IS a shifted by +1: a leads b
    rows = [("a", i + 1, a[i]) for i in range(30)] + [
        ("b", i + 1, b[i]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "k string, pos long, x long")
    out = {r["lag"]: r["corr"] for r in leadlag_corr(df, "k").collect()}
    assert abs(out[1] - 1.0) < 1e-9  # corr(a_t, b_{t+1}) == 1
    assert out[1] > abs(out[0]) and out[1] > abs(out[-1])


def test_leadlag_pair_orientation_and_counts(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        leadlag_corr,
    )

    rows = [(k, i + 1, (i * 7 + ord(k)) % 13) for k in "xy" for i in range(10)]
    df = spark.createDataFrame(rows, "k string, pos long, x long")
    out = leadlag_corr(df, "k").collect()
    assert {(r["k1"], r["k2"]) for r in out} == {("x", "y")}
    byl = {r["lag"]: r["n"] for r in out}
    assert byl[0] == 10 and byl[1] == 9 and byl[-1] == 9


# ── hamming_topk ─────────────────────────────────────────────────────────────


def test_hamming_topk_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
        hamming_topk,
    )

    rng = random.Random(47)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(64)] for i in range(20)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    qs = spark.createDataFrame(
        [(i, vecs[i]) for i in range(2)],
        "query_id long, q_embedding array<double>",
    )
    out = hamming_topk(emb, qs, k=3).collect()

    def mask(v):
        return [1 if x >= 0 else 0 for x in v]

    for q in range(2):
        cand = sorted(
            (
                sum(a != b for a, b in zip(mask(vecs[q]), mask(vecs[i]))),
                i,
            )
            for i in vecs
            if i != q
        )[:3]
        got = sorted(
            (r["hamming"], r["vec_id"]) for r in out if r["query_id"] == q
        )
        assert got == cand


def test_hamming_identical_vector_distance_zero(spark):
    from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
        hamming_topk,
    )

    v = [1.0] * 64
    emb = spark.createDataFrame(
        [(0, v), (1, v), (2, [-1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, v)], "query_id long, q_embedding array<double>"
    )
    rows = {r["vec_id"]: r for r in hamming_topk(emb, qs, k=2).collect()}
    assert rows[1]["hamming"] == 0 and rows[1]["rank"] == 1
    assert rows[2]["hamming"] == 64


# ── best_stump ───────────────────────────────────────────────────────────────


def test_stump_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        best_stump,
    )

    rng = random.Random(53)
    xs = [rng.randrange(0, 100) for _ in range(15)] + [
        rng.randrange(500, 600) for _ in range(15)
    ]
    got = best_stump(_series_df_ss(spark, xs), ["k"]).collect()[0]

    def sse_at(s):
        l, r = xs[:s], xs[s:]
        ml, mr = sum(l) / len(l), sum(r) / len(r)
        return sum((v - ml) ** 2 for v in l) + sum((v - mr) ** 2 for v in r)

    best = min(range(1, 30), key=lambda s: (sse_at(s), s))
    assert got["split_pos"] == best == 15
    assert abs(got["sse"] - sse_at(best)) < 1e-6
    assert abs(got["mean_l"] - sum(xs[:15]) / 15) < 1e-9
    assert abs(got["mean_r"] - sum(xs[15:]) / 15) < 1e-9


# ── logrank_test ─────────────────────────────────────────────────────────────


def test_logrank_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        logrank_test,
    )

    rng = random.Random(59)
    rows = [
        (u, rng.randrange(1, 10), rng.randrange(0, 2)) for u in range(40)
    ]
    df = spark.createDataFrame(rows, "u long, t long, e long")
    got = logrank_test(df, [], "u", "t", "e").collect()[0]

    import math

    times = sorted({t for _, t, e in rows if e == 1})
    o1 = sum(1 for u, t, e in rows if e == 1 and u % 2 == 0)
    e1 = v = 0.0
    for t in times:
        at = [(u, tt, e) for u, tt, e in rows if tt >= t]
        n, n1 = len(at), sum(1 for u, _, _ in at if u % 2 == 0)
        d = sum(1 for _, tt, e in at if tt == t and e == 1)
        e1 += math.floor(d * n1 / n * 1e6 + 0.5) / 1e6
        if n > 1:
            v += (
                math.floor(
                    d * (n1 / n) * (1 - n1 / n) * ((n - d) / (n - 1)) * 1e6
                    + 0.5
                )
                / 1e6
            )
    assert got["o1"] == o1
    assert abs(got["e1"] - e1) < 1e-4
    assert abs(got["v"] - v) < 1e-4
    assert abs(got["z"] - (o1 - e1) / math.sqrt(v)) < 1e-3


def test_logrank_identical_arms_small_z(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        logrank_test,
    )

    # mirrored arms: every even unit's outcome duplicated on an odd unit
    rows = []
    for i in range(20):
        t, e = (i % 9) + 1, 1 if i % 3 else 0
        rows += [(2 * i, t, e), (2 * i + 1, t, e)]
    df = spark.createDataFrame(rows, "u long, t long, e long")
    got = logrank_test(df, [], "u", "t", "e").collect()[0]
    assert abs(got["z"]) < 1e-6  # O1 == E1 by symmetry


# ── mde_power ────────────────────────────────────────────────────────────────


def test_mde_matches_formula(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        mde_power,
    )

    import math

    rng = random.Random(61)
    rows = [("g", rng.randrange(0, 1000)) for _ in range(101)]
    df = spark.createDataFrame(rows, "k string, x long")
    got = mde_power(df, ["k"], "x").collect()[0]
    n = 101
    m = sum(x for _, x in rows) / n
    var = sum((x - m) ** 2 for _, x in rows) / (n - 1)
    assert abs(got["sd"] - math.sqrt(var)) < 1e-9
    assert abs(got["mde"] - 2.8 * math.sqrt(2 * var / (n // 2))) < 1e-9


# ── pettitt_test ─────────────────────────────────────────────────────────────


def test_pettitt_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        pettitt_test,
    )

    rng = random.Random(71)
    xs = [rng.randrange(0, 50) for _ in range(14)] + [
        rng.randrange(100, 150) for _ in range(14)
    ]
    got = pettitt_test(_series_df_ss(spark, xs), ["k"]).collect()[0]

    def sgn(v):
        return (v > 0) - (v < 0)

    n = len(xs)
    us = []
    for t in range(1, n):
        us.append(
            (
                abs(
                    sum(
                        sgn(xs[j] - xs[i])
                        for i in range(t)
                        for j in range(t, n)
                    )
                ),
                t,
            )
        )
    k_stat, cp = max(us, key=lambda p: (p[0], -p[1]))
    assert got["k_stat"] == k_stat
    assert got["cp_pos"] == cp == 14  # the planted break
    assert got["n"] == n


def test_pettitt_monotone_series_peaks_midway(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        pettitt_test,
    )

    got = pettitt_test(_series_df_ss(spark, list(range(20))), ["k"]).collect()[0]
    # strictly increasing: U_t = t*(n-t); max at t = n/2
    assert got["cp_pos"] == 10 and got["k_stat"] == 10 * 10


# ── burrows_delta ────────────────────────────────────────────────────────────


def test_burrows_same_style_smaller_delta(spark):
    from medical_doc_knowledge_graph_system_spark.functions.corpusstats import (
        burrows_delta,
    )

    rng = random.Random(73)
    # sources A and B share a word distribution; C skews to different words
    common = ["the", "of", "and", "to", "in"]
    rare = ["zap", "qux", "fizz", "buzz", "jolt"]

    def doc(words, n=60):
        return " ".join(rng.choice(words) for _ in range(n))

    rows = []
    for i in range(8):
        rows.append((i, doc(common * 3 + rare), "A"))
        rows.append((100 + i, doc(common * 3 + rare), "B"))
        rows.append((200 + i, doc(rare * 3 + common), "C"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["s1"], r["s2"]): r["delta"]
        for r in burrows_delta(df, "source", "text", k=10).collect()
    }
    assert out[("A", "B")] < out[("A", "C")]
    assert out[("A", "B")] < out[("B", "C")]
    assert len(out) == 3


# ── stratified_ate ───────────────────────────────────────────────────────────


def test_strat_ate_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        stratified_ate,
    )

    import math

    rng = random.Random(79)
    rows = []
    for i in range(200):
        u = rng.randrange(0, 50)
        st = rng.randrange(0, 4)
        x = rng.randrange(0, 100) + (40 if u % 2 == 0 else 0)
        rows.append(("g", u, st, x))
    df = spark.createDataFrame(rows, "k string, u long, st long, x long")
    got = stratified_ate(df, ["k"], "x", "u", "st").collect()[0]

    num = used = strata = 0
    for st in range(4):
        cell = [(u, x) for _, u, s2, x in rows if s2 == st]
        t = [x for u, x in cell if u % 2 == 0]
        c = [x for u, x in cell if u % 2 != 0]
        if t and c:
            ns = len(cell)
            num += math.floor(ns * (sum(t) / len(t) - sum(c) / len(c)) * 1e6 + 0.5)
            used += ns
            strata += 1
    assert got["n_used"] == used and got["n_strata"] == strata
    assert abs(got["ate"] - num / 1e6 / used) < 1e-9
    assert 20 < got["ate"] < 60  # recovers the planted +40 effect


def test_strat_ate_drops_one_armed_strata(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        stratified_ate,
    )

    rows = [
        ("g", 0, 0, 10), ("g", 1, 0, 20),   # complete stratum
        ("g", 2, 1, 999),                    # stratum 1: only arm-even
    ]
    df = spark.createDataFrame(rows, "k string, u long, st long, x long")
    got = stratified_ate(df, ["k"], "x", "u", "st").collect()[0]
    assert got["n_used"] == 2 and got["n_strata"] == 1
    assert got["ate"] == -10.0


# ── tukey_fences ─────────────────────────────────────────────────────────────


def test_fences_match_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        tukey_fences,
    )

    rng = random.Random(83)
    xs = [rng.randrange(0, 100) for _ in range(50)] + [5000, -4000]
    rows = [("g", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, id long, x long")
    got = tukey_fences(df, ["k"], "x", "id").collect()[0]
    n = len(xs)
    srt = sorted(xs)
    q1 = srt[max((n + 1) // 4, 1) - 1]
    q2 = srt[max((n + 1) // 2, 1) - 1]
    q3 = srt[max(3 * (n + 1) // 4, 1) - 1]
    assert (got["q1"], got["q2"], got["q3"]) == (q1, q2, q3)
    assert got["n_out_lo"] == sum(1 for x in xs if 2 * x < 5 * q1 - 3 * q3)
    assert got["n_out_hi"] == sum(1 for x in xs if 2 * x > 5 * q3 - 3 * q1)
    assert got["n_out_lo"] >= 1 and got["n_out_hi"] >= 1  # planted extremes


# ── energy_distance_pairs ────────────────────────────────────────────────────


def test_energy_distance_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        energy_distance_pairs,
    )

    rng = random.Random(89)
    xs = [rng.randrange(0, 100) for _ in range(20)]
    ys = [rng.randrange(50, 200) for _ in range(25)]
    rows = [("a", x) for x in xs] + [("b", y) for y in ys]
    df = spark.createDataFrame(rows, "k string, x long")
    got = energy_distance_pairs(df, "k", "x").collect()[0]
    axy = sum(abs(x - y) for x in xs for y in ys)
    axx = sum(abs(p - q) for p in xs for q in xs)
    ayy = sum(abs(p - q) for p in ys for q in ys)
    n, m = len(xs), len(ys)
    expect = 2.0 * axy / (n * m) - axx / (n * n) - ayy / (m * m)
    assert (got["n"], got["m"]) == (n, m)
    assert abs(got["e_stat"] - expect) < 1e-9


def test_energy_distance_identical_distribution_near_zero(spark):
    from medical_doc_knowledge_graph_system_spark.functions.rankstats import (
        energy_distance_pairs,
    )

    xs = list(range(30))
    rows = [("a", x) for x in xs] + [("b", x) for x in xs]
    df = spark.createDataFrame(rows, "k string, x long")
    got = energy_distance_pairs(df, "k", "x").collect()[0]
    assert abs(got["e_stat"]) < 1e-9  # identical samples: E == 0 exactly


# ── detrended_acf1 ───────────────────────────────────────────────────────────


def test_detrended_acf_removes_trend(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        detrended_acf1,
    )

    # strong linear trend + alternating residual: raw r1 would be ~1 from
    # the trend; detrended r1 must see the alternation (strongly negative)
    xs = [1000 * t + (500 if t % 2 == 0 else -500) for t in range(1, 31)]
    got = detrended_acf1(_series_df_ss(spark, xs), ["k"]).collect()[0]
    assert got["n"] == 30
    assert got["r1"] < -0.8


def test_detrended_acf_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.operators.tsmodel import (
        detrended_acf1,
    )

    rng = random.Random(97)
    xs = [rng.randrange(0, 5000) for _ in range(30)]
    got = detrended_acf1(_series_df_ss(spark, xs), ["k"]).collect()[0]

    n = 30
    ts = list(range(1, 31))
    sx, sy = sum(ts), sum(xs)
    sxx = sum(t * t for t in ts)
    sxy = sum(t * y for t, y in zip(ts, xs))
    bnum, bden = n * sxy - sx * sy, n * sxx - sx * sx
    es = [
        ((n * bden * y - (sy * bden - bnum * sx) - n * bnum * t
          + 10**12) // 10**5) - 10**7
        for t, y in zip(ts, xs)
    ]
    m = sum(es) / n
    c0 = sum((e - m) ** 2 for e in es)
    c1 = sum((es[i] - m) * (es[i + 1] - m) for i in range(n - 1))
    assert abs(got["r1"] - c1 / c0) < 1e-4


