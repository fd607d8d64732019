"""The dedup family: rare-shingle blocking (one df window for every
operator, against Python brute force), LCS runs, content-defined chunking,
SimHash pairs, coverage selection, edit-distance blocking, chunk dedup and
the prefix-filter set-similarity join."""

from __future__ import annotations

import random
from itertools import combinations

import pytest

from medical_doc_knowledge_graph_system_spark.functions import dedup
from medical_doc_knowledge_graph_system_spark.functions.dedup import (
    editdist_pairs,
    prefix_filter_pairs,
)


# ── rare-shingle blocking: one df window ─────────────────────────────────────

CAP = 4  # the monkeypatched MAX_SHINGLE_DF of the window tests


def _window_corpus():
    """Seeded documents built from 3-token phrases. Each named phrase is
    planted in a fixed number of documents, so its own shingle has df 1,
    2, CAP or CAP + 1, and each document has one phrase of its own; the
    phrase order is shuffled per document."""
    rng = random.Random(29)
    plant = {"one": 1, "two": 2, "twob": 2, "cap": CAP, "capb": CAP,
             "over": CAP + 1, "overb": CAP + 1}
    docs = {d: [f"u{d}a u{d}b u{d}c"] for d in range(8)}
    for name, df in plant.items():
        for d in rng.sample(range(8), df):
            docs[d].append(f"{name}x {name}y {name}z")
    rows = []
    for d, phrases in sorted(docs.items()):
        rng.shuffle(phrases)
        rows.append((d, " ".join(phrases)))
    return rows


def _brute_rare_pairs(sets, cap):
    df = {}
    for s in sets.values():
        for x in s:
            df[x] = df.get(x, 0) + 1
    rare = {x for x, n in df.items() if 2 <= n <= cap}
    out = {}
    for a, b in combinations(sorted(sets), 2):
        n = len(sets[a] & sets[b] & rare)
        if n:
            out[(a, b)] = n
    return out, df


@pytest.mark.parametrize("cap", [CAP, CAP + 1])
def test_df_window_moves_every_rare_shingle_operator(spark, monkeypatch, cap):
    """ngram_jaccard_pairs, containment_pairs, shingle_overlap_edges and
    graph_analytics.butterflies all block on 2 <= df <= MAX_SHINGLE_DF,
    read at call time: moving the constant moves all four, and each equals
    the brute-force count of shared rare shingles."""
    from medical_doc_knowledge_graph_system_spark.operators.graph_analytics import (
        butterflies,
    )

    docs = spark.createDataFrame(_window_corpus(), "doc_id long, text string")
    sets = {
        r.doc_id: set(r.shs)
        for r in docs.select("doc_id", dedup.shingles_col("text").alias("shs")).collect()
    }
    want, df = _brute_rare_pairs(sets, cap)
    assert {1, 2, CAP, CAP + 1} <= set(df.values())  # every df class present
    assert want != _brute_rare_pairs(sets, CAP + 1 if cap == CAP else CAP)[0]
    monkeypatch.setattr(dedup, "MAX_SHINGLE_DF", cap)

    jac = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert set(jac) == set(want)
    for (a, b), n in want.items():
        assert jac[(a, b)] == pytest.approx(n / (len(sets[a]) + len(sets[b]) - n), abs=5e-5)

    cont = {
        (r.doc_a, r.doc_b): (r.cont_a, r.cont_b)
        for r in dedup.containment_pairs(docs, threshold=0.0).collect()
    }
    assert set(cont) == set(want)
    for (a, b), n in want.items():
        assert cont[(a, b)] == pytest.approx((n / len(sets[a]), n / len(sets[b])), abs=5e-5)

    for m in (1, 2):
        edges = {(r.a, r.b) for r in dedup.shingle_overlap_edges(docs, min_shared=m).collect()}
        assert edges == {p for p, n in want.items() if n >= m}

    per = {}
    for (a, b), n in want.items():
        for d in (a, b):
            cop, tot = per.get(d, (0, 0))
            per[d] = (cop + (n >= 2), tot + n * (n - 1) // 2)
    got = {(r.doc_id, r.n_copair, r.n_bfly) for r in butterflies(dedup.doc_shingles(docs)).collect()}
    assert got == {(d, c, t) for d, (c, t) in per.items() if t > 0}
    assert got  # the window leaves butterflies at both caps


def test_set_jaccard_pairs_builds_with_one_count(spark, monkeypatch):
    """The distinct-set count is read from the sets pin (session.pin_rows);
    only the vocabulary size is a count job while the plan is built."""
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on a mat"), (3, "other words")],
        "doc_id long, text string",
    )
    df_cls = type(spark.range(1))
    count = df_cls.count
    calls = []

    def counted(self):
        calls.append(1)
        return count(self)

    with monkeypatch.context() as m:
        m.setattr(df_cls, "count", counted)
        out = prefix_filter_pairs(docs, t_num=3, t_den=5)
    assert len(calls) == 1
    assert {(r.doc_a, r.doc_b) for r in out.collect()} == {(1, 2)}


# ── lcs_run_pairs ────────────────────────────────────────────────────────────


def _lcs_tokens(a, b):
    """Brute-force longest common token substring length."""
    ta, tb = a.split(" "), b.split(" ")
    best = 0
    for i in range(len(ta)):
        for j in range(len(tb)):
            k = 0
            while i + k < len(ta) and j + k < len(tb) and ta[i + k] == tb[j + k]:
                k += 1
            best = max(best, k)
    return best


def test_lcs_run_matches_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        lcs_run_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"
    d1 = "alpha beta " + shared + " gamma delta epsilon zeta"
    d2 = "one two three " + shared + " four five six seven"
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    rows = lcs_run_pairs(df, min_shared=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert r["lcs_tokens"] == _lcs_tokens(d1.lower(), d2.lower())


def test_lcs_run_scattered_shingles_short_run(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        lcs_run_pairs,
    )

    # share three DISBANDED 3-grams (template-ish), no 4-token run
    d1 = "aa bb cc x1 dd ee ff x2 gg hh ii x3"
    d2 = "aa bb cc y1 dd ee ff y2 gg hh ii y3"
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    r = lcs_run_pairs(df, min_shared=3).collect()[0]
    assert r["lcs_tokens"] == 3  # runs never chain across the x/y breaks


# ── cdc_chunk_dedup ──────────────────────────────────────────────────────────


def test_cdc_finds_shared_segment_despite_head_edit(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        cdc_chunk_dedup,
    )

    import random as _r

    rng = _r.Random(41)
    body = " ".join(rng.choice("abcdefghijklmnop") + str(i) for i in range(120))
    # same body, one doc with a head insertion that shifts every fixed window
    df = spark.createDataFrame(
        [(1, body), (2, "inserted head tokens " + body)],
        "doc_id long, text string",
    )
    rows = cdc_chunk_dedup(df, min_docs=2).collect()
    # content-defined cut points inside the body are identical after the
    # first post-edit boundary, so interior chunks still collide
    assert len(rows) >= 1
    assert all(r["n_docs"] == 2 for r in rows)


def test_cdc_disjoint_docs_share_nothing(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        cdc_chunk_dedup,
    )

    df = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(80))),
         (2, " ".join(f"b{i}" for i in range(80)))],
        "doc_id long, text string",
    )
    assert cdc_chunk_dedup(df, min_docs=2).count() == 0


# ── simhash_hamming_pairs ────────────────────────────────────────────────────


def test_simhash_pairs_match_bruteforce(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        simhash64,
        simhash_hamming_pairs,
    )

    rng = random.Random(67)
    vocab = [f"w{i}" for i in range(200)]
    docs = []
    for i in range(30):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(40))))
    # plant two docs with the SAME distinct token set (simhash reads the
    # distinct set, so their hamming is exactly 0) but different order and
    # multiplicity — the canonical reordered-boilerplate near-dup
    base_toks = [rng.choice(vocab) for _ in range(40)]
    docs.append((100, " ".join(base_toks)))
    docs.append((101, " ".join(reversed(base_toks)) + " " + base_toks[0]))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    hashes = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    expect = sorted(
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for a in hashes
        for b in hashes
        if a < b and bin(hashes[a] ^ hashes[b]).count("1") <= 3
    )
    got = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in simhash_hamming_pairs(df, max_hamming=3).collect()
    )
    assert got == expect
    assert (100, 101) in {(a, b) for a, b, _ in got}  # planted pair found


def test_simhash_pairs_pigeonhole_guard(spark):
    import pytest as _pytest

    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        simhash_hamming_pairs,
    )

    df_schema = "doc_id long, text string"
    df = None  # never evaluated — the assert fires first
    with _pytest.raises(AssertionError):
        simhash_hamming_pairs(df, max_hamming=4, bands=4)


# ── coverage_select ──────────────────────────────────────────────────────────


def test_coverage_select_matches_greedy(spark):
    from medical_doc_knowledge_graph_system_spark.functions.curate import (
        coverage_select,
    )

    rng = random.Random(101)
    vocab = [f"w{i}" for i in range(60)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(12)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(coverage_select(df, n_pick=4).collect(), key=lambda r: r["rank"])

    def shingles(text):
        t = text.lower().split(" ")
        n = max(len(t) - 2, 1)
        return {" ".join(t[i : i + 3]) for i in range(n)}

    sets = {i: shingles(tx) for i, tx in docs}
    covered = set()
    chosen = []
    for r in range(4):
        best = max(
            ((len(sets[i] - covered), -i) for i in sets if i not in chosen)
        )
        gain, i = best[0], -best[1]
        chosen.append(i)
        covered |= sets[i]
        row = got[r]
        assert (row["doc_id"], row["gain"]) == (i, gain)
        assert row["cum_covered"] == len(covered)


def test_coverage_gains_nonincreasing(spark):
    from medical_doc_knowledge_graph_system_spark.functions.curate import (
        coverage_select,
    )

    docs = [(i, " ".join(f"t{i}_{j}" for j in range(5 + i))) for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = sorted(coverage_select(df, n_pick=5).collect(), key=lambda r: r["rank"])
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)  # submodularity


# ── edit distance ────────────────────────────────────────────────────────────


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_editdist_pairs_complete_vs_brute_force(spark):
    # substitutions, inserts, deletes, a shared-prefix serial-id family,
    # and strings >1 apart — the blocking must find EXACTLY the <=1 set
    names = [
        "alpha", "alpho",            # substitution
        "beta", "betas",             # insert at end
        "gamma", "gama",             # delete
        "id#001", "id#002", "id#011", "id#101",  # serial ids
        "zeta", "omega",             # unrelated
        "x", "y", "xy",              # short strings ('' variant bucket)
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = sorted(
        (r.name_a, r.name_b, r.dist)
        for r in editdist_pairs(df, "name").collect()
    )
    want = sorted(
        (a, b, _lev(a, b))
        for a, b in combinations(sorted(names), 2)
        if _lev(a, b) <= 1
    )
    assert got == want
    # sanity: the brute-force set is non-trivial in every edit class
    assert ("alpha", "alpho", 1) in want and ("x", "xy", 1) in want


def test_editdist_pairs_dedups_multi_variant_candidates(spark):
    # "aa"/"ab" share TWO deletion variants ('a' from each position on one
    # side, plus themselves); the pair must still appear exactly once
    df = spark.createDataFrame([("aa",), ("ab",)], "name string")
    rows = editdist_pairs(df, "name").collect()
    assert [(r.name_a, r.name_b, r.dist) for r in rows] == [("aa", "ab", 1)]


# ── chunk dedup ─────────────────────────────────────────────────────────────


def test_chunk_dedup_keeps_first_occurrence_and_reassembles(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        chunk_dedup,
    )

    w = 4  # small width so the fixture stays readable
    boiler = "b1 b2 b3 b4"          # the duplicated chunk
    uniq0 = "a1 a2 a3 a4"
    uniq2 = "c1 c2 c3"              # short tail chunk
    docs = [
        (0, f"{uniq0} {boiler}"),   # first occurrence of boiler (doc 0, idx 1)
        (1, boiler),                # fully duplicated -> new_text ''
        (2, f"{boiler} {uniq2}"),   # boiler dropped, tail kept
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.new_text, r.n_kept, r.n_dropped)
        for r in chunk_dedup(df, width=w).collect()
    }
    assert got[0] == (f"{uniq0} {boiler}", 2, 0)
    assert got[1] == ("", 0, 1)
    assert got[2] == (uniq2, 1, 1)


def test_chunk_dedup_within_doc_repeat(spark):
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        chunk_dedup,
    )

    # the same chunk twice INSIDE one doc: second occurrence dropped
    df = spark.createDataFrame(
        [(7, "x1 x2 x1 x2")], "doc_id bigint, text string"
    )
    [r] = chunk_dedup(df, width=2).collect()
    assert (r.new_text, r.n_kept, r.n_dropped) == ("x1 x2", 1, 1)


# ── prefix filter ───────────────────────────────────────────────────────────


def _brute_jaccard_pairs(docs, t_num, t_den):
    toks = {i: set(t.lower().strip().split(" ")) for i, t in docs}
    out = set()
    for a, b in combinations(sorted(toks), 2):
        o = len(toks[a] & toks[b])
        na, nb = len(toks[a]), len(toks[b])
        if t_den * o >= t_num * (na + nb - o):
            out.add((a, b, o, na, nb))
    return out


def test_prefix_filter_equals_brute_force(spark):
    # near-dup cluster, an embedded overlap, and unrelated docs; repeated
    # tokens exercise the distinct-token contract
    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on a mat"),
        (3, "the cat sat on the mat today"),
        (4, "completely different words entirely here"),
        (5, "different words here"),
        (6, "the the the cat cat mat sat on"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.n_inter, r.n_a, r.n_b)
        for r in prefix_filter_pairs(df, t_num=3, t_den=5).collect()
    }
    assert got == _brute_jaccard_pairs(docs, 3, 5)
    assert got  # non-vacuous


def test_prefix_filter_threshold_boundary_is_integer_exact(spark):
    # J exactly t: o=3, na=nb=4 -> union=5, J=3/5 — must be KEPT (>=)
    docs = [(1, "a b c d"), (2, "a b c e")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = prefix_filter_pairs(df, t_num=3, t_den=5).collect()
    assert len(rows) == 1 and rows[0].jaccard == 0.6
    # and J just below t with the next-smaller overlap is dropped
    docs2 = [(1, "a b c d x"), (2, "a b c e y")]
    df2 = spark.createDataFrame(docs2, "doc_id long, text string")
    assert prefix_filter_pairs(df2, t_num=3, t_den=5).count() == 0


def test_prefix_filter_partitioning_invariance(spark):
    docs = [(i, f"tok{i % 4} common shared words w{i % 3}") for i in range(24)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {tuple(r) for r in prefix_filter_pairs(df, t_num=1, t_den=3).collect()}
    b = {
        tuple(r)
        for r in prefix_filter_pairs(df.repartition(7), t_num=1, t_den=3).collect()
    }
    assert a == b and a == _brute_jaccard_pairs_full(docs, 1, 3)


def _brute_jaccard_pairs_full(docs, t_num, t_den):
    base = _brute_jaccard_pairs(docs, t_num, t_den)
    out = set()
    for a, b, o, na, nb in base:
        out.add((a, b, o, na, nb, round(o / (na + nb - o), 4)))
    return out
