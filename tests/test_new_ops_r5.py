"""Late-r5 operators: quantized Lloyd k-means (python-simulator equality,
partitioning invariance, known answer), daily gap fill (known answer,
LOCF), deterministic hash split (partitioning invariance, census), and
the CMS cells/probe refactor (composition identity). The prefix-filter
tests live in test_dedup.py."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from medical_doc_knowledge_graph_system_spark.functions.curate import hash_split
from medical_doc_knowledge_graph_system_spark.functions.simsearch import (
    kmeans_lloyd_quantized,
)
from medical_doc_knowledge_graph_system_spark.operators.timeseries import (
    gapfill_daily,
)


# ── quantized k-means ───────────────────────────────────────────────────────


def _py_kmeans(vecs, k, rounds, scale_bits=20):
    s = 1 << scale_bits
    import math

    q = {
        i: [math.floor(x * s) + s for x in v] for i, v in vecs.items()
    }
    cents = {i: q[i][:] for i in sorted(q) if i < k}

    def assign():
        out = {}
        for i, v in q.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), cid)
                for cid, c in cents.items()
            )
            out[i] = best
        return out

    for _ in range(rounds):
        asg = assign()
        new = {}
        for cid in {c for _, c in asg.values()}:
            members = [q[i] for i, (_, c) in asg.items() if c == cid]
            n = len(members)
            new[cid] = [sum(col) // n for col in zip(*members)]
        cents = new
    final = assign()
    stats = {}
    for i, (dist, cid) in final.items():
        n, inertia, rep = stats.get(cid, (0, 0, None))
        stats[cid] = (n + 1, inertia + dist, i if rep is None else min(rep, i))
    return stats


def _vecs(n, dim=8, seed=7):
    # deterministic pseudo-vectors in [-0.5, 0.5), two planted clusters
    out = {}
    for i in range(n):
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        base = 0.4 if i % 2 == 0 else -0.4
        out[i] = [
            base + (h[j % 16] / 256.0 - 0.5) * 0.1 for j in range(dim)
        ]
    return out


def test_kmeans_matches_python_simulator(spark):
    vecs = _vecs(40)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.cid: (r.n_members, r.inertia, r.rep)
        for r in kmeans_lloyd_quantized(df, k=3, rounds=2).collect()
    }
    assert got == _py_kmeans(vecs, 3, 2)


def test_kmeans_partitioning_invariance_and_planted_clusters(spark):
    vecs = _vecs(30)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    a = sorted(map(tuple, kmeans_lloyd_quantized(df, k=2, rounds=2).collect()))
    b = sorted(
        map(tuple, kmeans_lloyd_quantized(df.repartition(5), k=2, rounds=2).collect())
    )
    assert a == b
    # the two planted half-clusters (+0.4 / -0.4) separate perfectly:
    # every even vec with the even seed centroid, every odd with the odd
    by_n = sorted(r[1] for r in a)
    assert by_n == [15, 15]


# ── gap fill ────────────────────────────────────────────────────────────────


def test_gapfill_known_answer_locf(spark):
    import datetime as dt

    d = dt.date
    daily = spark.createDataFrame(
        [
            ("a", d(2024, 1, 1), 5),
            ("a", d(2024, 1, 4), 2),
            ("b", d(2024, 1, 2), 7),
        ],
        "k string, day date, c long",
    )
    rows = {
        (r.k, str(r.day)): (r.cnt, r.is_gap, r.locf_cnt)
        for r in gapfill_daily(daily, ["k"]).collect()
    }
    assert rows == {
        ("a", "2024-01-01"): (5, False, 5),
        ("a", "2024-01-02"): (0, True, 5),
        ("a", "2024-01-03"): (0, True, 5),
        ("a", "2024-01-04"): (2, False, 2),
        ("b", "2024-01-02"): (7, False, 7),
    }


# ── hash split ──────────────────────────────────────────────────────────────


def test_hash_split_deterministic_and_partition_invariant(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r.doc_id: r.split for r in hash_split(df).collect()}
    b = {r.doc_id: r.split for r in hash_split(df.repartition(13)).collect()}
    assert a == b
    # every row assigned, all three splits populated, train dominates
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"} and c["train"] > c["val"]
    assert sum(c.values()) == 500
    # python-side replica of the bucket function
    for i in (0, 1, 42, 499):
        bkt = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 10
        want = "train" if bkt < 8 else ("val" if bkt == 8 else "test")
        assert a[i] == want


def test_hash_split_rejects_bad_weights(spark):
    import pytest

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_split(df, splits=[("train", 5), ("val", 1)])


# ── CMS refactor ────────────────────────────────────────────────────────────


def test_cms_composition_identity(spark):
    from medical_doc_knowledge_graph_system_spark.functions.sketches import (
        cms_cells,
        cms_frequencies,
        cms_probe,
    )

    df = spark.createDataFrame(
        [(i % 17,) for i in range(300)], "user_id long"
    )
    direct = sorted(map(tuple, cms_frequencies(df, "user_id", 4, 64).collect()))
    composed = sorted(
        map(
            tuple,
            cms_probe(df, cms_cells(df, "user_id", 4, 64), "user_id", 4, 64).collect(),
        )
    )
    assert direct == composed
    # overestimate property holds on every row
    assert all(est >= true for _, true, est in direct)
