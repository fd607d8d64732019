"""Scaling pairs for the r5 heavy operators: dedup_cluster (near-dup
clustering), hits, and label_propagation, each run at two parallelism
levels (cores N vs 4N, shuffle width 8x cores) on the SAME input — the
sandbox stand-in for the two-cluster-size criterion (no real cluster here;
parallelism level is the axis we can vary).

Isolation rules learned the hard way:
  * one FRESH session per (op, side) measurement — a session that first
    materialized megarow python-built frames measures its own GC, not the
    operator (observed 4x inflation).
  * the graph is generated SPARK-SIDE from seeded F.rand over a
    spark.range with PINNED generation partitioning (64), so both sides
    compute over byte-identical edges regardless of cores; driver-side
    generation of 10M+ tuples would dominate the session.
  * per CLAUDE.md, identical runs vary up to 2x on this host: sides are
    interleaved (N, 4N, N, 4N) and the per-side MIN is the estimator.

Sizes default to 60k docs / 12M edges so per-stage work dominates the
fixed per-round scheduling latency (at 1.5M edges the 8-round loops are
latency-bound and the pair measures Spark's scheduler, not the operator).

Prints one JSON line:
  {"n_docs": ..., "n_edges": ..., "cores": [N, 4N], "reps": R,
   "ops": {op: {"secs_lo": [...], "secs_hi": [...], "min_lo": ...,
                "min_hi": ..., "efficiency": ...}}}

Run: python scripts/analytics_scaling.py [n_docs] [n_edges] [N] [reps] [op ...]
     (defaults 60000 docs, 12M edges, N=8, reps=2, all three ops)
"""

from __future__ import annotations

import json
import random
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from medical_doc_knowledge_graph_system_spark.session import get_spark  # noqa: E402

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
N_EDGES = int(sys.argv[2]) if len(sys.argv) > 2 else 12_000_000
LO = int(sys.argv[3]) if len(sys.argv) > 3 else 8
REPS = int(sys.argv[4]) if len(sys.argv) > 4 else 2
OPS = sys.argv[5:] or ["dedup_cluster", "hits", "label_propagation"]
HI = LO * 4
GEN_PARTS = 64  # pinned: the generated edge set must be identical per side

VOCAB = [f"w{i}" for i in range(5000)]


def _gen_docs(n: int) -> list[tuple[int, str]]:
    rng = random.Random(42)
    base = [
        " ".join(rng.choices(VOCAB, k=rng.randrange(40, 80)))
        for _ in range(max(n // 10, 1))
    ]
    rows = []
    boiler = " ".join(rng.choices(VOCAB, k=60))
    for i in range(n):
        if i < 1000:
            # boilerplate mega-cluster (band-bucket star-cap path)
            rows.append((i, boiler + f" v{i % 7}"))
        elif rng.random() < 0.3:
            toks = base[rng.randrange(len(base))].split(" ")
            for _ in range(rng.randrange(1, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            rows.append((i, " ".join(toks)))
        else:
            rows.append((i, " ".join(rng.choices(VOCAB, k=rng.randrange(40, 80)))))
    return rows


def _spark_edges(s, n: int, width: int):
    """Seeded Zipf-headed directed edge frame, identical for any `width`
    because rand seeds bind to the pinned GEN_PARTS range partitioning."""
    n_nodes = max(n // 8, 10)
    e = (
        s.range(0, n, 1, GEN_PARTS)
        .select(
            F.floor(F.lit(float(n_nodes)) * F.pow(F.rand(43), F.lit(3.0)))
            .cast("long")
            .alias("s"),
            F.floor(F.lit(float(n_nodes)) * F.pow(F.rand(44), F.lit(3.0)))
            .cast("long")
            .alias("d"),
        )
        .where(F.col("s") != F.col("d"))
        .select(
            F.concat(F.lit("e"), F.col("s")).alias("src"),
            F.concat(F.lit("e"), F.col("d")).alias("dst"),
        )
    )
    return e.repartition(width)


def _run_op(op: str, cores: int, docs_rows) -> float:
    from medical_doc_knowledge_graph_system_spark.functions.dedup import (
        neardup_clusters,
    )
    from medical_doc_knowledge_graph_system_spark.operators import graph_analytics as ga

    width = 8 * cores
    # the graph operators spread their keyed pins over PIN_PARTITIONS; each
    # side runs them at its own shuffle width
    ga.PIN_PARTITIONS = width
    s = get_spark(
        app_name=f"scal_{op}_{cores}", cores=cores, shuffle_partitions=width
    )
    try:
        if op == "dedup_cluster":
            inp = (
                s.createDataFrame(docs_rows, "doc_id long, text string")
                .repartition(width)
                .localCheckpoint()
            )
            inp.count()
            t = time.time()
            neardup_clusters(inp).count()
            return round(time.time() - t, 2)
        if op == "hits":
            de = _spark_edges(s, N_EDGES, width).distinct().localCheckpoint()
            de.count()
            t = time.time()
            ga.hits(de, iterations=8).count()
            return round(time.time() - t, 2)
        if op == "closeness":
            und = (
                _spark_edges(s, N_EDGES, width)
                .select(
                    F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"),
                )
                .distinct()
                .localCheckpoint()
            )
            und.count()
            # sampled sources (the production estimator). Node names are
            # 'e<digits>' strings: strip the prefix before the mod —
            # ANSI-mode Spark THROWS on a string % int cast, it does not
            # NULL out. Sample is deliberately tiny (~1/20000): BFS state
            # is sources x reachable, and the 3-hop closure of a Zipf
            # graph's giant component is most of its nodes.
            src = (
                und.select(F.col("a").alias("name"))
                .union(und.select(F.col("b").alias("name")))
                .distinct()
                .where(
                    F.substring(F.col("name"), 2, 18).cast("long") % 20011 == 0
                )
            )
            t = time.time()
            ga.closeness(und, rounds=3, sources=src).count()
            return round(time.time() - t, 2)
        if op == "betweenness":
            und = (
                _spark_edges(s, N_EDGES, width)
                .select(
                    F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"),
                )
                .distinct()
                .localCheckpoint()
            )
            und.count()
            src = (
                und.select(F.col("a").alias("name"))
                .union(und.select(F.col("b").alias("name")))
                .distinct()
                .where(
                    F.substring(F.col("name"), 2, 18).cast("long") % 20011 == 0
                )
            )
            t = time.time()
            ga.betweenness(und, rounds=3, sources=src).count()
            return round(time.time() - t, 2)
        und = (
            _spark_edges(s, N_EDGES, width)
            .select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .distinct()
            .localCheckpoint()
        )
        und.count()
        t = time.time()
        ga.label_propagation(und, rounds=4).count()
        return round(time.time() - t, 2)
    finally:
        s.stop()


def main() -> None:
    docs_rows = _gen_docs(N_DOCS) if "dedup_cluster" in OPS else None
    secs: dict[str, dict[int, list[float]]] = {op: {LO: [], HI: []} for op in OPS}
    for _ in range(REPS):
        for c in (LO, HI):
            for op in OPS:
                secs[op][c].append(_run_op(op, c, docs_rows))
    ops = {}
    for op in OPS:
        lo, hi = secs[op][LO], secs[op][HI]
        mlo, mhi = min(lo), min(hi)
        ops[op] = {
            "secs_lo": lo,
            "secs_hi": hi,
            "min_lo": mlo,
            "min_hi": mhi,
            "efficiency": round(mlo / (4.0 * mhi), 3) if mhi > 0 else None,
        }
    print(
        json.dumps(
            {
                "n_docs": N_DOCS,
                "n_edges": N_EDGES,
                "cores": [LO, HI],
                "reps": REPS,
                "ops": ops,
            }
        )
    )


if __name__ == "__main__":
    main()
