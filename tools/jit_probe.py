"""Per-pass JVM compile work of a perfbench workload, in one session.

Runs one cold pass and K warm passes of a perfbench workload in one Spark
session and prints one JSON line per pass: wall seconds, process-tree CPU
seconds, JIT seconds (CompilationMXBean), Catalyst codegen compiles
(CodegenMetrics.METRIC_COMPILATION_TIME count) and classes loaded
(ClassLoadingMXBean). A warm pass that still compiles classes is paying
for a codegen cache smaller than its working set.

The session, inputs and passes are perfbench's own (`run.configure`,
`start_session`, `Build`, `Analytics`), imported, not copied. `tour` is a
build pass, the GraphRAG questions over its warehouse and an analytics
pass: every Spark plan of perfbench's traced tour, in one pass.
`--cache-entries N` overrides spark.sql.codegen.cache.maxEntries for a
sweep. Usage, from the repository root:

    python tools/jit_probe.py --workload build|analytics|tour --seed 7 \
        [--passes 3] [--cache-entries N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "tools")]

import run as perfbench  # noqa: E402


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JIT seconds, codegen compiles and classes loaded of the
    driver JVM (in local mode, the whole engine)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def tour_pass(run, build: perfbench.Build, analytics: perfbench.Analytics, qs) -> None:
    from medical_doc_knowledge_graph_system_spark.operators import retrieval
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    build.check_pass(*build.pass_())
    wh = Warehouse(build.last_root)
    tables = {
        t: wh.read(run.spark, t)
        for t in ("chunks", "chunk_embeddings", "nodes", "edges", "provenance_edges")
    }
    for q, _, _ in qs:
        bundle = retrieval.build_context(q, tables)
        retrieval.format_context_for_prompt(retrieval.rerank_context_bundle(q, bundle))
    analytics.pass_()


def make_pass(run, workload: str):
    """(one pass, check after the last pass)."""
    if workload == "build":
        b = perfbench.Build(run)
        return (lambda: b.check_pass(*b.pass_())), b.check_warehouse
    a = perfbench.Analytics(run)
    if workload == "analytics":
        return a.pass_, a.check
    b = perfbench.Build(run)
    chunks = [c["text"] for c in b.oracle()[1]["chunks"]]
    qs = perfbench.questions(run.seed, perfbench.N_QUESTIONS, chunks)
    return (lambda: tour_pass(run, b, a, qs)), a.check


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "analytics", "tour"))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--passes", type=int, default=3, help="warm passes after the cold one")
    ap.add_argument("--cache-entries", type=int, default=None,
                    help="spark.sql.codegen.cache.maxEntries (default: get_spark's)")
    args = ap.parse_args()

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"jit-{os.getpid()}")
    os.makedirs(tmp)
    perfbench.configure(tmp)
    import proctree

    from medical_doc_knowledge_graph_system_spark import session

    if args.cache_entries is not None:
        get_spark = session.get_spark

        def sized_get_spark(*a, extra_conf=None, **kw):
            conf = {**(extra_conf or {}),
                    "spark.sql.codegen.cache.maxEntries": str(args.cache_entries)}
            return get_spark(*a, extra_conf=conf, **kw)

        session.get_spark = sized_get_spark
    spark = None
    try:
        spark = perfbench.start_session(tmp)
        entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        run = perfbench.Run(spark, tmp, args.seed, 0)
        one_pass, check = make_pass(run, args.workload)
        for i in range(args.passes + 1):
            c0, cpu0, t0 = jvm_counters(spark), proctree.cpu_seconds(), time.perf_counter()
            one_pass()
            wall, cpu, c1 = time.perf_counter() - t0, proctree.cpu_seconds() - cpu0, jvm_counters(spark)
            print(json.dumps({
                "workload": args.workload, "seed": args.seed,
                "cache_entries": int(entries), "pass": i, "cold": i == 0,
                "wall_s": round(wall, 3), "cpu_s": round(cpu, 2),
                **{k: round(c1[k] - c0[k], 2) for k in c0},
            }), flush=True)
        check()
        print(json.dumps({"workload": args.workload, "attempted": run.attempted,
                          "failed": run.failed}), flush=True)
        return 1 if run.failed else 0
    finally:
        if spark is not None:
            perfbench.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
