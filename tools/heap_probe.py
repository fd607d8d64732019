"""Driver JVM live heap and class memory across repeated queries or passes.

At every checkpoint it prints one JSON line with the driver's live JVM
heap: the smallest Runtime total-minus-free memory over 4 `System.gc()`
calls. A heap that keeps growing with the query or pass count means
something retains per-query state. Next to it go the used MB of the
class-memory pools (Metaspace, Compressed Class Space and each CodeHeap),
which grow with the distinct generated classes the session keeps:
Spark's codegen cache holds up to spark.sql.codegen.cache.maxEntries.

`--mode queries` (default) runs N queries, alternating `webkg.doc_mentions`
and `webkg.doc_triples` over one `documents.parquet`. `--dims list` builds
the static dictionaries with `createDataFrame(list)` instead of
`literal_frame`, to compare the two.

`--mode pipeline` runs N `run_pipeline` passes over one seeded pages table
(`--pages`, `--seed`), each into a fresh warehouse, after one cold pass
that is not counted.

`--mode gates` runs every `queries()` gate of `__spark_entry__` over SF_DIR
once, in key order, in one session: the Spark side of a full
`tools/check_oracle.py` run. Usage:

    python tools/heap_probe.py SF_DIR [--queries 120] [--every 20] [--dims literal|list]
    python tools/heap_probe.py --mode pipeline [--passes 8] [--every 2] [--pages 2000] [--seed 7]
    python tools/heap_probe.py SF_DIR --mode gates [--every 50] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from medical_doc_knowledge_graph_system_spark.functions import webkg
from medical_doc_knowledge_graph_system_spark.session import get_spark


def live_heap_mb(spark) -> float:
    """Smallest used heap over a few full GCs. ContextCleaner frees
    broadcasts and shuffles only after a GC has dropped their owners, and
    Spark's own threads allocate between reads, so one read after one GC
    swings by ~100 MB."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used.append(rt.totalMemory() - rt.freeMemory())
    return min(used) / 2**20


def class_memory_mb(spark) -> dict[str, float]:
    """Used MB of each non-heap memory pool: Metaspace, Compressed Class
    Space and the CodeHeaps (JIT-compiled code)."""
    jvm = spark.sparkContext._jvm
    return {
        pool.getName(): round(pool.getUsage().getUsed() / 2**20, 1)
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Non-heap memory"
    }


def query_steps(spark, args):
    """One step per query; the number of steps."""
    if args.sf_dir is None:
        sys.exit("--mode queries needs SF_DIR")
    if args.dims == "list":
        webkg.literal_frame = lambda s, rows, ddl: s.createDataFrame(rows, ddl)
    docs = spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
    builders = (webkg.doc_mentions, webkg.doc_triples)
    return (lambda i: builders[i % 2](docs).collect()), args.queries


def pipeline_steps(spark, args, tmp: str):
    """One step per warm run_pipeline pass; the number of steps."""
    from medical_doc_knowledge_graph_system_spark.datagen import write_pages_parquet
    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline

    pages_path = os.path.join(tmp, "pages.parquet")
    write_pages_parquet(pages_path, args.pages, seed=args.seed)
    pages = spark.read.parquet(pages_path)

    def step(i: int) -> None:
        root = os.path.join(tmp, f"wh{i}")
        run_pipeline(spark, pages, root)
        shutil.rmtree(root)

    step(0)  # cold pass
    return step, args.passes


def gate_steps(spark, args):
    """One step per queries() gate, collected as check_oracle collects it;
    the number of steps."""
    import __spark_entry__

    if args.sf_dir is None:
        sys.exit("--mode gates needs SF_DIR")
    gates = list(__spark_entry__.queries().values())
    return (lambda i: gates[i - 1](spark, args.sf_dir).collect()), len(gates)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", help="directory holding documents.parquet (queries mode)")
    ap.add_argument("--mode", choices=("queries", "pipeline", "gates"), default="queries")
    ap.add_argument("--queries", type=int, default=120)
    ap.add_argument("--dims", choices=("literal", "list"), default="literal")
    ap.add_argument("--passes", type=int, default=8)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--every", type=int, default=None,
                    help="steps per checkpoint (default 20 queries / 2 passes / 50 gates)")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    every = args.every or {"queries": 20, "pipeline": 2, "gates": 50}[args.mode]

    spark = get_spark(cores=args.cores)
    tmp = tempfile.mkdtemp(prefix="heap_probe_")
    try:
        if args.mode == "queries":
            step, n = query_steps(spark, args)
            record = lambda i: {"dims": args.dims, "queries": i}
        elif args.mode == "pipeline":
            step, n = pipeline_steps(spark, args, tmp)
            record = lambda i: {"mode": "pipeline", "pages": args.pages, "passes": i}
        else:
            step, n = gate_steps(spark, args)
            record = lambda i: {"mode": "gates", "gates": i}

        def report(i: int) -> None:
            heap = round(live_heap_mb(spark), 1)
            print(json.dumps({**record(i), "heap_mb": heap, **class_memory_mb(spark)}), flush=True)

        report(0)
        for i in range(1, n + 1):
            step(i)
            if i % every == 0 or i == n:
                report(i)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
