"""Driver JVM live heap across repeated KG dimension queries.

Runs N queries, alternating `webkg.doc_mentions` and `webkg.doc_triples`
over one `documents.parquet`, and at every checkpoint prints one JSON line
with the driver's live JVM heap: the smallest Runtime total-minus-free
memory over 4 `System.gc()` calls. A heap that keeps growing with the
query count means something retains per-query state. `--dims list` builds the static
dictionaries with `createDataFrame(list)` instead of `literal_frame`, to
compare the two. Usage:

    python tools/heap_probe.py SF_DIR [--queries 120] [--every 20] [--dims literal|list]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", help="directory holding documents.parquet")
    ap.add_argument("--queries", type=int, default=120)
    ap.add_argument("--every", type=int, default=20, help="queries per checkpoint")
    ap.add_argument("--dims", choices=("literal", "list"), default="literal")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark(cores=args.cores)
    if args.dims == "list":
        webkg.literal_frame = lambda s, rows, ddl: s.createDataFrame(rows, ddl)
    docs = spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
    builders = (webkg.doc_mentions, webkg.doc_triples)

    def report(n: int) -> None:
        print(json.dumps({"dims": args.dims, "queries": n, "heap_mb": round(live_heap_mb(spark), 1)}), flush=True)

    report(0)
    for i in range(1, args.queries + 1):
        builders[i % 2](docs).collect()
        if i % args.every == 0 or i == args.queries:
            report(i)
    spark.stop()


if __name__ == "__main__":
    main()
