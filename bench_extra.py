"""Per-query measurement harness for optimization work (guide §1).

NOT the driver bench — bench.py is frozen for measurement. This file exists
so individual queries can be timed in isolation (optionally with the noop
sink, guide §1.4), at any sf dir, with plans captured to files.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf0.1 --reps 3 q1 q2 ...
  python bench_extra.py --top N          # N most expensive per BENCH_r05
  python bench_extra.py --plans plans/r06 --suffix before q1 q2
  python bench_extra.py --noop ...       # noop sink instead of .count()

Prints one JSON line: {"sf_dir":..., "queries": {name: [runs...]},
"medians": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medical_doc_knowledge_graph_system_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="noop sink instead of .count()")
    ap.add_argument("--plans", default=None, help="directory to write explain(formatted) files")
    ap.add_argument("--suffix", default="before", help="plan file suffix (before/after)")
    ap.add_argument("--top", type=int, default=0, help="take N most expensive from BENCH_r05.json")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        bench = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r05.json")))
        qsec = bench["parsed"]["queries"]
        names += [k for k, _ in sorted(qsec.items(), key=lambda kv: -kv[1])[: args.top] if k not in names]

    import __spark_entry__ as entry

    spark = get_spark(app_name="bench_extra")
    qs = entry.queries()
    runs: dict[str, list[float]] = {n: [] for n in names}

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for n in names:
            df = qs[n](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{n}_{args.suffix}.txt"), "w") as f:
                f.write(plan)

    for _pass in range(args.reps):
        for n in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{n}")
            t0 = time.perf_counter()
            df = qs[n](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs[n].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)

    def median(xs):
        ys = sorted(xs)
        m = len(ys) // 2
        return ys[m] if len(ys) % 2 else round((ys[m - 1] + ys[m]) / 2, 3)

    print(json.dumps({
        "sf_dir": args.sf_dir,
        "noop": args.noop,
        "queries": runs,
        "medians": {n: median(v) for n, v in runs.items() if v},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
