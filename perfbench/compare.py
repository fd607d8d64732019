"""Side-by-side comparison of two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result records as run.py appends them to
.perfbench_out/results.jsonl, one JSON object a line with the keys workload,
seed, trace and result. For every workload, traced or not, and every
metric, it prints the median of each side over its runs, the ratio new/base
with its base, and the number of runs behind each median. For a per-layer
metric it adds the end-to-end metric perfbench/layers.json says it should
move.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[tuple[str, int], dict[str, list[float]]]:
    """{(workload, trace): {metric: [value per run]}}"""
    out: dict[tuple[str, int], dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            runs = out[(rec["workload"], rec["trace"])]
            for name, m in rec["result"]["metrics"].items():
                runs[name].append(m["value"])
            runs["failed"].append(rec["result"]["failed"])
    return out


def main() -> int:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")) as f:
        moves = {k: v["moves"] for k, v in json.load(f).items()}
    print(f"{'workload':<12}{'metric':<36}{'base':>12}{'new':>12}{'new/base':>10}"
          f"{'runs':>8}  moves")
    for key in sorted(set(base) | set(new)):
        workload = f"{key[0]}{'+trace' if key[1] else ''}"
        b, n = base.get(key, {}), new.get(key, {})
        for name in sorted(set(b) | set(n)):
            bm = statistics.median(b[name]) if b.get(name) else None
            nm = statistics.median(n[name]) if n.get(name) else None
            ratio = f"{nm / bm:.3f}" if bm and nm is not None else "-"
            cells = [f"{v:.4g}" if v is not None else "-" for v in (bm, nm)]
            runs = f"{len(b.get(name, ()))}/{len(n.get(name, ()))}"
            print(f"{workload:<12}{name:<36}{cells[0]:>12}{cells[1]:>12}{ratio:>10}"
                  f"{runs:>8}  {', '.join(moves.get(name, ()))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
