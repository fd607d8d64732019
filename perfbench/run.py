"""Benchmark of the knowledge-graph engine, timed from outside the program.

    python3 perfbench/run.py --workload build|analytics --seed N \
        --seconds S --trace 0|1

Run from the root of the repository. One process, one Spark session on
local[<cores>]. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics; metric names and units are the ones
BENCHMARK.json declares, and perfbench/layers.json says which end-to-end
metric each per-layer metric should move.

--trace 0 measures a workload's end-to-end metrics with tracing off.
--trace 1 runs the traced tour whatever the workload: a build pass, the
GraphRAG questions over its warehouse and a pass over the analytics
leaves, with spans around the program's public callables, and prints every
per-layer metric. Spans go to .perfbench_out/ when the run ends; every
result line is appended to .perfbench_out/results.jsonl, which
perfbench/compare.py reads.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes. The build corpus is 2000 pages (~7.4k chunks, ~40k triples,
# 50 nodes, 415 edges): a warm pass costs about what 500 pages cost, since
# each of the 11 stages has ~0.5 s of fixed Spark cost. Every run pays a JVM
# start and a cold pass besides, so larger inputs or more leaves would not
# fit the time all benchmark runs together are allowed.
N_PAGES = 2000
N_DOCS = 1500  # documents table for the graph leaves
REPLICA_COPIES = 2  # the dedup leaves read N_DOCS x this, perturbed
# timed runs repeat the input set-up and count it once at its median
SETUP_REPEATS = 3
# A timed run makes at least two warm passes: the first warm pass after the
# cold one still meets JIT compilation, and with one pass a run's figure
# would depend on whether a second pass fit in the time.
MIN_WARM_PASSES = 2
GRAPH_LEAVES = ("kg_components",)
DEDUP_LEAVES = ("dedup_minhash_pairs",)
N_QUESTIONS = 3
# (template, complex?) pairs; a question made of digits matches no chunk
SIMPLE = ("What is {a}?", "Tell me about {a}.", "{a} dosage and side effects")
COMPLEX = (
    "How does {a} relate to {b}?",
    "Explain the connection between {a} and {b}.",
    "What treatment options exist for {a}?",
)


def configure(tmp: str) -> None:
    """Environment for this host, set before the JVM starts: all cores,
    a JVM heap below physical RAM, the repo on the Python workers' path,
    and every temporary file inside the run's own directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(4096, mem_mb // 4)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["STRICT_FLOATS"] = "1"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def start_session(tmp: str):
    from medical_doc_knowledge_graph_system_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker has exited."""
    from pyspark import SparkContext

    import proctree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while len(proctree.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in proctree.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def setup_seconds(repeats: list[float]) -> float:
    """Process start to now, with the repeated input set-up counted once at
    its median: one set-up, measured with less noise."""
    return time.perf_counter() - T_PROCESS - (sum(repeats) - statistics.median(repeats))


def du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


class Run:
    """State of one benchmark process: session, scratch space, counters."""

    def __init__(self, spark, tmp: str, seed: int, seconds: float):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self._n = 0
        self.metrics: dict[str, float] = {}

    def fresh(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.tmp, f"{name}-{self._n}")
        os.makedirs(path)
        return path

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


# ── build: run_pipeline over a seeded corpus, fresh warehouse per pass ──────


class Build:
    def __init__(self, run: Run, repeats: int = 1):
        from medical_doc_knowledge_graph_system_spark.datagen import write_pages_parquet

        self.run = run
        self.setup_times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            self.pages_path = os.path.join(run.fresh("pages"), "pages.parquet")
            write_pages_parquet(self.pages_path, N_PAGES, seed=run.seed)
            self.pages = run.spark.read.parquet(self.pages_path)
            self.setup_times.append(time.perf_counter() - t0)
        self._oracle = None
        self.last_root = None

    def oracle(self) -> tuple[list[dict], dict, dict[str, int]]:
        """(pages rows, single-process oracle output, stage row counts),
        computed once, outside every timed region."""
        if self._oracle is None:
            import checks

            from medical_doc_knowledge_graph_system_spark.corelib.oracle import run_pipeline
            from medical_doc_knowledge_graph_system_spark.datagen import gen_pages

            rows = gen_pages(N_PAGES, self.run.seed)
            o = run_pipeline(rows)
            self._oracle = rows, o, checks.expected_stage_rows(rows, o)
        return self._oracle

    def pass_(self) -> tuple[dict, str]:
        from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline

        root = self.run.fresh("warehouse")
        stats = run_pipeline(self.run.spark, self.pages, root)
        return stats, root

    def check_pass(self, stats: dict, root: str) -> None:
        import checks

        self.run.record(checks.stage_rows_ok(stats, self.oracle()[2]))
        if self.last_root and self.last_root != root:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root = root

    def check_warehouse(self) -> None:
        import checks

        rows = self.oracle()[0]
        self.run.record(checks.warehouse_ok(self.run.spark, self.last_root, rows))


# ── analytics: gate leaves over seeded documents tables ───────────────────────


class Analytics:
    def __init__(self, run: Run, repeats: int = 1):
        import __spark_entry__

        import inputs

        self.run = run
        self.queries = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.setup_times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            base = inputs.documents(N_DOCS, run.seed)
            graph_dir, dedup_dir = run.fresh("graph"), run.fresh("dedup")
            inputs.write_documents(graph_dir, base)
            inputs.write_documents(dedup_dir, inputs.replicate(base, REPLICA_COPIES))
            self.setup_times.append(time.perf_counter() - t0)
        self.dirs = {leaf: graph_dir for leaf in GRAPH_LEAVES}
        self.dirs.update({leaf: dedup_dir for leaf in DEDUP_LEAVES})
        self.order = list(GRAPH_LEAVES + DEDUP_LEAVES)
        random.Random(run.seed).shuffle(self.order)
        self.results: list[tuple[str, list[str], list[tuple]]] = []

    def leaf(self, leaf: str) -> None:
        df = self.queries[leaf](self.run.spark, self.dirs[leaf])
        rows = [tuple(r) for r in df.collect()]
        self.results.append((leaf, df.columns, rows))

    def pass_(self, tracer=None) -> None:
        for leaf in self.order:
            if tracer is None:
                self.leaf(leaf)
            else:
                kind = "graph" if leaf in GRAPH_LEAVES else "dedup"
                with tracer.span(leaf, kind):
                    self.leaf(leaf)

    def check(self) -> None:
        """Every leaf run against its DuckDB oracle, by row count and the
        order-insensitive value hash of tools/check_oracle.py."""
        import checks

        want = {}
        for leaf, cols, rows in self.results:
            if leaf not in want:
                oracle = checks.LeafOracle(self.dirs[leaf], self.oracle_sql)
                want[leaf] = oracle.hash(leaf)
                oracle.close()
            self.run.record(checks.spark_hash(cols, rows) == want[leaf])
        self.results.clear()


# ── timed runs (tracing off) ─────────────────────────────────────────────────


def timed(run: Run, w, one_pass, check_pass) -> None:
    """Set-up, one cold pass, then warm passes until run.seconds have
    elapsed (at least MIN_WARM_PASSES); outputs are checked after each pass, outside
    the timed region."""
    import proctree

    run.metrics["setup_s"] = setup_seconds(w.setup_times)
    t0 = time.perf_counter()
    res = one_pass()
    run.metrics["cold_s"] = time.perf_counter() - t0
    check_pass(res)
    walls, cpus = [], []
    t_end = time.perf_counter() + run.seconds
    while len(walls) < MIN_WARM_PASSES or time.perf_counter() < t_end:
        cpu0 = proctree.cpu_seconds()
        t0 = time.perf_counter()
        res = one_pass()
        walls.append(time.perf_counter() - t0)
        cpus.append(proctree.cpu_seconds() - cpu0)
        check_pass(res)
    run.metrics.update(wall_s=statistics.median(walls), cpu_s=statistics.median(cpus))


def timed_build(run: Run) -> None:
    b = Build(run, SETUP_REPEATS)
    timed(run, b, b.pass_, lambda res: b.check_pass(*res))
    b.check_warehouse()


def timed_analytics(run: Run) -> None:
    a = Analytics(run, SETUP_REPEATS)
    timed(run, a, a.pass_, lambda res: None)
    a.check()


# ── traced tour (every per-layer metric) ─────────────────────────────────────
#
# The build runs one cold pass untraced, then one traced pass; the leaves,
# which run after the build has warmed the JVM, run one traced pass. The
# tracing overhead of a traced pass is the tracer's own measured bookkeeping
# time: the difference between a traced and an untraced pass is dominated
# by run-to-run noise on a pass of a few seconds.


def traced_build(run: Run, tracer, b: Build) -> None:
    """One traced build pass: per-stage wall, CPU and shuffle, Spark job and
    task counts, spill, skew, storage. Its warehouse stays for the
    questions."""
    from medical_doc_knowledge_graph_system_spark import pipeline
    from medical_doc_knowledge_graph_system_spark.pipeline import STAGES
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    b.check_pass(*b.pass_())  # cold pass
    tracer.patch(Warehouse, "write", "write", name_arg=2)
    tracer.patch(Warehouse, "write_bucketed", "write", name_arg=2)
    tracer.patch(Warehouse, "log_partition_metrics", "probe", name_arg=2)
    tracer.patch(pipeline, "build_name_map", "resolve")
    tracer.patch(pipeline, "remap", "resolve")
    first, overhead0 = len(tracer.spans), tracer.overhead_s
    try:
        with tracer.span("build", "pass") as top:
            stats, root = b.pass_()
    finally:
        tracer.unpatch()
    b.check_pass(stats, root)
    spans = tracer.spans[first:]
    m: dict[str, float] = {}
    # A stage runs from the end of the previous stage's metrics probe to the
    # end of its write; the tracer's status reads inside that interval are
    # not stage time. CPU and shuffle come from the spans that ran its jobs.
    pending, probe_s, stage_start = [], 0.0, top.t_start
    for sp in (s for s in spans if s.parent == top.id):
        if sp.kind == "probe":
            probe_s += sp.wall_s
            stage_start = sp.t1 + sp.read_s
        elif sp.kind == "write":
            group = pending + [sp]
            m[f"build.{sp.name}.wall_s"] = sp.t1 - stage_start - sum(
                s.read_s for s in pending
            )
            m[f"build.{sp.name}.cpu_s"] = sum(s.cpu_s for s in group)
            m[f"build.{sp.name}.shuffle_mb"] = sum(
                s.shuffle_bytes for s in _subtree(spans, group)
            ) / 2**20
            pending = []
        else:
            pending.append(sp)
    with open(os.path.join(root, "_checkpoints.jsonl")) as f:
        ckpt_s = sum(json.loads(line)["wall_ms"] for line in f) / 1000
    stored, files = du(root)
    skew_ms = sum(s.skew_run_ms for s in spans)
    m.update({
        "build.metrics_probe_s": probe_s,
        "build.jobs": sum(s.jobs for s in spans),
        "build.tasks": sum(s.tasks for s in spans),
        "build.spill_mb": sum(s.spill_bytes for s in spans) / 2**20,
        "build.stored_mb": stored / 2**20,
        "build.files_written": files,
        "build.stage_skew": sum(s.skew_weighted for s in spans) / skew_ms if skew_ms else 1.0,
        # top.wall_s leaves out the status reads of its child spans
        "build.triples_per_s": stats["triples"] / top.wall_s,
        "build.store_ratio": stored / os.path.getsize(b.pages_path),
        "build.span_checkpoint_ratio": sum(m[f"build.{s}.wall_s"] for s in STAGES) / ckpt_s,
        "build.trace_overhead_s": tracer.overhead_s - overhead0,
    })
    run.metrics.update(m)
    b.check_warehouse()


def _subtree(spans, roots):
    ids = {s.id for s in roots}
    out = list(roots)
    for s in spans:
        if s.parent in ids and s.id not in ids:
            ids.add(s.id)
            out.append(s)
    return out


def questions(seed: int, n: int, chunk_texts: list[str]) -> list[tuple[str, bool, bool]]:
    """(question, complex?, matches nothing?): half simple, half complex.
    One simple question is a seeded string of digits and symbols that
    scores below the retrieval threshold, with margin, against every chunk."""
    import numpy as np

    from medical_doc_knowledge_graph_system_spark.corelib.gazetteer import GAZETTEER
    from medical_doc_knowledge_graph_system_spark.corelib.similarity import embed_name
    from medical_doc_knowledge_graph_system_spark.operators.retrieval import (
        RETRIEVAL_SCORE_THRESHOLD,
    )

    rng = random.Random(seed)
    emb = np.array([embed_name(t) for t in chunk_texts])
    while True:
        nothing = "".join(rng.choice("0123456789#%&") for _ in range(12))
        if (emb @ np.array(embed_name(nothing))).max() < RETRIEVAL_SCORE_THRESHOLD - 0.05:
            break
    names = sorted(GAZETTEER)
    out = [(nothing, False, True)]
    while len(out) < n:
        a, b = rng.sample(names, 2)
        is_complex = len(out) % 2 == 1
        tpl = rng.choice(COMPLEX if is_complex else SIMPLE)
        out.append((tpl.format(a=a, b=b), is_complex, False))
    rng.shuffle(out)
    return out


def traced_retrieve(run: Run, tracer, b: Build) -> None:
    """Questions in a closed loop with one client over the traced build
    pass's warehouse: one untraced round (answers, latency), one traced
    round (layers, the same answers)."""
    import checks

    from medical_doc_knowledge_graph_system_spark.operators import graph_queries, retrieval
    from medical_doc_knowledge_graph_system_spark.sources.warehouse import Warehouse

    wh = Warehouse(b.last_root)
    tables = {
        t: wh.read(run.spark, t)
        for t in ("chunks", "chunk_embeddings", "nodes", "edges", "provenance_edges")
    }
    qs = questions(run.seed, N_QUESTIONS, [c["text"] for c in b.oracle()[1]["chunks"]])

    def ask(q):
        bundle = retrieval.build_context(q, tables)
        answer = retrieval.format_context_for_prompt(retrieval.rerank_context_bundle(q, bundle))
        return bundle, answer

    lat, answers = [], []
    for q, _, _ in qs:
        t0 = time.perf_counter()
        answers.append(ask(q)[1])
        lat.append(time.perf_counter() - t0)

    tracer.patch(retrieval, "entity_first_retrieval", "retrieve")
    tracer.patch(retrieval, "k_hop", "retrieve")
    tracer.patch(graph_queries, "multi_source_shortest_paths", "retrieve")
    tracer.patch(graph_queries, "provenance_citations", "retrieve")
    tracer.patch(retrieval, "rerank_context_bundle", "retrieve")
    first = len(tracer.spans)
    bundles = []
    try:
        for q, _, _ in qs:
            with tracer.span("question", "question"):
                with tracer.span("build_context", "retrieve"):
                    bundle = retrieval.build_context(q, tables)
                answer = retrieval.format_context_for_prompt(
                    retrieval.rerank_context_bundle(q, bundle)
                )
            bundles.append((bundle, answer))
    finally:
        tracer.unpatch()
    spans = tracer.spans[first:]

    def per_q(name: str, attr: str = "wall_s") -> float:
        return sum(getattr(s, attr) for s in spans if s.name == name) / len(qs)

    run.metrics.update({
        "retrieve.entity_first_s": per_q("entity_first_retrieval"),
        "retrieve.k_hop_s": per_q("k_hop"),
        "retrieve.paths_s": per_q("multi_source_shortest_paths"),
        "retrieve.citations_s": per_q("provenance_citations"),
        "retrieve.rerank_s": per_q("rerank_context_bundle"),
        "retrieve.self_s": per_q("build_context", "self_s"),
        "retrieve.jobs_per_question": sum(s.jobs for s in spans) / len(qs),
        "retrieve.question_p50_s": statistics.median(lat),
        "retrieve.questions_per_s": len(qs) / sum(lat),
    })
    edges, nodes = tables["edges"].collect(), tables["nodes"].collect()
    for (q, is_complex, nothing), (bundle, answer), first_answer in zip(qs, bundles, answers):
        bad = checks.bundle_failures(bundle, edges, nodes, is_complex, nothing)
        run.record(not bad and answer == first_answer)


def traced_analytics(run: Run, tracer) -> None:
    """One traced leaf pass: per-leaf wall, jobs, CPU, shuffle and spill,
    and Spark jobs per localCheckpoint pin in the graph loops."""
    a = Analytics(run)
    pins = [0]
    df_cls = type(run.spark.range(1))
    orig_pin = df_cls.localCheckpoint

    def counting_pin(self, *args, **kwargs):
        pins[0] += 1
        return orig_pin(self, *args, **kwargs)

    first, overhead0 = len(tracer.spans), tracer.overhead_s
    df_cls.localCheckpoint = counting_pin
    try:
        a.pass_(tracer)
    finally:
        df_cls.localCheckpoint = orig_pin
    spans = tracer.spans[first:]
    graph_jobs = 0
    for sp in spans:
        if sp.parent is not None:
            continue
        tree = _subtree(spans, [sp])
        run.metrics[f"{sp.kind}.{sp.name}.wall_s"] = sp.wall_s
        if sp.kind == "graph":
            jobs = sum(s.jobs for s in tree)
            run.metrics[f"graph.{sp.name}.jobs"] = jobs
            graph_jobs += jobs
        else:
            run.metrics[f"dedup.{sp.name}.cpu_s"] = sp.cpu_s
            run.metrics[f"dedup.{sp.name}.shuffle_mb"] = sum(s.shuffle_bytes for s in tree) / 2**20
            run.metrics[f"dedup.{sp.name}.spill_mb"] = sum(s.spill_bytes for s in tree) / 2**20
    run.metrics["graph.rounds_jobs"] = graph_jobs / max(pins[0], 1)
    run.metrics["analytics.trace_overhead_s"] = tracer.overhead_s - overhead0
    a.check()


def traced_tour(run: Run) -> list:
    import proctree
    from tracing import Tracer

    tracer = Tracer(run.spark)
    b = Build(run)
    traced_build(run, tracer, b)
    traced_retrieve(run, tracer, b)
    traced_analytics(run, tracer)
    run.metrics["session.peak_rss_mb"] = proctree.peak_rss_mb()
    return tracer.spans


# ── entry point ──────────────────────────────────────────────────────────────


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    configure(tmp)
    sys.path.insert(0, HERE)
    spark = None
    try:
        spark = start_session(tmp)
        run = Run(spark, tmp, args.seed, args.seconds)
        if args.trace:
            run.metrics["session.start_s"] = time.perf_counter() - T_PROCESS
            spans = traced_tour(run)
        else:
            {"build": timed_build, "analytics": timed_analytics}[args.workload](run)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    missing = sorted(set(units) - set(run.metrics))
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": run.metrics[k], "unit": u} for k, u in units.items()},
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        with open(os.path.join(out_dir, f"spans-{tag}.jsonl"), "w") as f:
            for sp in spans:
                f.write(json.dumps(sp.as_record()) + "\n")
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "result": result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
