"""In-memory span tracer, attached from outside the program by wrapping
public callables.

Each span records wall and process-tree CPU time and its parent span. It
runs its calls under a Spark job group of its own, and on exit reads that
group's stages from the status store (jobs, tasks, shuffle and spill
bytes, task-time quantiles). Operators return lazy DataFrames, so a span
covers only the jobs that run inside the call; jobs its caller runs later
on the returned frame belong to the caller's span.

The tracer times its own bookkeeping (job-group switches, /proc scans,
status-store reads) into Tracer.overhead_s: that is the tracing overhead.
Status reads run after a span closes and are taken out of every open
ancestor, so no span counts another span's bookkeeping.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

from proctree import cpu_seconds

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    t0: float
    t1: float = 0.0
    # entry time, never shifted (t0 of an open span moves past status reads)
    t_start: float = 0.0
    cpu_s: float = 0.0
    children_s: float = 0.0
    # time spent reading the status store after the span closed
    read_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    run_ms: float = 0.0
    # max/median task time per multi-task Spark stage, weighted by the
    # stage's executor run time: skew = skew_weighted / skew_run_ms
    skew_weighted: float = 0.0
    skew_run_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s

    def as_record(self) -> dict:
        rec = {k: v for k, v in self.__dict__.items() if k != "attrs"}
        rec.update(wall_s=self.wall_s, self_s=self.self_s, **self.attrs)
        return rec


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name, kind, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp.id}"
        self.sc.setLocalProperty(_GROUP_PROP, group)
        cpu0 = cpu_seconds()
        sp.t0 = sp.t_start = time.perf_counter()
        self.overhead_s += sp.t0 - b0
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.cpu_s = cpu_seconds() - cpu0
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, f"perfbench-{parent.id}" if parent else None)
            self._read_group(group, sp)
            if parent is not None:
                parent.children_s += sp.wall_s
            # status reads happen after t1: exclude them from the parent too
            sp.read_s = time.perf_counter() - sp.t1
            for anc in self._stack:
                anc.t0 += sp.read_s
            self.overhead_s += sp.read_s

    def _read_group(self, group: str, sp: Span) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            sp.jobs += 1
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue  # skipped stage: never ran, nothing recorded
                if str(st.status()) == "SKIPPED":
                    continue
                sp.tasks += st.numTasks()
                sp.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                sp.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run_ms = float(st.executorRunTime())
                sp.run_ms += run_ms
                if st.numTasks() >= 2 and run_ms > 0:
                    summ = store.taskSummary(sid, st.attemptId(), self._quantiles)
                    if summ.isDefined():
                        q = summ.get().executorRunTime()
                        med, mx = q.apply(0), q.apply(1)
                        sp.skew_weighted += run_ms * (mx / med if med > 0 else 1.0)
                        sp.skew_run_ms += run_ms

    def patch(self, owner, attr: str, kind: str, name_arg: int | None = None) -> None:
        """Wrap owner.attr in a span named after the positional argument at
        index name_arg (self counts for methods), or after attr."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = attr
            if name_arg is not None:
                name = str(args[name_arg])
            with self.span(name, kind):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
