"""Benchmark-side tracing: an in-memory span recorder and a collector
that reads job and stage metrics from Spark's status store.

Spans are recorded around the benchmark's own calls into the library's
public functions; nothing inside the library is instrumented. Each span
runs its Spark jobs under a job group of its own, so the status store
can attribute every job -- including jobs a lazy call runs eagerly --
to the innermost span that launched it. The status store works with the
UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str  # the layer, e.g. "operators.dedup"
    phase: str  # "build" (the lazy call), "action" (materialising it) or "probe"
    parent: int | None
    workload: str
    pass_no: int
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ms(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of the span's interval its direct
    children cover."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id and c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start - _covered(kids)) * 1e3


class Tracer:
    """Records spans in memory. With ``sc`` given, each span's jobs run
    under the span's job group and the enclosing span's group is
    restored when it ends."""

    def __init__(self, workload: str, sc=None):
        self.workload = workload
        self.sc = sc
        self.spans: list[Span] = []
        self.pass_no = 0
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span.group, f"{span.name}:{span.phase}")

    @contextmanager
    def span(self, name: str, phase: str = "build"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, phase, parent.id if parent else None,
            self.workload, self.pass_no, time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


@dataclass
class GroupMetrics:
    jobs: int = 0
    exec_run_ms: float = 0.0
    exec_cpu_ms: float = 0.0
    shuffle_bytes: int = 0
    failed_tasks: int = 0

    @property
    def python_gap_ms(self) -> float:
        return self.exec_run_ms - self.exec_cpu_ms


def _seq(s) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [s.apply(i) for i in range(s.length())]


def collect_group_metrics(sc, groups: set[str]) -> dict[str, GroupMetrics]:
    """Job and stage totals per job group, read from the status store.

    A stage that a later job reuses (shown there as skipped) is counted
    once, for the earliest job that lists it."""
    jsc = sc._jsc.sc()
    # the status store is fed by an asynchronous listener; drain it so
    # the last action's stages are there
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    stages: dict[int, tuple[float, float, int, int]] = {}
    for st in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        run, cpu, shuf, failed = stages.get(st.stageId(), (0.0, 0.0, 0, 0))
        stages[st.stageId()] = (
            run + st.executorRunTime(),
            cpu + st.executorCpuTime() / 1e6,
            shuf + st.shuffleReadBytes() + st.shuffleWriteBytes(),
            failed + st.numFailedTasks(),
        )
    out: dict[str, GroupMetrics] = {}
    seen: set[int] = set()
    for job in sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId()):
        grp = job.jobGroup()
        grp = grp.get() if grp.isDefined() else None
        m = None
        if grp in groups:
            m = out.setdefault(grp, GroupMetrics())
            m.jobs += 1
        for sid in _seq(job.stageIds()):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            if m is None:
                continue
            run, cpu, shuf, failed = stages[sid]
            m.exec_run_ms += run
            m.exec_cpu_ms += cpu
            m.shuffle_bytes += shuf
            m.failed_tasks += failed
    return out
