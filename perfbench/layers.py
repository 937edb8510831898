"""Per-layer tracing from outside the engine.

Spans are recorded around the calls the benchmark makes into each layer
(the registry entry's ``fn``, ``dialect.validate``, ``collect``) and
from the Catalyst phase timestamps of the collected DataFrame's
``QueryPlanningTracker``. Spark work is read from the status store for
every job an op ran, and split into layers by the job group the
benchmark set before ``collect``. Nothing here changes the engine; the
only hook is a wrapper that the benchmark puts around
``keenwa_spark.dialect.validate`` while a traced pass runs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Catalyst phases as QueryPlanningTracker names them -> span name
PHASES = {
    "parsing": "engine.parse",
    "analysis": "engine.analysis",
    "optimization": "engine.optimize",
    "planning": "engine.planning",
}

#: stage-level counters summed per layer, by StageData accessor
STAGE_COUNTERS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
}


@dataclass
class Span:
    name: str
    start: float  # seconds since the epoch
    end: float
    parent: int | None  # index into Tracer.spans
    op: str  # id of the op this span belongs to

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory until the run writes them out."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, op: str, parent: int | None) -> int:
        self.spans.append(Span(name, start, end, parent, op))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        idx = self.add(name, time.time(), 0.0, op, parent)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a child of the open span."""

        def traced(*args, **kwargs):
            op = self.spans[self._stack[-1]].op if self._stack else ""
            with self.span(name, op):
                return fn(*args, **kwargs)

        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        s = max(s, reach)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [s.dur - _covered(kids.get(i, [])) for i, s in enumerate(spans)]


def add_phase_spans(tracer: Tracer, df, op: str, parents: list[int]) -> None:
    """Catalyst phases of ``df``'s QueryExecution, each placed under the
    span in ``parents`` whose interval holds the phase's start."""
    phases = df._jdf.queryExecution().tracker().phases()
    for key, name in PHASES.items():
        opt = phases.get(key)
        if not opt.isDefined():
            continue
        ph = opt.get()
        start, end = ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3
        home = next(
            (i for i in parents if tracer.spans[i].start <= start <= tracer.spans[i].end),
            parents[-1],
        )
        tracer.add(name, start, end, op, home)


def newest_job(sc) -> int:
    """Id of the most recent job (-1 when none), read once the listener
    bus is idle so that every job started so far is in the status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.nonEmpty() else -1


def job_stats(sc, first: int, exec_group: str) -> dict[str, dict[str, float]]:
    """Jobs from ``first`` on, split into the ``execute`` layer (jobs of
    ``exec_group``) and the ``build`` layer (every other job, including
    those a streaming query ran from its own thread), each with its
    stage, task and stage-counter totals."""
    last = newest_job(sc)
    store = sc._jsc.sc().statusStore()
    out = {
        layer: {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in STAGE_COUNTERS}}
        for layer in ("build", "execute")
    }
    for jid in range(first, last + 1):
        job = store.job(jid)
        group = job.jobGroup()
        acc = out["execute" if group.isDefined() and group.get() == exec_group else "build"]
        acc["jobs"] += 1
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            st = store.lastStageAttempt(stage_ids.apply(i))
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            acc["stages"] += 1
            acc["tasks"] += st.numCompleteTasks()
            for key, (getter, scale) in STAGE_COUNTERS.items():
                acc[key] += getattr(st, getter)() * scale
    return out
