"""Benchmark-side tracing: spans around calls into program layers, and the
Spark jobs each call launched, read back from Spark's status store.

Nothing here reaches inside the program. A span wraps a call the benchmark
makes into a public function; while tracing, the call also runs under its own
Spark job group (``<workload>.<layer>#<request>``, description = phase), so
the jobs it launched can be looked up afterwards even when four client
threads run at once.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# Spark's status store evicts old jobs and stages beyond these limits; raise
# them so that no job of a long run is dropped before it is read back.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}

_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "input_records",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    request: str | None
    start: float
    end: float
    group: str | None = None
    phase: str | None = None
    spark: dict = field(default_factory=dict)

    @property
    def dt(self) -> float:
        return self.end - self.start


class _Call:
    """What ``Probe.call`` yields: ``dt`` is the call's wall time in
    seconds, measured whether or not tracing is on."""

    __slots__ = ("dt", "span")

    def __init__(self):
        self.dt = 0.0
        self.span: Span | None = None


class Probe:
    """Times calls into the program; records spans and job groups only
    while ``tracing`` is true (it may be flipped between calls)."""

    def __init__(self, workload: str, spark=None, tracing: bool = False):
        self.workload = workload
        self.spark = spark
        self.tracing = tracing
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: str | None, phase: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, phase or "")

    @contextmanager
    def call(self, name: str, request=None, phase: str | None = None):
        """Time one call into the program. While tracing, record a span
        (request id inherited from the enclosing span) and run the call
        under its own job group, restoring the enclosing one afterwards."""
        res = _Call()
        span = None
        if self.tracing:
            stack = self._stack()
            parent = stack[-1] if stack else None
            sid = next(self._ids)
            span = Span(
                sid,
                parent.span_id if parent else None,
                name,
                str(request) if request is not None else (parent and parent.request),
                0.0,
                0.0,
                f"{self.workload}.{name}#{sid}" if self.spark is not None else None,
                phase,
            )
            if span.group is not None:
                self._set_group(span.group, phase)
            stack.append(span)
            res.span = span
        t0 = time.perf_counter()
        try:
            yield res
        finally:
            t1 = time.perf_counter()
            res.dt = t1 - t0
            if span is not None:
                span.start, span.end = t0, t1
                stack.pop()
                if span.group is not None:
                    if parent is not None and parent.group is not None:
                        self._set_group(parent.group, parent.phase)
                    else:
                        self._set_group(None, None)
                with self._lock:
                    self.spans.append(span)

    # ---- read-back ---------------------------------------------------------

    def resolve_counters(self) -> None:
        """Attach Spark counters to every span that ran under a job group.
        Run once, untimed, after the measured phases."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for s in self.spans:
            if s.group is not None:
                s.spark = job_counters(store, tracker.getJobIdsForGroup(s.group))

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total wall time and self time (wall time
        minus the part of it covered by child spans), in seconds."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            agg = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s.dt
            agg["self_s"] += s.dt - covered
        return out

    def counters(self, spans) -> dict:
        """Summed Spark counters over ``spans``."""
        tot = dict.fromkeys(_COUNTERS, 0)
        for s in spans:
            for k, v in s.spark.items():
                tot[k] += v
        return tot

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": self.workload,
                    "spans": [asdict(s) for s in self.spans],
                    "self_times": self.self_times(),
                    **extra,
                },
                f,
            )


def job_counters(store, job_ids) -> dict:
    """Counters of the given Spark jobs from the status store
    (``sc._jsc.sc().statusStore()``). Stages shared by several jobs are
    counted once; skipped stages carry no work and are not counted."""
    out = dict.fromkeys(_COUNTERS, 0)
    seen: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        out["jobs"] += 1
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["input_records"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
