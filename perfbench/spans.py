"""Spans, failure isolation and Spark stage counters for one run.

Every timed call into the package goes through :meth:`Run.call`. With
tracing off a call is a clock read and a ``try``. With tracing on it
also opens a span (name, layer, start, end, parent, run id), tags the
Spark jobs it launches with ``setJobGroup`` and, once the listener bus
has drained, reads each job's stage counters from the status store.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

# Stage counters read per span, as (output name, StageData getter, scale).
STAGE_COUNTERS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("jvm_gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numTasks", 1),
    ("tasks_failed", "numFailedTasks", 1),
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counters: dict[str, float] = field(default_factory=dict)
    error: str | None = None


class Failed:
    """Returned by :meth:`Run.call` in place of a result when the call
    raised; the caller skips whatever depended on it."""


FAILED = Failed()


class Run:
    """Owns the spans, timings and failures of one benchmark run."""

    def __init__(self, spark, trace: bool, run_id: str):
        self.spark = spark
        self.trace = trace
        self.run_id = run_id
        self.spans: list[Span] = []
        self.failures: list[dict[str, str]] = []
        self.attempted = 0
        self._stack: list[Span] = []
        self._pending: list[Span] = []

    def call(self, name: str, fn: Callable[..., Any], *args, **kwargs) -> Any:
        """Run ``fn`` as one timed call named ``<layer>.<op>``. Returns
        its result, or :data:`FAILED` after recording the exception
        with its layer and class; the run goes on either way."""
        self.attempted += 1
        with self.span(name) as sp:
            try:
                return fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 — the run must go on
                traceback.print_exc()
                sp.error = type(exc).__name__
                self.failures.append({"call": name, "layer": layer_of(name),
                                      "error": type(exc).__name__})
                return FAILED

    def fail(self, name: str, reason: str) -> None:
        """Record an output mismatch found by a check."""
        self.attempted += 1
        self.failures.append({"call": name, "layer": layer_of(name),
                              "error": reason})

    def passed(self) -> None:
        self.attempted += 1

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """Time the block as a child of the innermost open span; with
        tracing on, tag the Spark jobs it launches with its own group."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer_of(name),
                  parent.span_id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        if self.trace:
            sp.group = f"{self.run_id}:{sp.span_id}"
            sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.trace:
                if parent:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self._pending.append(sp)

    def collect_counters(self) -> None:
        """Read the stage counters of every closed span not read yet.
        Call between rounds: the status store keeps a bounded number of
        jobs, so reading late could miss evicted ones."""
        if not self.trace or not self._pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001 — the status store has no Python API
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for sp in self._pending:
            c = dict.fromkeys([n for n, _, _ in STAGE_COUNTERS], 0.0)
            c["jobs"] = c["stages"] = 0
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 — stage never ran
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    for out, getter, scale in STAGE_COUNTERS:
                        c[out] += getattr(sd, getter)() * scale
            sp.counters = c
        self._pending.clear()

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part covered by its child spans."""
        own = {sp.span_id: sp.end - sp.start for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                own[sp.parent] -= sp.end - sp.start
        return own

    def records(self) -> list[dict[str, Any]]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [{"run_id": self.run_id, "span_id": sp.span_id, "name": sp.name,
                 "layer": sp.layer, "parent": sp.parent,
                 "start_s": round(sp.start - t0, 6), "end_s": round(sp.end - t0, 6),
                 "error": sp.error, **sp.counters} for sp in self.spans]


def layer_of(name: str) -> str:
    """``plans.silver.transform`` -> ``plans.silver``; ``queries.x`` ->
    ``queries``; ``bench.round`` -> ``bench``."""
    parts = name.split(".")
    if parts[0] in ("plans", "sources") and len(parts) > 2:
        return ".".join(parts[:2])
    return parts[0]
