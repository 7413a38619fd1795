"""Counters read from Spark's own status store, and the spans built on them.

Nothing here instruments the program: every number is a delta of state the
driver JVM already keeps (``AppStatusStore``, the GC MX beans, the block
manager), read before and after a span.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


class SparkStatus:
    """Reader over one SparkContext's status store.

    The store is fed by the asynchronous listener bus, so every read first
    waits for the bus to drain; otherwise the last tasks of an action that
    has just returned may be missing from the totals."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        jvm = sc._jvm
        self._jvm = jvm
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module)
        self._jobs: dict[int, dict] = {}
        self._stages: dict[int, tuple[int, int]] = {}
        self.cores = int(sc.defaultParallelism)

    def settle(self) -> None:
        self._ssc.listenerBus().waitUntilEmpty()

    def _dump(self, obj) -> list | dict:
        return json.loads(self._json.writeValueAsString(obj))

    def executor_totals(self) -> dict[str, float]:
        """Sums over live executors (one, ``driver``, in local mode)."""
        out = dict(tasks=0, shuffle_bytes=0, memory_used=0)
        for e in self._dump(self._store.executorList(True)):
            out["tasks"] += e["totalTasks"]
            out["shuffle_bytes"] += e["totalShuffleRead"] + e["totalShuffleWrite"]
            out["memory_used"] += e["memoryUsed"]
        return out

    def gc_ms(self) -> int:
        """Collection time of every JVM garbage collector (driver and
        executors share one JVM in local mode)."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def next_job_id(self) -> int:
        """Job-id high-water mark: the id the scheduler gives the next job.
        Job ids are dense and increasing, so the jobs of a span are the ids
        between two marks, however many the status store has evicted."""
        return self._ssc.dagScheduler().numTotalJobs()

    def job(self, job_id: int) -> dict | None:
        """Submission/completion epoch-ms and stage ids of one job, or None
        once the store has evicted it. Finished jobs are cached."""
        if job_id in self._jobs:
            return self._jobs[job_id]
        try:
            data = self._dump(self._store.job(job_id))
        except Py4JJavaError:  # NoSuchElementException: evicted
            return None
        if data.get("completionTime"):
            self._jobs[job_id] = data
        return data

    def stage_totals(self, stage_ids: set[int]) -> dict[str, int]:
        """Summed task run time (ms) and disk spill (bytes) of the given
        stages; the executor summary has no spill, and its task-time field
        does not sum task durations in local mode. Finished stages are
        cached."""
        out = dict(run_ms=0, spill_bytes=0)
        for sid in stage_ids:
            if sid not in self._stages:
                try:
                    data = self._dump(self._store.lastStageAttempt(sid))
                except Py4JJavaError:  # evicted
                    continue
                totals = (data["executorRunTime"], data["diskBytesSpilled"])
                if data["status"] in ("COMPLETE", "SKIPPED", "FAILED"):
                    self._stages[sid] = totals
            else:
                totals = self._stages[sid]
            out["run_ms"] += totals[0]
            out["spill_bytes"] += totals[1]
        return out

    def block_store_bytes(self) -> int:
        return self.executor_totals()["memory_used"]

    def drain_cleaner(self, poll_s: float = 0.1, limit_s: float = 8.0) -> None:
        """Force a JVM GC, then wait until the ContextCleaner has finished
        releasing what it enqueued: block-store use stops changing."""
        self._jvm.System.gc()
        deadline = time.monotonic() + limit_s
        last = self.block_store_bytes()
        while time.monotonic() < deadline:
            time.sleep(poll_s)
            now = self.block_store_bytes()
            if now == last:
                return
            last = now


@dataclass
class Snapshot:
    wall: float
    epoch_ms: float
    next_job: int
    tasks: int
    shuffle_bytes: int
    gc_ms: int

    @classmethod
    def take(cls, st: SparkStatus, end: bool = False) -> "Snapshot":
        """Counters now. The clock is read after the counters at a span's
        start and before them at its end, so reading costs stay out of the
        span's wall time (they still show in the parent's)."""
        if end:
            wall, epoch_ms = time.perf_counter(), time.time() * 1000.0
        st.settle()
        ex = st.executor_totals()
        next_job, gc_ms = st.next_job_id(), st.gc_ms()
        if not end:
            wall, epoch_ms = time.perf_counter(), time.time() * 1000.0
        return cls(wall, epoch_ms, next_job, ex["tasks"], ex["shuffle_bytes"], gc_ms)


@dataclass
class Span:
    name: str
    parent: str | None
    start_epoch_ms: float
    counters: dict[str, float] = field(default_factory=dict)
    detail: str | None = None


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans kept in memory, one list per traced job; written out at the end.

    A span's counters are deltas across it: ``s`` wall seconds, ``jobs``,
    ``tasks``, ``task_s`` (summed executor run time of the span's stages),
    ``driver_s`` (wall time not covered by any of its Spark jobs),
    ``shuffle_mb`` (read + written), ``gc_ms``, ``spill_mb`` (disk), and
    ``rows_out`` when the caller reports one."""

    def __init__(self, status: SparkStatus):
        self.status = status
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def span(self, name: str):
        return _SpanContext(self, name)

    def _close(self, ctx: "_SpanContext") -> None:
        name, before = ctx.name, ctx.before
        st = self.status
        after = Snapshot.take(st, end=True)
        in_span = [j for j in map(st.job, range(before.next_job, after.next_job)) if j]
        intervals = [
            (j["submissionTime"], j["completionTime"])
            for j in in_span
            if j.get("submissionTime") and j.get("completionTime")
        ]
        wall_s = after.wall - before.wall
        covered_ms = _covered_ms(intervals, before.epoch_ms, after.epoch_ms)
        stages = st.stage_totals({s for j in in_span for s in j["stageIds"]})
        counters = {
            "s": wall_s,
            "jobs": after.next_job - before.next_job,
            "tasks": after.tasks - before.tasks,
            "task_s": stages["run_ms"] / 1000.0,
            "driver_s": max(0.0, wall_s - covered_ms / 1000.0),
            "shuffle_mb": (after.shuffle_bytes - before.shuffle_bytes) / 1e6,
            "gc_ms": after.gc_ms - before.gc_ms,
            "spill_mb": stages["spill_bytes"] / 1e6,
        }
        if ctx.rows_out is not None:
            counters["rows_out"] = ctx.rows_out
        counters.update(ctx.extra)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, before.epoch_ms, counters, ctx.detail))


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.rows_out: int | None = None
        self.extra: dict[str, float] = {}
        self.detail: str | None = None

    def __enter__(self) -> "_SpanContext":
        self.before = Snapshot.take(self.tracer.status)
        self.tracer._stack.append(self.name)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.tracer._stack.pop()
        if exc_type is None:
            self.tracer._close(self)
