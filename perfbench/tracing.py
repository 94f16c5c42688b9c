"""In-memory span tracing from the benchmark's side of each layer boundary.

Spans are recorded around calls into the engine's public functions (the
benchmark wraps them; the engine itself is not edited). Each operation
gets its own Spark job group, so the status tracker and the app status
store can attribute jobs, stages, tasks and their I/O to it afterwards.
When tracing is off every method is a cheap no-op and nothing is
wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Iterator

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []
        self._next_id = 0
        # frames whose phases are recorded, by id (holding them keeps
        # the ids from being reused)
        self._phased: dict[int, Any] = {}

    def charge(self, seconds: float) -> None:
        """Count ``seconds`` of bookkeeping as tracing overhead."""
        with self._lock:
            self.overhead_s += seconds

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else attrs.pop("op", None),
            **attrs,
        }
        stack.append(sp)
        self.charge(time.perf_counter() - t0)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)
            self.charge(time.perf_counter() - t1)

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str) -> Iterator[dict | None]:
        """Root span of one timed operation, with its own job group."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, f"perfbench {kind}")
        self.ops[op_id] = {"kind": kind}
        self.charge(time.perf_counter() - t0)
        with self.span("op", op=op_id, kind=kind) as sp:
            yield sp

    def clear_job_group(self) -> None:
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner: Any, attr: str, name: str,
             after: Callable[[tuple, Any], None] | None = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (restored by
        ``restore``). ``after(args, result)`` runs outside the span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                res = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(args, res)
                self.charge(time.perf_counter() - t0)
            return res

        self.replace(owner, attr, wrapper)

    def replace(self, owner: Any, attr: str, fn: Any) -> None:
        """Set ``owner.attr`` to ``fn`` until ``restore``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------- catalyst phases

    def record_phases(self, df, op_id: str | None = None, force: bool = False) -> None:
        """Attach the QueryPlanningTracker phase durations of ``df``'s
        query execution to ``op_id`` (default: the innermost open span's
        operation), and mark that operation as phased. A frame seen
        before is skipped: its query was planned by an earlier operation
        (the engine's plan cache hands the same frame back). ``force``
        first plans the query, for frames that were materialized through
        a write, whose own execution is not ``df``'s; that planning is
        counted as tracing overhead."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        with self._lock:
            seen = id(df) in self._phased
            self._phased[id(df)] = df
        if not seen:
            if op_id is None:
                stack = self._stack()
                op_id = stack[-1]["op"] if stack else None
            qe = df._jdf.queryExecution()
            if force:
                qe.executedPlan()
            phases = qe.tracker().phases()
            rec = self.ops.setdefault(op_id, {})
            rec["phased"] = True
            for p in CATALYST_PHASES:
                s = phases.get(p)  # a scala.Option
                if s.isDefined():
                    rec[p] = rec.get(p, 0.0) + float(s.get().durationMs())
        self.charge(time.perf_counter() - t0)

    # ------------------------------------------------------ exec counters

    def collect_exec(self) -> None:
        """Per operation: jobs, stages and tasks from the status tracker,
        task time, GC, input, shuffle and spill bytes from the status
        store. Run after the window, once the listener bus has caught up."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for op_id, rec in self.ops.items():
            if op_id is None:
                continue
            jobs = tracker.getJobIdsForGroup(op_id)
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            agg = defaultdict(float)
            for s in stages:
                try:
                    sd = store.lastStageAttempt(int(s))
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                agg["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                agg["task_run_ms"] += sd.executorRunTime()
                agg["gc_ms"] += sd.jvmGcTime()
                agg["input_bytes"] += sd.inputBytes()
                agg["shuffle_read_bytes"] += sd.shuffleReadBytes()
                agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                agg["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            rec.update(agg)

    # ------------------------------------------------------------ report

    def self_times(self) -> dict[str, list[float]]:
        """Self time (ms) of every non-root span, by span name."""
        child_sum: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_sum[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for sp in self.spans:
            if sp["name"] == "op":
                continue
            out[sp["name"]].append((sp["end"] - sp["start"] - child_sum[sp["id"]]) * 1000.0)
        return out

    def durations(self, name: str) -> list[float]:
        return [(sp["end"] - sp["start"]) * 1000.0 for sp in self.spans if sp["name"] == name]

    def unattributed_frac(self) -> float:
        """Share of operation wall time covered by no layer span."""
        roots = {sp["id"]: sp for sp in self.spans if sp["name"] == "op"}
        covered = sum(
            sp["end"] - sp["start"] for sp in self.spans if sp["parent"] in roots
        )
        wall = sum(sp["end"] - sp["start"] for sp in roots.values())
        return max(0.0, 1.0 - covered / wall) if wall > 0 else 0.0

    def per_op(self, key: str) -> list[float]:
        return [rec.get(key, 0.0) for op_id, rec in self.ops.items() if op_id is not None]

    def per_phased_op(self, phase: str) -> list[float]:
        """``phase`` of every operation that planned a query, zeros kept."""
        return [rec.get(phase, 0.0) for op_id, rec in self.ops.items()
                if op_id is not None and rec.get("phased")]


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
