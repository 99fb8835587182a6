"""Measurement helpers: percentiles, in-memory spans, Spark status-store
deltas, plan-route classification and process memory.

Nothing here touches the engine; the benchmark records spans around its
own calls into each layer and reads Spark's in-process status store.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIN_TAIL_SAMPLES = 10


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def tail_percentile(n: int, want: float) -> float:
    """Highest percentile <= ``want`` that leaves at least
    MIN_TAIL_SAMPLES samples strictly beyond it (0 if none does)."""
    best = 100.0 * (n - MIN_TAIL_SAMPLES) / n if n > MIN_TAIL_SAMPLES else 0.0
    return min(want, best)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[rank - 1])


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    cost one attribute test per span."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    bookkeeping_s: float = 0.0

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sp = Span(
            name,
            0.0,
            parent=self._stack[-1] if self._stack else None,
            sid=len(self.spans),
        )
        if request is None and sp.parent is not None:
            request = self.spans[sp.parent].request
        sp.request = request
        self.spans.append(sp)
        self._stack.append(sp.sid)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of span time not covered by children."""
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out: dict[str, float] = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(sp.sid, [])
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered(clipped)
    return out


# --- Spark status store --------------------------------------------------------


@dataclass
class StageStats:
    stage_id: int
    attempt: int
    num_tasks: int
    executor_run_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    submitted_ms: int
    task_ms: list[int]


def _opt_ms(opt) -> int:
    return int(opt.get().getTime()) if opt.isDefined() else 0


class StatusStore:
    """Per-phase stage deltas from the driver's in-process status store
    (live with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_keys(self) -> set[tuple[int, int]]:
        self._drain()
        seq = self._stage_list()
        return {(seq.apply(i).stageId(), seq.apply(i).attemptId()) for i in range(seq.size())}

    def _stage_list(self):
        jvm = self._jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def since(self, before: set[tuple[int, int]]) -> list[StageStats]:
        """Completed stages that were not in ``before``."""
        self._drain()
        seq = self._stage_list()
        out = []
        for i in range(seq.size()):
            st = seq.apply(i)
            key = (st.stageId(), st.attemptId())
            if key in before or str(st.status()) != "COMPLETE":
                continue
            tasks = self._store.taskList(key[0], key[1], st.numTasks())
            task_ms = []
            for j in range(tasks.size()):
                d = tasks.apply(j).duration()
                if d.isDefined():
                    task_ms.append(int(d.get()))
            out.append(
                StageStats(
                    stage_id=key[0],
                    attempt=key[1],
                    num_tasks=int(st.numTasks()),
                    executor_run_ms=int(st.executorRunTime()),
                    shuffle_write_bytes=int(st.shuffleWriteBytes()),
                    spill_bytes=int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
                    submitted_ms=_opt_ms(st.submissionTime()),
                    task_ms=task_ms,
                )
            )
        return sorted(out, key=lambda s: (s.submitted_ms, s.stage_id))

    def last_job_id(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1


def stage_summary(stages: list[StageStats]) -> dict:
    """Totals over a phase's stages."""
    tasks = [t for s in stages for t in s.task_ms]
    return {
        "stages": len(stages),
        "tasks": sum(s.num_tasks for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "executor_run_ms": sum(s.executor_run_ms for s in stages),
        "max_task_ms": max(tasks) if tasks else 0,
        "median_task_ms": median(tasks) if tasks else 0.0,
    }


# --- plans and processes ---------------------------------------------------------


def classify_route(plan_text: str) -> str:
    """Which search_fused kernel a physical plan runs: the doc-major
    plan packs and scores with mapInArrow, the term-major plan scores
    with mapInPandas."""
    if "MapInArrow" in plan_text:
        return "doc-major"
    if "MapInPandas" in plan_text:
        return "term-major"
    return "none"


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
