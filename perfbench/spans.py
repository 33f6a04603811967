"""Spans around layer calls, with the Spark work each call caused.

A span records a layer name, its start and end, the span it ran
inside and the op it belongs to. Spans are kept in memory and written
out when the run ends.

Spark jobs are attributed to the call whose time window contains
them: the benchmark makes one layer call at a time, so the jobs that
appear in the status tracker between a call's start and end are that
call's jobs. (Job groups cannot be used: ``run_backfill``'s pool
threads do not inherit them.) Per-stage numbers come from the status
store, which Spark keeps with the UI disabled.

``kind="builder"`` spans time driver-side work that returns a lazy
frame; they count toward ``builder_s`` only, and Spark work is never
attributed to them.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# the metrics every layer call gets
CALL_METRICS = (
    "wall_s",
    "self_s",
    "builder_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "busy_frac",
    "shuffle_write_bytes",
    "shuffle_records",
    "spill_bytes",
    "rows_out",
)


# per stage attempt (the status store's StageData), what each count adds
STAGE_COUNTS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1000.0,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_records": lambda s: s.shuffleWriteRecords(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


@dataclass
class Span:
    id: int
    name: str
    kind: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    pass-through, so the untraced run does no tracing work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.cores = 1
        self.spans: list[Span] = []
        self.op = "setup"
        self._open: list[Span] = []  # open call spans, innermost last
        self._seen_jobs: set[int] = set()
        self._lock = threading.Lock()

    def bind(self, spark, cores: int) -> None:
        self.spark, self.cores = spark, cores
        if self.enabled:
            self._seen_jobs = set(self._job_ids())

    # ---- spans --------------------------------------------------------

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        """Time the enclosed block as one call of layer ``name``.
        Yields the span (or None when tracing is off); callers may add
        counts such as ``rows_out`` to ``span.counts``."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            outer = self._open[-1] if self._open else None
            if kind == "call":
                # jobs since the last boundary belong to the enclosing
                # call, or to no layer when no call is open
                self._flush(outer)
            sp = Span(len(self.spans), name, kind, self.op,
                      outer.id if outer else None, time.perf_counter())
            self.spans.append(sp)
            if kind == "call":
                self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if kind == "call":
                with self._lock:
                    self._open.remove(sp)
                    self._flush(sp)

    def wrap_builder(self, name: str, fn):
        """``fn`` with every call recorded as a builder span."""
        if not self.enabled:
            return fn

        def wrapped(*args, **kwargs):
            with self.span(name, kind="builder"):
                return fn(*args, **kwargs)

        return wrapped

    # ---- Spark attribution -------------------------------------------

    def _job_ids(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker()
                    .getJobIdsForGroup(None))

    def _flush(self, sp: Span | None) -> None:
        """Give ``sp`` the jobs that appeared since the last call
        boundary; with ``sp`` None they are the benchmark's own work
        and are dropped."""
        if self.spark is None:
            return
        new = [j for j in self._job_ids() if j not in self._seen_jobs]
        self._seen_jobs.update(new)
        if sp is not None:
            self._add_jobs(sp, new)

    def add_job_group(self, sp: Span | None, group: str) -> None:
        """Give ``sp`` the jobs of job group ``group``: a streaming
        query runs its batches' jobs in a group named by its run id."""
        if sp is not None:
            tracker = self.spark.sparkContext.statusTracker()
            self._add_jobs(sp, list(tracker.getJobIdsForGroup(group)))

    def _add_jobs(self, sp: Span, new: list[int]) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_q = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        c = sp.counts
        c["jobs"] = c.get("jobs", 0) + len(new)
        for j in new:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                attempts = store.stageData(int(sid), False, None, False, no_q)
                for k in range(attempts.size()):
                    stage = attempts.apply(k)
                    for key, value in STAGE_COUNTS.items():
                        c[key] = c.get(key, 0) + value(stage)

    # ---- aggregation --------------------------------------------------

    def _children(self) -> dict[int, list[Span]]:
        """Per span, its child spans of other layers (a call's own
        builder span is part of its self time)."""
        by_id = {s.id: s for s in self.spans}
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and by_id[s.parent].name != s.name:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def layer_metrics(self, op: str) -> dict[str, dict[str, float]]:
        """Per layer, the summed metrics of its spans in ``op``.
        ``self_s`` is each call's wall minus the union of its
        children's intervals (children of other layers only)."""
        kids = self._children()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.op != op:
                continue
            m = out.setdefault(s.name, dict.fromkeys(CALL_METRICS, 0.0))
            if s.kind == "builder":
                m["builder_s"] += s.end - s.start
                continue
            wall = s.end - s.start
            m["wall_s"] += wall
            m["self_s"] += wall - _covered(
                [(k.start, k.end) for k in kids.get(s.id, [])]
            )
            for key, v in s.counts.items():
                m[key] = m.get(key, 0) + v
        for m in out.values():
            if m["wall_s"] > 0:
                m["busy_frac"] = m["executor_run_s"] / (
                    m["wall_s"] * self.cores
                )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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
