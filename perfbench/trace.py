"""In-memory spans around calls into the program's layers.

A span records name, start, end, parent span and run id, plus the ids
of the Spark jobs it started itself. Each span sets its own job group
on its thread for as long as it is open (PySpark pins every Python
thread to one JVM thread, so the group is per thread), and reads the
group's jobs from the status tracker when it closes. Jobs another thread
starts meanwhile do not count. Spans are kept in memory and written
once, when the run ends. Wrappers are installed on
module or class attributes (``Tracer.patch``) and removed by
``Tracer.unpatch_all``; nothing inside the package is edited.

Parents are tracked per thread. A span opened on a thread that has no
open span (the CDC runner's prepare thread, Spark's streaming batch
thread) takes the innermost span the harness opened as its parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


GROUP_KEY = "spark.jobGroup.id"


class JobClock:
    """Spark job and task counters read from the driver."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        self._bus = self._sc._jsc.sc().listenerBus()

    def jobs(self) -> int:
        """Jobs submitted since the context started (the next job id)."""
        return int(self._dag.nextJobId())

    def set_group(self, group: str | None) -> str | None:
        """Set this thread's job group; return the one it replaces."""
        prev = self._sc.getLocalProperty(GROUP_KEY)
        self._sc.setLocalProperty(GROUP_KEY, group)
        return prev

    def group_jobs(self, group: str) -> list[int]:
        """Ids of the jobs started in ``group``. The status tracker learns
        of a job through the listener bus, so drain the bus first."""
        self._bus.waitUntilEmpty()
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def tasks(self, job_ids) -> tuple[int, int]:
        """(completed, failed) tasks of the jobs ``job_ids``."""
        tracker = self._sc.statusTracker()
        done = failed = 0
        seen: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                if s in seen:
                    continue
                seen.add(s)
                st = tracker.getStageInfo(s)
                if st is not None:
                    done += st.numCompletedTasks
                    failed += st.numFailedTasks
        return done, failed


class Tracer:
    def __init__(self, run_id: str, clock: JobClock):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._harness_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, harness: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else (self._harness_stack[-1] if self._harness_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                   "thread": threading.current_thread().name}
            self.spans.append(rec)
        stack.append(sid)
        if harness:
            self._harness_stack.append(sid)
        group = f"{self.run_id}/span-{sid}"
        prev = self.clock.set_group(group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.clock.set_group(prev)
            rec["job_ids"] = self.clock.group_jobs(group)
            stack.pop()
            if harness:
                self._harness_stack.pop()

    def calibrate(self, n: int = 200) -> float:
        """Mean seconds one empty span costs. Call before any other
        span is recorded: the calibration spans are dropped."""
        t = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        cost = (time.perf_counter() - t) / n
        self.spans.clear()
        return cost

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ results
    def closed(self) -> list[dict]:
        return [s for s in self.spans if "end" in s]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its child spans cover."""
        spans = self.closed()
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def job_ids(self, span: dict) -> list[int]:
        """Jobs a span started itself or through its child spans."""
        kids: dict[int, list[dict]] = {}
        for s in self.closed():
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out += s["job_ids"]
            todo += kids.get(s["id"], [])
        return sorted(out)

    def totals(self, name: str) -> tuple[float, int, int]:
        """(summed seconds, summed jobs, calls) of spans called ``name``."""
        ss = [s for s in self.closed() if s["name"] == name]
        return sum(s["end"] - s["start"] for s in ss), sum(len(self.job_ids(s)) for s in ss), len(ss)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed() if s["name"] == name]

    def job_counts(self, name: str) -> list[int]:
        return [len(self.job_ids(s)) for s in self.closed() if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.closed(), **extra}, fh)
