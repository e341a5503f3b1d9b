"""Measurement plumbing: engine counters, spans, process memory.

``SparkCounters`` reads cumulative engine work from the status store
by job id (job and stage ids only ever grow, so a delta between two
readings is exactly the work launched in between). ``Tracer`` records
one span per wrapped call with the counter delta at the same
boundary. Nothing here changes what the engine does: counters are
read from the driver's status store after the listener bus drains.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

COUNTER_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)


class SparkCounters:
    """Cumulative jobs/stages/tasks/shuffle/spill/run-time counters for
    one SparkContext, read incrementally from its status store."""

    def __init__(self, spark) -> None:
        jsc = spark._jsparkSession.sparkContext()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self._totals = dict.fromkeys(COUNTER_FIELDS, 0)
        self._lock = threading.Lock()
        self.read_s = 0.0  # time spent reading: the tracer's own cost
        # start counting from "now": earlier jobs are not ours
        with self._lock:
            self._advance(count=False)

    def _advance(self, count: bool = True) -> None:
        self._bus.waitUntilEmpty()
        # ids below the scheduler's next job id are submitted jobs; a
        # lookup past it would cost a Java exception per reading
        frontier = int(self._dag.nextJobId())
        while self._next_job < frontier:
            try:
                job = self._store.job(self._next_job)
            except Exception:  # submitted, not yet posted to the store
                return
            if str(job.status().toString()) == "RUNNING":
                return  # read it once it has finished
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                if not count:
                    continue
                s = self._store.lastStageAttempt(sid)
                if str(s.status().toString()) == "SKIPPED":
                    continue  # a reused exchange did no work
                t = self._totals
                t["stages"] += 1
                t["tasks"] += int(s.numCompleteTasks())
                t["shuffle_read_bytes"] += int(s.shuffleReadBytes())
                t["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
                t["spill_bytes"] += int(s.memoryBytesSpilled()) + int(
                    s.diskBytesSpilled()
                )
                t["executor_run_s"] += int(s.executorRunTime()) / 1000.0
                t["gc_s"] += int(s.jvmGcTime()) / 1000.0
            if count:
                self._totals["jobs"] += 1
            self._next_job += 1

    def read(self) -> dict:
        t0 = time.perf_counter()
        with self._lock:
            self._advance()
            out = dict(self._totals)
        self.read_s += time.perf_counter() - t0
        return out


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for a
    DataFrame that has been executed."""
    total = 0
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        total += int(it.next()._2().durationMs())
    return total / 1000.0


class Tracer:
    """In-memory spans: name, start, end, parent and operation id, plus
    the engine-counter delta across the span. ``enabled=False`` makes
    every span a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self._counters: SparkCounters | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._op = 0
        self.book_s = 0.0  # span bookkeeping outside counter reads
        self.phase = "setup"

    def attach(self, counters: SparkCounters | None) -> None:
        """Count engine work at span boundaries from now on."""
        self._counters = counters

    def new_op(self) -> int:
        self._op += 1
        return self._op

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        stack = self._stack()
        # a span opened on a callback thread (foreachBatch) belongs to
        # whatever the main thread is blocked in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": self._op, "phase": self.phase, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        c0 = self._counters.read() if self._counters else {}
        rec["start"] = time.perf_counter()
        self.book_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            c1 = self._counters.read() if self._counters else {}
            rec["counts"] = {k: c1[k] - c0[k] for k in c1}
            stack.pop()
            self.book_s += time.perf_counter() - rec["end"]

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def overhead_s(self) -> float:
        reads = self._counters.read_s if self._counters else 0.0
        return reads + self.book_s

    # -- reporting -------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children on one thread never overlap; a callback-thread
        child runs while its parent is blocked waiting for it)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans if "start" in s), default=0.0)
        spans = [
            {**s, "start": s.get("start", t0) - t0, "end": s.get("end", t0) - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": spans},
                      f, indent=1)


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the driver JVM and its Python
    workers), from the parent links in ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: list[int] = []
    todo = list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and all
    its live descendants: the driver JVM and its Python workers."""
    total_kb = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
