"""The benchmark's tracer: it times the engine from the outside only.

* `Py4jCounter` wraps the py4j client's `send_command` and counts the
  round trips the Python client makes to the JVM.
* `StatusReader` reads the JVM's AppStatusStore (jobs and stages) and a
  DataFrame's QueryExecution tracker phases, after the fact.
* `Tracer` keeps spans (name, start, end, parent, operation id) in
  memory and writes them out when the run ends. Pipeline and ledger
  functions are wrapped by name (`wrap_attr`), so a span opens and
  closes around each call the daily pipeline makes.

`split_query` turns one query operation's measurements into four
layers that sum to its wall time exactly: `exec` is the part covered by
job intervals, `catalyst` the part covered by tracker phases outside
jobs, `plans` the rest of the build window, and `fetch` the remainder
(submit plus Arrow fetch), the definition `scripts/floor_profile.py`
uses.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from py4j import protocol


# py4j's "delete this proxy" command, sent when Python garbage-collects
# a JavaObject: its timing follows the Python GC, not the plan
_GC_COMMAND = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


class Py4jCounter:
    """Counts py4j `send_command` calls on the session's gateway client
    while `active` is true, except garbage-collection deletes."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.orig = self.client.send_command
        self.calls = 0
        self.active = True

        def send_command(command, *args, **kwargs):
            if self.active and not command.startswith(_GC_COMMAND):
                self.calls += 1
            return self.orig(command, *args, **kwargs)

        self.client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def remove(self) -> None:
        self.client.send_command = self.orig


def _opt_ms(o):
    return o.get().getTime() if o.isDefined() else None


class StatusReader:
    """Jobs, stages and tracker phases from the JVM, read after an
    operation has finished (reads are not counted as py4j calls)."""

    def __init__(self, spark, counter: Py4jCounter | None = None):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.empty = jvm.java.util.ArrayList()
        self.no_q = self.sc._gateway.new_array(jvm.double, 0)
        self.counter = counter

    def _quiet(self):
        return self.counter.paused() if self.counter else contextlib.nullcontext()

    def max_job_id(self) -> int:
        with self._quiet():
            self.bus.waitUntilEmpty(30_000)
            jl = self.store.jobsList(None)
            return max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)

    def jobs_after(self, job_id: int) -> dict:
        """Jobs with an id above `job_id`, their intervals (epoch ms)
        and the summed metrics of the stages they ran."""
        with self._quiet():
            self.bus.waitUntilEmpty(30_000)
            jl = self.store.jobsList(None)
            jobs, stage_ids = [], set()
            for i in range(jl.size()):
                j = jl.apply(i)
                if j.jobId() <= job_id:
                    continue
                sub, comp = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
                if sub is not None and comp is not None:
                    jobs.append((sub, comp))
                sid = j.stageIds()
                stage_ids.update(sid.apply(k) for k in range(sid.size()))
            out = {"jobs": len(jobs), "intervals": jobs, "stages": 0,
                   "stage_wall_ms": 0, "launch_delay_ms": 0, "task_ms": 0, "gc_ms": 0,
                   "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0}
            if not stage_ids:
                return out
            sl = self.store.stageList(self.empty, False, False, self.no_q, self.empty)
            for i in range(sl.size()):
                s = sl.apply(i)
                if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                    continue
                sub, comp = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
                first = _opt_ms(s.firstTaskLaunchedTime())
                out["stages"] += 1
                if sub is not None and comp is not None:
                    out["stage_wall_ms"] += comp - sub
                if sub is not None and first is not None:
                    out["launch_delay_ms"] += first - sub
                out["task_ms"] += s.executorRunTime()
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            return out

    def phases(self, df) -> dict[str, tuple[int, int]]:
        """Tracker phases of `df`'s QueryExecution: name -> (start, end) ms."""
        with self._quiet():
            it = df._jdf.queryExecution().tracker().phases().iterator()
            out = {}
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
            return out


def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def minus(intervals, cover) -> list[tuple[float, float]]:
    """Parts of `intervals` (disjoint, sorted) not covered by `cover`."""
    out = []
    for a, b in intervals:
        cur = a
        for c, d in cover:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def split_query(t0: float, t1: float, t2: float, phases: dict, jobs: list) -> dict:
    """Self times of one query operation, in seconds, summing to t2 - t0.

    t0..t1 is the plan build, t1..t2 the execution and fetch (epoch
    seconds); `phases` and `jobs` are JVM intervals in epoch ms."""
    exec_cov = union(clip([(a / 1e3, b / 1e3) for a, b in jobs], t0, t2))
    out = {"exec": length(exec_cov)}
    taken = exec_cov
    for name in ("analysis", "optimization", "planning"):
        a, b = phases.get(name, (0, 0))
        own = minus(clip([(a / 1e3, b / 1e3)], t0, t2), taken)
        out[f"catalyst.{name}"] = length(own)
        taken = union(taken + own)
    out["plans"] = length(minus([(t0, t1)], taken))
    out["fetch"] = (t2 - t0) - out["exec"] - out["plans"] - sum(
        out[f"catalyst.{n}"] for n in ("analysis", "optimization", "planning")
    )
    return out


class Tracer:
    """In-memory span log. `span(name)` is a context manager; spans
    nest through a stack, and every span carries the current operation
    id."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self.stack[-1] if self.stack else None, "op": self.op_id, **attrs,
        })
        self.stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx]["end"] = time.time()
            self.stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a finished span measured elsewhere (JVM intervals)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": self.op_id, **attrs})

    def wrap_attr(self, owner, attr: str, span_name: str, label=None) -> None:
        """Replace `owner.attr` with a wrapper that records a span per
        call. `label(args, kwargs)` may return a more specific name."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = (label(args, kwargs) if label else None) or span_name
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def total(self, prefix: str, since: int = 0) -> float:
        """Inclusive seconds of the spans from index `since` on whose
        name starts with `prefix`, not counting a span nested inside
        another such span."""
        tot = 0.0
        for s in self.spans[since:]:
            if not s["name"].startswith(prefix) or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and not self.spans[p]["name"].startswith(prefix):
                p = self.spans[p]["parent"]
            if p is None:
                tot += s["end"] - s["start"]
        return tot

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines, each with its index as `id`."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}, default=str) + "\n")
