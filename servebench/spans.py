"""Spans, Spark job accounting and host probes for the benchmark.

Tracing is done from the benchmark's side of each layer boundary: the
traced run replaces a layer's public function, in the namespace its
caller looks it up from, with a wrapper that records a span around the
original call.  Spans (name, start, end, parent, op id) stay in memory
and are written out when the run ends.  The untraced run installs no
wrapper at all.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# layer of each traced span name, for the per-layer self time
LAYER_OF = {
    "socket.request": "socket", "socket.respond_line": "socket",
    "lifecycle.response_json": "lifecycle", "lifecycle.search": "lifecycle",
    "query_parser.parse_input": "query_parser",
    "query.embed_queries": "query", "query.topk_plan": "query",
    "spark.action": "spark",
}


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    patches nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: dict[str, int] = {}      # op id → root span id
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Span around the block.  Nested spans on the same thread take
        the enclosing span as parent; a span opened with ``op`` on a
        thread with no open span is parented to that op's root span
        (the client-side span of a socket request)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent, op = stack[-1]["id"], op or stack[-1]["op"]
        else:
            parent = self._roots.get(op)
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "op": op, "start": time.perf_counter(), "end": None}
        if parent is None and op is not None:
            self._roots[op] = rec["id"]
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def replace(self, namespace, attr: str, fn) -> None:
        """Set ``namespace.attr = fn`` until :meth:`unpatch`."""
        self._restore.append((namespace, attr, getattr(namespace, attr)))
        setattr(namespace, attr, fn)

    def wrap(self, namespace, attr: str, name: str) -> None:
        """Record a ``name`` span around every call of
        ``namespace.attr`` made through that namespace."""
        if not self.enabled:
            return
        orig = getattr(namespace, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self.replace(namespace, attr, traced)

    def unpatch(self) -> None:
        for namespace, attr, orig in reversed(self._restore):
            setattr(namespace, attr, orig)
        self._restore.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ---- aggregation ------------------------------------------------
    def per_op(self, name: str, ops: list[str]) -> float:
        """Median over ``ops`` of the summed duration of ``name`` spans
        in each op (0.0 when no op ran one)."""
        tot = {o: 0.0 for o in ops}
        for s in self.spans:
            if s["name"] == name and s["op"] in tot:
                tot[s["op"]] += s["end"] - s["start"]
        return statistics.median(tot.values()) if tot else 0.0

    def self_time(self, ops: list[str]) -> dict[str, float]:
        """Median over ``ops`` of each layer's self time: its spans'
        durations minus the part covered by their child spans."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        per = {layer: {o: 0.0 for o in ops} for layer in set(LAYER_OF.values())}
        for s in self.spans:
            layer = LAYER_OF.get(s["name"])
            if layer and s["op"] in per[layer]:
                own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
                per[layer][s["op"]] += max(own, 0.0)
        return {layer: (statistics.median(v.values()) if v else 0.0)
                for layer, v in per.items()}

    def first(self, name: str, op: str) -> dict | None:
        return next((s for s in self.spans
                     if s["name"] == name and s["op"] == op), None)


class JobGroups:
    """Spark job group per operation, counted afterwards through
    ``SparkContext.statusTracker()``.  Inactive unless tracing."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled

    @contextmanager
    def op(self, op_id: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, ops: list[str]) -> dict[str, float]:
        """Per-op medians of jobs, executed stages and tasks, plus the
        total of failed tasks."""
        tracker = self.sc.statusTracker()
        jobs, stages, tasks, failed = [], [], [], 0
        for o in ops:
            jids = tracker.getJobIdsForGroup(o)
            n_st = n_tk = 0
            for j in jids:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue           # skipped (reused) stage
                    n_st += 1
                    n_tk += st.numCompletedTasks
                    failed += st.numFailedTasks
            jobs.append(len(jids))
            stages.append(n_st)
            tasks.append(n_tk)
        med = lambda v: float(statistics.median(v)) if v else 0.0  # noqa: E731
        return {"spark.jobs_per_op": med(jobs),
                "spark.stages_per_op": med(stages),
                "spark.tasks_per_op": med(tasks),
                "spark.failed_tasks": float(failed)}


# ---- host probes (/proc) ----------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is `state`
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[str]:
    """Live processes of session ``sid``: this run's Python process, the
    JVM and its Python workers."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None and int(f[3]) == sid and f[0] != "Z":
                out.append(pid)
    return out


def session_cpu(sid: int) -> float:
    """CPU seconds used so far by the live processes of session ``sid``."""
    total = 0.0
    for pid in session_pids(sid):
        f = _stat_fields(pid)
        if f is not None:
            total += (int(f[11]) + int(f[12])) / _TICK
    return total


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far.  Steal is time a
    virtual CPU was ready but the hypervisor ran something else: a
    shared host taking cycles away shows here."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def session_pss(sid: int) -> int:
    """Proportional set size, in bytes, summed over session ``sid``.
    PSS splits pages shared between forked Python workers among them,
    so the sum does not count shared pages once per worker as an RSS
    sum would."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemSampler:
    """Peak summed PSS of a session, sampled on a background thread.
    Once a second: each sample walks the JVM's page tables while
    holding the interpreter lock the measured clients also need."""

    def __init__(self, sid: int, every: float = 1.0):
        self.sid, self.every, self.peak = sid, every, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, session_pss(self.sid))
            self._stop.wait(self.every)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def canary(spark) -> dict:
    """Fixed-cost host canaries: a pure-Python loop and a tiny Spark
    job.  A contended host shows as values far above an idle run's."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * 31 + 7
    t1 = time.perf_counter()
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return {"canary_py_s": t1 - t0, "canary_spark_s": t2 - t1,
            "loadavg": list(os.getloadavg())}
