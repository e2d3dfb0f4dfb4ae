"""In-memory spans around calls into the program's layers, plus the Spark
event-log reader.

A span records its name, start, end, parent span and the operation it
belongs to. Spans live in a list until the run ends and are then written
out as JSON. With tracing off, :meth:`Tracer.span` is a no-op context and
no module attribute is wrapped, so end-to-end numbers carry no tracing
cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, op_id: int):
        """Mark every span opened on this thread as part of operation
        ``op_id`` until the block ends."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "op": getattr(self._local, "op", None),
                   "thread": threading.get_ident()}
            rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``module.attr`` by a wrapper that records a span around
        each call, the way callers inside the program look it up.
        ``attrs_of(*args, **kwargs)`` may add attributes to the span."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._restore):
            setattr(module, attr, fn)
        self._restore.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (children of one span run on its thread, so their
    intervals are disjoint or nested; the union is taken anyway)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_cost_s(samples: int = 20_000) -> float:
    """Measured bookkeeping cost of one span on this machine."""
    t = Tracer(True)
    start = time.perf_counter()
    for _ in range(samples):
        with t.span("x"):
            pass
    return (time.perf_counter() - start) / samples


# --- Spark event log ---------------------------------------------------------


def event_log_args(log_dir: str) -> list[str]:
    """spark-submit flags that turn the event log on for one run."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
    ]


def read_event_log(log_dir: str, t_lo: float, t_hi: float) -> dict:
    """Task and job totals from the Spark event log for jobs submitted and
    tasks finished inside the wall-clock window [t_lo, t_hi] (epoch s)."""
    lo_ms, hi_ms = t_lo * 1000.0, t_hi * 1000.0
    tot = {"tasks": 0, "jobs": 0, "run_ms": 0.0, "gc_ms": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    # Spark 4 writes the v2 layout: one directory per application holding
    # rolled ``events_<n>_<app>`` files
    paths = sorted(os.path.join(d, f) for d, _dirs, files in os.walk(log_dir) for f in files)
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    fin = ev.get("Task Info", {}).get("Finish Time", 0)
                    if not lo_ms <= fin <= hi_ms:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if lo_ms <= ev.get("Submission Time", 0) <= hi_ms:
                        tot["jobs"] += 1
    return tot
