"""In-memory spans for the traced benchmark run.

A span is (id, name, start, end, parent, run id). Spans are recorded
only from the benchmark's own files: around the calls it makes into
the program, and around the program's public functions that the
daemon looks up at call time (``instrument`` swaps a timing wrapper
into the defining module for the length of the run). A layer's self
time is its spans' duration minus the part covered by child spans.

With tracing off every call here is a no-op context, so untraced runs
measure the program alone.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.recording = False
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def active(self, on: bool):
        """Record spans inside this block when ``on`` (and tracing is
        enabled); otherwise the wrappers pass straight through."""
        prev = self.recording
        self.recording = bool(on) and self.enabled
        try:
            yield
        finally:
            self.recording = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "start": time.perf_counter(),
            "end": None, "parent": stack[-1] if stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def instrument(self, targets: dict[str, str]) -> None:
        """Wrap ``module:function`` targets with spans named by the
        dict values. Callers that import the function at call time
        (the daemon does) then run through the wrapper."""
        if not self.enabled:
            return
        for target, name in targets.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patches.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(name, orig))

    def instrument_method(self, obj, attr: str, name: str) -> None:
        if self.enabled:
            setattr(obj, attr, self.wrap(name, getattr(obj, attr)))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    # -- reports -------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of its
        direct children's intervals."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids[s["id"]]):
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
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def layer_self_times(self) -> dict[str, float]:
        """Self time summed per layer (the span-name prefix before the
        first dot)."""
        out: dict[str, float] = defaultdict(float)
        for name, t in self.self_times().items():
            out[name.split(".")[0]] += t
        return dict(out)

    def dump(self, path: str, others: list["Tracer"] = ()) -> None:
        """Write these spans, and those of ``others`` (phases run
        inside this run, each under its own run id), to ``path``."""
        with open(path, "w") as fh:
            json.dump(
                [{"run": t.run_id, "spans": t.spans, "self_s": t.self_times()}
                 for t in (self, *others)],
                fh,
            )


MEASURED_GROUP = "perfbench-measured"


def overhead_ratio(times: list[float]) -> float:
    """Traced runs alternate untraced (even index) and traced (odd)
    passes. Median traced over median untraced, minus 1, leaving out
    the first pass, which is always the slowest (JIT warm-up)."""
    import statistics

    traced, untraced = times[1::2], times[2::2]
    if not traced or not untraced:
        return 0.0
    return statistics.median(traced) / statistics.median(untraced) - 1.0


def parse_event_log(path: str, group: str = MEASURED_GROUP, per: int = 1) -> dict[str, float]:
    """Task totals from a Spark event log, over the jobs run in job
    group ``group`` and divided by ``per`` (the number of measured
    passes): run/CPU/GC time, shuffle bytes, spill, task count, and
    the worst per-stage skew (slowest task over the stage's median
    task, stages of 4+ tasks)."""
    run_ms = cpu_ns = gc_ms = 0.0
    sw = sr = spill = 0.0
    tasks = 0
    per_stage: dict[tuple, list[float]] = defaultdict(list)
    stages: set[int] = set()
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                    stages.update(ev.get("Stage IDs") or [])
                continue
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            if ev.get("Stage ID") not in stages:
                continue
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            tasks += 1
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            per_stage[key].append(float(dur))
    skew = 0.0
    for durs in per_stage.values():
        if len(durs) >= 4:
            durs.sort()
            med = durs[len(durs) // 2]
            if med > 0:
                skew = max(skew, durs[-1] / med)
    mb = 1024.0 * 1024.0 * per
    return {
        "spark.executor_run_s": run_ms / 1000.0 / per,
        "spark.executor_cpu_s": cpu_ns / 1e9 / per,
        "spark.jvm_gc_s": gc_ms / 1000.0 / per,
        "spark.shuffle_write_mb": sw / mb,
        "spark.shuffle_read_mb": sr / mb,
        "spark.spill_mb": spill / mb,
        "spark.tasks": tasks / per,
        "spark.task_skew_max": skew,
    }
