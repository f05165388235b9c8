"""Layer tracing from outside the program.

:class:`Tracer` wraps the public functions of the service, engine, rollup
ladder, operators and store modules with span recorders. A span holds its
name, start, end, parent span and call id; spans stay in memory until the
run ends. A call id is opened by each ``BTrDBService.rpc_*`` handler and
stays current on its handler thread until the next handler starts there, so
the response-streaming spans that run after the handler returned still
belong to their call.

Spark's own work is read from the event log written in traced runs
(:func:`read_event_log`); with one client, calls never overlap, so each job
belongs to the call whose time interval contains its submission.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
import types
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    call: int | None
    sid: int


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by its direct
    children (overlapping children are merged, so a covered instant is
    subtracted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s.sid, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans around the wrapped functions while ``enabled`` is set.
    ``install`` replaces the layer boundaries in place for the rest of the
    process, so it is called once, in the traced run only."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._calls = 0

    # ---- span bookkeeping ----

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, root: bool) -> tuple[int, int | None, int | None]:
        with self._lock:
            sid = self._next
            self._next += 1
            if root:
                self._calls += 1
                self._local.call = self._calls
        st = self._stack()
        parent = st[-1] if st else None
        st.append(sid)
        return sid, parent, getattr(self._local, "call", None)

    def _close(self, name: str, sid: int, parent, call, start: float) -> None:
        end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(name, start, end, parent, call, sid))

    def span(self, name: str, fn, root: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid, parent, call = tracer._open(root)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(name, sid, parent, call, start)

        return wrapper

    def gen_span(self, name: str, fn):
        """Wrap a generator function, recording the time inside each
        ``next`` as one span."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            it = fn(*args, **kwargs)
            if not tracer.enabled:
                yield from it
                return
            while True:
                sid, parent, call = tracer._open(False)
                start = time.time()
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    tracer._close(name, sid, parent, call, start)
                yield item

        return wrapper

    def patch(self, owner, attr: str, name: str, root: bool = False, gen: bool = False) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self.gen_span(name, orig) if gen else self.span(name, orig, root=root))

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from btrdb_spark import engine, service, store
        from btrdb_spark.operators import changes, raw, windows
        from btrdb_spark.plans import rollup

        for attr in [a for a in vars(service.BTrDBService) if a.startswith("rpc_")]:
            self.patch(service.BTrDBService, attr, f"service.{attr}", root=True)
        self.patch(service, "_batches", "service.fetch", gen=True)
        # the response chunks are JSON-encoded inside the handler class that
        # start() builds, so encoding is timed at the service module's json
        service.json = types.SimpleNamespace(
            dumps=self.span("service.encode", json.dumps), loads=json.loads)
        for attr in ("raw_values", "aligned_windows", "windows", "changed_ranges", "nearest",
                     "stream_version", "insert", "flush"):
            self.patch(engine.BTrDBEngine, attr, f"engine.{attr}")
        for attr in ("aligned_windows", "windows", "aligned_partials", "ingest_batch"):
            self.patch(rollup.RollupLadder, attr, f"rollup.{attr}")
        for mod, attrs in ((raw, ("raw_values", "nearest_all")),
                           (windows, ("aligned_windows", "windows")),
                           (changes, ("changed_ranges",))):
            for attr in attrs:
                self.patch(mod, attr, f"operators.{attr}")
        backend = type(store.DEFAULT)
        for attr in ("publish", "resolve"):
            self.patch(backend, attr, f"store.{attr}")
        for attr in ("bump_stamp", "parquet_signature"):
            self.patch(store, attr, f"store.{attr}")

# --------------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the run: [{id, submit, end, stages, tasks, run_ms, gc_ms,
    sched_ms, shuffle_bytes, spill_bytes}] with times in unix seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"], "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": len(ev.get("Stage IDs", [])), "tasks": 0,
                        "run_ms": 0.0, "gc_ms": 0.0, "sched_ms": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = j["id"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    info = ev["Task Info"]
                    dur = info["Finish Time"] - info["Launch Time"]
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["sched_ms"] += max(0, dur - m.get("Executor Run Time", 0)
                                         - m.get("Executor Deserialize Time", 0)
                                         - m.get("Result Serialization Time", 0)
                                         - info.get("Getting Result Time", 0))
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    j["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                           + sw.get("Shuffle Bytes Written", 0))
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j["id"])
