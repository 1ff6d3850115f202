"""In-memory spans, layer wrappers and Spark event-log attribution.

Spans are recorded by the benchmark around calls into public functions of
the program; nothing inside the program is modified. :meth:`Tracer.wrap`
replaces a module or class attribute for the duration of a traced run, so
the program's own calls through that attribute land in a child span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float          # perf_counter seconds
    end: float = 0.0
    cpu_s: float = 0.0    # program CPU seconds (driver + JVM) meanwhile

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - union_length(kids.get(s.id, [])) for s in spans}


@dataclass
class Tracer:
    """Span recorder. Always records the spans the benchmark opens itself
    (they are its timings); ``layers`` additionally turns on the wrappers
    around the program's internal layer functions."""

    layers: bool = False
    #: returns CPU seconds consumed so far by the processes under test
    cpu_clock: object = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    #: perf_counter -> epoch seconds, for aligning with the Spark event log
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list = field(default_factory=list)
    #: the open spans of the client thread, the one that built the tracer
    _client: list[Span] = field(default_factory=list)
    _client_tid: int = field(default_factory=threading.get_ident)

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client_tid:
            return self._client
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened in a pool thread the program started (parallel
        # stages) belongs under the client's innermost open span
        parent = stack[-1] if stack else (self._client[-1] if self._client else None)
        with self._lock:
            rec = Span(len(self.spans), name, parent.id if parent else None,
                       time.perf_counter())
            self.spans.append(rec)
        stack.append(rec)
        cpu0 = self.cpu_clock() if self.cpu_clock else 0.0
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if self.cpu_clock:
                rec.cpu_s = self.cpu_clock() - cpu0
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str) -> None:
        """Route ``owner.attr`` calls through a span named ``name``."""
        original = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the vault's internal layers at the module attributes the flow
    executor calls them through (``runinfo.probe_ledger``, ``hub.load_hubs``
    ...), and count metadata-cache calls and the collects behind misses."""
    from mallarddv_spark.flow import runinfo
    from mallarddv_spark.operators import hashview, hub, link, satellite
    from mallarddv_spark.plans import model
    from mallarddv_spark.sources import readers

    tracer.wrap(runinfo, "probe_ledger", "flow.runinfo.probe_ledger")
    tracer.wrap(runinfo, "write_ledger_rows", "flow.runinfo.write_ledger")
    tracer.wrap(readers, "load_file_to_staging", "sources.readers.load_staging")
    tracer.wrap(hashview, "create_hash_view", "operators.hashview.create")
    tracer.wrap(hub, "load_hubs", "operators.hub.load")
    tracer.wrap(link, "load_links", "operators.link.load")
    tracer.wrap(satellite, "load_sats", "operators.satellite.load")

    for attr, cache_slot in (("table_columns", "_columns"),
                             ("transitions", "_transitions")):
        original = getattr(model.MetadataCache, attr)

        def counted(self, *args, _orig=original, _slot=cache_slot, **kwargs):
            tracer.count("plans.model.calls")
            if getattr(self, _slot) is None:
                tracer.count("plans.model.collects")
            return _orig(self, *args, **kwargs)

        setattr(model.MetadataCache, attr, counted)
        tracer._patched.append((model.MetadataCache, attr, original))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class EventLog:
    jobs: list[tuple[float, float, int]]   # (submit, end) epoch s, task count
    tasks: list[dict]                      # launch/finish epoch s + metrics


def read_event_log(directory: str) -> EventLog:
    """Parse every (uncompressed) event-log file under ``directory``."""
    starts: dict[int, tuple[float, int]] = {}
    jobs, tasks = [], []
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(directory)
                   for n in names if not n.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    n = sum(st.get("Number of Tasks", 0) for st in ev.get("Stage Infos", []))
                    starts[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, n)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    s, n = starts.pop(ev["Job ID"])
                    jobs.append((s, ev["Completion Time"] / 1000.0, n))
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    tasks.append({
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return EventLog(jobs, tasks)


def attribute_jobs(log: EventLog, windows: list[tuple[float, float]], nproc: int) -> dict:
    """Spark work inside the given epoch windows (one per flow): jobs and
    tasks per window, the driver gap between jobs, executor CPU use, shuffle
    bytes written and bytes spilled."""
    from statistics import median

    if not windows:
        return {}
    n_jobs, n_tasks, gaps = [], [], []
    cpu = shuffle = spill = 0.0
    for ws, we in windows:
        inside = [(s, e, n) for s, e, n in log.jobs if ws <= s < we]
        n_jobs.append(len(inside))
        n_tasks.append(sum(n for _, _, n in inside))
        covered = union_length([(max(s, ws), min(e, we)) for s, e, _ in inside])
        gaps.append(max(0.0, (we - ws) - covered))
    for t in log.tasks:
        if any(ws <= t["launch"] < we for ws, we in windows):
            cpu += t["cpu_s"]
            shuffle += t["shuffle_write"]
            spill += t["spill"]
    busy = sum(we - ws for ws, we in windows)
    return {
        "jobs_per_flow": sum(n_jobs) / len(windows),
        "tasks_per_flow": sum(n_tasks) / len(windows),
        "job_gap_s": median(gaps),
        "executor_cpu_util": cpu / (busy * nproc) if busy else 0.0,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
    }
