"""Benchmark-side tracing: in-memory spans, captured stage timers, and a
peak-memory sampler over the Spark driver's process tree.

Spans are recorded only around calls the benchmark makes into the program's
public functions (no instrumentation inside the program). A span is
(id, parent, name, start, end, attrs); one traced unit shares a trace id.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans in memory; `dump` writes them out once, at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": self._trace,
            "name": name,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.perf_counter(), float("nan"), **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it that its children cover."""
        kids = sorted(
            (max(c["start"], rec["start"]), min(c["end"], rec["end"]))
            for c in self.spans
            if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


class StageCapture(logging.Handler):
    """Turns run_pipeline's log records into spans under the current span:
    `stage_timer` "done" records (stage + wall_sec) become child spans, and
    the "resume" record's pending-part count is kept on the tracer."""

    def __init__(self, tracer: Tracer):
        super().__init__(logging.INFO)
        self.tracer = tracer
        self.parts_pending: int | None = None

    def emit(self, record: logging.LogRecord) -> None:
        event = getattr(record, "event", None)
        if event == "resume":
            self.parts_pending = int(record.parts)
        elif event == "done" and getattr(record, "stage", None):
            # emitted synchronously by stage_timer as the stage ends
            end = time.perf_counter()
            self.tracer.add(record.stage, end - float(record.wall_sec), end)

    @contextmanager
    def attached(self, logger_name: str = "datasmith_spark"):
        logger = logging.getLogger(logger_name)
        logger.addHandler(self)
        try:
            yield self
        finally:
            logger.removeHandler(self)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(pid: int) -> list[tuple[int, int]]:
    """(descendant, its parent) for every descendant of pid."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def descendants(pid: int) -> list[int]:
    return [c for c, _ in _tree(pid)]


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""  # exited, or between fork and exec


def _rss_bytes(pid: int) -> int:
    # statm is O(1) to read; smaps_rollup (PSS) walks the whole address space
    # under the target's mmap lock, ~40-60 ms per read of a 4g JVM, which
    # would perturb the run it measures
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0  # exited while sampling


def tree_rss_bytes(pid: int) -> int:
    """Summed resident memory of the JVM and the Python processes among pid's
    descendants. Other descendants are skipped: the helpers the JVM spawns
    (jspawnhelper) show the JVM's whole address space until they exec, which
    would count a second JVM heap, and they end within milliseconds."""
    total = 0
    for c, parent in _tree(pid):
        name = _exe(c)
        if name.startswith("python") or (name == "java" and _exe(parent) != "java"):
            total += _rss_bytes(c)
    return total


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark JVM and
    the Python workers it forks): summed RSS (tree_rss_bytes), sampled from
    /proc on a thread. Pages the forked workers share copy-on-write count
    once per process."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0  # since the last cut()
        self.unit_peaks: list[int] = []
        self._lock = threading.Lock()  # peak_bytes: sampler thread vs cut()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = tree_rss_bytes(me)
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def cut(self) -> None:
        """Close the current unit's window: keep its peak, start a new one."""
        with self._lock:
            self.unit_peaks.append(self.peak_bytes)
            self.peak_bytes = 0

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
