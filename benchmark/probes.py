"""Span tracer and peak-memory sampler for the benchmark process."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Spans (name, start, end, parent, run id, counts) around the calls the
    benchmark makes into each layer.  Kept in memory; written at the end.

    When disabled, ``span`` still times its block for the caller but
    records nothing.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"name": name, "start": time.perf_counter(), "end": None, "counts": counts}
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
            return
        rec.update(
            id=len(self.spans),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
        )
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def annotate(self, name: str, **counts) -> None:
        """Add counts to the latest span called ``name``."""
        if self.enabled:
            for s in reversed(self.spans):
                if s["name"] == name:
                    s["counts"].update(counts)
                    return
            raise KeyError("no span named %s" % name)

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        if not d:
            raise KeyError("no span named %s" % name)
        return statistics.median(d)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def children_by_parent() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _resident_kb(pid: int) -> int:
    """Proportional resident set (shared pages split among the processes
    mapping them), so forked Python workers are not counted twice."""
    try:
        with open("/proc/%d/smaps_rollup" % pid) as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # exited between listing and reading
        return 0
    return 0


def tree_resident_mb(root: int) -> float:
    kids = children_by_parent()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _resident_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the resident memory of the Spark JVM and its descendants (the
    Python workers) from /proc on a background thread; keeps the peak."""

    def __init__(self, period_s: float = 0.1):
        self._period = period_s
        self._pid: Optional[int] = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_mb = 0.0

    def start(self, jvm_pid: int) -> None:
        self._pid = jvm_pid
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_resident_mb(self._pid))
            self._stop.wait(self._period)

    def stop(self) -> float:
        self._stop.set()
        if self._pid is not None:
            self._thread.join(timeout=10)
        return self.peak_mb
