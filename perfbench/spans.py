"""In-memory spans and counts for the traced benchmark run.

Spans are recorded around calls into the crawl engine's layers from the
benchmark's own code; nothing here reaches inside the package.  A span is
(name, start, end, parent, run id).  Self time is a span's duration minus
the part of its interval covered by its children.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, covered_to = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > covered_to:
            total += end - max(start, covered_to)
            covered_to = end
    return total


class Tracer:
    """Spans and counts of one benchmark process, written out at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None) -> int:
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name,
                               "start": start, "end": end, "parent": parent,
                               "run": self.run_id})
            return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the body; yields the span's id, for children to name."""
        sid = self.add(name, time.perf_counter(), None, parent)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.perf_counter()

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def self_time(self, span_id: int) -> float:
        s = self.spans[span_id]
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in self.spans if c["parent"] == span_id]
        kids = [(a, b) for a, b in kids if b > a]
        return (s["end"] - s["start"]) - union_seconds(kids)

    def self_times_by_name(self, prefixes: tuple[str, ...]) -> dict:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"].startswith(prefixes):
                out[s["name"]] = out.get(s["name"], 0.0) + \
                    self.self_time(s["id"])
        return out

    def write(self, path: str, prefixes: tuple[str, ...]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counts": self.counts,
                       "self_s": self.self_times_by_name(prefixes)},
                      f, indent=1)


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and the
    Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in tree_pids(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def job_stats(sc, group: str) -> dict:
    """Jobs, completed tasks and failed tasks of one job group, read from
    the status tracker after the group's jobs finished."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
