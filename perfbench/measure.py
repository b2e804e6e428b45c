"""Timing helpers: spans, percentiles and the process-tree RSS sampler."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from typing import List, Optional, Sequence, Tuple

# Percentiles tried from the top; the first one backed by enough samples
# beyond it is reported.
_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples: Sequence[float], min_beyond: int = 10
                    ) -> Optional[Tuple[float, float]]:
    """(p, value) for the highest percentile p of the ladder that has at
    least `min_beyond` samples above its nearest-rank position, or None
    when even the median lacks them. Failed operations enter as +inf."""
    xs = sorted(samples)
    n = len(xs)
    for p in _LADDER:
        rank = math.ceil(p / 100.0 * n)
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


class Tracer:
    """Spans (name, start, end, parent, query id) kept in memory.

    With a SparkContext, each span also tags the Spark jobs it starts
    with a job group named after the span, so the event log attributes
    task metrics to it; the enclosing span's group is restored on exit.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, qid: Optional[str] = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": 0.0, "end": 0.0,
               "parent": parent, "qid": qid}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    up = self.spans[parent]["name"]
                    self.sc.setJobGroup(up, up)

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def write(self, path: str) -> None:
        """One JSON object per span, in start order."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps(dict(s, id=i)) + "\n")


def _children() -> dict:
    """pid → [child pids] for every process visible in /proc."""
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> List[int]:
    """Every live process below `root`."""
    kids, out, todo = _children(), [], [root]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of `root` and all its descendants.

    A JVM launches programs with posix_spawn: until the exec, the child
    shares the JVM's memory and reports the JVM's whole RSS again. Such
    a child, a java process whose parent runs the same java binary, is
    skipped, so a launch caught midway does not count the JVM twice.
    """
    kids = _children()
    total, todo = 0, [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        todo.extend((c, exe) for c in kids.get(pid, ()))
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread recording the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
