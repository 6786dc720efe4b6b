"""Measurement helpers: percentiles, the process-tree RSS sampler, per-job-group
stage counts from Spark's status tracker, and the output hash used for the
oracle comparison."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time

def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` samples the value is the
    ``n - beyond``-th smallest one (nearest rank); with ``n <= beyond`` the
    maximum stands in and the percentile reads 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    rank = n - beyond  # 1-based
    return xs[rank - 1], round(100.0 * rank / n, 1), n


def timing(values):
    """A timing as the run record stores it: median, tail, percentile, n."""
    value, pct, n = tail(values)
    return {"p50": median(values), "tail": value, "tail_pct": pct, "n": n}


# ----------------------------------------------------------------- RSS


def _children_map():
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants as proportional set
    size: pages shared between processes (forked Python workers share most
    of theirs with their parent) count once in total, not once per process."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples this process tree's resident memory every ``interval``
    seconds in a daemon thread and keeps the high-water mark."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------- Spark status


def group_stage_counts(sc, group: str, timeout: float = 10.0) -> dict:
    """Jobs, executed stages and tasks of one job group, read from the
    status tracker once every job of the group has finished. A stage whose
    output was reused (skipped) completes no task and is not counted."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        done = all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    stages = tasks = 0
    seen = set()
    for job in jobs:
        if job is None:
            continue
        for sid in job.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ---------------------------------------------------------- output hash


def _canon_cell(x):
    """Numeric-class sensitive canonical value: an integer and the same
    number as a float hash differently, as do DECIMAL and DOUBLE."""
    import decimal

    if x is None:
        return None
    if hasattr(x, "item"):
        return _canon_cell(x.item())
    if isinstance(x, bool):
        return ("b", x)
    if isinstance(x, float):
        return ("f", "NaN" if math.isnan(x) else x)
    if isinstance(x, int):
        return ("i", x)
    if isinstance(x, decimal.Decimal):
        return ("d", str(x.normalize()))
    if isinstance(x, (bytes, bytearray)):
        return bytes(x)
    if isinstance(x, (list, tuple)) or type(x).__name__ == "ndarray":
        return tuple(_canon_cell(v) for v in x)
    return x


def result_hash(pdf) -> str:
    """Order-insensitive hash of a pandas result: sorted column names, then
    rows of canonical values in a canonical order."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    rows.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
