"""Spark-free helpers of the engine benchmark: percentiles, spans, the /proc
RSS reader and file -> micro-batch latency attribution from a streaming
checkpoint. Kept free of pyspark so ``test_helpers.py`` runs without a JVM.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# candidate tail percentiles, highest first, and the samples a tail needs
# beyond it
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values):
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond
    it, as ``(p, value)``, or None when even the median has fewer.

    A sample count of n leaves n * (1 - p/100) samples beyond the p-th
    percentile, so p90 needs 100 samples and p99 needs 1000."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        # rounded: 100 - 99.9 is not exactly 0.1 in binary
        if round(n * (100.0 - p), 6) >= MIN_BEYOND * 100:
            return p, percentile(values, p)
    return None


def summarize(values) -> dict:
    """Median plus the tail percentile rule above, with the sample count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = percentile(values, 50.0)
        tail = tail_percentile(values)
        if tail:
            out["tail_pct"], out["tail"] = tail
    return out


def median_or(values, default: float = 0.0) -> float:
    return statistics.median(values) if values else default


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory span recorder. Each span has an id, a name, start and end
    (seconds, ``time.time`` clock) and the id of the span that caused it:
    the innermost open span of the calling thread.

    A disabled tracer records nothing and costs one attribute test per
    span, so the untraced runs go through the same code."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured by another process, without a parent."""
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "name": name, "parent": None, "start": start, "end": end, **attrs})

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


def self_times(spans) -> dict:
    """span id -> its duration minus the part of it its children cover
    (children clipped to the parent's interval; overlapping children are
    counted once)."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


# --------------------------------------------------------------------------
# /proc


def _stat_fields(proc: str, pid: int):
    with open(os.path.join(proc, str(pid), "stat")) as fh:
        raw = fh.read()
    # comm sits in parentheses and may itself contain spaces or ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return comm, int(rest[1])  # rest[0] is the state, rest[1] the ppid


def descendants(pid: int, proc: str = "/proc") -> list[tuple[int, str]]:
    """(pid, comm) of every live descendant of `pid`."""
    children: dict = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            comm, ppid = _stat_fields(proc, int(name))
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked, or not a process entry
        children.setdefault(ppid, []).append((int(name), comm))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def hwm_kb(pid: int, proc: str = "/proc") -> int:
    """Peak RSS of one process: ``VmHWM`` of /proc/<pid>/status, in kB."""
    with open(os.path.join(proc, str(pid), "status")) as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise KeyError(f"VmHWM not in /proc/{pid}/status")


def peak_rss_mb(pid: int | None = None, proc: str = "/proc") -> float:
    """Peak RSS of the process plus its descendant ``java`` processes (the
    JVM Spark runs in), as the sum of each process's VmHWM in MB."""
    pid = os.getpid() if pid is None else pid
    kb = hwm_kb(pid, proc)
    for cpid, comm in descendants(pid, proc):
        if comm == "java":
            try:
                kb += hwm_kb(cpid, proc)
            except OSError:
                pass  # the child exited between listing and reading
    return kb / 1024.0


# --------------------------------------------------------------------------
# streaming checkpoint: which micro-batch read a file, and when it committed


def _log_entries(path: str):
    """JSON entries of one metadata-log file (first line is the version)."""
    with open(path) as fh:
        lines = fh.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]


def file_batches(checkpoint: str) -> dict[str, list[int]]:
    """file basename -> batch ids that read it, from the (only) file
    source's log: ``sources/0/<batch>`` plus the ``<batch>.compact`` files
    that fold earlier batches in."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    seen: dict[str, set] = {}
    if os.path.isdir(log_dir):
        for name in os.listdir(log_dir):
            if name.startswith(".") or not name.split(".")[0].isdigit():
                continue
            for e in _log_entries(os.path.join(log_dir, name)):
                base = e["path"].rstrip("/").rsplit("/", 1)[-1]
                seen.setdefault(base, set()).add(int(e["batchId"]))
    return {k: sorted(v) for k, v in seen.items()}


def commit_times(checkpoint: str) -> dict[int, float]:
    """batch id -> commit time (mtime of ``commits/<batch>``, seconds)."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def file_latencies(due: dict[str, float], checkpoint: str) -> dict:
    """Attribute each offered file to the micro-batch that read it.

    `due` maps file basename -> the time it was due to be offered. Returns
    ``latency_ms`` (file -> due-to-commit ms, committed files only),
    ``uncommitted`` (offered, never read by a committed batch) and
    ``duplicated`` (read by more than one batch)."""
    batches = file_batches(checkpoint)
    commits = commit_times(checkpoint)
    lat, missing, dup = {}, [], []
    for name, t_due in due.items():
        ids = [b for b in batches.get(name, []) if b in commits]
        if not ids:
            missing.append(name)
            continue
        if len(batches[name]) > 1:
            dup.append(name)
        lat[name] = (commits[ids[0]] - t_due) * 1000.0
    return {"latency_ms": lat, "uncommitted": sorted(missing), "duplicated": sorted(dup)}


def backlog_max(delivered: dict[str, float], checkpoint: str) -> int:
    """Most files offered but not yet committed at any instant."""
    batches = file_batches(checkpoint)
    commits = commit_times(checkpoint)
    events = [(t, 1) for t in delivered.values()]
    for name in delivered:
        ids = [b for b in batches.get(name, []) if b in commits]
        if ids:
            events.append((commits[ids[0]], -1))
    level = peak = 0
    for _, step in sorted(events):  # a commit at the same instant drains first
        level += step
        peak = max(peak, level)
    return peak
