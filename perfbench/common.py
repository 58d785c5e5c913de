"""Shared benchmark machinery: percentiles, span tracing, process
memory, the Spark event-log reader and the commit watcher that times
when ingested data becomes visible."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]); the same
    definition as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_sha(root: str) -> str:
    """HEAD of the checkout, read from .git without running git;
    "unknown" when the checkout is not a repository."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


# ----------------------------------------------------------------------
# tracing
# ----------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id). Spans nest
    per thread; ``dump`` writes them as JSON with each span's self time
    (duration minus the part covered by its children)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, trace_id=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id if trace_id is not None else (parent["trace"] if parent else None),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]

    def with_self_time(self) -> list[dict]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append(dict(s, self=(s["end"] - s["start"]) - covered))
        return out

    def dump(self, path: str) -> None:
        spans = self.with_self_time()
        summary: dict[str, dict] = {}
        for s in spans:
            agg = summary.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["self"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": spans}, f)


class NullTracer(Tracer):
    """Tracing off: spans cost one context-manager entry and record
    nothing."""

    @contextlib.contextmanager
    def span(self, name: str, trace_id=None):
        yield None


def wrap_function(owner, attr: str, tracer: Tracer, span_name: str, after=None):
    """Replace ``owner.attr`` by a traced wrapper; returns an undo
    callable. ``after(result, args, kwargs)`` runs once the span has
    closed, so its own cost stays out of the span."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            result = orig(*args, **kwargs)
        if after is not None:
            after(result, args, kwargs)
        return result

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


# ----------------------------------------------------------------------
# visibility timing
# ----------------------------------------------------------------------


class CommitWatcher(threading.Thread):
    """Polls ``ServingTable.commits()`` and records, for each commit
    index, the first time the poller saw it. Reads only the commit log
    (no ``read()``), so it does not disturb a running writer."""

    def __init__(self, table, interval_s: float = 0.05):
        super().__init__(daemon=True)
        self.table = table
        self.interval_s = interval_s
        self.seen_at: list[float] = []
        self.base = len(table.commits())
        self._halt = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            while not self._halt.is_set():
                try:
                    n = len(self.table.commits()) - self.base
                except Py4JJavaError:
                    # the log file vanished between exists() and open():
                    # the writer is mid-rewrite; poll again
                    n = 0
                now = time.perf_counter()
                while len(self.seen_at) < n:
                    self.seen_at.append(now)
                self._halt.wait(self.interval_s)
        except BaseException as exc:  # reported by the caller after join
            self.error = exc

    def wait_for(self, n: int, timeout_s: float) -> bool:
        deadline = time.perf_counter() + timeout_s
        while len(self.seen_at) < n:
            if self.error is not None or time.perf_counter() > deadline:
                return False
            time.sleep(0.01)
        return True

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)
        if self.error is not None:
            raise self.error


def file_batches(checkpoint: str) -> dict[str, int]:
    """basename -> micro-batch id, from a file-source checkpoint's
    metadata log (``sources/0``, including compacted files)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith((".tmp", ".crc")):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Job, stage and task counts plus shuffle bytes, executor CPU and
    GC time for work that started inside [t0_ms, t1_ms] (epoch ms)."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "cpu_ns": 0, "gc_ms": 0}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        out["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if t0_ms <= info.get("Submission Time", 0) <= t1_ms:
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                        continue
                    out["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    out["cpu_ns"] += m.get("Executor CPU Time", 0)
                    out["gc_ms"] += m.get("JVM GC Time", 0)
                    out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return out
