"""Measurement plumbing for the benchmark, all of it outside the library.

- `Tracer`: in-memory spans {id, name, start, end, parent, run_id,
  attrs}, recorded around the benchmark's own calls into each layer.
  Wall-clock start/end (epoch seconds) so Spark's event-log timestamps
  can be attributed to the span whose window contains them.
- `wrap_methods`: records a span around each listed method of ONE
  object instance (the pipeline's own `SnapshotStore`), without
  touching the class or its module.
- `EventLog`: reads a local Spark event log after the session stopped
  and attributes jobs, tasks, task metrics and the PythonSQLMetrics
  task accumulators to spans. The client is sequential, so the op span
  open at a job's submission time is the call that issued it.
- `RssSampler`: peak RSS of this process tree (driver JVM and Python
  workers included) from /proc.
- `noise_probe_s`: a fixed single-thread numpy workload whose time
  marks host-noise windows.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # the op span that threads without their own stack (the
        # pipeline's stage threads) nest under
        self._op: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            s = {
                "id": next(self._ids),
                "name": name,
                "parent": parent["id"] if parent else None,
                "run_id": self.run_id,
                "op": op,
                "attrs": attrs,
            }
        stack.append(s)
        if op:
            prev_op, self._op = self._op, s
        t0 = time.perf_counter()
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = s["start"] + (time.perf_counter() - t0)
            stack.pop()
            if op:
                self._op = prev_op
            with self._lock:
                self.spans.append(s)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """name -> summed self time: each span's duration minus the part
        of its interval covered by its child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_seconds(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times()}, fh)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def wrap_methods(obj, names: list[str], tracer: Tracer, prefix: str) -> None:
    """Shadow each bound method with a span-recording instance attribute."""
    for name in names:
        orig = getattr(obj, name)

        def wrapper(*args, __orig=orig, __name=f"{prefix}.{name}", **kw):
            with tracer.span(__name):
                return __orig(*args, **kw)

        setattr(obj, name, wrapper)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# PythonSQLMetrics (Spark 4.1) display names -> metric suffix and the
# scale of their task updates (timing metrics are in milliseconds)
PY_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_received_bytes", 1),
    "time to start Python workers": ("python_boot_s", 1e-3),
}


class EventLog:
    """Jobs and tasks of one application's event log, attributable to
    op spans by time window."""

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: list[dict] = []
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                                      "end": None, "tasks": []}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        for ev in tasks:
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                self.jobs[jid]["tasks"].append(_task_record(ev))

    def jobs_in(self, span: dict) -> list[dict]:
        return [j for j in self.jobs.values()
                if span["start"] <= j["start"] < span["end"]]


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    rec = {
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = PY_ACCUMS.get(acc.get("Name"))
        if hit and acc.get("Update") is not None:
            key, scale = hit
            rec[key] = rec.get(key, 0) + float(acc["Update"]) * scale
    return rec


def job_totals(jobs: list[dict], span: dict) -> dict[str, float]:
    """Summed task metrics, task and job counts, and the union of job
    intervals (clipped to the span) for the jobs a span issued."""
    out = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for key, _ in PY_ACCUMS.values():
        out[key] = 0.0
    for j in jobs:
        for t in j["tasks"]:
            out["tasks"] += 1
            for k, v in t.items():
                out[k] += v
    out["in_job_s"] = union_seconds(
        [(j["start"], j["end"] or span["end"]) for j in jobs], span["start"], span["end"]
    )
    return out


# ---------------------------------------------------------------------------
# process-tree RSS and host noise
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat fields from the state on (field 3 is index 0)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(") ", 1)[1].split()


def _start_time(pid: int) -> str | None:
    """The start time of a live (not zombie) process, which tells a
    reused pid apart; None once it has ended."""
    try:
        fields = _stat_fields(pid)
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str], dict[int, int]]:
    children: dict[int, list[int]] = {}
    rss_kb: dict[int, int] = {}
    started: dict[int, str] = {}
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            fields = _stat_fields(pid)
            ppid, started[pid] = int(fields[1]), fields[19]
            parent[pid] = ppid
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        rss_kb[pid] = int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(pid)
    return children, rss_kb, started, parent


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _jvm_spawn_child(pid: int, ppid: int) -> bool:
    """True for a child of the JVM that still runs the JVM's executable.
    The JVM starts Python workers by posix_spawn, whose child shares
    the JVM's memory until it execs; its VmRSS is the JVM's own, and
    counting it would count the JVM twice."""
    exe = _exe(pid)
    return exe is not None and os.path.basename(exe) == "java" and exe == _exe(ppid)


def descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


class RssSampler:
    """Daemon thread tracking the peak summed RSS of this process and
    its descendants (JVM spawn children not counted, see
    `_jvm_spawn_child`), and every descendant it saw as pid -> start time
    (so the benchmark can wait for each to end)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        children, rss_kb, started, parent = _proc_table()
        tree = descendants(me, children)
        self.seen.update((p, started[p]) for p in tree if p in started)
        counted = [me, *(p for p in tree if not _jvm_spawn_child(p, parent[p]))]
        mb = sum(rss_kb.get(p, 0) for p in counted) / 1024.0
        self.peak_mb = max(self.peak_mb, mb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_exit(seen: dict[int, str], timeout_s: float = 30.0) -> list[int]:
    """Wait for every process in `seen` (pid -> start time) to end;
    SIGKILL what outlives the timeout. Returns the pids killed."""
    deadline = time.monotonic() + timeout_s
    alive = set(seen)
    while True:
        alive = {p for p in alive if _start_time(p) == seen[p]}
        if not alive or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return sorted(alive)


def noise_probe_s(reps: int = 5) -> float:
    """Median time of a fixed single-thread numpy workload (the process
    pins BLAS to one thread before numpy is imported)."""
    a = np.random.default_rng(0).standard_normal((192, 192))
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        b = a
        for _ in range(40):
            b = np.tanh(b @ a)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def tail_note(values: list[float]) -> str:
    """The highest whole percentile with at least 10 samples beyond it,
    with the sample count, or why there is none."""
    n = len(values)
    vs = sorted(values)
    for p in range(99, 0, -1):
        idx = int(np.ceil(p / 100 * n)) - 1
        if idx >= 0 and n - 1 - idx >= 10:
            return f"p{p} = {vs[idx]:.4f} s (n={n})"
    return f"none: n={n} leaves no percentile with 10 samples beyond it"
