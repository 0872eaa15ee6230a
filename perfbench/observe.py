"""Measurement from outside the program: process-tree RSS, spans the
benchmark records around its calls, and Spark's event log."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process visible in ``/proc``."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
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


def descendants(root: int) -> list[int]:
    """The child processes of ``root``, their children, and so on."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the JVM and the
    Python workers it forks), in MB."""
    return sum(_rss_kb(pid) for pid in [root, *descendants(root)]) / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (exited or a zombie)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


class RssSampler:
    """Samples :func:`tree_rss_mb` of this process every ``period`` seconds
    on a daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (clock ticks since
    boot), so interpreter start-up and imports are counted too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Spans:
    """Named wall-clock spans recorded by the benchmark around its calls
    into the program, kept in memory. Each span also sets the Spark job
    group of the calling thread to its name."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []  # (name, start ms, end ms)

    def __call__(self, name: str):
        return _Span(self, name)

    def seconds(self, name: str) -> list[float]:
        return [(e - s) / 1000 for n, s, e in self.spans if n == name]


class _Span:
    def __init__(self, owner: Spans, name: str):
        self.owner, self.name = owner, name

    def __enter__(self):
        if self.owner.spark is not None:
            self.owner.spark.sparkContext.setJobGroup(self.name, self.name)
        self.t0 = time.time() * 1000
        return self

    def __exit__(self, *exc):
        self.owner.spans.append((self.name, self.t0, time.time() * 1000))
        if self.owner.spark is not None:
            self.owner.spark.sparkContext.setJobGroup("", "")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the uncompressed JSON-lines logs under ``log_dir``
    (checksum files skipped)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".crc"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.startswith("{"))
    return events


def spark_group_metrics(events: list[dict], spans: Spans) -> dict[str, dict]:
    """Per span name: executor run time, shuffle bytes written, bytes
    spilled and task skew (longest task over the median task) of the Spark
    jobs submitted while a span of that name was open. Jobs are matched by
    submission time as well as job group, because jobs the program submits
    from its own worker threads do not inherit the caller's group."""
    job_group: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        t = ev.get("Submission Time", 0)
        owner = next(
            (n for n, s, e in spans.spans if n == group or s <= t <= e), None
        )
        if owner is not None:
            for sid in ev.get("Stage IDs", []):
                job_group[sid] = owner
    out: dict[str, dict] = {}
    durations: dict[str, list[int]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = job_group.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if group is None or not m:
            continue
        g = out.setdefault(
            group, {"executor_run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        )
        g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        info = ev.get("Task Info") or {}
        durations.setdefault(group, []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0)
        )
    for group, ds in durations.items():
        med = statistics.median(ds)
        out[group]["task_skew"] = max(ds) / med if med > 0 else 1.0
    return out
