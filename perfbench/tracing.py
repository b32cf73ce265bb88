"""Measurement plumbing: spans, the Spark event log, process-tree RSS.

Spans are recorded by the benchmark around its calls into the engine
(nothing inside the package is instrumented).  Each span carries the
Spark job group it ran under, and the event log is joined to the spans
through that group.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_no: int | None = None, group: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "pass": pass_no,
            "group": group,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# ------------------------------------------------------------ event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir`` (plain or
    rolling ``eventlog_v2_*`` layout, uncompressed)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    paths += sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    events = []
    for p in paths:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def task_metrics_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Sum of task metrics per Spark job group."""
    stage_group: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev.get("Stage ID"))
        if group is None:
            continue
        m = out[group]
        info = ev.get("Task Info", {})
        tm = ev.get("Task Metrics") or {}
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            m["failed_tasks"] += 1
        run = tm.get("Executor Run Time", 0)
        deser = tm.get("Executor Deserialize Time", 0)
        ser = tm.get("Result Serialization Time", 0)
        fetch = info.get("Getting Result Time", 0)
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        m["tasks"] += 1
        m["run_ms"] += run
        m["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        m["gc_ms"] += tm.get("JVM GC Time", 0)
        m["deser_ms"] += deser
        m["sched_delay_ms"] += max(0, duration - run - deser - ser - fetch)
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 1e6
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            if name in (_PY_SENT, _PY_RECV):
                key = "python_sent_mb" if name == _PY_SENT else "python_received_mb"
                m[key] += float(acc.get("Update", 0)) / 1e6
    return out


# ------------------------------------------------------------ RSS


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Python driver, the JVM, the Python workers) every ``interval``
    seconds on a daemon thread; ``stop()`` returns the highest sum seen,
    in MB, and ``peak_parts`` splits it by process name."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # process name -> kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        pids, tick = [me], 0
        while not self._stop.is_set():
            if tick % 5 == 0:  # the tree changes rarely; rescan /proc once a second
                pids = [me, *descendants(me)]
            tick += 1
            parts: dict[str, int] = {}
            total = 0
            for p in pids:
                rss, name = _mem(p)
                total += rss
                parts[name] = parts.get(name, 0) + rss
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_parts = parts
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def _mem(pid: int) -> tuple[int, str]:
    """(VmRSS in kB, process name); (0, "?") for a process that has exited."""
    rss, name = 0, "?"
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                elif line.startswith("Name:"):
                    name = line.split()[1]
    except OSError:
        pass
    return rss, name
