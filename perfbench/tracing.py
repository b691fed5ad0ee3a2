"""Benchmark-side tracing: in-memory spans, Spark event-log counters and
Python-worker memory.

Everything here observes the library from outside: spans wrap the
benchmark's own calls into each layer, Spark counters come from the
event log the session writes, and worker memory is read from procfs.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List

RSS_INTERVAL_S = 1.0  # worker memory sampling period
PROBE_S = 0.3         # length of one host speed probe


class Tracer:
    """Spans kept in memory and written once at the end of a run.

    Each span has a name, start, end (seconds, ``perf_counter``), the id
    of its parent span and the run's trace id.  A disabled tracer keeps
    nothing, so untraced runs pay no bookkeeping."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the part of it its child spans cover.
        Children of one span never overlap (the benchmark is one
        thread), so the covered part is the sum of their durations."""
        covered: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
            for s in self.spans
        }

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            dict(
                s,
                start=round(s["start"] - t0, 6),
                end=round(s["end"] - t0, 6),
                self_s=round(selfs[s["id"]], 6),
            )
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"trace_id": self.trace_id, "spans": spans, **extra},
                f, indent=1,
            )


# --- Spark event log ------------------------------------------------------


def event_log_conf(event_dir: str) -> dict:
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _event_files(event_dir: str, app_id: str) -> List[str]:
    v2 = os.path.join(event_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        return sorted(
            os.path.join(v2, p) for p in os.listdir(v2) if p.startswith("events")
        )
    path = os.path.join(event_dir, app_id)
    return [path if os.path.exists(path) else path + ".inprogress"]


def _is_kernel_stage(stage_info: dict) -> bool:
    return any(
        "MapInPandas" in (r.get("Scope") or "") or r.get("Name") == "MapInPandas"
        for r in stage_info.get("RDD Info", [])
    )


def parse_event_log(event_dir: str, app_id: str) -> Dict[str, dict]:
    """Task counters per job group.  Read after the SparkContext has
    stopped, so the log is complete."""
    stage_group: Dict[int, str] = {}
    kernel_stages: set = set()
    groups: Dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "kernel_task_s": [],
        })

    for path in _event_files(event_dir, app_id):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    group(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    for si in ev.get("Stage Infos", []):
                        if _is_kernel_stage(si):
                            kernel_stages.add(si["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    tm = ev.get("Task Metrics") or {}
                    if sid not in stage_group or not tm:
                        continue
                    g = group(stage_group[sid])
                    run_s = float(tm.get("Executor Run Time", 0)) / 1e3
                    g["tasks"] += 1
                    g["run_s"] += run_s
                    g["cpu_s"] += float(tm.get("Executor CPU Time", 0)) / 1e9
                    g["gc_s"] += float(tm.get("JVM GC Time", 0)) / 1e3
                    g["input_bytes"] += int(
                        (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    g["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
                    g["shuffle_read_bytes"] += int(
                        sr.get("Remote Bytes Read", 0)
                    ) + int(sr.get("Local Bytes Read", 0))
                    if sid in kernel_stages:
                        g["kernel_task_s"].append(run_s)
    return groups


# --- Python worker memory ------------------------------------------------


def _parent_map() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for child, parent in _parent_map().items():
        kids.setdefault(parent, []).append(child)
    todo, seen = [pid], []
    while todo:
        for c in kids.get(todo.pop(), []):
            seen.append(c)
            todo.append(c)
    return seen


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    # workers are forks of `python -m pyspark.daemon`; the JVM's own
    # command line names pyspark-shell, so match the module exactly
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class WorkerPeakRss:
    """Peak resident memory (VmHWM) across the Python workers this
    process's Spark JVM has forked, sampled on a background thread
    while ``window()`` is open so workers that exit are not missed."""

    def __init__(self):
        self.peak_mb = 0.0

    def _sample(self) -> None:
        for pid in descendants(os.getpid()):
            if _is_python_worker(pid):
                self.peak_mb = max(self.peak_mb, _hwm_mb(pid))

    @contextmanager
    def window(self) -> Iterator["WorkerPeakRss"]:
        stop = threading.Event()

        def loop() -> None:
            while not stop.wait(RSS_INTERVAL_S):
                self._sample()

        t = threading.Thread(target=loop, daemon=True)
        t.start()
        try:
            yield self
        finally:
            stop.set()
            t.join()
            self._sample()


def _probe_worker() -> None:
    """Body of one probe process: for each duration read from stdin,
    busy-loop that long and write the loop count to stdout."""
    for line in sys.stdin:
        t_end = time.perf_counter() + float(line)
        n = 0
        x = 1.0
        while time.perf_counter() < t_end:
            for _ in range(10000):
                x = x * 1.0000001 + 0.5
            n += 10000
        print(n, flush=True)


class HostProbe:
    """Host CPU speed right now: one busy loop per core, all at once,
    in millions of loop iterations per second per core.  The probe
    processes are plain subprocesses, each ended and waited for in
    ``close``."""

    def __init__(self, cores: int):
        self.procs = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            )
            for _ in range(cores)
        ]

    def rate(self) -> float:
        for p in self.procs:
            p.stdin.write(f"{PROBE_S}\n")
            p.stdin.flush()
        n = sum(int(p.stdout.readline()) for p in self.procs)
        return n / PROBE_S / len(self.procs) / 1e6

    def close(self) -> None:
        for p in self.procs:
            p.stdin.close()  # the probe loop ends at end of input
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()


def quantile(xs: List[float], q: float) -> float:
    """Nearest-rank quantile; 0.0 for no samples."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(q * (len(xs) - 1))))]


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


if __name__ == "__main__":
    _probe_worker()
