"""Measurement from outside the program: layer spans around public calls,
Spark event-log parsing, process-tree memory sampling and a CPU
calibration. Nothing here reaches inside beats_spark."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict


class Untraced:
    """Span factory of an untraced run: no labels, no timestamps."""

    def span(self, layer: str):
        return contextlib.nullcontext()


class Tracer:
    """Times each layer call and labels the Spark jobs it starts with
    `<pass id>:<layer>` (SparkContext.setJobDescription), so the event
    log can attribute tasks to the call that caused them."""

    def __init__(self, sc):
        self.sc = sc
        self.pass_id = ""
        self.spans: list[tuple[str, str, float]] = []  # (pass id, layer, seconds)

    @contextlib.contextmanager
    def span(self, layer: str):
        self.sc.setJobDescription(f"{self.pass_id}:{layer}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.pass_id, layer, time.perf_counter() - t0))
            self.sc.setJobDescription(None)

    def seconds(self, layer: str, prefix: str) -> list[float]:
        """Durations of `layer`, summed per pass, over passes whose id
        starts with `prefix`."""
        per_pass: dict[str, float] = defaultdict(float)
        for pid, name, dt in self.spans:
            if name == layer and pid.startswith(prefix):
                per_pass[pid] += dt
        return list(per_pass.values())


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every finished task in the (uncompressed) event logs under
    `log_dir`, with the description of the job that ran it."""
    tasks = []
    for name in sorted(os.listdir(log_dir)):
        stage_job: dict[int, str] = {}
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    tasks.append(
                        {
                            "label": stage_job.get(ev["Stage ID"], ""),
                            "stage": ev["Stage ID"],
                            "run_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                            "exec_run_s": m.get("Executor Run Time", 0) / 1e3,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "bytes_in": m.get("Input Metrics", {}).get("Bytes Read", 0),
                            "records_in": m.get("Input Metrics", {}).get("Records Read", 0),
                            "records_out": m.get("Output Metrics", {}).get("Records Written", 0),
                        }
                    )
    return tasks


def by_pass(tasks: list[dict], prefix: str, layer: str | None = None) -> dict[str, list[dict]]:
    """Tasks grouped by pass id, for passes starting with `prefix` and,
    when given, jobs of one layer."""
    out: dict[str, list[dict]] = defaultdict(list)
    for t in tasks:
        pid, _, name = t["label"].partition(":")
        if pid.startswith(prefix) and (layer is None or name == layer):
            out[pid].append(t)
    return out


def _skew(tasks: list[dict]) -> float:
    """max ÷ median task time of the shuffle-reading stage whose slowest
    task is slowest — the stage a hot key lands in."""
    stages: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        if t["shuffle_read"] > 0:
            stages[t["stage"]].append(t["run_s"])
    if not stages:
        return 1.0
    times = max(stages.values(), key=max)
    mid = statistics.median(times)
    return max(times) / mid if mid > 0 else 1.0


def spark_metrics(passes: dict[str, list[dict]]) -> dict[str, float]:
    """Per-pass executor figures, each the median over passes."""
    rows = []
    for tasks in passes.values():
        runs = sorted(t["run_s"] for t in tasks)
        rows.append(
            {
                "spark.tasks": len(tasks),
                "spark.task_run_s": sum(t["exec_run_s"] for t in tasks),
                "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
                "spark.task_p99_s": runs[min(len(runs) - 1, int(0.99 * len(runs)))] if runs else 0.0,
                "spark.task_skew": _skew(tasks),
                "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
                "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
                "spark.spill_bytes": sum(t["spill"] for t in tasks),
                "spark.gc_s": sum(t["gc_s"] for t in tasks),
            }
        )
    keys = rows[0].keys() if rows else []
    return {k: median(r[k] for r in rows) for k in keys}


# ---------------------------------------------------------------------------
# Memory and CPU
# ---------------------------------------------------------------------------


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _children() -> dict[int, list[int]]:
    """Every live process's children, from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _read(f"/proc/{d}/stat")
            if s:
                kids[int(s[s.rindex(b")") + 2 :].split()[1])].append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`."""
    kids, out = _children(), []
    todo = list(kids[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of every descendant of `root` (the driver JVM and
    the Python workers it forks), read from /proc.

    A child the JVM has spawned but not yet exec'd (Hadoop's shell
    commands) still shows the JVM's command line and, sharing its
    address space, the JVM's resident pages; it is skipped so those
    pages are not counted twice."""
    kids = _children()
    total, todo = 0, [(pid, b"") for pid in kids[root]]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid, parent_cmd = todo.pop()
        cmd = _read(f"/proc/{pid}/cmdline")
        todo.extend((k, cmd) for k in kids[pid])
        if cmd == parent_cmd and b"java" in cmd.split(b"\0", 1)[0]:
            continue
        statm = _read(f"/proc/{pid}/statm")
        if statm:
            total += int(statm.split()[1]) * page
    return total


class RssPeak:
    """Samples tree_rss_bytes(own pid) on a thread while active."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(me))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self._thread.join()


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return x


# one burn in a child process: says it is ready, waits for a line on
# stdin, then prints the monotonic clock (system-wide on Linux) before
# and after the burn
_BURN_CHILD = """
import sys, time
from tracing import _burn
print("ready", flush=True)
sys.stdin.readline()
t0 = time.monotonic()
_burn({iters})
print(t0, time.monotonic())
"""


def cpu_calibration(procs: int, iters: int = 1_000_000) -> dict:
    """Pure-Python CPU burn, alone and on `procs` processes at once: the
    machine's effective parallel capacity, reported as context. The child
    processes are waited for before it returns."""
    t0 = time.perf_counter()
    _burn(iters)
    single = time.perf_counter() - t0
    cmd = [sys.executable, "-B", "-c", _BURN_CHILD.format(iters=iters)]
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.abspath(__file__))}
    kids = [subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env) for _ in range(procs)]
    try:
        for k in kids:
            k.stdout.readline()
        for k in kids:  # every child has started; go
            k.stdin.write("\n")
            k.stdin.flush()
        spans = [tuple(map(float, k.communicate()[0].split())) for k in kids]
    finally:
        for k in kids:
            k.kill()
            k.wait()
    wall = max(end for _, end in spans) - min(start for start, _ in spans)
    return {"single_proc_s": round(single, 4), f"effective_cores_at_{procs}": round(procs * single / wall, 2)}
