"""Measurement helpers: process-tree CPU and memory from /proc, spans
recorded around calls into the engine's layers, and the fold of Spark's
uncompressed event log into per-pass counters."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import subprocess
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (boot time plus the
    process's start tick)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _CLK


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _alive(pid: int) -> bool:
    st = _stat(pid)
    if st is None:
        return False
    if st[0] == "Z":
        # a zombie child of ours is reaped here; one reparented to init
        # is init's to reap, and it runs no more
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)
        return False
    return True


def stop_tree(root: int, gateway, timeout: float = 60.0) -> None:
    """Ends every descendant of ``root`` and waits until each has ended.
    The JVM's gateway server exits when its stdin closes, and its Python
    workers go with it; whatever still runs after ``timeout`` is killed."""
    rest = [p for p in tree_pids(root) if p != root]
    deadline = time.time() + timeout
    if gateway is not None:
        with contextlib.suppress(OSError):
            gateway.stdin.close()
        try:
            gateway.wait(timeout)
        except subprocess.TimeoutExpired:
            gateway.kill()
            gateway.wait()
    killed = False
    while True:
        rest = [p for p in rest if _alive(p)]
        if not rest or (killed and time.time() > deadline):
            return
        if not killed and time.time() > deadline:
            for p in rest:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            killed, deadline = True, time.time() + 10
        time.sleep(0.05)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(root: int) -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its Python worker
    processes). Each process counts its own time plus that of the
    children it has reaped, so exited workers stay counted."""
    total = workers = 0.0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is None:
            continue
        t = sum(int(x) for x in st[11:15]) / _CLK
        total += t
        if pid != root and "pyspark" in _cmdline(pid) and "java" not in _cmdline(pid):
            workers += t
    return total, workers


class RssSampler:
    """Samples the resident memory of the process tree on a background
    thread and keeps the peak."""

    def __init__(self, root: int, interval: float = 0.25) -> None:
        self.root = root
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        rss = 0
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory. A span's
    ``op`` is the job group of the operation it runs under. Disabled,
    every call is a no-op, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent,
            "op": op if parent is None else self.spans[parent]["op"],
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Self time per span name over the spans of ``ops``: each span's
        duration minus the part of its interval its children cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] in ops:
                d = s["end"] - s["start"]
                out[s["name"]] = out.get(s["name"], 0.0) + d
                if s["parent"] is not None:
                    p = self.spans[s["parent"]]["name"]
                    out[p] = out.get(p, 0.0) - d
        return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
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


def fold_event_log(path: str) -> dict[int, dict]:
    """Spark jobs from an uncompressed event log: job id -> {group,
    start, end (epoch s), stages, tasks and summed task metrics}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                    "tasks": 0,
                    "run_ms": 0,
                    "cpu_ns": 0,
                    "gc_ms": 0,
                    "input_b": 0,
                    "shuffle_read_b": 0,
                    "shuffle_write_b": 0,
                    "spill_b": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                j["gc_ms"] += m.get("JVM GC Time", 0)
                j["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                j["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs
