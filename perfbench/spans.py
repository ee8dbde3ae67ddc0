"""Tracing and process measurement for the benchmark.

Spans are recorded from the benchmark's own files only: the tracer
wraps public calls of the program at run time (module attribute
patching) and never edits the package. A span is
``(name, start, end, parent, round_id)`` kept in memory and written
out when the run ends. Every span also names the Spark job group of
the work it issues, so Spark's own counters can be read back per span
from the status REST API (the UI is enabled only in the traced run).

Process figures (peak RSS, CPU) come from ``/proc`` for the driver
and every descendant: the JVM and its Python workers.

:class:`HostSpeed` samples the speed of the shared host while the
program runs, so timed results can be expressed at a reference host
speed (the ``*_adj_s`` metrics).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager

# Spark counters are reported per span family
SPARK_GROUP_NAMES = ("chain", "publish", "quality_gate", "match_score",
                     "match_topk", "ingest", "serve")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op so the untraced run executes the same benchmark code."""

    def __init__(self, sc=None, enabled: bool = True) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, str | None, int | None]] = []
        self.stack: list[str] = []
        self.groups: list[str] = []
        self.round: int | None = None
        self.bookkeeping_s = 0.0

    def _group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        # work under a set-up span keeps the set-up's job group, so
        # warm-up jobs never count in a timed span family
        root = self.stack[0] if self.stack else name
        group = root if root.startswith("setup.") else name
        outer = self.groups[-1] if self.groups else None
        self.stack.append(name)
        self.groups.append(group)
        self._group(group)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.stack.pop()
            self.groups.pop()
            self._group(outer)
            self.spans.append((name, t0, t1, parent, self.round))
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, obj: object, attr: str, name) -> None:
        """Replace ``obj.attr`` with a spanned call. ``name`` is a str
        or a function of the call's (args, kwargs) giving the span
        name."""
        orig = getattr(obj, attr)
        tracer = self

        def wrapper(*a, **k):
            n = name(a, k) if callable(name) else name
            with tracer.span(n):
                return orig(*a, **k)

        setattr(obj, attr, wrapper)

    def total(self, name: str, t_lo: float = float("-inf"),
              t_hi: float = float("inf")) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans
                   if n == name and s >= t_lo and e <= t_hi)

    def self_time(self, name: str, t_lo: float = float("-inf"),
                  t_hi: float = float("inf")) -> float:
        """Span time minus the part its direct children cover
        (children of one parent never overlap: calls are sequential)."""
        own = self.total(name, t_lo, t_hi)
        kids = sum(e - s for n, s, e, p, _ in self.spans
                   if p == name and s >= t_lo and e <= t_hi)
        return own - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": n, "start": s, "end": e, "parent": p, "round": r}
                       for n, s, e, p, r in self.spans], f)


# ------------------------------------------------------------ /proc ---

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


# processes of the benchmark itself (the host-speed sampler), left out
# of the program's process tree
EXCLUDE: set[int] = set()


def process_tree(pid: int | None = None) -> list[int]:
    root = pid or os.getpid()
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        if p not in seen and p not in EXCLUDE:
            seen.append(p)
            todo += _children(p)
    return seen


def vm_hwm_mb(pids: list[int]) -> dict[str, float]:
    """Peak resident MB per process, keyed ``<pid>:<command name>``."""
    out: dict[str, float] = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{p}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            pass
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime (+ reaped children) of every process, in seconds."""
    hz = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / hz


def process_age_s() -> float:
    """Seconds since this process started (procfs start time)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / hz


# ------------------------------------------------------ host speed ---

KERNEL_ITERS = 20_000
KERNEL_PERIOD_S = 0.05
# CPU time of one kernel call on the reference host (a 4-core VM on a
# quiet host); the unit of the host-adjusted times
KERNEL_REF_S = 0.002
# the program's times grew with about the square of the kernel's on a
# shared host (log-log slope 1.6-2.2 in measured runs): a busy host slows
# cores, which the kernel sees, and memory and cache, which it does not
HOST_EXPONENT = 2


def _kernel() -> int:
    s = 0
    for i in range(KERNEL_ITERS):
        s += i * i % 7
    return s


class HostSpeed:
    """Host-speed sampler. A separate process times a fixed pure-Python
    kernel by its own CPU time every 50 ms (about 2% of a 4-core
    machine) and appends ``<perf_counter> <kernel CPU s>`` lines to a
    file. On a shared host the speed of a core drifts by tens of
    percent within a minute; the kernel's median CPU time over a timed
    window measures that drift, independently of the program. CPU time
    leaves out waiting for a core inside this machine, so the
    program's own load does not count as a slow host."""

    def __init__(self, path) -> None:
        self.path = str(path)
        self.proc: subprocess.Popen | None = None

    def start(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--host-speed", self.path],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        EXCLUDE.add(self.proc.pid)

    def stop(self) -> None:
        if self.proc is None:
            return
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc = None

    def samples(self, t_lo: float, t_hi: float) -> list[float]:
        out = []
        try:
            with open(self.path) as f:
                for line in f:
                    parts = line.split()
                    if len(parts) == 2 and line.endswith("\n") and t_lo <= float(parts[0]) <= t_hi:
                        out.append(float(parts[1]))
        except OSError:
            pass
        return out

    def kernel_s(self, t_lo: float, t_hi: float) -> float:
        """Median kernel CPU time in the window (the reference time
        when the window holds no sample)."""
        v = self.samples(t_lo, t_hi)
        return statistics.median(v) if v else KERNEL_REF_S

    def factor(self, t_lo: float, t_hi: float) -> float:
        """Multiplier taking a time measured in the window to the
        reference host's speed."""
        return (KERNEL_REF_S / self.kernel_s(t_lo, t_hi)) ** HOST_EXPONENT


def _sample_forever(path: str) -> None:
    parent = os.getppid()
    _kernel()
    with open(path, "a", buffering=1) as out:
        # ends with the benchmark process, even when that is killed
        while os.getppid() == parent:
            c0 = time.thread_time()
            _kernel()
            c = time.thread_time() - c0
            out.write(f"{time.perf_counter():.4f} {c:.6f}\n")
            time.sleep(KERNEL_PERIOD_S)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------ Spark REST ---

class SparkRest:
    """Per-job-group task/shuffle/spill counts from the status REST API
    of this application's own UI (localhost only)."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=20) as r:
            return json.load(r)

    def gc_s(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self._get("/executors")) / 1000.0

    def group_counts(self, group_of) -> dict[str, dict[str, float]]:
        """``group_of(job_group_id) -> reported group or None``."""
        stages = {}
        for s in self._get("/stages"):
            stages.setdefault(s["stageId"], []).append(s)
        out = {g: {"tasks": 0, "failed_tasks": 0, "shuffle_write_mb": 0.0,
                   "spill_mb": 0.0} for g in SPARK_GROUP_NAMES}
        for job in self._get("/jobs"):
            g = group_of(job.get("jobGroup"))
            if g is None:
                continue
            for sid in job.get("stageIds", []):
                for s in stages.pop(sid, []):
                    out[g]["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    out[g]["failed_tasks"] += s.get("numFailedTasks", 0)
                    out[g]["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
                    out[g]["spill_mb"] += (s.get("diskBytesSpilled", 0)
                                           + s.get("memoryBytesSpilled", 0)) / 2**20
        return out


def report_group(job_group: str | None, stream_run_ids: set[str]) -> str | None:
    """Span family of a Spark job group: streaming micro-batch jobs run
    under their query's runId, every other job under its span name."""
    if job_group in stream_run_ids:
        return "ingest"
    exact = {"sources.publish": "publish", "sources.quality_gate": "quality_gate",
             "match.score": "match_score", "match.topk": "match_topk"}
    if job_group in exact:
        return exact[job_group]
    head = (job_group or "").split(".")[0]
    return head if head in ("chain", "ingest", "serve") else None


if __name__ == "__main__" and sys.argv[1:2] == ["--host-speed"]:
    import signal
    signal.signal(signal.SIGTERM, lambda *_: os._exit(0))
    _sample_forever(sys.argv[2])
