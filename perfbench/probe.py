"""Measurement plumbing: spans, per-job-group counters from Spark's
status store, and process memory.

Everything here observes the program from outside: a span is a job
group the benchmark sets around one call into a public function, and
its counters are read back from the JVM status store (which works with
``spark.ui.enabled=false``), never from inside the program.
"""

from __future__ import annotations

import os
import select
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


def group_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks, shuffle bytes, spill and executor time of every
    job run under ``group``, plus the task skew (max / median task run
    time) of the group's heaviest multi-task stage."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0,
           "spill_bytes": 0, "executor_s": 0.0, "task_skew": 0.0}
    heaviest = None
    for s in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(s)
        except Py4JError:  # a stage the store never saw (skipped before submit)
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["executor_s"] += sd.executorRunTime() / 1000.0
        if sd.numCompleteTasks() >= 2 and (heaviest is None or sd.executorRunTime() > heaviest[2]):
            heaviest = (s, sd.attemptId(), sd.executorRunTime())
    if heaviest is not None:
        tl = store.taskList(heaviest[0], heaviest[1], 1_000_000)
        runs = []
        for i in range(tl.size()):
            m = tl.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        out["task_skew"] = max(runs) / med if med else 0.0
    return out


class Tracer:
    """Spans around calls into the program's layers. Each span runs its
    Spark jobs under its own job group; spans nest (the parent's group
    is restored on exit, so a parent's counters are its self counters).
    Spans stay in memory; counters are read once, at ``finish``, so the
    status-store reads never fall inside a timed span."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"{self.prefix}-{idx}"
        rec = {"name": name, "group": group,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def finish(self) -> list[dict]:
        """Self time (duration minus the part covered by child spans) and
        the group counters of every span."""
        for i, s in enumerate(self.spans):
            s["duration_s"] = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            s["self_s"] = s["duration_s"] - child
            s.update(group_stats(self.sc, s["group"]))
        return self.spans


# the benchmark's own helper processes, left out of every measurement
OWN_PIDS: set[int] = set()


def _proc_tree(root_pid: int) -> list[int]:
    """Live (non-zombie) descendants of ``root_pid``, less ``OWN_PIDS``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: state and ppid follow the last ')'
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z" and int(name) not in OWN_PIDS:
            children.setdefault(int(ppid), []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _is_java(pid: int) -> bool:
    return "java" in _cmdline(pid).split(" ", 1)[0]


class RssSampler:
    """Peak resident memory, in MiB, of the driver, the JVM and the Python
    workers. The driver and the JVM live for the whole run, so their
    high-water marks (VmHWM) are read at the end. Python workers come and
    go (idle ones are reaped), so a daemon thread sums their VmRSS every
    ``period_s`` and keeps the peak. Short-lived forks of the JVM (the
    Hadoop shell commands) carry the JVM's command line and are left out."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.pyworkers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def sample(self) -> None:
        total = sum(_status_kb(p, "VmRSS") for p in _proc_tree(os.getpid()) if "python" in _cmdline(p))
        self.pyworkers = max(self.pyworkers, total / 1024.0)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        jvm = [p for p in _proc_tree(os.getpid()) if _is_java(p) and not _is_java(_ppid(p))]
        out = {
            "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
            "jvm": sum(_status_kb(p, "VmHWM") for p in jvm) / 1024.0,
            "pyworkers": self.pyworkers,
        }
        out["total"] = out["driver"] + out["jvm"] + out["pyworkers"]
        return out


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return 0


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) used so far on each side of the Py4J
    bridge: (Python, JVM). Python is this process and the Python workers,
    the JVM is the JVM; each includes what its already-reaped children
    used (exited workers, the JVM's shell commands)."""
    py = jvm = 0
    for pid in [os.getpid(), *_proc_tree(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
        if _is_java(pid):
            jvm += ticks
        else:
            py += ticks
    hz = os.sysconf("SC_CLK_TCK")
    return py / hz, jvm / hz


def _reference_loop(n: int) -> int:
    h = 0
    for i in range(n):
        s = f"turn {i} of {i % 97}"
        h ^= hash(s.upper()) + len(s.split())
    return h


def _speed_loop(loops: int, period_s: float) -> None:
    """The probe process: one chunk every ``period_s``, its CPU seconds
    written as one line, until standard input closes."""
    while not select.select([sys.stdin], [], [], period_s)[0]:
        c0 = time.thread_time()
        _reference_loop(loops)
        print(time.thread_time() - c0, flush=True)


class SpeedProbe:
    """The host's speed, measured while the benchmark runs.

    The host is a VM whose cores are shared with other VMs. The CPU time
    a fixed piece of work takes changes by up to 2x within seconds, and
    in steps that last minutes, with no steal time reported. So a cycle's
    CPU seconds cannot be compared across runs as they are. A child
    process runs a fixed pure-Python chunk (about 1 ms on an idle host)
    every ``PERIOD_S``; ``speed(mark)`` compares the mean chunk time since
    ``mark`` with the idle one, over the same seconds as the work it
    scales. The chunk calls nothing of the program. It uses about 5% of
    one core, and its CPU and memory are left out of every metric."""

    LOOPS = 2_000
    PERIOD_S = 0.02
    # about the chunk's time on a quiet 2.1 GHz vCPU of the host; it only
    # sets the scale of the normalized seconds
    IDLE_S = 0.0011

    def __init__(self):
        self.n, self.cpu = 0, 0.0
        self._proc = subprocess.Popen(
            [sys.executable, "-c",
             f"from perfbench.probe import _speed_loop; _speed_loop({self.LOOPS}, {self.PERIOD_S})"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        OWN_PIDS.add(self._proc.pid)
        self._reader = threading.Thread(target=self._read, name="speed-probe", daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self._proc.stdout:
            self.cpu += float(line)
            self.n += 1

    def mark(self) -> tuple[int, float]:
        return self.n, self.cpu

    def speed(self, mark: tuple[int, float]) -> float:
        """IDLE_S over the mean chunk time since ``mark``: 1 on an idle
        host, 0.5 when a CPU second does half the work."""
        n, cpu = self.n - mark[0], self.cpu - mark[1]
        return self.IDLE_S * n / cpu if n else 1.0

    def stop(self) -> None:
        self._proc.stdin.close()
        try:
            self._proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._reader.join(timeout=5)
        OWN_PIDS.discard(self._proc.pid)


def heap_peak_mb(spark) -> float:
    """The sum of the JVM heap pools' peak use, in MiB: how much of its
    heap the program needed, whatever the heap was sized to."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    return sum(
        pools.get(i).getPeakUsage().getUsed()
        for i in range(pools.size())
        if pools.get(i).getType().toString() == "Heap memory"
    ) / 2**20


def descendants() -> list[int]:
    return _proc_tree(os.getpid())


def wait_ended(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended, killing what is
    left after ``timeout_s``. The pids are taken before the session
    stops: the Python worker daemon is the JVM's child and is re-parented
    when the JVM exits, so it would drop out of a later tree walk."""
    deadline = time.monotonic() + timeout_s
    while True:
        _reap()
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
