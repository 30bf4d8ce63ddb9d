"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is this Python process (the Spark driver's Python side), the
JVM it launched, and the Python workers the JVM forks. Only counters
are read: nothing is installed in the measured processes.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class TreeCpu:
    """Cumulative CPU seconds of each part of the tree at one instant."""

    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(
            self.driver - other.driver,
            self.jvm - other.jvm,
            self.workers - other.workers,
        )


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:  # the process exited between listing and reading
        return None


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own CPU seconds, reaped-children CPU seconds) of one
    process. A child's CPU moves into its parent's cutime/cstime when
    the parent waits for it, so own + reaped over the live tree keeps
    exited workers counted."""
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return None
    fields = s.rsplit(")", 1)[1].split()
    # fields[0] is the state; utime, stime, cutime, cstime are 11..14
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), own, reaped


def _descendants(root: int) -> dict[int, float]:
    children: dict[int, list[tuple[int, float]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append((int(name), st[1] + st[2]))
    out: dict[int, float] = {}
    stack = [root]
    while stack:
        for pid, cpu in children.get(stack.pop(), []):
            out[pid] = cpu
            stack.append(pid)
    return out


def _is_jvm(pid: int) -> bool:
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    return cmd.split("\0", 1)[0].endswith("java")


class ProcessTree:
    """Finds the JVM child of this process once Spark has started, and
    samples the CPU and peak RSS of the driver, the JVM and the Python
    workers below the JVM."""

    def __init__(self) -> None:
        self.me = os.getpid()
        self.jvm_pid: int | None = None

    def _jvm(self) -> int:
        if self.jvm_pid is None:
            for pid in _descendants(self.me):
                if _is_jvm(pid):
                    self.jvm_pid = pid
                    break
            else:
                raise RuntimeError("no JVM below this process; start Spark first")
        return self.jvm_pid

    def worker_pids(self) -> list[int]:
        return list(_descendants(self._jvm()))

    def cpu(self) -> TreeCpu:
        jvm = self._jvm()
        t = os.times()
        st = _stat(jvm)
        if st is None:
            raise RuntimeError("the JVM exited")
        # children the JVM has reaped (an exited worker daemon) stay
        # counted as workers
        workers = sum(_descendants(jvm).values()) + st[2]
        return TreeCpu(t.user + t.system, st[1], workers)

    def peak_rss_mb(self, pids: list[int]) -> float:
        """Largest VmHWM (peak resident set) among ``pids``, in MiB."""
        peak_kb = 0
        for pid in pids:
            for line in (_read(f"/proc/{pid}/status") or "").splitlines():
                if line.startswith("VmHWM:"):
                    peak_kb = max(peak_kb, int(line.split()[1]))
        return peak_kb / 1024.0

    def jvm_peak_rss_mb(self) -> float:
        return self.peak_rss_mb([self._jvm()])

    def worker_peak_rss_mb(self) -> float:
        return self.peak_rss_mb(self.worker_pids())


def host_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    /proc/stat: on a VM, steal is the time its vCPUs waited for the
    host, so the share of a window's ticks stolen witnesses host
    contention during it."""
    fields = [int(x) for x in (_read("/proc/stat") or "").split("\n", 1)[0].split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # (guest time is already inside user and nice)
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def host_probe_ms(reps: int = 5) -> float:
    """Median CPU ms of a fixed pure-Python loop, about 0.1 s a rep on
    a 2 GHz core: a witness of how fast the host runs this VM at that
    moment, independent of the program."""
    times = []
    for _ in range(reps):
        t0 = time.process_time()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(1000 * (time.process_time() - t0))
    return sorted(times)[reps // 2]


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Makes this process the child subreaper of everything it starts:
    a process whose parent exits (a Python worker of an ended JVM, the
    Spark launcher's JVM) is re-parented to this process instead of to
    init, so that end_descendants can see it end and reap it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:  # no children left
        pass


def _wait_ended(timeout_s: float) -> set[int]:
    """Reaps this process's exited children until no process is left
    below it, or the timeout passes; returns what is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        _reap()
        left = set(_descendants(os.getpid()))
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def end_descendants(grace_s: float) -> set[int]:
    """Waits up to ``grace_s`` for every process below this one to
    exit on its own, then sends SIGTERM and, 5 s later, SIGKILL to
    what is left, reaping each. Returns the pids of any still there."""
    left = _wait_ended(grace_s)
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_ended(wait_s)
    return left
