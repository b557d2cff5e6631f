"""Process-tree bookkeeping for one benchmark run.

The run makes itself a child subreaper, so every process it starts (the
Spark gateway JVM, the ``pyspark.daemon`` and its workers, generator pool
workers) is re-parented to it when its own parent dies. That lets the run
sample the RSS of the whole tree, reap every child it leaves, and fail if
any is still alive when it exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36
_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int):
    """(ppid, state, comm) of ``pid`` or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    head, _, tail = raw.rpartition(")")
    fields = tail.split()
    return int(fields[1]), fields[0], head.partition("(")[2]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


def descendants(root: int | None = None) -> dict[int, tuple]:
    """{pid: (ppid, state, comm)} for every process below ``root``."""
    root = os.getpid() if root is None else root
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    out, frontier = {}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in table.items():
            if st[0] == parent and pid not in out:
                out[pid] = st
                frontier.append(pid)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def classify(pid: int, comm: str) -> str:
    """'jvm', 'py_worker' or 'other' for one descendant process."""
    if comm == "java":
        return "jvm"
    cmd = _cmdline(pid)
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd or comm.startswith("python"):
        return "py_worker"
    return "other"


class RssSampler:
    """Samples the RSS of this process plus all descendants on a thread.

    ``peak_mb`` is the largest tree total seen; ``peak_by_kind`` the largest
    per-kind totals (jvm / py_worker) seen, each at its own sample.
    """

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_kind = {"jvm": 0.0, "py_worker": 0.0}
        self._kinds: dict[tuple, str] = {}  # (pid, comm): exec changes comm
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = _rss_bytes(me)
        by_kind = {"jvm": 0, "py_worker": 0}
        for pid, (_, state, comm) in descendants(me).items():
            if state == "Z":
                continue
            rss = _rss_bytes(pid)
            total += rss
            kind = self._kinds.get((pid, comm))
            if kind is None:
                kind = self._kinds[(pid, comm)] = classify(pid, comm)
            if kind in by_kind:
                by_kind[kind] += rss
        self.peak_mb = max(self.peak_mb, total / 2**20)
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], v / 2**20)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def reap() -> None:
    """Collect the exit status of every finished child (zombie)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_tree() -> None:
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def settle(timeout_s: float = 15.0) -> list[str]:
    """Reap children until none is left or ``timeout_s`` passes; then kill
    and reap whatever is still there. Returns a description of every
    process that had to be killed (empty when the tree ended by itself)."""
    deadline = time.monotonic() + timeout_s
    while True:
        reap()
        left = descendants()
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    leftovers = [f"{pid} {comm} [{state}] {_cmdline(pid)[:120]}"
                 for pid, (_, state, comm) in sorted(left.items())]
    if left:
        kill_tree()
        end = time.monotonic() + 5
        while descendants() and time.monotonic() < end:
            reap()
            time.sleep(0.05)
        reap()
    return leftovers
