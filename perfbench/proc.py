"""CPU time and resident memory of this process and all its descendants
(the Python driver, the JVM it launched, and the Python workers the JVM
forks), read from /proc; and the lifetime of those processes: the JVM is
stopped and waited for, and a supervising parent reaps whatever is left."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def _stat(pid: int) -> list[str] | None:
    """Fields after the command name of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:  # the process exited while we scanned
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including children
    that already exited and were reaped by a member of the tree."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _mem_kb(pid: int) -> int:
    """Resident memory of one process. Forked Python workers share their
    parent's pages copy-on-write, so they count their proportional share
    (Pss); the JVM shares nothing worth splitting and its smaps walk is
    slow, so it counts its RSS."""
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
            comm = f.read().strip()
        if comm == "java":
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                return int(f.read().split()[1]) * _PAGE // 1024
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration):  # exited while we read it
        return 0


def tree_rss_mb() -> float:
    return sum(_mem_kb(pid) for pid in tree_pids()) / 1024


class PeakRss:
    """Samples the tree's RSS every ``interval`` seconds on a daemon thread
    (each sample walks /proc, so the interval keeps that cost small)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb())


def host_info() -> dict:
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1)}


def stop_gateway(timeout: float = 30.0) -> None:
    """Stop the JVM PySpark launched for this process and wait for it. The
    JVM exits when the pipe on its stdin closes; without this it outlives
    the interpreter by a second or two. Call after ``spark.stop()``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm is None:  # a gateway this process did not launch
        return
    jvm.stdin.close()
    try:
        jvm.wait(timeout)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def supervise(cmd: list[str], grace_s: float = 10.0, term_s: float = 5.0) -> int:
    """Run ``cmd`` as a child and return its exit code, after every process
    it started has ended. This process becomes the child subreaper, so a
    descendant orphaned by its parent (the JVM, PySpark's daemon and its
    workers, which move to their own process group) is re-parented here and
    stays in ``tree_pids``. Descendants still running ``grace_s`` after the
    child exits get SIGTERM, then SIGKILL ``term_s`` later; each is reaped.
    SIGTERM and SIGINT sent to this process go to the child."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    child = subprocess.Popen(cmd)

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signum)

    old = {s: signal.signal(s, forward) for s in (signal.SIGTERM, signal.SIGINT)}
    ended = False
    try:
        rc = child.wait()
    finally:
        for s, handler in old.items():
            signal.signal(s, handler)
        ended = _end_descendants(grace_s, term_s)
    if not ended:
        return 1
    return rc if rc >= 0 else 128 - rc


def _end_descendants(grace_s: float, term_s: float) -> bool:
    """Wait for every descendant to end and reap it; False if some would
    not end even after SIGKILL."""
    me, t0, termed = os.getpid(), time.monotonic(), False
    while True:
        _reap_children()
        rest = [p for p in tree_pids() if p != me]
        if not rest:
            return True
        waited = time.monotonic() - t0
        if waited > grace_s + 2 * term_s:
            print(f"perfbench: processes {rest} would not end", file=sys.stderr)
            return False
        sig = None
        if waited > grace_s + term_s:
            sig = signal.SIGKILL
        elif waited > grace_s and not termed:
            sig, termed = signal.SIGTERM, True
        for pid in rest if sig else ():
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
