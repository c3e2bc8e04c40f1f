"""Process-tree and host counters read from ``/proc`` (Linux only).

The tree is this process plus every descendant: the Spark JVM,
the PySpark worker daemon and its Python workers.  CPU of a descendant
that has exited is still counted once its parent reaps it, through the
parent's ``cutime``/``cstime``.  ``become_subreaper`` and
``end_descendants`` make sure no process of the tree outlives the run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, starting at field 3
    return raw[raw.rfind(")") + 2:].split()


def tree(root: int | None = None) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` (default: this process) and all
    of its descendants."""
    root = root or os.getpid()
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                stats[int(name)] = f
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and int(f[3]) == sid and f[0] != "Z":
                out.append(int(name))
    return out


def tree_cpu(root: int | None = None) -> tuple[float, float]:
    """(user, sys) CPU seconds of the process tree, reaped children
    included."""
    user = sys_ = 0
    for f in tree(root).values():
        user += int(f[11]) + int(f[13])
        sys_ += int(f[12]) + int(f[14])
    return user / _TICK, sys_ / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    return sum(int(f[21]) for f in tree(root).values()) * _PAGE


def become_subreaper() -> None:
    """Make this process inherit every orphaned descendant (the PySpark
    daemon's workers, a setup probe's JVM), so ``end_descendants`` can
    wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> bool:
    """Reap every exited child; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def end_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace_s``."""
    from multiprocessing import resource_tracker

    # the semaphore tracker of spawn pools outlives them until its pipe
    # closes; close it and wait for it
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        live = [p for p, f in tree().items() if p != os.getpid() and f[0] != "Z"]
        if not _reap() and not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds by state since boot, summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) / _TICK for n, v in zip(names, vals)}


class RssSampler:
    """Polls the tree's summed RSS from a daemon thread and keeps the
    peak.  Use as a context manager around the measured region."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
