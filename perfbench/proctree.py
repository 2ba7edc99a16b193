"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process plus every descendant: the JVM
that spark-submit launches, the Python worker daemon the JVM forks, and
that daemon's workers.  CPU time of a process that has exited and been
reaped is already in its parent's ``cutime``/``cstime``, so summing the
live processes' own and reaped-children's times counts each tick once.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
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


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime summed over the live tree."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(self.root))


def become_subreaper() -> None:
    """Make orphaned descendants re-parent to this process instead of to
    init, so they stay in the tree and are reaped here.  spark-submit
    leaves one behind: the launcher JVM of ``spark-class`` runs in a
    process substitution that the script's final ``exec`` abandons."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _alive(pid: int, start: str) -> bool:
    """``pid`` is still the process that started at ``start``.  A zombie
    counts: the JVM's main thread shows one while its other threads still
    run the shutdown hooks, and an exited one is reaped here in the end."""
    st = _stat(pid)
    return st is not None and st[19] == start


def _reap() -> None:
    """Collect the exit status of every child of this process that has
    ended, so none stays a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(root: int, grace: float = 15.0, term: float = 10.0) -> list[int]:
    """End every descendant of ``root`` and wait until each has gone.

    The descendants get ``grace`` seconds to exit on their own (the JVM
    does once its stdin pipe is closed), then SIGTERM, and after
    ``term`` more seconds SIGKILL.  The tree is listed before anything is
    signalled, so processes that lose their parent on the way (the
    Python worker daemon when the JVM exits) are still waited for.
    Returns the pids that had to be signalled."""
    procs = {}
    for pid in tree_pids(root):
        st = _stat(pid)
        if pid != root and st is not None:
            procs[pid] = st[19]

    def live() -> list[int]:
        _reap()
        return [p for p, start in procs.items() if _alive(p, start)]

    signalled: list[int] = []
    for sig, wait in ((None, grace), (signal.SIGTERM, term), (signal.SIGKILL, term)):
        left = live()
        if sig is not None:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled.extend(p for p in left if p not in signalled)
        deadline = time.monotonic() + wait
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = live()
        if not left:
            break
    return signalled
