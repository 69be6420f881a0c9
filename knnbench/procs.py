"""Every process the benchmark starts ends before the benchmark does.

Spark's JVM starts a Python worker daemon in a process group of its own and
does not wait for it when it stops; multiprocessing keeps a resource tracker
alive until the interpreter exits. So the benchmark makes itself a child
subreaper (orphaned descendants are re-parented to it rather than to init),
turns SIGTERM and SIGHUP into ``SystemExit`` so its clean-up runs, and before
it prints a result waits for every descendant, ending any that outstays a
grace period. Linux only.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 10.0  # for descendants to end on their own, then again after SIGTERM


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def exit_on_signals() -> None:
    def handler(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, handler)


def _parent(pid: str) -> "int | None":
    """Parent pid of a process, or None once it has gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError):
        return None


def descendants() -> "list[int]":
    """Descendants of this process, zombies not yet reaped included."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _parent(name)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> None:
    for pid in descendants():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _wait_gone(seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while True:
        _reap()
        if not descendants():
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


def end_all() -> "list[int]":
    """Wait for every descendant to end: ``GRACE_S`` on their own, then as
    long again after SIGTERM, then SIGKILL. Returns the pids that had to be
    signalled."""
    from multiprocessing import resource_tracker

    try:
        # it ignores SIGTERM; _stop closes its pipe and waits for it
        resource_tracker._resource_tracker._stop()
    except (AttributeError, ChildProcessError):
        pass
    if _wait_gone(GRACE_S):
        return []
    stragglers = descendants()
    print(f"[knnbench] ending left-over processes {stragglers}", file=sys.stderr, flush=True)
    _signal_all(signal.SIGTERM)
    if not _wait_gone(GRACE_S):
        _signal_all(signal.SIGKILL)
        _wait_gone(GRACE_S)
    return stragglers
