"""Process-tree supervision for the benchmark, read from ``/proc``.

The Spark driver of a workload runs in a child process with a session
and process group of its own. It starts the gateway JVM, which starts
the Python worker daemon, which moves itself to yet another process
group and forks the workers. The JVM only exits when its stdin reaches
EOF, after the child is gone, so the wait for the tree has to live in
the parent. The parent makes itself a child subreaper, so every orphan
of the tree is re-parented to it and can be found and reaped here.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: str) -> tuple[str, int, int] | None:
    """(state, ppid, session id) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields resume
    # after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return fields[0], int(fields[1]), int(fields[3])


def tree(root: int, session: int | None = None) -> list[int]:
    """Processes below ``root``, plus any process in session ``session``
    wherever it was re-parented. Zombies count until they are reaped: a
    process that dies just after a ``reap()`` must still be waited for."""
    children: dict[int, list[int]] = {}
    in_session = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(name)
        if st is None:
            continue
        pid = int(name)
        children.setdefault(st[1], []).append(pid)
        if session is not None and st[2] == session:
            in_session.append(pid)
    found, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in found:
                found.add(c)
                todo.append(c)
    found.update(p for p in in_session if p != root)
    found.discard(os.getpid())
    return sorted(found)


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except (OSError, IndexError, ValueError):
            pass  # exited between the scan and the read
    return total


def reap() -> None:
    """Collect every exited child, including re-parented orphans."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _wait_gone(session: int, seconds: float) -> list[int]:
    deadline = time.monotonic() + seconds
    while True:
        reap()
        left = tree(os.getpid(), session)
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_tree(session: int, grace: float) -> list[int]:
    """Wait up to ``grace`` seconds for everything started under
    ``session`` to exit on its own, then SIGTERM what is left, then
    SIGKILL. Returns the processes still alive after all of that."""
    left = _wait_gone(session, grace)
    if left:
        _signal_all(left, signal.SIGTERM)
        left = _wait_gone(session, grace)
    if left:
        _signal_all(left, signal.SIGKILL)
        left = _wait_gone(session, 5.0)
    return left
