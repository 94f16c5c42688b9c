"""Keep every process a run starts inside the run, and end them all.

A run starts processes it does not own directly: the Spark gateway JVM,
the PySpark worker daemon the JVM forks (which moves itself into its own
process group) and that daemon's workers, and the DuckDB reference
child. When a parent exits first, its children would be re-parented to
init and outlive the run. ``adopt_orphans`` makes the run a child
subreaper (Linux ``prctl``), so they are re-parented to the run instead,
and ``end_descendants`` terminates and reaps every process still below
it before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> bool:
    """Make this process the subreaper of everything it starts; False
    where the platform does not support it."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return False
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    return prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; the fields
        # after its closing parenthesis are state, ppid, ...
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every process below ``root`` (default: this one), zombies too."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 10.0, limit_s: float = 40.0) -> list[int]:
    """Terminate every process below this one, kill what is left after
    ``grace_s``, and reap them all; return the pids still present after
    ``limit_s`` (empty unless a process cannot be ended)."""
    start = time.monotonic()
    sig = signal.SIGTERM
    while True:
        _reap()
        left = descendants()
        if not left:
            return []
        elapsed = time.monotonic() - start
        if elapsed > limit_s:
            print(f"perfbench: processes still running: {left}", file=sys.stderr)
            return left
        if elapsed > grace_s:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.05)


def exit_on_signals() -> None:
    """Turn SIGTERM and SIGHUP into SystemExit in the main thread, so a
    stopped run still passes through its clean-up."""
    def handler(signum, frame):
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, handler)
