"""Run the benchmark in a child process and return only when every process
it started has ended.

A run starts a JVM, the Python workers Spark forks for its Arrow UDFs,
decoding processes and multiprocessing's resource tracker; some of these
outlive their parent by a moment, re-parented away from it. ``supervise``
makes this process a child subreaper (Linux ``prctl``), so every descendant
that loses its parent is re-parented here instead. After the child exits it
reaps every descendant, killing those still running after a grace period.
A signal to this process, or a child that runs past the time limit, stops
the child with SIGTERM and then the whole tree with SIGKILL.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 10.0  # for descendants still exiting after a normal end
STOP_GRACE_S = 5.0  # for the child to clean up after a SIGTERM


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}) failed")


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def _signal_tree(sig: int) -> None:
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_all(grace_s: float) -> None:
    """Reap children until none is left; after ``grace_s``, SIGKILL every
    descendant still running. As subreaper, no descendant can escape this."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            _signal_tree(signal.SIGKILL)
        time.sleep(0.02)


class _Stopped(Exception):
    pass


def _raise_stopped(signum, _frame):
    raise _Stopped(signum)


def supervise(argv: list[str], env: dict, timeout_s: float) -> int:
    """Run ``argv``; return its exit code (1 past ``timeout_s``, 128 + n
    after signal n) once it and all its descendants have ended."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    stops = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    for sig in stops:
        signal.signal(sig, _raise_stopped)
    child = subprocess.Popen(
        argv, env=env,
        # the child dies with this process, even if this one is SIGKILLed
        preexec_fn=lambda: _prctl(PR_SET_PDEATHSIG, signal.SIGKILL))
    grace = GRACE_S
    try:
        code = child.wait(timeout=timeout_s)
    except (_Stopped, subprocess.TimeoutExpired) as e:
        for sig in stops:
            signal.signal(sig, signal.SIG_IGN)
        code = 128 + e.args[0] if isinstance(e, _Stopped) else 1
        child.send_signal(signal.SIGTERM)
        grace = STOP_GRACE_S
    for sig in stops:
        signal.signal(sig, signal.SIG_IGN)
    reap_all(grace)
    return code
