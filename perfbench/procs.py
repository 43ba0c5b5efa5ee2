"""Stopping every process a run starts, and waiting until each has ended.

A run makes itself a child subreaper (Linux ``PR_SET_CHILD_SUBREAPER``):
a process it started that outlives its own parent, such as the JVM of a
CLI process that has exited or a Python worker of a JVM that has
stopped, then becomes the run's child instead of init's, so the run can
wait for it before it starts the next timed operation and before it
exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

from measure import children_map

PR_SET_CHILD_SUBREAPER = 36
#: Seconds a child may take to end on its own before it is terminated.
GRACE_S = 20.0
#: Seconds between SIGTERM and SIGKILL.
KILL_AFTER_S = 5.0


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark() -> None:
    """Stop this process's SparkContext, if any, and let its JVM exit:
    the gateway JVM ends when its standard input closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def stop_descendants() -> None:
    """Return once this process has no child left, reaping each. A child
    still running after ``GRACE_S`` seconds gets SIGTERM, and SIGKILL
    ``KILL_AFTER_S`` seconds later; its own children then become ours
    and are waited for the same way."""
    deadline = time.time() + GRACE_S
    sig = None
    while True:
        _reap()
        kids = children_map().get(os.getpid(), [])
        if not kids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            print(f"# sending {sig.name} to lingering processes {kids}", file=sys.stderr)
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + KILL_AFTER_S
        time.sleep(0.05)
