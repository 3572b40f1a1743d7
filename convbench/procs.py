"""Ending every process a benchmark run starts.

The session's JVM exits on its own once its stdin pipe closes, and the
Python workers once the JVM is gone, but both do so asynchronously: a run
that simply returns leaves them running for a while after it has printed
its result. ``become_subreaper`` makes orphaned descendants reparent to this
process, so ``end_descendants`` can find every one of them, wait for it,
signal the ones that do not end, and reap them all before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from typing import Any, Optional

from spans import process_tree

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Adopt this process's orphaned descendants (Linux); False if refused."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def descendants() -> list[int]:
    me = os.getpid()
    return [pid for pid in process_tree(me) if pid != me]


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
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


def end_descendants(grace: float = 30.0, term_wait: float = 10.0,
                    poll: float = 0.05) -> dict[str, list[int]]:
    """Wait until this process has no descendant left: ``grace`` seconds for
    them to end by themselves, then SIGTERM, then after ``term_wait`` more
    seconds SIGKILL. Returns the pids found at the start ("waited") and
    those that had to be signalled."""
    signalled: dict[str, list[int]] = {"waited": [], "term": [], "kill": []}
    start = time.monotonic()
    stage = "wait"
    while True:
        reap()
        left = descendants()
        if not left:
            return signalled
        signalled["waited"] = signalled["waited"] or left
        waited = time.monotonic() - start
        if stage == "wait" and waited > grace:
            stage = "term"
            signalled["term"] = left
            _signal_all(left, signal.SIGTERM)
        elif stage == "term" and waited > grace + term_wait:
            stage = "kill"
            signalled["kill"] = left
        if stage == "kill":
            _signal_all(left, signal.SIGKILL)
        time.sleep(poll)


def stop_spark(spark: Optional[Any]) -> None:
    """Stop the session (if one was made), then close the JVM's stdin so
    that the JVM exits; also after a session that failed to start or a
    request that broke off mid-call."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the gateway may be broken; go on to end the JVM
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
