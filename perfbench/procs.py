"""Lifetime of the processes a run starts: the Spark driver JVM, the
Python daemon it forks, that daemon's workers, and the launcher shell
the JVM inherits from ``spark-submit``.

A run must leave none of them behind on any way out of it:

* the run makes itself its descendants' subreaper (``adopt_orphans``):
  a process whose parent ends before it is handed to the run, not to
  the system's init, so the run can wait for it;
* a normal end or an exception stops Spark through ``stop_spark``,
  which ends the JVM and then waits until the run has no child process
  left, killing what does not exit by itself;
* SIGTERM, SIGHUP, SIGINT and the run's own deadline (SIGALRM) raise
  ``Abort`` in the main thread, so the same clean-up runs;
* if the benchmark is killed outright, the kernel kills the JVM with it
  (``die_with_parent``), and the daemon exits when the JVM's end closes
  its standard input.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import sys
import time

from probes import children_by_parent

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36
ABORT_SIGNALS = (signal.SIGTERM, signal.SIGHUP, signal.SIGINT, signal.SIGALRM)
_prctl = ctypes.CDLL(None, use_errno=True).prctl


class Abort(BaseException):
    """A stop request: a signal or the run's deadline.  Not an
    ``Exception``, so no ``except Exception`` in py4j or the engine
    swallows it."""


def _raise_abort(signum, _frame):
    raise Abort(signal.Signals(signum).name)


def install_abort_handlers(deadline_s: int) -> None:
    """Turn the stop signals into ``Abort`` and arm the deadline."""
    for sig in ABORT_SIGNALS:
        signal.signal(sig, _raise_abort)
    signal.alarm(deadline_s)


@contextlib.contextmanager
def signals_deferred():
    """Hold the stop signals while clean-up runs; one that arrived
    meanwhile is delivered (and raises ``Abort``) when the block ends."""
    signal.pthread_sigmask(signal.SIG_BLOCK, ABORT_SIGNALS)
    try:
        yield
    finally:
        signal.pthread_sigmask(signal.SIG_UNBLOCK, ABORT_SIGNALS)


def adopt_orphans() -> None:
    """Become the subreaper of every process this one starts."""
    if _prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def die_with_parent() -> None:
    """Make the JVM pyspark launches get SIGKILL when this process dies,
    however it dies.  Wraps the ``Popen`` pyspark's gateway launcher
    calls; must run before the first Spark session starts."""
    import pyspark.java_gateway as gateway

    parent = os.getpid()
    popen = gateway.Popen

    def launch(cmd, **kwargs):
        inner = kwargs.get("preexec_fn")

        def preexec():
            if inner is not None:
                inner()
            _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)
            if os.getppid() != parent:  # the parent died before prctl
                os._exit(1)

        kwargs["preexec_fn"] = preexec
        return popen(cmd, **kwargs)

    gateway.Popen = launch


def live_descendants() -> list[int]:
    """Descendants of this process that are not zombies."""
    kids = children_by_parent()
    out, stack = [], list(kids.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.rindex(")") + 2] != "Z":
            out.append(pid)
    return out


def reap_descendants(grace_s: float, kill_s: float = 10.0) -> None:
    """Wait until this process has no child left, reaping each one that
    ends (orphaned descendants are its children too, see
    ``adopt_orphans``).  After ``grace_s`` seconds, SIGKILL every live
    descendant; give up ``kill_s`` seconds later."""
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child, so no descendant, is left
        waited = time.monotonic() - t0
        if waited > grace_s + kill_s:
            print(f"processes still running: {live_descendants()}", file=sys.stderr)
            return
        if waited >= grace_s:
            for pid in live_descendants():
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every process the run
    started.  ``spark`` is None when the session did not finish
    starting."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception as e:  # noqa: BLE001 - the JVM is ended below anyway
        print(f"spark.stop failed: {e!r}", file=sys.stderr)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - a hung JVM is killed
            proc.kill()
            proc.wait()
    reap_descendants(grace_s=10)
