"""The run's process tree: its CPU time, and stopping it.

A run starts the Spark JVM, which forks the Python worker daemon and its
workers. The JVM exits on its own only after this process has gone, so a
run that just returned would leave it (and the workers) behind for the
next run to find; :func:`stop_spark` ends them all and waits.
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import time


def proc_stats() -> dict[int, list[str]]:
    """The fields of ``/proc/<pid>/stat`` after the command name, per
    live pid: [0] state, [1] ppid, [11:15] CPU ticks, [19] start time."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        out[int(entry)] = stat[stat.rindex(")") + 2:].split()
    return out


def descendants(stats: dict[int, list[str]] | None = None) -> dict[int, str]:
    """Start time of every process descended from this one, by pid."""
    stats = proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    found, todo = {}, [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), ()):
            found[child] = stats[child][19]
            todo.append(child)
    return found


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the Spark JVM and its Python workers. Children already
    reaped count through their parent's totals."""
    stats = proc_stats()
    ticks = sum(int(x) for pid in [os.getpid(), *descendants(stats)]
                for x in stats[pid][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(grace_s: float = 20.0) -> None:
    """Stop the Spark context and its JVM, and wait until every process
    this one started has ended: SIGTERM after ``grace_s``, SIGKILL after
    twice that. Safe to call when Spark never started."""
    tree = descendants()
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):
            SparkContext._gateway.shutdown()
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin ends
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    tree.update(descendants())
    deadline, sent = time.monotonic() + grace_s, None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:  # reap our own exited children
                pass
        stats = proc_stats()
        alive = [pid for pid, start in tree.items()
                 if pid in stats and stats[pid][19] == start and stats[pid][0] != "Z"]
        if not alive:
            return
        over = time.monotonic() - deadline
        sig = signal.SIGKILL if over > grace_s else signal.SIGTERM if over > 0 else None
        if sig is not None and sig != sent:
            for pid in alive:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)
