"""Stopping a Spark session and waiting until the gateway JVM and every
process it started (the Python workers) have exited."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _ppids() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name is parenthesized and may hold spaces
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _running(pid: int) -> bool:
    """Alive and not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    ppids = _ppids()
    out, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in ppids.items() if pp == parent]
        out += kids
        frontier += kids
    return out


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM and wait until it and every process
    it started have exited; whatever is left after ``timeout`` is killed."""
    proc = spark.sparkContext._gateway.proc
    children = descendants(proc.pid)
    spark.stop()
    # the gateway JVM exits when its stdin reaches EOF
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in children if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)
