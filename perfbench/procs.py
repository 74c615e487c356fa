"""Spark session lifecycle with a fresh JVM per session, and the process
tree (driver, JVM, Python workers) read from /proc."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Peak RSS of this process and its descendants over a ``with`` block.

    Each process's high-water mark (VmHWM) is reset on entry by writing 5
    to its clear_refs and read on exit, so no peak is missed between
    samples. ``py_mb`` sums the peaks of the driver and Python worker
    processes, ``jvm_mb`` is the java process's, ``tree_mb`` their sum. A
    sum of per-process peaks bounds the simultaneous peak from above."""

    def __enter__(self) -> "PeakRss":
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue  # exited, or not ours to reset
        return self

    def __exit__(self, *exc) -> None:
        py = jvm = 0
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/comm") as f:
                    is_jvm = f.read().strip() == "java"
                with open(f"/proc/{p}/status") as f:
                    hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
            except (OSError, StopIteration, ValueError):
                continue  # exited while we looked, or a kernel thread
            if is_jvm:
                jvm += hwm_kb
            else:
                py += hwm_kb
        self.py_mb, self.jvm_mb, self.tree_mb = py / 1024, jvm / 1024, (py + jvm) / 1024


def start_session(cpus: int):
    """get_spark on a JVM launched for this session; returns (spark, seconds)."""
    from baum_welch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, end its JVM and wait until every process it started
    (the JVM and its Python worker daemon and workers) has exited, so the
    next start_session launches a new JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap(started)


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill any still alive after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
