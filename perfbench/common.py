"""Helpers shared by the workloads."""

from __future__ import annotations

import multiprocessing
import os
import time


def in_child(fn):
    """``fn()`` run in a forked child; returns its (picklable) result.
    The input generators run this way, before the driver JVM starts, so
    the memory they touch never lands in the process whose resident
    memory ``process.peak_rss_mb`` samples."""
    mp = multiprocessing.get_context("fork")
    receive, send = mp.Pipe(duplex=False)

    def target() -> None:
        try:
            send.send((True, fn()))
        except BaseException as exc:  # noqa: BLE001 — reported in the parent
            send.send((False, repr(exc)))

    child = mp.Process(target=target)
    child.start()
    send.close()
    try:
        ok, value = receive.recv()
    except EOFError:
        ok, value = False, "the generator process died"
    child.join()
    if not ok:
        raise RuntimeError(f"input generation failed: {value}")
    return value


def job_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``, read from
    ``SparkContext.statusTracker``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def tree_files(path: str, suffix: str = "") -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and
    ``_``-prefixed bookkeeping files."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def sleep_until(t: float) -> None:
    """Sleep until wall-clock time ``t`` (no-op if already past)."""
    while True:
        left = t - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05))
