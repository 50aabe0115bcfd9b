"""Concurrent branches of one load, and per-stage wall times and job tags.

Spark's scheduler accepts jobs from several driver threads at once, so
steps with no data dependency between them overlap instead of queueing
behind each other's fixed per-job costs. A branch is a zero-argument
callable running one chain of dependent steps. A branch must never
toggle session conf: ``spark.conf.set`` is session-wide, not
thread-local, so a sibling branch would see it.
"""

from __future__ import annotations

import contextlib
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark import SparkContext, inheritable_thread_target
from pyspark.sql import SparkSession

STAGE_TAG = "sparkhouse.stage."


def run_branches(spark: SparkSession, *branches: Callable) -> list:
    """Run each branch on its own driver thread; return their results in
    branch order. Every thread starts with the caller's Spark local
    properties (job group, description, pool) and session tags. All
    branches finish before the first error, in branch order, is
    re-raised, so no branch is still writing when the caller sees it."""
    with ThreadPoolExecutor(len(branches)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(b)) for b in branches
        ]
    return [f.result() for f in futures]


@contextlib.contextmanager
def timed(sc: SparkContext, stage_sec: dict, name: str):
    """Record the block's wall time (s) as ``stage_sec[name]`` and tag
    every Spark job the block starts ``sparkhouse.stage.<name>``, so the
    status store can count a stage's jobs. Tags live in the thread's
    local properties: a branch started inside the block carries the tag
    (``run_branches``), and sibling branches keep their own. The context
    is passed in because ``SparkSession.getActiveSession()`` is None on
    a branch thread; the caller's job group is left alone."""
    tag = STAGE_TAG + name
    sc.addJobTag(tag)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        sc.removeJobTag(tag)
    stage_sec[name] = round(time.perf_counter() - t0, 3)
