"""Cooperative query cancellation — Spark analog of the reference's core
experiment (/root/reference/src/main.rs:56-105).

Reference semantics: spawn the query on a tokio task, race it against a
CancellationToken, measure elapsed from `token.cancel()` to runtime teardown
(src/main.rs:92-104).  The published defect: non-yielding in-memory scans
delay cancellation by ~300-2000 ms (README.md:69-71).

Spark mapping: the query runs in a job group on a background
InheritableThread with ``interruptOnCancel=True``; ``cancelJobGroup`` kills
its active jobs, and tasks stop at the next InterruptibleIterator record
boundary — the same cooperative-yield granularity the reference measures.
For a cached scan that boundary is one cached batch, of the row count
``session.RUNTIME_CONFS`` pins (the codegen loop inside a batch never
checks).  Cancel duration = elapsed from the cancel call until the action
thread observes termination.
"""

from __future__ import annotations

import threading
import time

from pyspark import InheritableThread
from pyspark.sql import SparkSession


def _running_tasks(sc) -> int:
    """Tasks running now, read live from the task scheduler."""
    counts = sc._jsc.sc().taskScheduler().runningTasksByExecutors().values().mkString(",")
    return sum(int(c) for c in counts.split(",") if c)


def cancel_once(spark: SparkSession, build_df, wait_ms: int) -> tuple[int, int, bool]:
    """Run one cancellation race (mirrors run_test, src/main.rs:56-105),
    waiting from the job's first running task.  Returns (wait_ms,
    cancel_duration_ms, hit): hit is True when the first cancel ended the
    query as interrupted within 1 s; else it is re-issued once."""
    sc = spark.sparkContext
    gid = f"cancel-bench-{wait_ms}-{time.monotonic_ns()}"
    done = threading.Event()
    errored: list[bool] = []

    def run_query() -> None:
        sc.setJobGroup(gid, "cancellation benchmark query", interruptOnCancel=True)
        try:
            build_df().collect()
            errored.append(False)
        except Exception:
            errored.append(True)
        finally:
            done.set()

    t = InheritableThread(target=run_query)
    t.start()
    deadline = time.monotonic() + 300
    while not done.is_set() and _running_tasks(sc) == 0 and time.monotonic() < deadline:
        time.sleep(0.001)
    time.sleep(wait_ms / 1000.0)  # src/main.rs:92
    t_cancel = time.monotonic()  # src/main.rs:94
    sc.cancelJobGroup(gid)  # src/main.rs:97 (token.cancel)
    # cancelJobGroup only hits *active* jobs (the reference's token stays
    # cancelled): one re-issue recovers a cancel that found none.
    missed = not done.wait(timeout=1.0)
    if missed:
        sc.cancelJobGroup(gid)
    t.join(timeout=300)
    cancel_ms = int((time.monotonic() - t_cancel) * 1000)  # src/main.rs:100-104
    return wait_ms, cancel_ms, not missed and bool(errored and errored[0])


def sweep(spark: SparkSession, build_df, waits_ms) -> list[tuple[int, int, bool]]:
    """Wait-time sweep (mirrors the 10..=60 ms loop, src/main.rs:48-51)."""
    return [cancel_once(spark, build_df, w) for w in waits_ms]


def markdown_table(results) -> str:
    """The reference's exact output format (src/main.rs:46-47)."""
    lines = [
        "| Wait time (ms) | Cancel duration (ms) |",
        "|----------------|----------------------|",
    ]
    lines += [f"| {w} | {c} |" for (w, c, _) in results]
    return "\n".join(lines)
