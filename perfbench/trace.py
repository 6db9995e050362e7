"""Layer trace recorded from outside the program.

Spans (name, start, end, parent, op id) are kept in memory and written with
the run record.  Counters come from the layer boundaries the benchmark can
reach without editing the program:

- py4j: gateway round trips, counted by wrapping the gateway client's
  ``send_command`` (not the object deletes Python's garbage collector sends,
  whose timing varies from run to run);
- io: every ``io.table()`` call, wrapped in each program module that bound it;
- catalyst: phase times from the ``QueryExecution`` tracker;
- exec: job, stage and task counts and task metrics from the status store,
  per job group.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager

from py4j import protocol as proto
from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


class Tracer:
    """Spans and counters of one traced run; a no-op when ``enabled`` is False."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.table_calls = 0
        self.table_s = 0.0
        self._stack: list[int] = []
        self._lock = threading.Lock()
        if enabled:
            self._wrap_gateway(spark.sparkContext._gateway._gateway_client)

    def _wrap_gateway(self, client) -> None:
        send = client.send_command
        gc_delete = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

        def counted(command, *args, **kwargs):
            if not command.startswith(gc_delete):
                with self._lock:
                    self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    def wrap_io_table(self, package: str = "datafusion_test_spark") -> None:
        """Time every ``io.table`` call, in each module that imported it."""
        if not self.enabled:
            return
        io_mod = sys.modules[f"{package}.io"]
        original = io_mod.table

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.table_calls += 1
                self.table_s += time.perf_counter() - t0

        for name, mod in list(sys.modules.items()):
            if name.startswith(package) and getattr(mod, "table", None) is original:
                mod.table = timed

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one span; nested spans name the enclosing one as parent."""
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None}
        rec["start"] = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own query execution.

    Forces the optimized and physical plans, which the sink would otherwise
    build on its own execution; the extra planning is tracing overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def exec_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of every job in ``group``.

    Waits for the listener bus first, so the status store has every event of
    jobs that have already returned to the caller."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb"), 0.0,
    )
    seen = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        for sid in map(int, store.job(job_id).stageIds().mkString(",").split(",")):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never submitted: skipped, its output reused
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["output_mb"] += st.outputBytes() / MB
    return out
