"""Benchmark entry point.

    python3 perfbench/run.py --workload {curation,cancel} \
        --seed N --seconds S --trace {0,1} [--cores N]

Run from the repository root.  The program runs in this process on
``local[N]`` Spark; the benchmark generates its inputs from ``--seed``, warms
up, measures whole passes for ``--seconds``, checks the outputs, and prints
one JSON object as the last line of stdout.  With ``--trace 0`` it holds the
end-to-end metrics; with ``--trace 1`` the per-layer metrics, taken from a
run that also records spans.  The full per-op record, warm-up passes and
machine state included, goes to ``.bench_run/<workload>-seed<N>-trace<T>.json``.
Everything the run writes stays under ``.bench_run/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01  # curation corpus scale factor
# The Java heap is fixed (-Xms = -Xmx), as on a deployed driver.  Its pages
# are all resident after warm-up, so peak_rss_mb moves with the memory
# outside the heap (Python, JVM native); heap use shows in
# jvm.old_gen_peak_mb and exec.gc_s.  A growing heap made peak RSS vary by
# ~15 % from run to run.
DRIVER_MEM = "2g"

# Registry modules the benchmarked workloads call; each gets build_s,
# build_jobs and py4j_calls per-layer metrics (0 on a workload that does not
# call it).  A traced run also reports any other module its workload calls.
LAYER_MODULES = ["pipeline.curation", "pipeline.dedup", "pipeline.text"] + [
    f"operators.{m}" for m in (
        "aggregates", "composite", "composite2", "joins", "relational",
        "sorting", "subqueries", "windows",
    )
]
EXEC_KEYS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
]


class Context:
    """What a workload needs: the session, registry, inputs and clock."""

    def __init__(self, args, spark, queries, oracles, tracer, sf_dir):
        self.spark, self.queries, self.oracles, self.tracer = spark, queries, oracles, tracer
        self.sf_dir, self.seed, self.seconds = sf_dir, args.seed, args.seconds
        self.rng = random.Random(args.seed)
        self.layer: dict[str, float] = {}
        self.setup_s = None
        self._t_measure = None

    def mark_setup_done(self) -> None:
        """Called just before the first timed operation.  Also resets the
        peak RSS of this process and the JVM tree, so ``peak_rss_mb`` leaves
        out set-up peaks (corpus generation, DuckDB oracles, JVM start)."""
        for pid in _process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # VmHWM := current VmRSS
            except OSError:
                pass
        for pool in _old_gen_pools(self.spark):
            pool.resetPeakUsage()
        self._t_measure = time.perf_counter()
        self.setup_s = self._t_measure - T_START

    def elapsed(self) -> float:
        return time.perf_counter() - self._t_measure


def _process_tree(pid: int) -> list[int]:
    """``pid`` and every process descended from it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            continue  # exited meanwhile
    return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def _old_gen_pools(spark) -> list:
    """The JVM's old-generation heap pools."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return [p for p in beans if "Old" in p.getName() or "Tenured" in p.getName()]


def old_gen_peak_mb(spark) -> float:
    """Peak old-generation heap use since ``mark_setup_done``: the Java heap
    the program retains, which ``peak_rss_mb`` cannot show (the heap is
    fixed, so its pages are resident whatever the program keeps)."""
    return sum(p.getPeakUsage().getUsed() for p in _old_gen_pools(spark)) / (1024 * 1024)


def _pct(values, q: int) -> float:
    """The q-th percentile, as ``statistics.quantiles`` interpolates it."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(res, ctx, rss_mb: float) -> dict:
    """The ``--trace 0`` metrics: name -> (value, unit)."""
    lat = res["latency_s"]
    return {
        "setup_s": (ctx.setup_s, "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in res["passes"]), "s"),
        "op_p50_ms": (_pct(lat, 50) * 1e3, "ms"),
        "op_p90_ms": (_pct(lat, 90) * 1e3, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(res, ctx, cores: int, heap_mb: float) -> dict:
    """The ``--trace 1`` metrics, per measured pass unless set once per run."""
    passes = res["passes"]
    n = len(passes)
    ops = [o for p in passes for o in p["ops"]]

    def per_pass(key, pick=lambda o: True):
        return sum(o.get(key) or 0 for o in ops if pick(o)) / n

    m = {k: (v, "s") for k, v in ctx.layer.items()}
    m["jvm.old_gen_peak_mb"] = (heap_mb, "MB")
    m["io.table_ms"] = (sum(p.get("io_table_ms", 0) for p in passes) / n, "ms")
    m["io.table_calls"] = (sum(p.get("io_table_calls", 0) for p in passes) / n, "count")
    for mod in sorted(set(LAYER_MODULES) | {o["module"] for o in ops if "module" in o}):
        mine = lambda o, mod=mod: o.get("module") == mod  # noqa: E731
        m[f"{mod}.build_s"] = (per_pass("build_s", mine), "s")
        m[f"{mod}.build_jobs"] = (per_pass("build_jobs", mine), "count")
        m[f"{mod}.py4j_calls"] = (per_pass("py4j_calls", mine), "count")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (per_pass(f"catalyst_{phase}_ms"), "ms")
    for k in EXEC_KEYS:
        unit = {"s": "s", "mb": "MB"}.get(k.rpartition("_")[2], "count")
        m[f"exec.{k}"] = (per_pass(k), unit)
    wall = statistics.median(p["wall_s"] for p in passes)
    m["exec.busy_frac"] = (m["exec.executor_run_s"][0] / (wall * cores), "fraction")
    races = [o for o in ops if o.get("op") == "race"]
    submit = [o["submit_ms"] for o in races if o.get("submit_ms") is not None]
    m["cancel.submit_ms"] = (statistics.median(submit) if submit else 0.0, "ms")
    m["cancel.reissues"] = (per_pass("reissues"), "count")
    m["cancel.interrupted_frac"] = (
        sum(o["interrupted"] for o in races) / len(races) if races else 0.0, "fraction",
    )
    m["trace.pass_s"] = (wall, "s")
    return m


def _stop_spark(spark, pids) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _machine(cores: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "load1_before": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _machine_after(machine: dict, ticks_before: list[int]) -> None:
    """load1 after the run and the share of CPU time the host stole."""
    d = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    machine["load1_after"] = os.getloadavg()[0]
    machine["steal_frac"] = d[7] / max(1, sum(d))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["curation", "cancel"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=3, help="N of local[N]")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "datafusion_test_spark")):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".bench_run")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(args.cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}' pyspark-shell",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)  # spark-warehouse and friends land in the work dir
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        return _run(args, work, out_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    from perfbench import corpus
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    machine, ticks = _machine(args.cores), _cpu_ticks()
    sf_dir = os.path.join(work, f"corpus-sf{SF}")
    if args.workload != "cancel":
        corpus.write(sf_dir, SF, args.seed)

    t0 = time.perf_counter()
    from datafusion_test_spark.session import get_session

    spark = get_session("perfbench")
    t1 = time.perf_counter()
    from datafusion_test_spark import registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    t2 = time.perf_counter()
    pids = _process_tree(os.getpid())[1:]
    try:
        tracer = Tracer(spark, bool(args.trace))
        tracer.wrap_io_table()
        ctx = Context(args, spark, queries, oracles, tracer, sf_dir)
        ctx.layer.update({"session.start_s": t1 - t0, "registry.load_s": t2 - t1})
        ctx.layer.setdefault("sources.generate.build_s", 0.0)
        res = WORKLOADS[args.workload](ctx)
        pids = _process_tree(os.getpid())[1:]
        rss = peak_rss_mb([os.getpid()] + pids)
        heap_mb = old_gen_peak_mb(spark)
    finally:
        _stop_spark(spark, pids)
    _machine_after(machine, ticks)

    attempted = sum(len(p["ops"]) for p in res["passes"]) + sum(
        len(w["ops"]) for w in res["warmup"]
    )
    failed = len(res["failures"])
    metrics = per_layer(res, ctx, args.cores, heap_mb) if args.trace else end_to_end(res, ctx, rss)
    record = {
        "args": vars(args), "machine": machine, "setup_s": ctx.setup_s,
        "peak_rss_mb": rss, "old_gen_peak_mb": heap_mb, "failed_frac": failed / attempted, **res,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "spans": tracer.spans,
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for msg in res["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    for msg in res.get("flags", []):
        print(f"FLAGGED {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["wrong"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
