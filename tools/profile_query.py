"""Per-query profiler for the optimization rounds (guide §1).

For each named headline query: time the BUILD phase (``fn(spark, sf_dir)`` —
driver-side plan construction plus any eager actions such as
localCheckpoints and Lloyd rounds) separately from the EXEC phase (the noop
sink write, guide §1.4), count the Spark jobs each phase launched (via a
job group + statusTracker), report the largest whole-stage-codegen method
(``max_method_bytes``: over 8,000 bytes HotSpot never JIT-compiles it, so
that stage runs in the bytecode interpreter), and optionally dump
``explain("formatted")``.  ``cds`` says how the driver JVM started
(``session.cds_state()``: ``use``, ``dump`` or ``off:<reason>``), since a
start without the class-data-sharing archive runs its first queries colder.
``compiles``/``compile_ms``: Janino compiles in the final rep's exec phase.
``py4j_calls``: the final rep's build-phase round trips, as perfbench counts them.

Usage:
    python tools/profile_query.py [--reps N] [--explain DIR] [--sf DIR] name ...
    python tools/profile_query.py --top 25          # 25 slowest from the last pair record

Prints one JSON line per query:
    {"name": ..., "build_sec": [...], "exec_sec": [...], "jobs_build": n, "jobs_exec": n,
     "total_best": s, "max_method_bytes": n, "compiles": n, "compile_ms": ms,
     "py4j_calls": n, "cds": state}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_test_spark import registry
from datafusion_test_spark.io import table
from datafusion_test_spark.plans.introspect import max_method_bytes
from datafusion_test_spark.session import cds_state, get_session
from perfbench.trace import Tracer


def _jobs_in_group(sc, group: str) -> int:
    try:
        return len(sc.statusTracker().getJobIdsForGroup(group))
    except Exception:
        return -1


def _codegen(jvm) -> tuple[int, int]:
    """(Janino compilations, their nanoseconds) so far in this JVM."""
    return (jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime())


def profile(spark, name, fn, sf_dir, reps, tracer, explain_dir=None):
    sc = spark.sparkContext
    builds, execs, jobs_b, jobs_e = [], [], -1, -1
    for i in range(reps):
        gb = f"prof-{name}-build-{i}"
        sc.setJobGroup(gb, name)
        tracer.py4j_calls = 0
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        py4j = tracer.py4j_calls
        cg0 = _codegen(spark._jvm)
        ge = f"prof-{name}-exec-{i}"
        sc.setJobGroup(ge, name)
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        cg = [b - a for a, b in zip(cg0, _codegen(spark._jvm))]
        builds.append(round(t1 - t0, 3))
        execs.append(round(t2 - t1, 3))
        # job counts are per-rep (each rep uses fresh group ids); report the
        # FINAL rep's counts — steady-state, matching total_best's min-rep idea
        jobs_b = _jobs_in_group(sc, gb)
        jobs_e = _jobs_in_group(sc, ge)
        if explain_dir and i == 0:
            os.makedirs(explain_dir, exist_ok=True)
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    sc.setJobGroup(None, None)
    # after the timed reps: compiling here would warm the codegen cache
    method_bytes = max_method_bytes(df)
    return {
        "name": name,
        "build_sec": builds,
        "exec_sec": execs,
        "jobs_build": jobs_b,
        "jobs_exec": jobs_e,
        "total_best": round(min(b + e for b, e in zip(builds, execs)), 3),
        "max_method_bytes": method_bytes,
        "compiles": cg[0], "compile_ms": round(cg[1] / 1e6, 1), "py4j_calls": py4j,
    }


def main():
    args = sys.argv[1:]
    reps = 2
    explain_dir = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    topn = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--explain":
            explain_dir = args[i + 1]; i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--top":
            topn = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1
    if topn:
        import glob
        recs = sorted(glob.glob(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_r*_pair_final.json")))
        if not recs:
            sys.exit("profile_query.py: --top needs a tools/bench_r*_pair_final.json "
                     "pair record; none found — run bench.py --pair first or name "
                     "queries explicitly")
        rec = json.load(open(recs[-1]))["head_record"]
        names += [k for k, _ in sorted(rec["queries"].items(), key=lambda kv: -kv[1])[:topn]]

    spark = get_session("profile")
    qs = registry.queries()
    # warm-up at the smallest SF (JIT/codegen), same as bench.py
    warm = "/root/testdata/sf0.001"
    for name in names:
        try:
            qs[name](spark, warm).write.mode("overwrite").format("noop").save()
        except Exception:
            pass
    table(spark, sf_dir, "lineitem").count()
    tracer = Tracer(spark, enabled=True)
    for name in names:
        rec = profile(spark, name, qs[name], sf_dir, reps, tracer, explain_dir)
        print(json.dumps({**rec, "cds": cds_state()}), flush=True)


if __name__ == "__main__":
    main()
