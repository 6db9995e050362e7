"""SparkSession factory.

Mirrors the reference's session setup (/root/reference/src/main.rs:124-131:
``target_partitions=4``, parquet ``pushdown_filters=true``, pruning enabled) —
all of which are Spark defaults or simple confs — and adds the scale-oriented
settings a 1000-executor / 100 TB deployment wants from day one:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast demotion) — the Spark analog of DataFusion's fixed
  ``target_partitions`` but adaptive.
- Arrow-backed Python interchange for the few Pandas-UDF operators.
- UTC session timezone so timestamp-derived results are engine-portable
  (oracle checks run against DuckDB).

In local test mode we run ``local[N]`` with shuffle.partitions sized to the
core count; on a real cluster the same code runs unchanged — only
``spark.sql.shuffle.partitions`` / executor sizing move with the data volume
(at 100 TB: partitions sized so each shuffle partition is ~128-512 MB, i.e.
O(200k-800k) partitions via AQE's coalescing from a high initial number).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session (including one handed to us by
# an external driver) before running declared queries.  Static confs (memory,
# master) can only be set at build time, but these are all dynamic.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown parity with src/main.rs:126,131 (Spark defaults, pinned
    # explicitly so the contract is visible).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized reader
    # rejects; read as long (ns) and convert in io.table (DuckDB likewise
    # truncates ns -> us, so both engines see identical values).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Round-3 testdata regeneration switched timestamps to TIMESTAMP_MICROS
    # with isAdjustedToUTC=false; by default Spark 4 infers those as
    # TIMESTAMP_NTZ while DuckDB reads naive TIMESTAMP.  Read them as plain
    # TimestampType (session tz = UTC, so wall-clock values are unchanged)
    # to keep one timestamp type across the whole surface and both engines.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _quiet_bounded_window_warnings(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" WARN spam.

    Every unpartitioned ``Window.orderBy`` site in this package is
    machine-audited by tests/test_window_audit.py: an AST allowlist with
    stated bounds plus an optimized-logical-plan walk proving each such
    window sits over an Aggregate/Limit-bounded subtree.  The warning
    therefore never indicates an unbounded single-partition window here,
    and leaving it on makes oracle-run stderr imply unfixed scale hazards.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j2 API unavailable (e.g. Spark Connect); warning is cosmetic


# Sessions already tuned this process (io.table calls tune() on EVERY read;
# re-applying 13 confs + a log4j call is ~5 ms of py4j chatter per call —
# measurable across a 200-query bench).  WeakSet so a closed session's entry
# does not pin the object; a brand-new session (new object) is re-tuned.
_TUNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


# Sentinel conf for the memo-staleness probe below.  timeZone is the one
# whose drift silently changes RESULTS (timestamp-derived values), so it is
# the right canary for "external driver code mutated runtime confs".
_SENTINEL_CONF = "spark.sql.session.timeZone"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours).

    Idempotent and memoized per session object: the confs are dynamic but
    constant, so one application per session is enough (r14 optimization:
    guide §1 — per-query driver overhead multiplies across the bench).
    The memo is guarded by ONE sentinel conf read per call (ADVICE r14):
    a driver-provided session whose runtime confs are mutated by external
    code after the first tune() re-pins the FULL set the moment the
    sentinel drifts — ~0.3 ms/call instead of the ~5 ms full re-apply.
    Only drift of the sentinel (timeZone) is detected: external code that
    changes any other key and leaves timeZone at UTC goes unnoticed until
    timeZone drifts too.  A sentinel read that raises re-applies the full
    set rather than trusting the memo."""
    if spark in _TUNED:
        try:
            if spark.conf.get(_SENTINEL_CONF) == RUNTIME_CONFS[_SENTINEL_CONF]:
                return spark
        except Exception:
            pass  # probe failed: drift unknown, so re-pin below
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; defaults are acceptable
    _quiet_bounded_window_warnings(spark)
    _TUNED.add(spark)
    return spark


def get_session(app_name: str = "datafusion_test_spark") -> SparkSession:
    """Build (or reuse) a local SparkSession sized from SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # STATIC conf (build-time only): PySpark 4's per-DataFrame-API-call
        # call-site capture costs ~3 py4j round trips + a Python stack walk
        # per call — measured 35% of plan-BUILD time across the r15 query
        # profile (errors/utils._with_origin).  Production drivers building
        # hundreds of plans want it off; error messages lose only the
        # Python call-site line, never the error itself.  A driver-provided
        # session keeps its own setting (static conf — tune() cannot and
        # does not touch it).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
