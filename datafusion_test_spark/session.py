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

JVM start.  ``get_session`` starts the driver JVM from a JDK dynamic
class-data-sharing (CDS) archive: the class metadata a previous driver loaded
is mapped from a file instead of being parsed and linked again, which about
halves the JVM's start and first actions.  The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/datafusion_test_spark/cds/`` as
``<key>-<bytes>.jsa``; the key hashes the JDK (``JAVA_HOME`` realpath and its
``release`` file), the pyspark version and the ``$SPARK_HOME/jars`` listing
(names, sizes, mtimes), and archives with any other key are pruned.  With no
valid archive the JVM is started with ``-XX:ArchiveClassesAtExit`` and writes
one (~146 MB) to a per-process temp file as it exits; an ``atexit`` hook
publishes it with ``os.replace`` only when the JVM exited with status 0, so a
truncated dump is never mapped (a truncated archive crashes HotSpot with
SIGBUS, which ``-Xshare:auto`` does not catch; the byte count in the name is
checked for the same reason).  An archive is mapped under ``-Xshare:auto``
with ``-XX:+VerifySharedSpaces``, so a stale or corrupt one falls back to a
plain start.  JDK 17 neither dumps nor maps with a non-empty directory on the
classpath, and Spark puts its conf dir there, so while the gateway launches
``SPARK_CONF_DIR`` points at an empty directory in the cache dir -- only when
the real conf dir holds nothing but ``*.template`` files.  That directory is
on the classpath the archive records, so an archive is only valid in the
cache dir it was made in.  Every fallback is
automatic and recorded in :func:`cds_state`.  A session the driver provides,
or a process whose gateway is already up, gets no new flag and no
environment change.

Codegen cache.  Spark compiles each distinct generated class (whole-stage
codegen, projections, orderings) once through Janino and keeps it in one
JVM-wide LRU cache of ``spark.sql.codegen.cache.maxEntries`` classes, 100 by
default.  A query whose classes were evicted compiles them again and loses
the machine code HotSpot had JIT-compiled for them.  Traffic on the 4-core VM,
counted with ``CodegenMetrics.METRIC_COMPILATION_TIME`` and
``CodeGenerator.compileTime``: a perfbench ``curation`` pass compiles ~310
distinct classes, so at 100 every measured pass compiled 311-321 classes
again (2.0-2.5 s of an 8-12 s pass).  The ``bench.py`` run at sf0.1 compiles
3,169 distinct classes in its sf0.001 warm-up and 233 more in its timed
headline group, 3,402 with an unbounded cache; at 100 it compiled 9,690, 4,897
of them (49 s) inside the timed group.  An LRU smaller than a repeating scan
misses nearly every entry, so ``get_session`` pins the next power of two
above that set, 4,096, where the run compiles 3,403 (240 in the timed group)
and ends with 97 MB of Metaspace against 70 MB at 100.  The conf is static:
a driver-provided session keeps its own value (Spark's 100 unless the driver
sets one), and ``tune()`` cannot change it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import weakref

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    # Rows per cached column batch (Spark default 10,000).  A task scanning a
    # cached relation checks for a kill only between batches (the
    # InterruptibleIterator over the cached block); the codegen loop inside a
    # batch never does, so a cancelled scan first finishes its batch.  Fixed
    # when a cache is built.  Sweep of cancel teardown on a persisted
    # 300k-row generated table (BENCH.md, "Cached batch size and cancel
    # teardown by operator class"): p50 19-24 ms at 10,000 rows, 10-12 ms at
    # 1,000, within 2 ms of that below it while the cache grows up to 3 %;
    # at 1,000 the uncancelled scan time is unchanged within noise and the
    # cache is 0.6 % larger.
    "spark.sql.inMemoryColumnarStorage.batchSize": "1000",
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
# re-applying RUNTIME_CONFS + a log4j call is ~5 ms of py4j chatter per call —
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


# How this process's driver JVM started: "use" (mapped the CDS archive),
# "dump" (writes one as it exits) or "off:<reason>" (plain start).  One JVM
# per process, so one value per process; None until get_session has run.
_CDS_STATE: str | None = None

# JVM flags on every CDS start: CDS warnings (hundreds of "skipping class"
# lines at dump time) stay off stdout; errors still print.
_CDS_LOG = "-Xlog:cds*=error"

# How long interpreter exit waits for the JVM to write its archive (a 146 MB
# dump takes a few seconds); a JVM still running after it keeps its temp file,
# which a later start prunes.
_DUMP_WAIT_S = 120


def cds_state() -> str | None:
    """How this process's driver JVM started: ``use``, ``dump`` or
    ``off:<reason>`` (see the module docstring); None before get_session."""
    return _CDS_STATE


def _java_home() -> str:
    """The JDK spark-submit runs: $JAVA_HOME, else the one ``java`` is in."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def _cds_key(spark_home: str) -> str:
    """Hash of everything an archive is only valid for: the JDK, the
    pyspark version and the jars on the driver classpath."""
    jdk = _java_home()
    h = hashlib.sha256(f"{jdk}\0{pyspark.__version__}\0".encode())
    try:
        with open(os.path.join(jdk, "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass  # no release file: the realpath alone names the JDK
    try:
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
    except OSError:
        jars = []
    for e in jars:
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _prune(cds: str, key: str) -> str | None:
    """The valid archive for ``key`` (its byte count matches its name), if
    any.  Removes every other archive, and the temp files of dumps whose
    process is gone."""
    keep = None
    for e in os.scandir(cds):
        if e.name.endswith(".jsa"):
            k, _, size = e.name[: -len(".jsa")].rpartition("-")
            if keep is None and k == key and size.isdigit() and e.stat().st_size == int(size):
                keep = e.path
                continue
        elif e.name.endswith(".part"):
            pid = e.name[: -len(".part")].rpartition(".")[2]
            if pid.isdigit() and _pid_alive(int(pid)):
                continue  # a dump still being written
        else:
            continue  # the stand-in conf dir
        try:
            os.remove(e.path)
        except OSError:
            pass  # pruned by a concurrent start
    return keep


def _cds_plan() -> tuple[str, str | None, str | None, str | None]:
    """-> (state, driver JVM flags, stand-in conf dir, archive or dump temp)
    for a fresh gateway launch; the flags are None for a plain start."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        real = [n for n in os.listdir(conf) if not n.endswith(".template")]
    except FileNotFoundError:
        real = []
    except OSError:  # unreadable: it may hold real files
        real = [conf]
    if real:
        return "off:conf dir has non-template files", None, None, None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cds = os.path.join(cache, "datafusion_test_spark", "cds")
    empty = os.path.join(cds, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        for n in os.listdir(empty):  # it stands in for the conf dir: keep it empty
            os.remove(os.path.join(empty, n))
        if not os.access(cds, os.W_OK):
            raise PermissionError(cds)
        key = _cds_key(spark_home)
        archive = _prune(cds, key)
    except OSError:
        return "off:cache dir not writable", None, None, None
    if archive is not None:
        flags = f'-XX:SharedArchiveFile="{archive}" -XX:+VerifySharedSpaces'
        return "use", f"{flags} {_CDS_LOG}", empty, archive
    tmp = os.path.join(cds, f"{key}.{os.getpid()}.part")
    return "dump", f'-XX:ArchiveClassesAtExit="{tmp}" {_CDS_LOG}', empty, tmp


def _publish_at_exit(proc: subprocess.Popen, tmp: str) -> None:
    """Let the gateway JVM exit, then move its dump ``<key>.<pid>.part`` to
    ``<key>-<bytes>.jsa`` -- only when the JVM exited with status 0, so a
    dump cut short is never published."""
    if proc.poll() is None:
        proc.stdin.close()  # the gateway exits at EOF on its stdin
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return  # still writing: a later start prunes the temp file
    try:
        if proc.returncode == 0:
            key = tmp[: -len(".part")].rpartition(".")[0]
            os.replace(tmp, f"{key}-{os.path.getsize(tmp)}.jsa")
        else:
            os.remove(tmp)
    except OSError:
        pass  # nothing was written: the next start dumps again


def _archive_mapped(spark: SparkSession, archive: str) -> bool:
    """Whether the driver JVM mapped ``archive`` (HotSpot maps a CDS archive
    it accepted and unmaps one it rejects).  True where /proc is absent."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    target = os.path.realpath(archive)
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(line.rstrip("\n").endswith(target) for line in f)
    except OSError:
        return True


def _launch(builder: SparkSession.Builder) -> tuple[SparkSession, str]:
    """``builder.getOrCreate()`` for a fresh gateway, started from the CDS
    archive when the plan allows (module docstring, "JVM start"), and the
    CDS state of that start."""
    state, flags, conf_dir, path = _cds_plan()
    if flags is None:
        return builder.getOrCreate(), state
    # perfbench and users pass --driver-java-options (extraJavaOptions);
    # defaultJavaOptions is prepended to those, never replaced by them
    builder = builder.config("spark.driver.defaultJavaOptions", flags)
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before
    if state == "dump":
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            atexit.register(_publish_at_exit, proc, path)
    elif not _archive_mapped(spark, path):
        state = "off:archive rejected by the JVM"
        try:
            os.remove(path)  # the next start dumps a fresh one
        except OSError:
            pass  # already pruned by a concurrent start
    return spark, state


def get_session(app_name: str = "datafusion_test_spark") -> SparkSession:
    """Build (or reuse) a local SparkSession sized from SPARK_GRAFT_CPUS.

    A fresh gateway JVM starts from the CDS archive (module docstring);
    :func:`cds_state` says how it started."""
    global _CDS_STATE
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
        # STATIC conf: classes in the JVM-wide LRU cache of compiled
        # generated code (Spark default 100), sized from measured traffic:
        # a curation pass compiles ~310 distinct classes and the sf0.1
        # bench.py run 3,402, so at 100 every pass recompiled them through
        # Janino (module docstring, "Codegen cache").  A driver-provided
        # session keeps its own value: tune() cannot set a static conf.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark, _CDS_STATE = _launch(builder)
    else:  # keep the state of a JVM this module started
        _CDS_STATE = _CDS_STATE or "off:gateway already running"
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
