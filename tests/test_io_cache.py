"""io.table's r14 plan/schema memo — semantics pins.

The memo caches METADATA (a StructType) and a logical PLAN (the finished
DataFrame object), never rows: every execution still scans the parquet
files.  These pins hold the three load-bearing properties:

1. repeated table() calls return ONE object (the memo actually memoizes —
   the 109 ms/call footer re-inference is what the r14 optimization
   removed);
2. ``fresh=True`` returns a relation with NEW expression ids (the
   udf_cogrouped self-cogroup hazard: a cogroup's two sides must bind
   distinct attributes — tests/test_plans.py pins the plan side of this);
3. clear_schema_cache() resets both memos.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from datafusion_test_spark.io import clear_schema_cache, table
from datafusion_test_spark.session import get_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_session("test_io_cache")


def test_table_plan_is_memoized(spark):
    a = table(spark, SF, "orders")
    b = table(spark, SF, "orders")
    assert a is b, "table() should return the memoized plan object"


def test_fresh_gives_new_expression_ids(spark):
    a = table(spark, SF, "events")
    b = table(spark, SF, "events", fresh=True)
    assert a is not b
    def out_ids(df):
        out = df._jdf.queryExecution().analyzed().output()
        return {
            out.apply(i).name(): out.apply(i).exprId().id()
            for i in range(out.length())
        }

    ids_a, ids_b = out_ids(a), out_ids(b)
    assert all(ids_a[n] != ids_b[n] for n in ids_a), (
        "fresh=True must produce distinct attribute ids so cogroup sides "
        "bind separately"
    )


def test_fresh_is_not_cached(spark):
    b = table(spark, SF, "events", fresh=True)
    c = table(spark, SF, "events")
    assert b is not c, "a fresh read must not replace the memoized plan"


def test_clear_resets_the_memo(spark):
    a = table(spark, SF, "orders")
    clear_schema_cache()
    b = table(spark, SF, "orders")
    assert a is not b


def test_memoized_plan_still_scans_files(spark):
    # the memo holds a plan, not rows: a count on the memoized object must
    # read the real file (here: equals a fresh read's count)
    a = table(spark, SF, "orders")
    b = table(spark, SF, "orders", fresh=True)
    assert a.count() == b.count()


def test_cogroup_sites_take_a_fresh_side():
    """ADVICE r14 (medium): the plan memo hands every table() caller ONE
    shared DataFrame object, so a self-cogroup whose two sides come from
    the same table silently mis-binds the right side's pandas arguments
    (udf_cogrouped's documented hazard; plain self-joins are safe — the
    analyzer deduplicates conflicting attribute ids for joins, but NOT
    for cogroup binding).  This lint fails ANY package function that
    cogroups after reading the same table twice without taking at least
    one side with fresh=True — so the safety is no longer a single
    hand-patched site.  The table name and fresh flag count whether they
    are passed by position or by keyword."""
    import ast
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1] / "datafusion_test_spark"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        tree = ast.parse(py.read_text(), filename=str(py))
        for fn in (
            n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ):
            if not any(
                isinstance(n, ast.Attribute) and n.attr == "cogroup"
                for n in ast.walk(fn)
            ):
                continue
            reads: dict = {}
            for n in ast.walk(fn):
                is_table_call = isinstance(n, ast.Call) and (
                    (isinstance(n.func, ast.Name) and n.func.id == "table")
                    or (
                        isinstance(n.func, ast.Attribute)
                        and n.func.attr == "table"
                    )
                )
                if not is_table_call:
                    continue
                # table(spark, sf_dir, name, fresh): each argument positional
                # or by keyword
                kws = {kw.arg: kw.value for kw in n.keywords}
                name = n.args[2] if len(n.args) >= 3 else kws.get("name")
                fresh = n.args[3] if len(n.args) >= 4 else kws.get("fresh")
                if isinstance(name, ast.Constant):
                    reads.setdefault(name.value, []).append(
                        isinstance(fresh, ast.Constant) and bool(fresh.value)
                    )
            for name, flags in reads.items():
                if len(flags) >= 2 and not any(flags):
                    offenders.append(
                        f"{py.name}:{fn.name} cogroups but reads "
                        f"'{name}' {len(flags)}x without fresh=True"
                    )
    assert not offenders, offenders


def test_stale_session_entries_evicted(spark):
    """ADVICE r14: entries for a DIFFERENT applicationId (a stopped
    session) are dead weight pinning JVM-backed objects; the first
    table() call under a new appId must purge them."""
    import datafusion_test_spark.io as io

    table(spark, SF, "orders")
    io._SCHEMA_CACHE[("dead-app", "x")] = "sentinel"
    io._DF_CACHE[("dead-app", "x")] = "sentinel"
    io._CACHE_APP[0] = "dead-app"  # simulate: caches were filled under it
    table(spark, SF, "orders")
    assert not any(k[0] == "dead-app" for k in io._SCHEMA_CACHE)
    assert not any(k[0] == "dead-app" for k in io._DF_CACHE)


def test_stale_session_evicts_shared_index_memos(spark):
    """dedup's cluster fixpoint and similarity's twin corpus are memoized
    per application like the table plans, and the same eviction drops
    them: a process that cycles sessions must not keep the checkpointed
    relations of stopped ones."""
    import datafusion_test_spark.io as io
    from datafusion_test_spark.pipeline import dedup, similarity

    stars = dedup._dup_stars(spark, SF)
    twin = similarity._twin_e(spark, SF)
    assert dedup._dup_stars(spark, SF) is stars
    io._CACHE_APP[0] = "dead-app"  # simulate: memos were filled under it
    table(spark, SF, "orders")
    assert dedup._dup_stars(spark, SF) is not stars
    assert similarity._twin_e(spark, SF) is not twin


def test_tune_repins_after_external_conf_mutation(spark):
    """ADVICE r14: the tune() memo must not let a driver-provided session
    whose runtime confs were mutated by EXTERNAL code run un-pinned; the
    sentinel probe re-applies the full set on drift."""
    from datafusion_test_spark.session import RUNTIME_CONFS, tune

    tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        tune(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        for k, v in RUNTIME_CONFS.items():
            assert spark.conf.get(k, v) == v
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_tune_repins_when_sentinel_probe_raises(spark, monkeypatch):
    """A sentinel read that raises must not trust the memo: tune() falls
    through to the full re-apply instead of returning the session as-is."""
    from datafusion_test_spark.session import RUNTIME_CONFS, tune

    tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    real_get = spark.conf.get

    def failing_get(key, *args):
        if key == "spark.sql.session.timeZone":
            raise RuntimeError("conf API unavailable")
        return real_get(key, *args)

    try:
        with monkeypatch.context() as m:
            m.setattr(spark.conf, "get", failing_get)
            tune(spark)
        for k, v in RUNTIME_CONFS.items():
            assert spark.conf.get(k, v) == v, k
    finally:
        for k, v in RUNTIME_CONFS.items():
            spark.conf.set(k, v)


def _cached_batches(spark, n_rows: int) -> int:
    """Column batches the cache of an ``n_rows``-row, one-partition frame
    holds once built (the count is fixed by the batch row count at build)."""
    df = spark.range(0, n_rows, 1, 1).selectExpr("id AS a", "id * 2 AS b").persist()
    try:
        df.count()
        cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
        return cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().count()
    finally:
        df.unpersist()


def test_cached_batch_rows_pinned(spark):
    """A cached scan checks for a kill only between cached batches, so the
    batch row count bounds how long a cancelled scan runs on.  Every cache
    gets the pinned count: on a session from get_session, and on a
    driver-provided session at Spark's default once tune() has run."""
    from datafusion_test_spark.session import RUNTIME_CONFS, tune

    key = "spark.sql.inMemoryColumnarStorage.batchSize"
    pinned = int(RUNTIME_CONFS[key])
    n = 25_000
    assert pinned < 10_000  # smaller than Spark's default
    assert _cached_batches(spark, n) == -(-n // pinned)

    driver = spark.newSession()
    driver.conf.unset(key)
    assert _cached_batches(driver, n) == -(-n // 10_000)  # Spark's default
    tune(driver)
    assert _cached_batches(driver, n) == -(-n // pinned)
