"""Join operators (SURVEY §2.2 "Joins").

Reference parity: DataFusion links HashJoinExec / SortMergeJoinExec /
NestedLoopJoinExec via `datafusion-physical-plan` (reference Cargo.lock:
1106-1107); Spark's planner picks BroadcastHashJoin / SortMergeJoin /
ShuffledHashJoin / BroadcastNestedLoopJoin for the same logical shapes.

Scale notes (100 TB):
- Dimension tables (region/nation/supplier, and customer at moderate SF) are
  broadcast — no shuffle of the fact side.  `F.broadcast()` pins it where
  autoBroadcastJoinThreshold wouldn't see it; AQE can also demote/promote at
  runtime.
- Fact-fact joins (orders⋈lineitem) shuffle both sides on the key; with AQE
  skew-join enabled, a hot key is split into multiple tasks.
- The as-of join deliberately avoids the naive range-join explosion: it is a
  union + window (single shuffle on the key, linear scan within partition),
  the same strategy streaming systems use for temporal joins — O(n log n)
  per key instead of O(n·m) pairs.
- Pure theta joins are nested-loop by nature; we only ever broadcast the
  small side (supplier, 100k rows at SF100) — never shuffle-NL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import dsum, finite, scratch_dir, sql_dsum
from ..io import SQL_FINITE_EMBEDDINGS, SQL_FINITE_EVENTS, table


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer (shuffle or broadcast per stats)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-side broadcast hash join nation⋈region (plan-asserted in tests)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


def _cust_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000.0)
    return c, o


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _cust_orders(spark, sf_dir)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _cust_orders(spark, sf_dir)
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with null-extension on both sides (disjoint key ranges)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000.0)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers having at least one URGENT order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no URGENT order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cartesian product region×nation."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi (theta) join: supplier×customer on acctbal ordering.

    Physical plan: BroadcastNestedLoopJoin with the 10-row (100k at SF100)
    supplier side broadcast — the only sane theta strategy at scale.
    Aggregated so the result stays small.
    """
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    return (
        F.broadcast(s)
        .join(c, s.s_acctbal > c.c_acctbal)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_poorer_custs"))
    )


def _tagged_click_purchase(ev: DataFrame) -> DataFrame:
    """Shared as-of carrier: clicks and purchases unioned into one
    relation tagged with is_click, purchases carrying (p_ts, p_value) and
    clicks NULL-padded.  The purchase's OWN event_id rides along so the
    window order is total even for two purchases at the same (user_id,
    ts) — a NULL there once made the carried p_value
    partitioning-dependent on ts ties.  Consumed by join_asof,
    join_asof_forward, join_asof_tolerance, and join_asof_nearest; the
    frame direction and any staleness filter are the variants' own.
    """
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return purchases.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_click"),
        "event_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    ).unionByName(
        clicks.select(
            "user_id",
            "ts",
            F.lit(1).alias("is_click"),
            "event_id",
            F.lit(None).cast("timestamp").alias("p_ts"),
            F.lit(None).cast("double").alias("p_value"),
        )
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click event, the latest purchase by the same user
    at-or-before the click timestamp.

    Spark has no native AS OF join; the scalable pattern is union + window
    (one shuffle on user_id, last-non-null carry-forward within partition)
    rather than a range join that explodes to O(clicks × purchases) per user.
    Oracle: DuckDB's native ASOF LEFT JOIN.
    """
    tagged = _tagged_click_purchase(table(spark, sf_dir, "events"))

    # Purchases sort before clicks at equal ts (is_click asc) => `<=` as-of;
    # event_id as final tiebreak keeps the window total-ordered even if the
    # data ever contains duplicate (user_id, ts) rows.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the carry must be ROW-level: a struct that is NULL only on click
    # rows.  Carrying p_ts / p_value through separate ignorenulls lasts
    # conflates "row is a click" with "matched purchase whose value IS
    # NULL" — the latter would skip back to an older purchase's value
    # (caught by the nulls degenerate corpus, round 6)
    tagged = tagged.withColumn(
        "p",
        F.when(
            F.col("is_click") == 0,
            F.struct(F.col("p_ts").alias("ts"), F.col("p_value").alias("value")),
        ),
    )
    asof = F.last("p", ignorenulls=True).over(w)
    return (
        tagged.withColumn("asof_ts", asof["ts"])
        .withColumn("asof_value", asof["value"])
        .filter(F.col("is_click") == 1)
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
    )


def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): orders laid out partitioned by
    o_orderstatus, joined to a tiny status dim filtered on a NON-key
    attribute — the fact's partition filter is only knowable at runtime,
    so Catalyst injects a dynamic pruning subquery into the fact scan and
    entire partition DIRECTORIES are never read.  This is THE mechanism
    that makes star joins on a 100 TB date-partitioned fact read one
    day's directories instead of all of them.

    The plan property (dynamicpruning expression on the scan) is emitted
    as an oracle-verified result column next to the exact join aggregate.
    """
    import os
    import tempfile

    from ..plans.introspect import plan_string

    out = os.path.join(scratch_dir("dfts_dpp_"), "orders_by_status")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # explicit schema: an empty source writes no partition dirs and a
    # schema-less read raises (degenerate-corpus gate, round 5)
    fact = spark.read.schema(o.schema).parquet(out)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "partial")],
        "k string, status_name string",
    )
    j = (
        fact.join(
            F.broadcast(dim),
            fact["o_orderstatus"] == dim["k"],
        )
        .filter(F.col("status_name") == "closed")
        # global agg + literal status, not groupBy(status_name): the filter
        # pins a single group, and the oracle (SELECT 'closed', count(*)...)
        # emits its zero row even over an empty pruned partition — groupBy
        # would emit none (degenerate-corpus gate, round 5)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(F.lit("closed").alias("status_name"), "n_orders", "total_price")
    )
    # vacuous on an empty layout (no partition dirs → Catalyst folds the
    # empty scan away and no DPP subquery can appear; oracle emits TRUE)
    has_parts = any(f.startswith("o_orderstatus=") for f in os.listdir(out))
    pruned = not has_parts or "dynamicpruning" in plan_string(j).lower()
    return j.withColumn("dpp_applied", F.lit(pruned))


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each click, the EARLIEST purchase by the
    same user at-or-after the click (the attribution mirror of join_asof's
    backward lookup).  Same union + window shape — one shuffle on user_id,
    first-non-null LOOKAHEAD frame — so the backward and forward variants
    cost identically at any scale.  Oracle: DuckDB ASOF with a >= bound.
    """
    tagged = _tagged_click_purchase(table(spark, sf_dir, "events"))
    # clicks sort BEFORE purchases at equal ts (is_click desc) so a
    # same-instant purchase is inside the click's lookahead frame (>=).
    # The lookahead is phrased as a RUNNING frame over the exact REVERSE
    # order (desc_nulls_last mirrors asc-nulls-first), NOT first() over
    # (currentRow, unboundedFollowing): Spark rescans current→end per
    # row for UnboundedFollowing frames — O(rows²) in one user's events,
    # a hang on hot users at 100 TB (time corpus, round 8, found on
    # ts_resample_interp's 1.2M-row partitions).  Same values, O(rows).
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.desc_nulls_last("ts"),
            F.asc("is_click"),
            F.desc_nulls_last("event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # row-level struct carry, same reason as join_asof: a NULL purchase
    # value must ride the match, not fall through to a later purchase
    tagged = tagged.withColumn(
        "p",
        F.when(
            F.col("is_click") == 0,
            F.struct(F.col("p_ts").alias("ts"), F.col("p_value").alias("value")),
        ),
    )
    nxt = F.last("p", ignorenulls=True).over(w)
    return (
        tagged.withColumn("next_ts", nxt["ts"])
        .withColumn("next_value", nxt["value"])
        .filter(F.col("is_click") == 1)
        .select("event_id", "user_id", "ts", "next_ts", "next_value")
    )


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (feature-store semantics): the
    latest purchase at-or-before each click counts only if it is at most
    1 hour old; older matches are nulled out, exactly like a feature-store
    point-in-time lookup with a max-staleness SLA.

    Same union + one-shuffle window shape as join_asof — the tolerance is
    a post-window columnar filter, so the 100 TB cost is identical to the
    unbounded variant (no extra join, no extra shuffle).  Oracle: DuckDB
    ASOF LEFT JOIN with the staleness applied as a CASE on the match.
    """
    tagged = _tagged_click_purchase(table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # row-level struct carry (join_asof's discipline): a NULL purchase
    # value must ride its own match, not expose an older value
    tagged = tagged.withColumn(
        "p",
        F.when(
            F.col("is_click") == 0,
            F.struct(F.col("p_ts").alias("ts"), F.col("p_value").alias("value")),
        ),
    )
    asof = F.last("p", ignorenulls=True).over(w)
    carried = (
        tagged.withColumn("asof_ts", asof["ts"])
        .withColumn("asof_value", asof["value"])
        .filter(F.col("is_click") == 1)
    )
    fresh = F.col("asof_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("asof_ts")).alias("asof_ts"),
        F.when(fresh, F.col("asof_value")).alias("asof_value"),
    )


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join with NO equi key, bucketed: for each click
    event, the count and decimal-exact value sum of ALL events (any user)
    in the 10 minutes starting at the click.

    Spark's physical plan for a bare `r.ts BETWEEN l.ts AND l.ts+10min`
    predicate is a nested-loop join — O(|L|·|R|) comparisons, the classic
    range-join scale-killer.  The 100 TB pattern is interval bucketing:
    floor both sides to 10-minute bins; a left window spans at most 2 bins,
    so the anchor side explodes ×2 and the join becomes an EQUI join on the
    bin plus a residual timestamp filter — one hash shuffle, per-bin
    comparisons bounded by bin population (time-uniform by construction;
    a skewed bin would fall to AQE skew splitting).  The oracle states the
    naive inequality join directly.
    """
    ev = table(spark, sf_dir, "events")
    binno = (F.unix_timestamp("ts") / 600).cast("long")
    anchors = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("anchor_id"), F.col("ts").alias("a_ts"))
        .withColumn(
            "bin",
            F.explode(
                F.array(
                    (F.unix_timestamp("a_ts") / 600).cast("long"),
                    (F.unix_timestamp("a_ts") / 600).cast("long") + 1,
                )
            ),
        )
    )
    probes = ev.select(F.col("ts").alias("r_ts"), finite("value").alias("value"), binno.alias("bin"))
    return (
        anchors.join(probes, "bin")
        .filter(
            (F.col("r_ts") >= F.col("a_ts"))
            & (F.col("r_ts") < F.col("a_ts") + F.expr("INTERVAL 10 MINUTES"))
        )
        .groupBy("anchor_id")
        .agg(
            F.count(F.lit(1)).alias("n_next10m"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via key salting: the probe side (lineitem) gets a
    deterministic salt in [0, S); the build side (orders) is replicated S
    ways; the join key becomes (key, salt), spreading a hot key over S
    tasks.

    Result is identical to the plain equi join (oracle proves it).  At
    100 TB this is the manual fallback when AQE's skew-join splitting can't
    help (e.g. skewed aggregation feeding a join, or a build side too big to
    broadcast); S trades replication cost against the hottest key's task
    time.  AQE skew handling stays on (session.py) — salting composes.
    """
    S = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(S)).cast("int")
    )
    o = table(spark, sf_dir, "orders").crossJoin(
        spark.range(S).select(F.col("id").cast("int").alias("salt"))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
    )


def plan_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join split, plan-proven: the AUTOMATIC mitigation
    ``join_skew_salted`` does by hand.  A deterministic remap points 90%
    of lineitem keys at the smallest order key (the one-hot-tenant shape),
    the join runs as a SortMergeJoin under
    ``spark.sql.adaptive.skewJoin.enabled``, and the callable asserts from
    the FINAL adaptive plan that ``OptimizeSkewedJoin`` split the hot
    partition (``SortMergeJoin(skew=true)`` / ``AQEShuffleRead skewed``),
    emitting the property as the driver-verified ``skew_handled`` column.

    Local-scale calibration, documented because the defaults are sized
    for production: skewedPartitionThresholdInBytes/advisoryPartitionSize
    default to 256 MB/64 MB — correct at 100 TB, unreachable on a MB-scale
    test corpus — so the probe scales them down (8/16 KB) to face the
    optimizer with the same RELATIVE skew (hot partition ~100x median) it
    would see from a hot tenant at scale; production keeps the defaults.
    The byte sizes must stay THIS small: at the contract's 20k-probe-row
    floor a cloned-row corpus (the dup degenerate mode) compresses its
    ~0.9·N-row hot partition to ~tens of KB, and the advisory must sit
    well under that for the split to produce >= 2 slices (a 64/128 KB
    recalibration attempt in r15 failed exactly there).  What the r14
    values got WRONG was the factor: 1.0 marked EVERY partition skewed
    (non-hot partitions always exceed 1.0x the median), so all 16 got
    shredded to 16 KB slices — factor 2.0 restores the default's
    only-hot-partitions behaviour (Spark's default factor is 5.0; the
    ~100x-median hot partition clears 2.0x on every corpus the 20k floor
    admits, and no other partition does).
    AQE splits a skewed partition at MAPPER granularity, so a single-row-
    group local file (one map task) can never split — the round-robin
    ``repartition(16)`` stands in for the thousands of map tasks a real
    100 TB scan produces.  The merge hint stops AQE broadcasting the
    sf0.01 build side, which would hide the property under test.

    The contract on small inputs: ``skew_handled`` is "no unsplit skew
    above 20k probe rows" — below that (empty/tiny/subset corpora) the
    hot partition legitimately fits one task and the property is
    vacuously true; at or above it the split MUST have happened.  The
    result is materialized under the probe confs (a bounded <=5-row
    aggregate) so the returned rows carry the plan property of the run
    that was actually inspected; confs are restored either way.
    """
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.shuffle.partitions": "16",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        ).repartition(16)
        hot = o.agg(F.min("o_orderkey").alias("hot_key"))
        probe = li.crossJoin(F.broadcast(hot)).select(
            F.when(F.col("l_orderkey") % 10 < 9, F.col("hot_key"))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_quantity",
        )
        j = (
            probe.join(o.hint("merge"), probe.k == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum(F.col("l_quantity"), "sum_qty"),
            )
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        split = "skew=true" in plan
        n_probe = sum(r["n_items"] for r in rows)
        handled = split or n_probe < 20000
        return spark.createDataFrame(
            [(r["o_orderpriority"], r["n_items"], r["sum_qty"], handled) for r in rows],
            "o_orderpriority string, n_items bigint, sum_qty double, "
            "skew_handled boolean",
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located fact-fact join — the layout lever that removes the
    orders⋈lineitem shuffle entirely at 100 TB.

    Both tables are written once with `bucketBy(8, key).sortBy(key)` (the
    pay-the-shuffle-once layout); the SortMergeJoin then reads bucket i of
    each side directly — the executed plan contains NO Exchange on either
    join key, which this operator asserts and EMITS as a result column
    (`bucketed_no_shuffle`), making the scale property itself
    driver-verified.  The merge hint stops AQE broadcasting the small sf0.01
    side, which would hide the property under test.  Results hash-match the
    plain join oracle, proving layout round-trip + join correctness.
    """
    import os
    import tempfile

    from ..plans.introspect import plan_string

    wh = scratch_dir("dfts_bucket_wh_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS dfts_bucketdb LOCATION '{wh}'")
    # bucket only the columns this join consumes — the layout property under
    # test is per-key co-location, not table width (a production layout
    # would bucket the full table; the write cost scales with width either
    # way, so the benched number prices the pattern, not 14 unused columns)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    for df, name, key in (
        (o, "orders_b", "o_orderkey"),
        (li, "lineitem_b", "l_orderkey"),
    ):
        # repartition on the bucket key before the bucketed write (r14):
        # the single-split local scan otherwise writes all 8 buckets from
        # ONE serial task; hash-distributing first gives 8 parallel
        # writer tasks, one file per bucket — the same hash distribution
        # mode a production bucketed write uses to avoid small files
        df.repartition(8, F.col(key)).write.mode("overwrite").bucketBy(
            8, key
        ).sortBy(key).option(
            "path", os.path.join(wh, name)
        ).saveAsTable(f"dfts_bucketdb.{name}")
    joined = (
        spark.table("dfts_bucketdb.lineitem_b")
        .join(
            spark.table("dfts_bucketdb.orders_b").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )
    plan = plan_string(joined)
    no_shuffle = (
        "Exchange hashpartitioning(l_orderkey" not in plan
        and "Exchange hashpartitioning(o_orderkey" not in plan
    )
    return joined.withColumn("bucketed_no_shuffle", F.lit(no_shuffle))


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension tables
    with 'unknown' members need.  Keys are derived with NULLIF so the
    testdata actually exercises the NULL=NULL path: orders with status 'O'
    get a NULL join key, and the status dim carries a NULL member row.

    Plan note: Spark hashes <=> keys like ordinary equi-keys, so this is
    a regular shuffled/broadcast hash join, NOT a nested-loop fallback —
    null-safe equality is scale-free."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k"),
    )
    dim = spark.createDataFrame(
        [("F", "finished"), ("P", "partial"), (None, "open-or-unknown")],
        "k string, status_name string",
    )
    return (
        o.join(F.broadcast(dim), o["k"].eqNullSafe(dim["k"]))
        .groupBy("status_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
        )
    )


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join — for each click, the same user's
    purchase with the SMALLEST absolute time gap, either direction (ties
    prefer the backward match; an equal-timestamp purchase counts as
    backward with gap 0).  The feature-store variant when staleness cuts
    both ways (sensor alignment, quote-to-trade matching).

    Same one-shuffle union+window idiom as join_asof, run in BOTH frame
    directions: a backward carry (last purchase at-or-before) and a
    forward carry (first purchase after), then a row-local argmin on the
    two candidates.  Gaps are compared in exact microseconds
    (unix_micros/epoch_us — engine-portable integers; whole-second
    truncation would tie spuriously).
    """
    tagged = _tagged_click_purchase(table(spark, sf_dir, "events"))
    order = [F.col("ts"), F.col("is_click"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # reversed running frame, not an UnboundedFollowing frame — Spark
    # evaluates the latter by rescanning current→end per row, O(rows²)
    # in a hot user's partition (see join_asof_forward)
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(
            F.desc_nulls_last("ts"),
            F.desc_nulls_last("is_click"),
            F.desc_nulls_last("event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # row-level struct carries (join_asof's discipline)
    tagged = tagged.withColumn(
        "p",
        F.when(
            F.col("is_click") == 0,
            F.struct(F.col("p_ts").alias("ts"), F.col("p_value").alias("value")),
        ),
    )
    back = F.last("p", ignorenulls=True).over(w_back)
    fwd = F.last("p", ignorenulls=True).over(w_fwd)
    carried = (
        tagged.withColumn("b_ts", back["ts"])
        .withColumn("b_val", back["value"])
        .withColumn("f_ts", fwd["ts"])
        .withColumn("f_val", fwd["value"])
        .filter(F.col("is_click") == 1)
    )
    gap_b = F.unix_micros("ts") - F.unix_micros("b_ts")
    gap_f = F.unix_micros("f_ts") - F.unix_micros("ts")
    take_back = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (gap_b <= gap_f)
    )
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        F.when(take_back, F.col("b_ts")).otherwise(F.col("f_ts")).alias(
            "near_ts"
        ),
        F.when(take_back, F.col("b_val")).otherwise(F.col("f_val")).alias(
            "near_value"
        ),
        F.when(take_back, F.lit("back"))
        .when(F.col("f_ts").isNotNull(), F.lit("fwd"))
        .alias("direction"),
        F.when(take_back, gap_b).otherwise(gap_f).cast("long").alias("gap_us"),
    )


_SPATIAL_EPS = 0.02  # join_spatial_grid: L2 distance threshold
# Cell width is eps·17/16, NOT eps: the blocking needs the implication
# "d <= eps  =>  cell indices differ by <= 1", and with width exactly eps
# a pair at true distance within a few ulps OF eps can see its two
# fl(x/eps) floors land 2 apart (each division carries rounding error)
# while still passing the exact d2 <= eps² predicate — a missed pair the
# brute-force oracle would emit.  A 1/16 slack dwarfs the ~2⁻⁴⁵ relative
# rounding error, restoring the implication with margin; cells are
# Spark-side blocking only (the oracle never builds them), so the width
# needs correctness, not cross-engine parity.
_SPATIAL_CELL = _SPATIAL_EPS * 17 / 16


def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ε-distance self-join via grid blocking — the join family
    behind geo joins and 2-D embedding-map neighborhoods: find every
    point pair within L2 distance ε WITHOUT the all-pairs cross join.
    Points are the first two embedding dimensions; each point lands in
    cell (⌊x/w⌋, ⌊y/w⌋) with w = ε·17/16 (see _SPATIAL_CELL for why the
    width must strictly exceed ε), one side explodes its 3×3 neighbor
    cells, and the equi-join on cell ids yields each qualifying pair
    EXACTLY once (a pair ≤ ε apart can never be further than one cell
    apart, the probe side sits in exactly one cell, and vec_a < vec_b
    kills the mirror) — candidates then pass the exact distance
    predicate.

    Determinism: cell ids and the distance compare are single IEEE ops
    (divide, floor, subtract, multiply, add) on identical float inputs,
    stated in the same order in both engines — no libm, no accumulation.

    Scale: the shuffle is O(9·N) cell-keyed rows and work is
    O(Σ |cell|·|3×3 neighborhood|), the spatial analogue of the
    inverted-index dedup blocking; skewed cells would take the same
    _drop_hot-style cap.  The oracle is the brute-force O(N²) twin —
    feasible at test scale, and exactly the check a spatial index needs.
    """
    pts = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    ).withColumn(
        "cx", F.floor(F.col("x") / _SPATIAL_CELL)
    ).withColumn(
        "cy", F.floor(F.col("y") / _SPATIAL_CELL)
    )
    offsets = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ])
    )
    a = pts.select(
        F.col("vec_id").alias("vec_a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        "cx",
        "cy",
        offsets.alias("o"),
    ).select(
        "vec_a",
        "ax",
        "ay",
        (F.col("cx") + F.col("o.dx")).alias("kx"),
        (F.col("cy") + F.col("o.dy")).alias("ky"),
    )
    b = pts.select(
        F.col("vec_id").alias("vec_b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("kx"),
        F.col("cy").alias("ky"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["kx", "ky"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", d2.alias("d2"))
        .filter(F.col("d2") <= F.lit(_SPATIAL_EPS * _SPATIAL_EPS))
    )


def join_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional (zipper) join — pair row i of one ordered relation with
    row i of another, NULL-padding the shorter side (DuckDB's POSITIONAL
    JOIN, pandas' axis-aligned concat).  The alignment idiom for
    re-attaching model outputs to the inputs they were generated from
    when both sides were written in the same shard order.

    Spark has no positional join; the scalable construction is: give each
    side a GLOBAL 1-based row number with the range-partitioned two-phase
    prefix rank (never a single-partition ORDER BY window), then full
    outer equi-join on the rank.  At 100 TB both rank passes are linear
    map-side work over #partitions-row offset tables, and the final join
    shuffles on a dense integer key — no skew by construction.

    Here: customers in c_custkey order zipped against suppliers in
    s_suppkey order (150 vs 10 rows at sf0.001, so the NULL-padding path
    is exercised for real).
    """
    from .._util import two_phase_prefix

    c = table(spark, sf_dir, "customer").select("c_custkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cr, _ = two_phase_prefix(c, ["c_custkey"], rank_as="rn")
    sr, _ = two_phase_prefix(s, ["s_suppkey"], rank_as="rn")
    return (
        cr.select("rn", "c_custkey")
        .join(sr.select("rn", "s_suppkey", "s_name"), "rn", "full_outer")
        .select("rn", "c_custkey", "s_suppkey", "s_name")
    )


def join_asof_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time sliding-window feature aggregation — for every
    click, the user's view count and view-value mass in the STRICTLY
    PRECEDING hour: the feature-store workhorse ("activity in the last
    N minutes as of the event") that join_asof (last value) and
    join_range (bucketed pair join) do not cover.

    One union keeps clicks and views in the same per-user timeline; a
    µs-exact RANGE frame [-1h, -1µs] makes the window strictly-before
    (same-instant rows excluded — no leakage of the event into its own
    feature), and conditional contributions confine the aggregate to
    views while clicks ride along as frame anchors.  Decimal-carried
    value sums.

    Scale: ONE hash exchange on the user key; the range frame is
    bounded by an hour of one user's activity.  This is exactly how
    production point-in-time features avoid the per-event subquery
    (O(events²) naive phrasing, stated declaratively by the oracle).
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    t = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("iv"),
        # finite(): NaN/Inf view values are ABSENT measurements (r7 ieee
        # contract) — without the guard a NaN view sharing the user key
        # with a click poisons its decimal sum (and the oracle's
        # CAST(NaN AS DECIMAL) raises in DuckDB)
        F.when(
            (F.col("event_type") == "view") & F.col("value").isNotNull(),
            finite("value"),
        ).alias("vv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, -1)
    )
    feat = t.withColumn("n_views_1h", F.sum("iv").over(w)).withColumn(
        "view_value_1h",
        F.sum(F.col("vv").cast("decimal(18,6)")).over(w).cast("double"),
    )
    return (
        feat.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.coalesce(F.col("n_views_1h"), F.lit(0))
            .cast("long")
            .alias("n_views_1h"),
            F.coalesce(F.col("view_value_1h"), F.lit(0.0)).alias(
                "view_value_1h"
            ),
        )
    )


QUERIES = {
    "join_asof_aggregate": join_asof_aggregate,
    "join_positional": join_positional,
    "join_spatial_grid": join_spatial_grid,
    "join_asof_nearest": join_asof_nearest,
    "join_inner": join_inner,
    "join_null_safe": join_null_safe,
    "join_bucketed": join_bucketed,
    "plan_aqe_skew_join": plan_aqe_skew_join,
    "join_skew_salted": join_skew_salted,
    "join_broadcast": join_broadcast,
    "join_left": join_left,
    "join_right": join_right,
    "join_full": join_full,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_cross": join_cross,
    "join_theta": join_theta,
    "join_asof": join_asof,
    "join_asof_forward": join_asof_forward,
    "join_asof_tolerance": join_asof_tolerance,
    "join_partition_pruned": join_partition_pruned,
    "join_range": join_range,
}

ORACLE = {
    # the naive per-event subquery the window phrasing replaces — the
    # oracle states the SEMANTICS (strictly-preceding hour), not the plan
    "join_asof_aggregate": f"""
        WITH e AS (
            SELECT user_id, event_id, ts, event_type, value,
                   epoch_us(ts) AS us
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type IN ('click', 'view')
        )
        SELECT c.user_id, c.event_id, c.ts,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'view'
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_views_1h,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'view'
                    AND v.value IS NOT NULL
                    THEN CAST(v.value AS DECIMAL(18,6)) END), 0)
                    AS DOUBLE) AS view_value_1h
        FROM e c
        LEFT JOIN e v
          ON v.user_id = c.user_id
         AND v.us >= c.us - 3600000000 AND v.us <= c.us - 1
        WHERE c.event_type = 'click'
        GROUP BY c.user_id, c.event_id, c.ts
    """,
    # ANSI phrasing of POSITIONAL JOIN (row_number + full join) so the
    # pairing is deterministic regardless of DuckDB's physical row order
    "join_positional": """
        WITH cr AS (
            SELECT row_number() OVER (ORDER BY c_custkey) AS rn, c_custkey
            FROM customer
        ),
        sr AS (
            SELECT row_number() OVER (ORDER BY s_suppkey) AS rn,
                   s_suppkey, s_name
            FROM supplier
        )
        SELECT COALESCE(cr.rn, sr.rn) AS rn, c_custkey, s_suppkey, s_name
        FROM cr FULL JOIN sr ON cr.rn = sr.rn
    """,
    "join_spatial_grid": f"""
        WITH p AS (
            SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
                   CAST(embedding[2] AS DOUBLE) AS y
            FROM {SQL_FINITE_EMBEDDINGS} embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        FROM p a JOIN p b ON a.vec_id < b.vec_id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= {_SPATIAL_EPS * _SPATIAL_EPS!r}
    """,
    "join_asof_nearest": """
        WITH u AS (
            SELECT user_id, ts, 0 AS is_click, event_id,
                   ts AS p_ts, value AS p_value
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT user_id, ts, 1 AS is_click, event_id,
                   CAST(NULL AS TIMESTAMP) AS p_ts,
                   CAST(NULL AS DOUBLE) AS p_value
            FROM events WHERE event_type = 'click'
        ),
        -- ROW-level struct carry (NULL only on click rows): separate
        -- per-column IGNORE NULLS carries would skip a matched
        -- purchase's genuinely-NULL value back to an older purchase
        carried0 AS (
            SELECT *,
                   last_value(CASE WHEN is_click = 0
                              THEN {'ts': p_ts, 'value': p_value} END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, is_click, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS b,
                   first_value(CASE WHEN is_click = 0
                               THEN {'ts': p_ts, 'value': p_value} END
                               IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, is_click, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS f
            FROM u
        ),
        carried AS (
            SELECT * EXCLUDE (b, f),
                   b.ts AS b_ts, b.value AS b_val,
                   f.ts AS f_ts, f.value AS f_val
            FROM carried0
        )
        SELECT event_id, user_id, ts,
               CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                         OR epoch_us(ts) - epoch_us(b_ts)
                            <= epoch_us(f_ts) - epoch_us(ts))
                    THEN b_ts ELSE f_ts END AS near_ts,
               CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                         OR epoch_us(ts) - epoch_us(b_ts)
                            <= epoch_us(f_ts) - epoch_us(ts))
                    THEN b_val ELSE f_val END AS near_value,
               CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                         OR epoch_us(ts) - epoch_us(b_ts)
                            <= epoch_us(f_ts) - epoch_us(ts))
                    THEN 'back'
                    WHEN f_ts IS NOT NULL THEN 'fwd' END AS direction,
               CAST(CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                         OR epoch_us(ts) - epoch_us(b_ts)
                            <= epoch_us(f_ts) - epoch_us(ts))
                    THEN epoch_us(ts) - epoch_us(b_ts)
                    ELSE epoch_us(f_ts) - epoch_us(ts) END AS BIGINT)
                   AS gap_us
        FROM carried WHERE is_click = 1
    """,
    "join_null_safe": """
        WITH o AS (
            SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS k FROM orders
        ),
        dim AS (
            SELECT 'F' AS k, 'finished' AS status_name
            UNION ALL SELECT 'P', 'partial'
            UNION ALL SELECT NULL, 'open-or-unknown'
        )
        SELECT status_name, count(*) AS n_orders,
               min(o_orderkey) AS min_key
        FROM o JOIN dim ON o.k IS NOT DISTINCT FROM dim.k
        GROUP BY status_name
    """,
    "join_bucketed": f"""
        SELECT o_orderstatus, COUNT(*) AS n_items,
               {sql_dsum("l_extendedprice")} AS sum_price,
               TRUE AS bucketed_no_shuffle
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """,
    "join_skew_salted": f"""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               {sql_dsum("l_quantity")} AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    # the plain skewed-key join aggregate; skew_handled is the Spark-side
    # plan property (OptimizeSkewedJoin split, or <20k probe rows)
    "plan_aqe_skew_join": f"""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               {sql_dsum("l_quantity")} AS sum_qty,
               TRUE AS skew_handled
        FROM (SELECT CASE WHEN l_orderkey % 10 < 9
                          THEN (SELECT MIN(o_orderkey) FROM orders)
                          ELSE l_orderkey END AS k, l_quantity
              FROM lineitem) l
        JOIN orders ON k = o_orderkey
        GROUP BY o_orderpriority
    """,
    "join_inner": """
        SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "join_broadcast": """
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    "join_left": """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN (
            SELECT * FROM orders WHERE o_totalprice > 250000.0
        ) o ON c_custkey = o.o_custkey
    """,
    "join_right": """
        SELECT o_orderkey, o_totalprice, c_custkey, c_name
        FROM (SELECT * FROM orders WHERE o_totalprice > 250000.0) o
        RIGHT JOIN customer ON o.o_custkey = c_custkey
    """,
    "join_full": """
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM (SELECT * FROM customer WHERE c_acctbal > 5000.0) c
        FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 250000.0) o
          ON c.c_custkey = o.o_custkey
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    "join_anti": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
    """,
    "join_cross": """
        SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    "join_theta": """
        SELECT s_suppkey, s_name, COUNT(*) AS n_poorer_custs
        FROM supplier JOIN customer ON s_acctbal > c_acctbal
        GROUP BY s_suppkey, s_name
    """,
    "join_asof": """
        SELECT c.event_id, c.user_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    "join_partition_pruned": f"""
        SELECT 'closed' AS status_name, count(*) AS n_orders,
               {sql_dsum("o_totalprice")} AS total_price,
               true AS dpp_applied
        FROM orders WHERE o_orderstatus = 'F'
    """,
    "join_asof_forward": """
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS next_ts, p.value AS next_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    "join_asof_tolerance": """
        SELECT c.event_id, c.user_id, c.ts,
               CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.ts END
                   AS asof_ts,
               CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.value END
                   AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    # the naive inequality join the bucketed Spark plan must equal exactly
    "join_range": f"""
        SELECT l.event_id AS anchor_id,
               COUNT(*) AS n_next10m,
               {sql_dsum("r.value")} AS sum_value
        FROM (SELECT event_id, ts FROM {SQL_FINITE_EVENTS} events WHERE event_type = 'click') l
        JOIN {SQL_FINITE_EVENTS} r
          ON r.ts >= l.ts AND r.ts < l.ts + INTERVAL 10 MINUTE
        GROUP BY l.event_id
    """,
}
