"""Streaming surface, batch-equivalence tier (SURVEY §2.3).

The reference is batch-only (its "stream" is DataFusion's pull-based
RecordBatch stream, src/main.rs:155-161); the driver testdata nonetheless
ships an `events` table for a streaming tier.  Strategy: every windowing
operator is defined ONCE as a transformation that works identically on a
batch DataFrame and a streaming DataFrame (Structured Streaming's unified
model).  Here they run in batch mode against the DuckDB oracle; the
micro-batch path (readStream → watermark → window → memory sink, late-data
scenarios) is exercised in tests/test_streaming.py with the same functions.

Scale notes: event-time windows + watermarks bound state: at 100 TB/day the
state store holds only open windows per key; sliding windows multiply state
by (length/slide); session windows merge on overlap.  Watermark delay is the
lateness SLA — state is dropped past it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import (
    DEC,
    finite,
    sane_ts_filter,
    sql_dsum,
    sql_finite,
    sql_half_up,
    sql_sane_ts_where,
)
from ..io import table


def _events(spark, sf_dir):
    # finite-measurement contract: NaN/Inf value reads as NULL (absent).
    # Every oracle in this module reads events through _SANE_EVENTS, its
    # twin (see _util.finite; ieee corpus, round 7).
    #
    # sane-time-domain contract (time corpus, round 8): this module is the
    # event-TIME surface — every operator here buckets, windows, or
    # watermarks on ts.  In a live pipeline ONE year-9999 event advances
    # the watermark past all real traffic (dropping everything after it),
    # and a year-1 event can't even materialize on a Python client
    # (datetime.fromtimestamp probes ±1 day for DST-fold detection, so any
    # 0001-01-01 instant raises); window END arithmetic at 9999-12-31
    # overflows the representable year range.  Out-of-domain timestamps
    # are data errors and quarantined BEFORE the event-time column is
    # used — the raw-column range filter keeps parquet row-group pruning
    # (the round-7 pushdown lesson).  _SANE_EVENTS states the same WHERE.
    return sane_ts_filter(table(spark, sf_dir, "events")).withColumn(
        "value", finite("value")
    )


def tumbling(df: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type (works batch & streaming)."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding(df: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes."""
    return (
        df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize_batch(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch gaps-and-islands sessionization (30-min inactivity gap) —
    semantically equal to F.session_window (checked in pytest).

    Boundary: session_window treats a gap of EXACTLY the gap duration as a
    new session (each event opens a [ts, ts+gap) window; merging requires
    overlap, and touching intervals don't overlap) — hence >=, not >.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    marked = df.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)) >= gap_us,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return marked.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def dedup_by_id(df: DataFrame) -> DataFrame:
    """Dedup by event_id; aggregation form so the kept row is deterministic
    even if duplicates exist (streaming twin: withWatermark +
    dropDuplicates(["event_id"]), tests/test_streaming.py)."""
    return df.groupBy("event_id").agg(
        F.min("ts").alias("ts"),
        F.min("user_id").alias("user_id"),
        F.min("event_type").alias("event_type"),
    )


def user_totals(df: DataFrame) -> DataFrame:
    """Per-user event count + value total — the batch twin of the custom
    stateful operator (applyInPandasWithState keeps (count, total) state per
    user_id in streaming mode; tests/test_streaming.py proves equivalence)."""
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


def rollup_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (the continuous-aggregate
    pattern of time-series stores): minute / hour / day summaries of the
    event stream in a SINGLE scan + SINGLE shuffle via GROUPING SETS over
    pre-derived time buckets.  At 100 TB this replaces three separate
    scan+aggregate jobs; partial aggregation combines map-side at every
    resolution simultaneously, and the output is exactly the rollup table
    a production deployment would persist and incrementally refresh."""
    _events(spark, sf_dir).select(
        F.date_trunc("minute", F.col("ts")).alias("b_minute"),
        F.date_trunc("hour", F.col("ts")).alias("b_hour"),
        F.date_trunc("day", F.col("ts")).alias("b_day"),
        "value",
    ).createOrReplaceTempView("dfts_ev_buckets")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(b_minute) = 0 THEN 'minute'
                    WHEN grouping(b_hour) = 0 THEN 'hour'
                    ELSE 'day' END AS resolution,
               coalesce(b_minute, b_hour, b_day) AS bucket,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM dfts_ev_buckets
        GROUP BY GROUPING SETS ((b_minute), (b_hour), (b_day))
        """
    )


def rollup_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — per (event_type, hour) bar with open / high /
    low / close / volume / value-sum, the candlestick aggregation every
    tick store exposes (time_bucket + first/last).  Open and close are
    the values at the (ts, event_id) extremes — row_number tie-breaks
    give a total order, so both engines pick the SAME row even when
    timestamps collide (the join_asof discipline); high/low/volume are
    plain aggregates; the sum is decimal-carried.

    Scale: one hash shuffle on (type, bucket); the two row_number windows
    share that partitioning with the final groupBy, so Spark plans ONE
    exchange for all three.  Each window is bounded by a bar's tick
    count — the natural partition of tick data.
    """
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    b = e.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    w_f = Window.partitionBy("event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    w_l = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = b.withColumn("rf", F.row_number().over(w_f)).withColumn(
        "rl", F.row_number().over(w_l)
    )
    return r.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("long").alias("volume"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )


def rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with last-observation-carried-forward —
    the time_bucket_gapfill + locf pattern of time-series stores: a dense
    per-type hour grid (empty hours materialized with n_events=0), sum
    carried forward across gaps.

    Scale: the aggregate is one shuffle; the grid explode is per GROUP
    (O(types x hours), never O(events)); the locf window re-uses the
    aggregate's hash partitioning on event_type, so filling costs a sort
    but no extra exchange.  At 100 TB the grid stays tiny while the
    event scan dominates — gapfill cost is independent of input volume.
    """
    # the module-wide sane-time-domain guard in _events matters doubly
    # here (grid-deriving op): one corrupt year-1/9999 timestamp otherwise
    # explodes the min..max hourly grid to millions of cells (time corpus,
    # round 8: 2.5 GiB driver result from ONE bad row per event_type)
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
            F.col("n_events").isNull().alias("is_gap"),
        )
    )


def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling — rollup_gapfill's sibling for
    continuous measures where LOCF is wrong (sensor readings, prices):
    each empty hour gets v_prev + (v_next − v_prev)·(t−t_prev)/(t_next −
    t_prev); leading/trailing gaps clamp to the nearest known value.

    Portability: the hourly mean goes through the decimal-sum carrier
    (dsum discipline) so both engines derive the identical double; the
    interpolation is then 4 IEEE ops on exact hour epochs — deterministic.
    Scale: same as gapfill — one O(events) aggregate shuffle; the grid,
    the two IGNORE-NULLS windows, and the arithmetic are all O(types ×
    hours), reusing the aggregate's partitioning on event_type.
    """
    # grid-deriving like rollup_gapfill: the sane-time-domain guard in
    # _events is what bounds the grid (time corpus, round 8: this op HUNG
    # on one year-1 row before the guard)
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        (
            F.sum(F.col("value").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    j = grid.join(hourly, ["event_type", "bucket"], "left").withColumn(
        "t", F.unix_timestamp("bucket").cast("double")
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # "nearest next known" as a RUNNING frame over the DESCENDING order,
    # NOT first() over (currentRow, unboundedFollowing): Spark evaluates
    # an UnboundedFollowing frame by rescanning current→end for EVERY
    # row — O(rows²) per partition.  Invisible on a 720-hour month
    # (260k ops), a hard hang on the time corpus's 1.2M-hour span
    # (~10¹² ops) — and exactly the partition shape a years-deep backfill
    # has at 100 TB.  The descending running frame is the same value,
    # O(rows), at the cost of one extra in-partition sort (same single
    # exchange: both windows hash-partition on event_type).
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    known_t = F.when(F.col("v").isNotNull(), F.col("t"))
    filled = j.select(
        "event_type",
        "bucket",
        "v",
        "t",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(known_t, ignorenulls=True).over(w_prev).alias("pt"),
        F.last("v", ignorenulls=True).over(w_next).alias("nv"),
        F.last(known_t, ignorenulls=True).over(w_next).alias("nt"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * ((F.col("t") - F.col("pt")) / (F.col("nt") - F.col("pt")))
        )
    )
    # explicit HALF-UP (_util.half_up): interpolated midpoints land EXACTLY
    # on .xxxx5 ties (frac = 1/2 over decimal-ish endpoints), where Spark's
    # round() (half-up) and DuckDB's (half-even) disagree — the same
    # formula on both sides makes the tie-break engine-independent
    from .._util import half_up

    return filled.select(
        "event_type",
        "bucket",
        F.col("v").isNull().alias("is_interpolated"),
        half_up(interp).alias("v_interp"),
    )


def interval_join(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: for each click, the same user's
    purchases within the next 30 minutes (attribution).

    Defined ONCE for batch and streaming (unified model).  In streaming
    mode both inputs carry watermarks and the join condition is equi-key
    PLUS a two-sided event-time bound — exactly what Structured Streaming
    requires to evict join state (a purchase older than click_ts+30min can
    never match a future click, so its state row is dropped at the
    watermark).  Without the time bound the state store grows without limit
    at 100 TB/day; with it, state is O(events within the watermark delay).
    Equivalence of the two modes is asserted in tests/test_streaming.py.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        how,
    ).select("click_id", "user_id", "click_ts", "purchase_ts", "purchase_value")


def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER interval join: every click, attributed or not.

    The outer side is what makes state eviction load-bearing in streaming
    mode: a null-extended click can only be emitted once the watermark
    proves no future purchase can match it (click_ts + 30min < watermark).
    Without the two-sided time bound the engine could NEVER emit outer
    rows.  The streaming twin (same function, watermarked inputs) and its
    emit-on-eviction semantics are asserted in tests/test_streaming.py.
    """
    ev = _events(spark, sf_dir)
    return interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling(_events(spark, sf_dir))


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding(_events(spark, sf_dir))


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_batch(_events(spark, sf_dir)).drop("session_seq")


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_by_id(_events(spark, sf_dir))


def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_totals(_events(spark, sf_dir))


def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-gated tumbling agg.  In batch mode withWatermark is a
    no-op (rows-only entry); the actual late-data-drop semantics are
    asserted in tests/test_streaming.py with an ordered micro-batch feed."""
    ev = _events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return tumbling(ev)


def stream_session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session inter-event gap distribution — the engagement-rhythm
    statistic session analytics reads next to session counts (how bursty
    is a user's activity WITHIN a session?).  Same sessionization as
    stream_session (30-min gap, the F.session_window-equivalent lag/sum
    marking; equality pinned in pytest), then per (user, session):
    event count, gap count, and min/max/sum/mean of the inter-event gaps.

    Gaps are integer MICROSECONDS end to end (unix_micros both engines);
    only the mean divides, rounded half-up once.  A session's first event
    has no gap (n_gaps = n_events − 1); single-event sessions emit NULL
    gap stats (no observation ≠ zero gap — the nulls-corpus discipline).

    Scale: one lag window + one running sum per user partition (the
    sessionize shape), one grouped aggregate — streaming-equivalent to
    session_window state + applyInPandasWithState gap tracking, which
    tests/test_streaming.py exercises on the real micro-batch path.
    """
    from .._util import half_up

    gap_us = 30 * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    marked = (
        _events(spark, sf_dir)
        .select("user_id", "event_id", "ts")
        .withColumn(
            "gap",
            F.unix_micros(F.col("ts")) - F.unix_micros(prev),
        )
        .withColumn(
            "new_session",
            F.when(F.col("gap") >= gap_us, 1).otherwise(0).cast("int"),
        )
        .withColumn(
            "session_seq",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    in_session_gap = F.when(
        (F.col("new_session") == 0) & F.col("gap").isNotNull(), F.col("gap")
    )
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.count(in_session_gap).alias("n_gaps"),
            F.min(in_session_gap).alias("min_gap_us"),
            F.max(in_session_gap).alias("max_gap_us"),
            F.sum(in_session_gap).alias("sum_gap_us"),
        )
        .select(
            "user_id",
            "session_start",
            "n_events",
            "n_gaps",
            "min_gap_us",
            "max_gap_us",
            "sum_gap_us",
            F.when(
                F.col("n_gaps") > 0,
                half_up(F.col("sum_gap_us") / F.col("n_gaps").cast("double")),
            ).alias("mean_gap_us"),
        )
        .drop("session_seq")
    )


def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k — the trending-items query of a streaming
    dashboard: within each 1-hour tumbling window, the top-3 event types
    by count (ties to the lexicographically smaller type).  Batch-first
    phrasing of the foreachBatch ranking pattern: the windowed count is
    the same incremental aggregate Structured Streaming maintains; the
    rank runs per window partition over k' = |event types| rows, so the
    window spec is bounded and partitioned — never data-sized.  At 100 TB
    the count aggregate is the only O(N) shuffle; the rank input is
    O(windows × types).
    """
    return rank_windowed_counts(windowed_counts(_events(spark, sf_dir)))


def windowed_counts(df: DataFrame) -> DataFrame:
    """The streaming-maintainable half of stream_topk_windowed: a 1-hour
    tumbling count per event type (runs identically on a streaming frame
    in complete/update mode)."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


def rank_windowed_counts(counts: DataFrame) -> DataFrame:
    """The foreachBatch half: rank within each window, keep the top-3.
    Rank windows are not streaming-supported, so in a live pipeline this
    runs over the maintained aggregate inside foreachBatch — the test
    proves streamed-counts + this rank == the batch operator."""
    # nulls-last: the unlabeled-type bucket never beats a named type on a
    # count tie (and Spark's ASC default nulls-first would diverge from
    # the SQL default; nulls degenerate corpus, round 6)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc_nulls_last("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("window_start", "rk", "event_type", "n_events")
    )


QUERIES = {
    "stream_session_gap_stats": stream_session_gap_stats,
    "stream_topk_windowed": stream_topk_windowed,
    "ts_resample_interp": ts_resample_interp,
    "stream_tumbling": stream_tumbling,
    "stream_sliding": stream_sliding,
    "stream_session": stream_session,
    "stream_dedup": stream_dedup,
    "stream_stateful_count": stream_stateful_count,
    "stream_watermark_late": stream_watermark_late,
    "stream_join_interval": stream_join_interval,
    "stream_join_outer": stream_join_outer,
    "rollup_timeseries": rollup_timeseries,
    "rollup_gapfill": rollup_gapfill,
    "rollup_ohlc": rollup_ohlc,
}

# The oracles' events read: finite values inside the operational time
# domain, the twins of _events' finite and sane_ts_filter guards.
_SANE_EVENTS = (
    f"(SELECT * REPLACE ({sql_finite('value')} AS value) FROM events "
    f"WHERE {sql_sane_ts_where()})"
)

ORACLE = {
    "rollup_ohlc": f"""
        WITH b AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                   ts, event_id, value
            FROM {_SANE_EVENTS} events WHERE value IS NOT NULL
        ),
        r AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY event_type, bucket
                       ORDER BY ts, event_id
                   ) AS rf,
                   row_number() OVER (
                       PARTITION BY event_type, bucket
                       ORDER BY ts DESC, event_id DESC
                   ) AS rl
            FROM b
        )
        SELECT event_type, bucket,
               max(CASE WHEN rf = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rl = 1 THEN value END) AS close,
               CAST(count(*) AS BIGINT) AS volume,
               {sql_dsum("value")} AS sum_value
        FROM r GROUP BY event_type, bucket
    """,
    "stream_topk_windowed": f"""
        WITH counts AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n_events
            FROM {_SANE_EVENTS} events GROUP BY 1, 2
        )
        SELECT window_start,
               CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type ASC NULLS LAST
               ) AS INTEGER) AS rk,
               event_type, n_events
        FROM counts
        QUALIFY rk <= 3
    """,
    "ts_resample_interp": f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                   {sql_dsum("value")}
                       / count(*) AS v
            FROM {_SANE_EVENTS} events
            GROUP BY 1, 2
        ),
        grid AS (
            SELECT event_type,
                   unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                  FROM hourly GROUP BY event_type)
        ),
        j AS (
            SELECT g.event_type, g.bucket, h.v,
                   CAST(epoch(g.bucket) AS DOUBLE) AS t
            FROM grid g
            LEFT JOIN hourly h
              ON g.event_type = h.event_type AND g.bucket = h.bucket
        ),
        f AS (
            SELECT event_type, bucket, v, t,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN t END
                              IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pt,
                   first_value(v IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN t END
                               IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS nt
            FROM j
        )
        SELECT event_type, bucket,
               (v IS NULL) AS is_interpolated,
               {sql_half_up(
                   "(CASE WHEN v IS NOT NULL THEN v "
                   "WHEN pv IS NULL THEN nv "
                   "WHEN nv IS NULL THEN pv "
                   "ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) "
                   "END)"
               )} AS v_interp
        FROM f
    """,
    "stream_join_outer": f"""
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               p.ts AS purchase_ts, p.value AS purchase_value
        FROM (SELECT * FROM {_SANE_EVENTS} events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM {_SANE_EVENTS} events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
    "rollup_gapfill": f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                   count(*) AS n_events,
                   {sql_dsum("value")} AS sum_value
            FROM {_SANE_EVENTS} events
            GROUP BY 1, 2
        ),
        grid AS (
            SELECT event_type, unnest(generate_series(lo, hi,
                                       INTERVAL 1 HOUR)) AS bucket
            FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                  FROM hourly GROUP BY event_type)
        )
        SELECT g.event_type, g.bucket,
               COALESCE(h.n_events, 0) AS n_events,
               last_value(h.sum_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sum_value_locf,
               (h.n_events IS NULL) AS is_gap
        FROM grid g
        LEFT JOIN hourly h
          ON g.event_type = h.event_type AND g.bucket = h.bucket
    """,
    "stream_join_interval": f"""
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               p.ts AS purchase_ts, p.value AS purchase_value
        FROM (SELECT * FROM {_SANE_EVENTS} events WHERE event_type = 'click') c
        JOIN (SELECT * FROM {_SANE_EVENTS} events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
    # three resolutions stated as a UNION ALL — value-identical to the
    # single-pass GROUPING SETS plan on the Spark side
    "rollup_timeseries": f"""
        SELECT 'minute' AS resolution,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS bucket,
               COUNT(*) AS n_events,
               {sql_dsum("value")} AS sum_value
        FROM {_SANE_EVENTS} events GROUP BY 2
        UNION ALL
        SELECT 'hour',
               CAST(date_trunc('hour', ts) AS TIMESTAMP),
               COUNT(*),
               {sql_dsum("value")}
        FROM {_SANE_EVENTS} events GROUP BY 2
        UNION ALL
        SELECT 'day',
               CAST(date_trunc('day', ts) AS TIMESTAMP),
               COUNT(*),
               {sql_dsum("value")}
        FROM {_SANE_EVENTS} events GROUP BY 2
    """,
    "stream_tumbling": f"""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value")} AS sum_value
        FROM {_SANE_EVENTS} events
        GROUP BY 1, 2, 3
    """,
    "stream_sliding": f"""
        SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts)
                    - i * INTERVAL 15 MINUTE AS TIMESTAMP) AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM {_SANE_EVENTS} events, UNNEST(generate_series(0, 3)) AS t(i)
        GROUP BY 1, 2
    """,
    "stream_session_gap_stats": f"""
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) - epoch_us(
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   ) AS gap
            FROM {_SANE_EVENTS} events
        ),
        flagged AS (
            SELECT *, CASE WHEN gap >= 1800000000 THEN 1 ELSE 0 END AS new_session
            FROM marked
        ),
        numbered AS (
            SELECT *, SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq,
                   CASE WHEN new_session = 0 AND gap IS NOT NULL THEN gap END AS g
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               CAST(COUNT(g) AS BIGINT) AS n_gaps,
               MIN(g) AS min_gap_us,
               MAX(g) AS max_gap_us,
               CAST(SUM(g) AS BIGINT) AS sum_gap_us,
               CASE WHEN COUNT(g) > 0 THEN
                   {sql_half_up("SUM(g) / CAST(COUNT(g) AS DOUBLE)")}
               END AS mean_gap_us
        FROM numbered
        GROUP BY user_id, session_seq
    """,
    "stream_session": f"""
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN epoch_us(ts) - epoch_us(
                            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        ) >= 1800000000 THEN 1 ELSE 0 END AS new_session
            FROM {_SANE_EVENTS} events
        ),
        numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq
            FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_seq
    """,
    # withWatermark is a no-op in batch mode, so the batch result equals the
    # plain tumbling aggregation — hash-checkable; the streaming late-drop
    # semantics are asserted in tests/test_streaming.py
    "stream_watermark_late": f"""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value")} AS sum_value
        FROM {_SANE_EVENTS} events
        GROUP BY 1, 2, 3
    """,
    "stream_stateful_count": f"""
        SELECT user_id, COUNT(*) AS n_events,
               {sql_dsum("value")} AS total_value
        FROM {_SANE_EVENTS} events GROUP BY user_id
    """,
    "stream_dedup": f"""
        SELECT event_id,
               MIN(ts) AS ts,
               MIN(user_id) AS user_id,
               MIN(event_type) AS event_type
        FROM {_SANE_EVENTS} events GROUP BY event_id
    """,
}
