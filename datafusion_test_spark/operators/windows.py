"""Window-function operators (SURVEY §2.2 "Window functions").

Reference parity: `datafusion-functions-window` (reference Cargo.lock:
987-988) — ranking, offset, frame-bounded aggregates.  Spark's WindowExec
sorts within hash-partitioned groups; at 100 TB the shuffle is one exchange
on the partition key and the sort is external (spillable).

Determinism contract: every window ORDER BY carries a unique tiebreaker
(o_orderkey) so row_number/lag/frames are reproducible run-to-run and
engine-to-engine — nondeterministic windows are a correctness bug at any
scale, not just for the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import DEC, finite, half_up, sql_half_up
from ..io import SQL_FINITE_EVENTS, table

# Deterministic per-customer order timeline.
def _w(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o, w

# NULLS FIRST pins the null position explicitly: Spark's ASC default is
# nulls-first, DuckDB's is nulls-last — left implicit, every offset/frame
# window diverges the moment the ordering column admits NULLs (the nulls
# degenerate corpus, round 6).  o_orderkey is a non-null PK tiebreaker.
_ORDER = "ORDER BY o_orderdate NULLS FIRST, o_orderkey"


def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, w = _w(spark, sf_dir)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, w = _w(spark, sf_dir)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )


def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total; decimal-cast so the prefix sums are engine-exact."""
    o, w = _w(spark, sf_dir)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(frame).cast("double").alias("running_total"),
    )


def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, w = _w(spark, sf_dir)
    frame = w.rowsBetween(-3, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        # half-up: small-frame mean of 2dp money — the sum is exact in
        # double, so /n CAN land exactly on .xxxx5
        half_up(F.avg("o_totalprice").over(frame)).alias("moving_avg"),
    )


def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering column: count of orders within
    10k below each order's totalprice, per orderstatus."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_in_band"),
    )


def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, w = _w(spark, sf_dir)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(full).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
    )


def win_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions: percent_rank / cume_dist.

    Both are exact rationals ((rank-1)/(n-1), rank/n) computed identically
    as doubles in both engines — no rounding needed for the oracle."""
    o, w = _w(spark, sf_dir)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per event, the count and decimal-exact
    value sum of the same user's events in the trailing hour (inclusive).
    The frame is anchored on unix MICROseconds so the boundary is exact —
    casting timestamp to long truncates to seconds and silently widens the
    frame; DuckDB's INTERVAL frame matches the microsecond bound.

    One shuffle on user_id; the RANGE frame is evaluated over the sorted
    run with a sliding two-pointer inside WindowExec — O(n) per partition,
    the same cost class as a ROWS frame at any scale."""
    # finite-measurement contract: NaN/Inf read as NULL (absent), rows kept
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", finite("value").alias("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("sum_trailing_1h"),
    )


def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding via windows: per user, the longest streak of
    consecutive same-type events (in (ts, event_id) order) and how many
    distinct runs the history splits into.  The lag-compare → cumulative
    run-id → per-run length ladder is the RLE idiom behind uptime
    streaks, sensor-state runs, and repeated-token compression — two
    window passes and one aggregate over a single (user_id) exchange.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "brk",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    runs = marked.groupBy("user_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("event_type").alias("event_type"),
    )
    summary = runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("longest_streak"),
    )
    # deterministic tie-break for the winning type: max event_type among
    # runs achieving the longest length (portable — no max_by semantics)
    winner = (
        runs.join(
            summary.select("user_id", F.col("longest_streak").alias("ls")),
            "user_id",
        )
        .filter(F.col("run_len") == F.col("ls"))
        .groupBy("user_id")
        .agg(F.max("event_type").alias("longest_streak_type"))
    )
    return summary.join(winner, "user_id")


_EWMA_LAGS = 10  # truncation depth; alpha = 1/2 so weights are exact 2^-k


def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event values per user —
    the time-series smoother (monitoring baselines, feature decay) that
    plain SQL lacks as a builtin because it is a recurrence.  Expressed
    exactly as the TRUNCATED expansion: ewma_t = Σ_{j<10} w_j·x_{t-j} /
    Σ w_j over the lags present, with α = 1/2 so every weight 2^-(j+1) is
    an exact binary fraction — the unrolled left-to-right double chain is
    then bit-identical cross-engine (no libm pow, no float accumulation
    ambiguity), and the final divide goes through _util.half_up.

    Scale shape: ten lag() functions over ONE window spec = one shuffle
    on user_id and a single sort — Spark evaluates all lags in one
    WindowExec pass.  Truncation at 10 bounds the error by 2^-10 of the
    value scale, the standard streaming-EWMA restart trade.
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", finite("value").alias("value")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    n_terms = None
    for j in range(_EWMA_LAGS):
        lv = F.lag("value", j).over(w) if j else F.col("value")
        wgt = F.lit(2.0 ** -(j + 1))
        term = F.when(lv.isNotNull(), lv * wgt).otherwise(F.lit(0.0))
        dterm = F.when(lv.isNotNull(), wgt).otherwise(F.lit(0.0))
        cterm = F.when(lv.isNotNull(), F.lit(1)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
        n_terms = cterm if n_terms is None else n_terms + cterm
    return e.select(
        "event_id",
        "user_id",
        "ts",
        n_terms.cast("int").alias("n_terms"),
        # all 10 lags NULL => den = 0 => no observation to smooth: NULL
        # (ANSI raises on 0/0 — nulls degenerate corpus, round 6)
        F.when(den > 0, half_up(num / den)).alias("ewma"),
    )


def win_median_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding exact median (lower median, last-5-rows frame) of order
    totals per customer — the robust moving-center that win_moving_avg's
    mean is not.  The median is ALWAYS a raw data value (sorted frame
    list indexed at (n+1) DIV 2), so the result is engine-exact with no
    interpolation; the frame list is ≤ 5 elements, making collect+sort
    per row O(k log k) on a bounded k — the standard exact form for small
    windows (for large frames the swap is a sketch or a two-heap UDAF,
    same surface).
    """
    o, w = _w(spark, sf_dir)
    frame = w.rowsBetween(-4, 0)
    # collect_list DROPS NULLs, so the median basis — and n_win — is the
    # frame's NON-NULL observations (a frame of all-NULL totals has no
    # median; indexing count(*) into the shorter list was an
    # out-of-bounds crash on the nulls degenerate corpus, round 6)
    lst = F.sort_array(F.collect_list("o_totalprice").over(frame))
    k = F.size(lst)
    return o.select(
        "o_orderkey",
        "o_custkey",
        k.cast("int").alias("n_win"),
        F.when(
            k > 0, F.element_at(lst, ((k + F.lit(1)) / F.lit(2)).cast("int"))
        ).alias("sliding_median"),
    )


def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding OLS trend per customer — the slope of order totals over
    their last-5-orders position index, the 'is this account ramping or
    churning' signal.  Fully integer-exact: totals pre-scale to cents
    (floor(y·100+0.5), bigint), positions are 1..n, and the OLS closed
    form n·Σxy − Σx·Σy over n·Σx² − (Σx)² is pure int64 with one final
    half-up divide (per-position slope in currency units).  n = 1 frames
    emit NULL (undefined trend) under the ANSI guard.

    Plan: ONE window pass collects the ≤ 5-element frame; every sum is a
    bounded higher-order fold over that array — no second window, no
    join.  The same closed form at any frame width; for data-sized
    frames the swap is the incremental sum-carry (win_running_sum's
    family), not a bigger list.
    """
    o, w = _w(spark, sf_dir)
    frame = w.rowsBetween(-4, 0)
    m = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",  # the window's ordering key must survive the cut
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y_s"),
    ).withColumn("ys", F.collect_list("y_s").over(frame))
    n = F.size("ys").cast("long")
    idx = F.sequence(F.lit(1), F.size("ys"))
    sxy = F.aggregate(
        F.zip_with("ys", idx, lambda y, i: i.cast("long") * y),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    sy = F.aggregate(
        "ys", F.lit(0).cast("long"), lambda a, v: a + v
    )
    sx = F.expr("CAST(size(ys) AS BIGINT) * (size(ys) + 1) DIV 2")
    sxx = F.expr(
        "CAST(size(ys) AS BIGINT) * (size(ys) + 1) * (2 * size(ys) + 1) DIV 6"
    )
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    from .._util import half_up

    return m.select(
        "o_orderkey",
        "o_custkey",
        n.cast("int").alias("n_win"),
        F.when(
            den > 0, half_up(num / (den * 100).cast("double"))
        ).alias("slope"),
    )


def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per key — "how many distinct event types
    has this user produced so far" — a frame Spark's window functions
    refuse outright (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED).  The standard
    rewrite: mark each row's FIRST occurrence within (user, type) via
    row_number == 1, then a plain running SUM of the marks over the
    user's timeline.  The oracle is DuckDB's NATIVE windowed
    count(DISTINCT ...), so the rewrite is proven equal to the real
    quantifier semantics, not to itself.

    Scale: two hash shuffles — (user, type) for the first-occurrence
    mark, then user for the running sum — each window bounded by one
    user's history.  The native form, where an engine supports it, keeps
    a per-frame hash set; the rewrite carries one extra int per row
    instead and composes with any running aggregate.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # COUNT(DISTINCT x) never counts NULL x — the rewrite must not either
    # (a NULL event_type opens a (user, NULL) partition whose first row
    # would otherwise mark +1; the nulls degenerate corpus caught this
    # against DuckDB's native windowed DISTINCT, round 6)
    marked = e.withColumn(
        "is_first",
        F.when(
            F.col("event_type").isNotNull()
            & (F.row_number().over(w_first) == 1),
            1,
        ).otherwise(0),
    )
    return marked.select(
        "user_id",
        "event_id",
        "event_type",
        F.sum("is_first").over(w_run).cast("long").alias("n_types_seen"),
    )


def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT — each order's share of its customer's total
    spend, plus the running (Pareto) share along the customer's order
    history.  The contribution-analysis window ANSI engines expose as
    ratio_to_report(x) OVER (PARTITION BY ...), built here from a
    partition-total window and an exact divide: prices are cents-scaled
    to int64, so both shares are single IEEE divides of exact integers
    (half-up rounded identically in both engines).

    Scale: one hash exchange on the customer key feeds all three frames
    (total, running, row) — Spark plans a single Window node chain."""
    from .._util import half_up

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "cents"
        ),
    )
    part = Window.partitionBy("o_custkey")
    run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = o.withColumn("tot", F.sum("cents").over(part)).withColumn(
        "cum", F.sum("cents").over(run)
    )
    return t.select(
        "o_orderkey",
        "o_custkey",
        half_up(F.col("cents") / F.col("tot").cast("double")).alias("share"),
        half_up(F.col("cum") / F.col("tot").cast("double")).alias(
            "cum_share"
        ),
    )


_SPC_N = 20  # trailing control-window size


def win_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart (±3σ rule) — flag every event whose value
    leaves the 3-sigma band of the STRICTLY TRAILING 20 observations of
    its type: the statistical-process-control monitor behind alerting
    pipelines, kept ENTIRELY in int64.  The verdict is the
    cross-multiplied inequality (n·v − S)²·(n−1) > 9·n·(n·Q − S²) over
    cents-scaled values, so no sqrt, no float, and no rounding ever
    decides an alarm.  Carrier bound (documented, checked at sf0.1):
    |n·v − S| ≤ 2n·10⁶ ⇒ LHS ≤ 4n³·10¹² ≈ 3·10¹⁶ at n = 20 — three
    orders inside int64.  Rows without a full 20-row history emit NULL
    (warm-up, not a verdict).

    Scale: one hash exchange on event_type; the sliding sums are rows
    frames bounded by 20.  At 100 TB the partition key becomes
    (series_id) with millions of independent series — same plan.
    """
    # raw IsNotNull FIRST so it pushes to the parquet scan (row-group
    # stats skip all-NULL groups); the finite guard then drops NaN/Inf,
    # which no storage-level filter can express
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("value", finite("value"))
        .filter(F.col("value").isNotNull())
    )
    t = e.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_SPC_N, -1)
    )
    s = t.withColumn("n", F.count(F.lit(1)).over(w)).withColumn(
        "S", F.sum("v_s").over(w)
    ).withColumn("Q", F.sum(F.col("v_s") * F.col("v_s")).over(w))
    dev = F.col("n") * F.col("v_s") - F.col("S")
    lhs = dev * dev * (F.col("n") - 1)
    rhs = 9 * F.col("n") * (F.col("n") * F.col("Q") - F.col("S") * F.col("S"))
    return s.select(
        "event_type",
        "event_id",
        "value",
        F.col("n").cast("int").alias("n_window"),
        F.when(F.col("n") >= _SPC_N, lhs > rhs).alias("out_of_control"),
    )


def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the largest peak-to-trough drop of
    the cumulative value stream, the risk metric every equity/metric
    curve report carries.  Cents-scaled int64 throughout: cum is the
    exact running sum, peak the running max of cum, drawdown = peak −
    cum, and the answer is one argmax per series with (ts, event_id)
    tie-breaks — every quantity an integer, the argmax total-ordered.

    Scale: all three frames (running sum, running max, final argmax via
    row_number) share ONE hash exchange on the series key; cost bounded
    by a series' history.  Carrier: |cum| ≤ rows·10⁶ — int64 to ~9·10¹²
    rows per series.
    """
    # raw IsNotNull FIRST so it pushes to the parquet scan (row-group
    # stats skip all-NULL groups); the finite guard then drops NaN/Inf,
    # which no storage-level filter can express
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("value", finite("value"))
        .filter(F.col("value").isNotNull())
    )
    t = e.select(
        "event_type",
        "event_id",
        "ts",
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = (
        t.withColumn("cum", F.sum("v_s").over(run))
        .withColumn("peak", F.max(F.col("cum")).over(run))
        .withColumn("dd", F.col("peak") - F.col("cum"))
    )
    wk = Window.partitionBy("event_type").orderBy(
        F.desc("dd"), F.asc("ts"), F.asc("event_id")
    )
    return (
        s.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("dd").cast("long").alias("max_drawdown_s"),
            F.col("event_id").alias("trough_event_id"),
            F.col("peak").cast("long").alias("peak_s"),
            F.col("cum").cast("long").alias("trough_cum_s"),
        )
    )


QUERIES = {
    "win_drawdown": win_drawdown,
    "win_control_chart": win_control_chart,
    "win_ratio_to_report": win_ratio_to_report,
    "win_running_distinct": win_running_distinct,
    "win_median_sliding": win_median_sliding,
    "win_rolling_slope": win_rolling_slope,
    "win_ewma": win_ewma,
    "win_time_range": win_time_range,
    "win_streaks": win_streaks,
    "win_ranking": win_ranking,
    "win_percent": win_percent,
    "win_lag_lead": win_lag_lead,
    "win_running_sum": win_running_sum,
    "win_moving_avg": win_moving_avg,
    "win_range_frame": win_range_frame,
    "win_first_last": win_first_last,
}

def _ewma_oracle() -> str:
    lag_cols = ",\n                   ".join(
        f"lag(value, {j}) OVER w AS lag_{j}" for j in range(1, _EWMA_LAGS)
    )
    refs = ["value"] + [f"lag_{j}" for j in range(1, _EWMA_LAGS)]
    num = " + ".join(
        f"(CASE WHEN {r} IS NOT NULL THEN {r} * CAST({2.0 ** -(j + 1)!r} "
        f"AS DOUBLE) ELSE 0.0 END)"
        for j, r in enumerate(refs)
    )
    den = " + ".join(
        f"(CASE WHEN {r} IS NOT NULL THEN CAST({2.0 ** -(j + 1)!r} "
        f"AS DOUBLE) ELSE 0.0 END)"
        for j, r in enumerate(refs)
    )
    cnt = " + ".join(
        f"(CASE WHEN {r} IS NOT NULL THEN 1 ELSE 0 END)" for r in refs
    )
    return f"""
        WITH lagged AS (
            SELECT event_id, user_id, ts, value,
                   {lag_cols}
            FROM {SQL_FINITE_EVENTS} events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id, ts,
               CAST({cnt} AS INTEGER) AS n_terms,
               CASE WHEN ({den}) > 0
                    THEN {sql_half_up(f"({num}) / ({den})")} END AS ewma
        FROM lagged
    """


def _rolling_slope_oracle() -> str:
    sxy = (
        "list_aggregate(list_transform(generate_series(1, len(ys)), "
        "i -> i * ys[i]), 'sum')"
    )
    sy = "list_aggregate(ys, 'sum')"
    sx = "CAST(len(ys) AS BIGINT) * (len(ys) + 1) // 2"
    sxx = (
        "CAST(len(ys) AS BIGINT) * (len(ys) + 1) * (2 * len(ys) + 1) // 6"
    )
    num = f"(CAST(len(ys) AS BIGINT) * ({sxy}) - ({sx}) * ({sy}))"
    den = f"(CAST(len(ys) AS BIGINT) * ({sxx}) - ({sx}) * ({sx}))"
    ratio = sql_half_up(f"CAST({num} AS DOUBLE) / ({den} * 100)")
    # list() keeps NULL elements (Spark's collect_list drops them) — the
    # OLS basis is the frame's NON-NULL observations, so filter before
    # the fold; ORDER BY pins NULLS FIRST (Spark's ASC default) so frame
    # MEMBERSHIP agrees when o_orderdate admits NULLs
    return f"""
        WITH m0 AS (
            SELECT o_orderkey, o_custkey,
                   list(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                       OVER w AS ys0
            FROM orders
            WINDOW w AS (
                PARTITION BY o_custkey
                ORDER BY o_orderdate NULLS FIRST, o_orderkey
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
            )
        ),
        m AS (
            SELECT o_orderkey, o_custkey,
                   list_filter(ys0, y -> y IS NOT NULL) AS ys
            FROM m0
        )
        SELECT o_orderkey, o_custkey,
               CAST(len(ys) AS INTEGER) AS n_win,
               CASE WHEN {den} > 0 THEN {ratio} END AS slope
        FROM m
    """


ORACLE = {
    "win_drawdown": f"""
        WITH t AS (
            SELECT event_type, event_id, ts,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        c AS (
            SELECT *,
                   CAST(SUM(v_s) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM t
        ),
        s AS (
            SELECT *,
                   CAST(max(cum) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS peak
            FROM c
        )
        SELECT event_type,
               CAST(peak - cum AS BIGINT) AS max_drawdown_s,
               event_id AS trough_event_id,
               peak AS peak_s, cum AS trough_cum_s
        FROM s
        QUALIFY row_number() OVER (
            PARTITION BY event_type
            ORDER BY peak - cum DESC, ts, event_id
        ) = 1
    """,
    "win_control_chart": f"""
        WITH t AS (
            SELECT event_type, event_id, ts, value,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        s AS (
            SELECT *,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(v_s) OVER w AS BIGINT) AS S,
                   CAST(SUM(v_s * v_s) OVER w AS BIGINT) AS Q
            FROM t
            WINDOW w AS (
                PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN {_SPC_N} PRECEDING AND 1 PRECEDING
            )
        )
        SELECT event_type, event_id, value,
               CAST(n AS INTEGER) AS n_window,
               CASE WHEN n >= {_SPC_N} THEN
                   (n * v_s - S) * (n * v_s - S) * (n - 1)
                   > 9 * n * (n * Q - S * S)
               END AS out_of_control
        FROM s
    """,
    "win_ratio_to_report": f"""
        WITH o AS (
            SELECT o_orderkey, o_custkey, o_orderdate,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        t AS (
            SELECT *,
                   CAST(SUM(cents) OVER (PARTITION BY o_custkey) AS BIGINT)
                       AS tot,
                   CAST(SUM(cents) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate NULLS FIRST, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM o
        )
        SELECT o_orderkey, o_custkey,
               {sql_half_up("CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE)")} AS share,
               {sql_half_up("CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)")} AS cum_share
        FROM t
    """,
    # DuckDB's native windowed DISTINCT aggregate — the semantics the
    # Spark-side first-occurrence rewrite must reproduce
    "win_running_distinct": """
        SELECT user_id, event_id, event_type,
               CAST(count(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_types_seen
        FROM events
    """,
    "win_rolling_slope": _rolling_slope_oracle(),
    # median basis is the frame's NON-NULL totals (list() keeps NULLs,
    # Spark's collect_list drops them); NULLS FIRST pins frame membership
    "win_median_sliding": """
        WITH m AS (
            SELECT o_orderkey, o_custkey,
                   list_sort(list_filter(list(o_totalprice) OVER w,
                                         y -> y IS NOT NULL)) AS lst
            FROM orders
            WINDOW w AS (
                PARTITION BY o_custkey
                ORDER BY o_orderdate NULLS FIRST, o_orderkey
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
            )
        )
        SELECT o_orderkey, o_custkey,
               CAST(len(lst) AS INTEGER) AS n_win,
               CASE WHEN len(lst) > 0
                    THEN lst[CAST((len(lst) + 1) // 2 AS INTEGER)]
               END AS sliding_median
        FROM m
    """,
    "win_ewma": _ewma_oracle(),
    "win_streaks": """
        WITH m AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        r AS (
            SELECT user_id, event_type,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS run_id
            FROM m
        ),
        runs AS (
            SELECT user_id, run_id, count(*) AS run_len,
                   min(event_type) AS event_type
            FROM r GROUP BY user_id, run_id
        ),
        summary AS (
            SELECT user_id, count(*) AS n_runs, max(run_len) AS longest_streak
            FROM runs GROUP BY user_id
        )
        SELECT s.user_id, s.n_runs, s.longest_streak,
               (SELECT max(event_type) FROM runs ru
                WHERE ru.user_id = s.user_id
                  AND ru.run_len = s.longest_streak) AS longest_streak_type
        FROM summary s
    """,
    "win_time_range": f"""
        SELECT event_id, user_id, ts,
               count(*) OVER w AS n_trailing_1h,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   AS sum_trailing_1h
        FROM {SQL_FINITE_EVENTS} events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    "win_percent": f"""
        SELECT o_orderkey, o_custkey,
               PERCENT_RANK() OVER (PARTITION BY o_custkey {_ORDER}) AS pct_rank,
               CUME_DIST()    OVER (PARTITION BY o_custkey {_ORDER}) AS cume
        FROM orders
    """,
    "win_ranking": f"""
        SELECT o_orderkey, o_custkey,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey {_ORDER}) AS INT) AS rn,
               CAST(RANK()       OVER (PARTITION BY o_custkey {_ORDER}) AS INT) AS rk,
               CAST(DENSE_RANK() OVER (PARTITION BY o_custkey {_ORDER}) AS INT) AS drk,
               CAST(NTILE(4)     OVER (PARTITION BY o_custkey {_ORDER}) AS INT) AS quartile
        FROM orders
    """,
    "win_lag_lead": f"""
        SELECT o_orderkey, o_custkey, o_totalprice,
               LAG(o_totalprice, 1)  OVER (PARTITION BY o_custkey {_ORDER}) AS prev_price,
               LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey {_ORDER}) AS next_price
        FROM orders
    """,
    "win_running_sum": f"""
        SELECT o_orderkey, o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                   PARTITION BY o_custkey {_ORDER}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_total
        FROM orders
    """,
    "win_moving_avg": f"""
        SELECT o_orderkey, o_custkey,
               {sql_half_up(
                   f"AVG(o_totalprice) OVER (PARTITION BY o_custkey {_ORDER} "
                   "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"
               )} AS moving_avg
        FROM orders
    """,
    "win_range_frame": """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               COUNT(*) OVER (
                   PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW
               ) AS n_in_band
        FROM orders
    """,
    "win_first_last": f"""
        SELECT o_orderkey, o_custkey,
               FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey {_ORDER}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
               LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey {_ORDER}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
               NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey {_ORDER}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price
        FROM orders
    """,
}
