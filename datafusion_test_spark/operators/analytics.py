"""Event-analytics composites over the events stream — the funnel and
cohort queries every product warehouse runs on its clickstream (Tier C
extension surface; the relational core is the reference's own
scan→filter→aggregate class, src/main.rs:122).

- funnel_conversion    ordered view -> click -> purchase funnel within a
                       per-user window (SQL oracle)
- agg_retention_cohort first-seen-day cohorts x day-offset retention
                       (SQL oracle)

Scale design (100 TB):

* funnel_conversion — the funnel is ONE shuffle on user_id: per-user min
  event times per stage come from a single conditional aggregate (no
  3-way self-join, which is the naive O(3 shuffles) phrasing); the stage
  ordering predicate is then row-local.  At 100 TB the same query runs
  partitioned by day with the user shuffle bounded per partition.
* agg_retention_cohort — two chained aggregates: (user, day) activity
  dedup (map-side combinable), then a broadcast-joined first-seen day per
  user; the cohort matrix itself is O(days²) rows — tiny at any corpus
  size.  The first-seen relation is the only per-user state; in
  production it is the incrementally-maintained dimension
  (scd2_build/agg_incremental patterns), not a rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import DEC, finite, half_up, r4, sql_half_up
from ..io import SQL_FINITE_EVENTS, table


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel: per user, the earliest view, the
    earliest click AFTER that view, and the earliest purchase AFTER that
    click; global conversion counts per stage."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
    )
    # stage 2/3 must happen AFTER the previous stage's time: re-aggregate
    # conditionally against the per-user anchors.  The anchor side is
    # O(all users), so no broadcast hint — at harness scale AQE broadcasts
    # it anyway, at 100 TB it must shuffle-hash-join (ADVICE r3)
    anchors = per_user.select("user_id", "t_view")
    clicks = (
        e.join(anchors, "user_id")
        .filter(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    anchors2 = clicks  # same O(users) cardinality — let AQE pick the strategy
    purchases = (
        e.join(anchors2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    funnel = (
        per_user.select("user_id", "t_view")
        .join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
    )
    return funnel.groupBy().agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
    )


def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on
    each later activity day as a day offset — the retention triangle."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    active = e.distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    # first-active is one row per user — O(all users), so no broadcast
    # hint here either; AQE broadcasts at small scale, shuffles at 100 TB
    j = active.join(first, "user_id")
    return (
        j.groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .filter(F.col("day_offset") <= 7)
    )


def seq_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence detection: a click followed by a
    purchase within the user's next two events (by (ts, event_id) order).
    Expressed as lead() windows — the columnar phrasing of short fixed
    patterns; longer/looser patterns escalate to session reassembly via
    applyInPandas (udf_cogrouped's API family).  One shuffle on user_id.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = e.select(
        "user_id",
        "event_type",
        "ts",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    ).withColumn(
        "hit",
        (F.col("event_type") == "click")
        & ((F.col("nxt1") == "purchase") | (F.col("nxt2") == "purchase")),
    )
    return m.groupBy("user_id").agg(
        # coalesce: a tail click has NULL lookaheads -> NULL hit, which
        # must count as 0 (DuckDB's CASE ELSE 0) not poison an all-NULL sum
        F.sum(F.coalesce(F.col("hit"), F.lit(False)).cast("int")).alias(
            "n_matches"
        ),
        F.min(F.when(F.col("hit"), F.col("ts"))).alias("first_match_ts"),
    )


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not dominated by any
    earlier-day order with an at-most-equal price — 'was this the cheapest
    order seen so far?'.  Two-phase phrasing: (1) per-day MIN(price)
    aggregate (map-side combinable; the result is bounded by the calendar,
    ~2.4k rows at any corpus size), (2) strict-prefix running MIN over the
    day buckets — a global window, but over the aggregate-bounded day
    relation (the documented safe class), (3) broadcast the per-day
    strict-prefix min back onto orders.  No unpartitioned sort ever sees
    the fact table, so the plan survives 100x: the only full-relation
    exchange is the day groupBy, which is partial-aggregated map-side.
    """
    from pyspark.sql import Window

    # the frontier is defined over fully-observed (date, price) orders: a
    # NULL date has no position on the time axis (Spark would bucket it
    # BEFORE day 0, SQL after all days) and a NULL price can dominate
    # nothing (nulls degenerate corpus, round 6)
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.datediff(
                F.col("o_orderdate"), F.lit("1990-01-01").cast("date")
            ).alias("day"),
        )
    )
    day_min = o.groupBy("day").agg(F.min("o_totalprice").alias("day_min"))
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    prefix = day_min.select(
        "day", F.min("day_min").over(wp).alias("best_earlier")
    )
    m = o.join(F.broadcast(prefix), "day")
    return m.filter(
        F.col("best_earlier").isNull()
        | (F.col("o_totalprice") < F.col("best_earlier"))
    ).select("o_orderkey", "day", "o_totalprice")


def interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coverage (union of overlapping intervals): each event
    opens a 10-minute activity interval; overlapping intervals per user
    merge into maximal islands.  The gaps-and-islands phrasing: running
    MAX of interval end over preceding rows, a new island wherever the
    next start exceeds it, cumulative-sum island ids — two window passes
    over ONE (user_id) exchange, all integer microseconds (exact).
    Output: per-user island count and total covered seconds.
    """
    from pyspark.sql import Window

    iv = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(600_000_000)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prevmax = (
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    marked = iv.withColumn(
        "new_island",
        F.when(prevmax.isNull() | (F.col("s") > prevmax), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = marked.groupBy("user_id", "island").agg(
        F.min("s").alias("is_s"), F.max("e").alias("is_e")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("is_e") - F.col("is_s")).alias("covered_us"),
        F.max(F.col("is_e") - F.col("is_s")).alias("longest_us"),
    )


def seq_string_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-motif mining over per-user event strings: each user's
    history collapses to a string of event initials in (ts, event_id)
    order, and adjacency motifs (view→click, click→purchase, error→error)
    are counted with exact REPLACE-length arithmetic — a regex-free
    formulation that is bit-identical across engines (regex COUNT
    semantics differ between leftmost-first and leftmost-longest
    matchers; literal REPLACE does not).

    One shuffle on user_id; the sort is per-group (collect_list +
    array_sort over O(events/user) elements).  The string form is the
    cheap carrier for any fixed-alphabet motif query — at 100 TB it is
    materialized once and every motif afterwards is a map-side scan.
    """
    from pyspark.sql import functions as FF

    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = e.groupBy("user_id").agg(
        FF.array_join(
            FF.transform(
                FF.array_sort(
                    FF.collect_list(FF.struct("ts", "event_id", "event_type"))
                ),
                lambda s: FF.substring(s["event_type"], 1, 1),
            ),
            "",
        ).alias("seq")
    )

    def motif(m: str, alias: str):
        return (
            (FF.length("seq") - FF.length(FF.replace(FF.col("seq"), FF.lit(m))))
            / len(m)
        ).cast("long").alias(alias)

    return seq.select(
        "user_id",
        FF.length("seq").alias("seq_len"),
        motif("vc", "n_view_click"),
        motif("cp", "n_click_purchase"),
        motif("ee", "n_error_pair"),
    )


_N_BUCKETS = 10


def feature_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency feature binning (decile bucketing of o_totalprice)
    WITHOUT a global single-partition window — the featurization step a
    training pipeline runs to turn a heavy-tailed numeric into a uniform
    categorical.

    The global rank over (o_totalprice, o_orderkey) is computed with the
    same two-phase distributed prefix count as seq_pack/sample_systematic:
    range-repartition on the sort key, per-partition row_number, partition
    offsets from a #partitions-row window, broadcast back.  Bucket id is
    then integer arithmetic on (rank, N) — floor((rank-1)*k/N) — so the
    assignment is exact and engine-portable (the oracle states the same
    formula over row_number), unlike percentile-interpolated edges which
    can flip a boundary row on float noise.  NO window ever sees more than
    one partition's rows; the oracle's single-partition row_number is the
    sf0.01 restatement, not the Spark plan.

    Output: per-bucket row count and [lo, hi] value range (10 rows).
    """
    from .._util import two_phase_prefix

    # a NULL feature value has no rank on the value axis — the binning
    # basis is the observed values (NULLs otherwise land in an
    # engine-dependent end bucket: Spark range-partitions them first,
    # SQL row_number orders them last; nulls degenerate corpus, round 6)
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_totalprice").isNotNull())
    )
    # the open-coded two-phase rank is now the shared helper (it carries
    # the eval_auc range-boundary fix); tot_rows comes from the same
    # per-partition aggregates — no second scan of orders for the count
    ranked, totals = two_phase_prefix(
        o, ["o_totalprice", "o_orderkey"], rank_as="rn"
    )
    binned = ranked.crossJoin(F.broadcast(totals)).withColumn(
        "bucket", F.expr(f"((rn - 1) * {_N_BUCKETS}) div tot_rows")
    )
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI linear-regression aggregates per event type: value regressed
    on hour-of-day via regr_slope / regr_intercept / regr_r2 / regr_count
    — the trend-fit surface a metrics warehouse exposes.  One shuffle on
    the group key with map-side partial moment states (the regr_* family
    is a mergeable (n, Σx, Σy, Σxx, Σxy, Σyy) sketch, so the plan is the
    same partial/final split as any sum).  round(,4) absorbs the ulp-level
    float noise of partial-state merge order (agg_stats discipline).
    """
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("double").alias("x"),
        finite("value").alias("y"),
    )
    return e.groupBy("event_type").agg(
        F.expr("regr_count(y, x)").cast("long").alias("n_points"),
        r4(F.expr("regr_slope(y, x)"), "slope"),
        r4(F.expr("regr_intercept(y, x)"), "intercept"),
        r4(F.expr("regr_r2(y, x)"), "r2"),
    )


_MAD_K = 3 * 1.4826  # 3-sigma-equivalent MAD multiplier (normal consistency)


def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median / MAD (median absolute
    deviation) and the count of values beyond 3·1.4826·MAD — the
    anomaly-detection primitive that survives skew where mean/stddev
    z-scores break.  Exact percentile both times; the deviation column and
    the threshold compare are single IEEE ops on identical inputs, so the
    outlier counts are bit-identical cross-engine.

    Plan: two grouped exact percentiles chained through k-row broadcast
    joins (k = event types) — the events relation is scanned twice but
    never self-joined.  At 100 TB swap percentile for approx_percentile
    (t-digest): same two-pass shape, sketched carrier; the flag threshold
    then carries the sketch's rank error, which is the standard trade.
    """
    e = table(spark, sf_dir, "events").select(
        "event_type", finite("value").alias("value")
    )
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r4(F.first("med"), "med"),
            r4(F.first("mad"), "mad"),
            F.count(
                F.when(F.col("adev") > F.lit(_MAD_K) * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
    )


_PR_SCALE = 1_000_000_000
_PR_ITERS = 3
_PR_TOPK = 20
_PR_BASE = 15 * _PR_SCALE // 100  # (1-d)·scale with damping d = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the order↔part bipartite graph (an order links every
    part it contains — the 'product importance' view of the fact table),
    run for a FIXED 3 iterations in integer fixed-point: ranks are scaled
    by 10⁹ and every step is floor division — contrib = pr DIV deg,
    pr' = 0.15·scale + (85·Σcontrib) DIV 100 — so the result is
    bit-identical on any engine, any partitioning, any reduce order
    (float PageRank is order-sensitive and could never hash-match).
    Emits the top-20 nodes with a full (pr desc, node) tie-break.

    Plan: per iteration one join (contributions flow src→dst over the
    symmetric edge list) and one map-side-combined groupBy(dst); the edge
    list and degree relation are materialized ONCE (eager localCheckpoint
    — multi-consumer iterative carrier) and reused by all 3 rounds.  At
    100 TB: pre-partition edges by src so the per-round join is
    co-located, and the final top-k is TakeOrderedAndProject (no global
    sort).  Carrier note: Σ incoming ranks is bounded by total mass
    n_nodes·10⁹, so the 85× product stays < 2⁶³ up to ~10⁸ nodes; past
    that drop the scale to 10⁶ (same contract, coarser fixed point).
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both loop carriers are checkpointed PRE-PARTITIONED on their join
    # keys (count = shuffle.partitions so ENSURE_REQUIREMENTS recognizes
    # the layout): localCheckpoint preserves outputPartitioning, so the
    # per-round join onto edges and the left join onto nodes add NO
    # exchange on the carrier side — the pre-r14 shape re-shuffled the
    # full edge list every round (r14, guide §2.4; this is the
    # "pre-partition edges by src" production layout, realized locally)
    shp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        li.unionByName(
            li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(shp, "src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .repartition(shp, "node")
        .sortWithinPartitions("node")
        .localCheckpoint(eager=True)
    )
    # pr carries deg through the rounds: the contribution is then a pure
    # projection of pr — the pre-r14 shape paid a pr⋈nodes join (two
    # exchanges) per round just to re-fetch deg (r14, guide §2.4)
    pr = nodes.select(
        "node", "deg", F.lit(_PR_SCALE).cast("long").alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = pr.select(
            F.col("node").alias("cnode"), F.expr("pr DIV deg").alias("c")
        )
        # merge hint: the checkpointed carriers' stats are opaque to the
        # planner, which otherwise BROADCASTS the 2|E|-row edge list every
        # round (observed in the r14 plan audit); with the hint both
        # sides' preserved hash layouts line up — no exchange, and the
        # pre-sorted edges skip their SMJ sort
        inc = (
            edges.hint("merge").join(contrib, edges["src"] == contrib["cnode"])
            .groupBy(edges["dst"].alias("node"))
            .agg(F.sum("c").alias("m"))
        )
        pr = nodes.hint("merge").join(inc, "node", "left").select(
            "node",
            "deg",
            (
                F.lit(_PR_BASE)
                + F.expr("(85 * coalesce(m, CAST(0 AS BIGINT))) DIV 100")
            ).cast("long").alias("pr"),
        )
    return (
        pr.orderBy(F.desc("pr"), F.asc("node"))
        .limit(_PR_TOPK)
        .select(
            "node",
            F.when(F.col("node") % 2 == 0, "order")
            .otherwise("part")
            .alias("kind"),
            F.col("pr").alias("pr_scaled"),
            half_up(F.col("pr") / F.lit(float(_PR_SCALE)), 6).alias(
                "rank_score"
            ),
        )
    )


def ts_changepoint(
    spark: SparkSession, sf_dir: str, par: int | None = None
) -> DataFrame:
    """CUSUM changepoint detection per event-type series: the index i*
    maximizing |n·S_i − i·S_n| (S_i = prefix sum of values in time
    order) — the exact level-shift statistic, which peaks where the
    series' running mean departs most from the global mean.  Values are
    half-up scaled to 1e4 BIGINTs first, so every prefix sum, product,
    and the argmax compare is pure int64 arithmetic — no float
    accumulates, no decimal→double cast at the boundary.  Carrier bound:
    n·S_i grows as n²·(scaled |value|) ≈ n²·10⁸ at |value| ≤ 10⁴, so
    int64 holds to ~3·10⁵ rows per series; past that, center the values
    (subtract the scaled global mean — the statistic is
    translation-invariant) and/or drop the value scale, which buys the
    square of the reduction.

    Plan: the time-ordered prefix is the group_cols= two-phase prefix
    (one independent distributed prefix per event_type — never a
    single-partition window); the argmax is a map-side-combined
    max(struct(diff, −i)) with the deterministic smallest-i tie-break.
    """
    from .._util import two_phase_prefix

    # raw IsNotNull FIRST so it pushes to the parquet scan (row-group
    # stats skip all-NULL groups); the finite guard then drops NaN/Inf,
    # which no storage-level filter can express
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("value", finite("value"))
        .filter(F.col("value").isNotNull())
    )
    u = e.select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("v_s"),
    )
    pre, totals = two_phase_prefix(
        u,
        ["ts", "event_id"],
        sum_cols=("v_s",),
        rank_as="i",
        group_cols=("event_type",),
        par=par,
    )
    d = pre.join(F.broadcast(totals), "event_type").select(
        "event_type",
        F.col("tot_rows").alias("n"),
        F.abs(
            F.col("tot_rows") * (F.col("pre_v_s") + F.col("v_s"))
            - F.col("i") * F.col("tot_v_s")
        ).alias("diff"),
        "i",
    )
    best = d.groupBy("event_type", "n").agg(
        F.max(F.struct(F.col("diff"), (-F.col("i")).alias("ni"))).alias("b")
    )
    return best.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (-F.col("b.ni")).cast("long").alias("cp_index"),
        F.col("b.diff").cast("long").alias("max_dev"),
    )


_ACF_LAGS = 3


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncentered autocorrelation of each event-type value series at lags
    1..3 — the periodicity probe next to ts_changepoint's level-shift
    probe (a strong r at lag k flags a k-step cycle in the feed).  The
    statistic is r_k = Σ v_i·v_{i−k} / Σ v_i², both sums DECIMAL-carried
    (each product is one exact IEEE multiply; the decimal sum is
    associative, so 1000 executors cannot change the answer), one divide,
    half-up rounding.  Uncentered by design: it stays a ratio of exact
    sums — the centered variant would subtract a derived float mean from
    every term and break the carrier; for a mean-zero-ish series the two
    agree up to the mean's square.

    Plan: one lag window per series (partitioned by event_type — the lag
    of a time series is inherently a per-series ordered scan; at 100 TB
    the series is range-bucketed by time and lags cross bucket borders
    via the two-phase boundary-exchange, same pattern as ts_resample),
    then a single map-side-combined aggregate.
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
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = e.select(
        "event_type",
        F.col("value").alias("v"),
        *[
            F.lag("value", k).over(w).alias(f"l{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("v") * F.col("v")).cast(DEC)).alias("den"),
    ]
    for k in range(1, _ACF_LAGS + 1):
        aggs.append(
            F.sum((F.col("v") * F.col(f"l{k}")).cast(DEC)).alias(f"num{k}")
        )
    t = lagged.groupBy("event_type").agg(*aggs)
    out_cols = [
        "event_type",
        F.col("n").cast("long").alias("n"),
    ]
    for k in range(1, _ACF_LAGS + 1):
        out_cols.append(
            F.when(
                F.col("den") > 0,
                half_up(
                    F.col(f"num{k}").cast("double")
                    / F.col("den").cast("double")
                ),
            ).alias(f"r{k}")
        )
    return t.select(*out_cols)


_CN_TOPK = 100


def _basket_pairs(li: DataFrame):
    """Per-order (part, part) pair expansion of the order↔part edge list
    WITHOUT the distinct + self-join (r15, guide §2.4): ONE groupBy(o)
    builds each order's sorted distinct part set, then two streamed
    generators emit the a < b pairs from each basket.  The r14 shape paid
    a distinct exchange on (o, p) PLUS two re-exchanges on o for the
    self-join; this shape pays the one groupBy(o) exchange, and the
    basket relation is shared with degree consumers via AQE exchange
    reuse.  Work and memory stay Σ basket² STREAMED (posexplode first,
    then a per-row slice — never a basket²-sized array value), the same
    bound as the self-join, still never all-pairs across orders.

    Returns (baskets, pairs): baskets = (o, ps) over ALL orders including
    a NULL-key group (degree consumers count those rows exactly like the
    old distinct did); pairs = (a, b) with a < b from non-NULL orders
    only (the self-join's o = o condition never matched NULL keys, so the
    NULL group must not pair with itself here either).  A NULL part key is
    dropped by ``collect_set``: its order keeps its basket (an empty one
    when every part is NULL) but the NULL part yields no pair and no degree
    entry, where the old distinct-(o, p) shape kept an (o, NULL) row that
    degree consumers counted.  TPC-H declares ``l_partkey`` NOT NULL.
    """
    baskets = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("p")).alias("ps"))
    )
    return baskets, _pairs_of_baskets(baskets)


def _pairs_of_baskets(baskets: DataFrame) -> DataFrame:
    """The streamed a < b pair expansion over a (o, ps) basket relation —
    split out so callers that materialize the basket relation (e.g.
    join_basket_lift's multi-consumer checkpoint) can expand pairs from
    the CHECKPOINTED blocks."""
    return (
        baskets.filter(F.col("o").isNotNull())
        .select("ps", F.posexplode("ps").alias("i", "a"))
        .select("a", F.expr("explode(slice(ps, i + 2, size(ps))) AS b"))
    )


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the order↔part graph — the
    classic 'bought together' signal: for every part pair co-occurring in
    ≥ 2 orders, the number of shared orders and the neighborhood Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)|.  Counts are exact integers; the Jaccard is
    one divide, half-up rounded; output is the top-100 under the total
    (common desc, part_a, part_b) order.

    Scale shape: pairs are generated PER ORDER (_basket_pairs: one
    groupBy(o) basket build + streamed HOF pair expansion — r15; the r14
    self-join needed three exchanges for the same stream), so the blow-up
    is Σ basket-size² — bounded by the biggest basket (7 lines in TPC-H),
    never by a part's popularity; a hot PART costs only its degree in the
    count join.  This is the same per-container expansion the inverted-
    index dedup uses, with baskets as containers.  The degree join is a
    map-side-combined aggregate joined back on the pair's two keys.
    """
    baskets, bp = _basket_pairs(table(spark, sf_dir, "lineitem"))
    deg = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    pairs = (
        bp.groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    da = deg.select(F.col("p").alias("part_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("p").alias("part_b"), F.col("deg").alias("deg_b"))
    scored = (
        pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("common").cast("long").alias("common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            half_up(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("common"), F.asc("part_a"), F.asc("part_b")
    ).limit(_CN_TOPK)


def _autocorr_sql() -> str:
    lag_cols = ",\n                   ".join(
        f"lag(value, {k}) OVER w AS l{k}" for k in range(1, _ACF_LAGS + 1)
    )
    nums = ",\n                   ".join(
        f"SUM(CAST(v * l{k} AS DECIMAL(18,6))) AS num{k}"
        for k in range(1, _ACF_LAGS + 1)
    )
    rs = ",\n               ".join(
        "CASE WHEN den > 0 THEN "
        + sql_half_up(f"CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE)")
        + f" END AS r{k}"
        for k in range(1, _ACF_LAGS + 1)
    )
    return f"""
        WITH lagged AS (
            SELECT event_type, value AS v,
                   {lag_cols}
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ),
        t AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   SUM(CAST(v * v AS DECIMAL(18,6))) AS den,
                   {nums}
            FROM lagged GROUP BY event_type
        )
        SELECT event_type, n,
               {rs}
        FROM t
    """


def _pagerank_sql() -> str:
    """Unrolled oracle: a fixed iteration count means the loop can be a
    plain (non-recursive) CTE chain pr0 → pr1 → … — same integer
    arithmetic, no recursive-CTE aggregate restrictions to fight."""
    chain = f"""e AS (
            SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
            FROM lineitem
        ),
        sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        nodes AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        pr0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS pr FROM nodes)"""
    for i in range(_PR_ITERS):
        chain += f""",
        m{i + 1} AS (
            SELECT s.dst AS node, CAST(SUM(p.pr // n.deg) AS BIGINT) AS m
            FROM sym s
            JOIN pr{i} p ON s.src = p.node
            JOIN nodes n ON n.node = p.node
            GROUP BY s.dst
        ),
        pr{i + 1} AS (
            SELECT n.node,
                   CAST({_PR_BASE} + (85 * COALESCE(m.m, 0)) // 100
                        AS BIGINT) AS pr
            FROM nodes n LEFT JOIN m{i + 1} m ON n.node = m.node
        )"""
    score = sql_half_up(f"CAST(pr AS DOUBLE) / {_PR_SCALE}", 6)
    return f"""
        WITH {chain}
        SELECT node,
               CASE WHEN node % 2 = 0 THEN 'order' ELSE 'part' END AS kind,
               pr AS pr_scaled,
               {score} AS rank_score
        FROM pr{_PR_ITERS}
        ORDER BY pr DESC, node
        LIMIT {_PR_TOPK}
    """


_TE_M = 10  # smoothing pseudo-count


def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    categorical-feature encoder of every tabular training pipeline,
    leakage-free by construction: row i's encoding uses its category's
    target statistics MINUS row i itself, so the feature never contains
    the row's own label.

    Category = o_orderpriority, target y = (o_orderstatus = 'F').
    loo    = (sum_cat − y_i) / (n_cat − 1)            [NULL for singletons]
    smooth = (sum_cat − y_i + m·prior) / (n_cat − 1 + m),  m = 10,
             prior = global positive rate — carried as the exact integer
             rational ((sum−y)·N + m·S) / ((n−1+m)·N), so both encodings
             are ONE IEEE divide of int64 operands and hash-match the
             oracle under half-up rounding.

    Scale (100 TB): category stats are one map-side-combined groupBy on a
    bounded-cardinality key, broadcast back onto the fact scan (a dim-
    table-sized frame by definition — if the key were unbounded you'd
    hash-encode it first, see feature_hashing); the global prior is a
    1-row broadcast.  No shuffle ever carries the fact table.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    stats = o.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_cat"), F.sum("y").alias("sum_cat")
    )
    tot = o.agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("y").alias("s_tot")
    )
    j = o.join(F.broadcast(stats), "cat").crossJoin(F.broadcast(tot))
    loo = F.when(
        F.col("n_cat") > 1,
        half_up(
            (F.col("sum_cat") - F.col("y")).cast("double")
            / (F.col("n_cat") - 1).cast("double")
        ),
    )
    smooth_num = (
        (F.col("sum_cat") - F.col("y")) * F.col("n_tot")
        + _TE_M * F.col("s_tot")
    )
    smooth_den = (F.col("n_cat") - 1 + _TE_M) * F.col("n_tot")
    return j.select(
        "o_orderkey",
        "cat",
        F.col("y").cast("long").alias("y"),
        F.col("n_cat").cast("long").alias("n_cat"),
        loo.alias("loo_enc"),
        half_up(
            smooth_num.cast("double") / smooth_den.cast("double")
        ).alias("smooth_enc"),
    )


def ts_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal index per event type — mean(value at hour h)
    relative to the type's overall mean, the multiplicative seasonal
    profile a metrics stack divides out before anomaly detection (and
    the additive sibling of win_ewma's trend smoothing).

    Integer-exact: values are cents-scaled to int64 (ts_changepoint's
    carrier), so the index is the cross-multiplied rational
    (sum_h · n_type) / (sum_type · n_h) — one IEEE divide of exact int64
    products, half-up rounded identically in both engines.  Carrier
    bound: |sum_h| ≤ rows·10⁶ and the product takes another ×rows, so
    int64 holds to ~3·10⁹ scored rows per type; past that, drop the
    scale to 10² or widen to DECIMAL(38).

    Scale (100 TB): one map-side-combined groupBy on (type, hour) —
    ≤ 24·|types| result rows — then windows over those ≤ 24-row
    partitions.  The scan itself never meets a window (the documented
    small-frame class).
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
    g = e.select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    ).groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v_s").alias("s")
    )
    w = Window.partitionBy("event_type")
    t = g.withColumn("tot_n", F.sum("n").over(w)).withColumn(
        "tot_s", F.sum("s").over(w)
    )
    return t.select(
        "event_type",
        F.col("hr").cast("int").alias("hr"),
        F.col("n").cast("long").alias("n"),
        half_up(F.col("s") / (F.col("n") * 10000).cast("double")).alias(
            "mean_value"
        ),
        F.when(
            F.col("tot_s") != 0,
            half_up(
                (F.col("s") * F.col("tot_n")).cast("double")
                / (F.col("tot_s") * F.col("n")).cast("double")
            ),
        ).alias("seasonal_index"),
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def graph_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components as a FIRST-CLASS graph operator — the
    large-star/small-star contraction (CC-MR, "Connected Components in
    MapReduce and Beyond") that pipeline.dedup proved inside
    dedup_clusters, surfaced over an explicit graph: the co-purchase
    part graph restricted to RECURRING pairs (parts sharing >= 2 orders
    — the threshold every co-occurrence graph applies so one shared
    basket doesn't connect the world).  Emits one row per multi-node
    component: component_id = min part key, n_nodes.

    Scale: the pair expansion is Σ basket² (graph_common_neighbors's
    bound) with the >= 2 filter applied INSIDE the grouped count —
    shuffle once on the pair key, never all-pairs; the contraction is
    O(log n) rounds of key-grouped mins + co-keyed joins over a
    shrinking edge set with O(1) lineage via localCheckpoint
    (pipeline.dedup._star_contract — shared machinery, identical
    semantics).  Oracle: DuckDB recursive-CTE min-label propagation to
    fixpoint, feasible because the testdata component diameters are
    small; the Spark side's round count is logarithmic, which is the
    whole point of the star algorithm at 100 TB.
    """
    from ..pipeline.dedup import _star_contract

    _, bp = _basket_pairs(table(spark, sf_dir, "lineitem"))
    edges = (
        bp.groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("src", "dst")
    )
    par = max(4, spark.sparkContext.defaultParallelism // 4)
    stars = _star_contract(edges, par)
    return (
        stars.groupBy(F.col("v").alias("component_id"))
        .agg((F.count(F.lit(1)) + F.lit(1)).cast("long").alias("n_nodes"))
    )


def _cc_sql() -> str:
    return """
        WITH RECURSIVE li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        eg AS (
            SELECT a.p AS u, b.p AS v
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p HAVING count(*) >= 2
        ),
        sym AS (
            SELECT u, v FROM eg UNION ALL SELECT v AS u, u AS v FROM eg
        ),
        nodes AS (SELECT DISTINCT u AS node FROM sym),
        walk(node, lab) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.v, w.lab FROM walk w JOIN sym s ON w.node = s.u
            WHERE w.lab < s.v
        ),
        comp AS (SELECT node, MIN(lab) AS lab FROM walk GROUP BY node)
        SELECT lab AS component_id, CAST(count(*) AS BIGINT) AS n_nodes
        FROM comp GROUP BY lab
    """


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k = 3, 3 pruning rounds) on the co-purchase
    part graph — iteratively delete nodes with degree < k, recompute
    degrees, repeat; the dense-subgraph extraction used for community
    seeds and spam/bot rings.  Fixed-round semantics (graph_pagerank's
    discipline) so the oracle can state the SAME three unrolled rounds;
    `stable` marks nodes whose final degree already satisfies k (i.e.
    the fixpoint was reached for them within the budget).

    Scale (100 TB): each round is one degree aggregate (map-side
    combined) plus two semi-joins restricting the edge list — all keyed
    on node id, no all-pairs anywhere; edges come from the per-basket
    expansion (Σ basket², graph_common_neighbors's bound).  Real
    deployments iterate to fixpoint with the dedup_clusters
    localCheckpoint loop; 3 declared rounds keep the oracle exact.
    """
    _, bp = _basket_pairs(table(spark, sf_dir, "lineitem"))
    edges = (
        bp.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .distinct()
        # eager localCheckpoint per loop carrier (the dedup_clusters
        # finding): without it every round re-executes the basket
        # expansion AND the logical plan compounds; with it each round
        # reads one materialized edge list and AQE stays active
        .localCheckpoint(eager=True)
    )
    for _ in range(_KCORE_ROUNDS):
        und = edges.select("u", "v").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("u")
        edges = (
            edges.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    final = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    return final.select(
        F.col("u").alias("part"),
        F.col("deg").cast("long").alias("deg"),
        (F.col("deg") >= _KCORE_K).alias("stable"),
    )


_DEBOUNCE_US = 300_000_000  # 5-minute quiet gap starts a new burst


def ts_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / burst suppression — collapse each rapid-fire burst of
    events per user into its first (anchor) event, a new burst starting
    whenever the quiet gap before an event exceeds 5 minutes.  The
    alert-dedup / retry-collapse primitive of every notification and
    ingestion pipeline (and the keep-first complement of stream_session's
    grouping).

    Gaps are compared in exact unix MICROSECONDS (join_asof_nearest's
    carrier — whole-second truncation would merge bursts spuriously);
    burst ids are the running sum of new-burst flags, so both engines
    derive identical ids from the identical (ts, event_id) total order.

    Scale: lag + running sum + the final aggregate all partition by
    user_id — ONE hash exchange, bounded by a user's history.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = e.withColumn(
        "new_burst",
        F.when(
            F.col("us") - F.lag("us", 1).over(w) > _DEBOUNCE_US, 1
        ).otherwise(
            F.when(F.lag("us", 1).over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn("burst_id", F.sum("new_burst").over(run))
    return (
        flagged.groupBy("user_id", "burst_id")
        .agg(
            F.min(F.struct("ts", "event_id")).alias("anchor"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("burst_id").cast("long").alias("burst_id"),
            F.col("anchor.ts").alias("anchor_ts"),
            F.col("anchor.event_id").alias("anchor_event_id"),
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("n_events") - 1).cast("long").alias("n_suppressed"),
        )
    )


def join_interval_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra — classify the temporal relation
    (before / meets / overlaps / starts / during / finishes / equal,
    plus the inverses collapsed by ordering) between each user's
    activity intervals per event type.  The temporal-reasoning surface
    interval stores expose; here each (user, event_type) activity span
    [min ts, max ts] is one interval and every type pair per user is
    classified.  All comparisons in exact unix MICROSECONDS, so the
    13-way boundary cases (meets vs overlaps needs equality) are
    bit-deterministic.

    Pairs are ordered (start_a, end_a, type_a) ≤ (start_b, end_b,
    type_b), so only the 7 forward relations appear.  Scale: one
    groupBy to build ≤ |types| intervals per user, then a per-user
    self-join bounded by |types|² = 25 — never corpus-quadratic.
    """
    e = table(spark, sf_dir, "events")
    iv = e.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("e"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (
            F.struct(
                F.col("a.s"), F.col("a.e"), F.col("a.event_type")
            )
            < F.struct(F.col("b.s"), F.col("b.e"), F.col("b.event_type"))
        ),
    )
    sa, ea, sb, eb = (
        F.col("a.s"),
        F.col("a.e"),
        F.col("b.s"),
        F.col("b.e"),
    )
    rel = (
        F.when((sa == sb) & (ea == eb), "equal")
        .when(ea < sb, "before")
        .when(ea == sb, "meets")
        .when(sa == sb, "starts")
        .when(ea == eb, "finishes")
        .when((sa < sb) & (ea > eb), "contains")
        .when((sa < sb) & (ea < eb), "overlaps")
        .otherwise("during")
    )
    return pairs.select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        rel.alias("relation"),
    )


def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the feature-scaling step of
    every tabular training pipeline, grouped by event type so each
    feature distribution is normalized against its own cohort.

    Determinism: each group reduces to exact cents-scaled integers
    (n, Σv, Σv²); mean and sample variance are single double expressions
    over them, and sqrt is IEEE-correctly-rounded (the one libm-adjacent
    function the 754 standard pins), so z = (v − μ)/σ is bit-identical
    cross-engine, half-up rounded to 4 places.  Groups with σ = 0 or
    n < 2 emit NULL (constant features carry no signal).

    Scale: one map-side-combined groupBy builds the 3-integer sketch per
    group (bounded cardinality → broadcast back onto the scan); the
    standardized column is then pure projection — the fact table never
    shuffles.
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
    v = F.expr("cast(floor(value * 10000 + 0.5) as bigint)")
    rows = e.select("event_id", "event_type", "value", v.alias("v_s"))
    g = rows.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_s").alias("s"),
        F.sum(F.col("v_s") * F.col("v_s")).alias("q"),
    )
    j = rows.join(F.broadcast(g), "event_type")
    num = (F.col("n") * F.col("v_s")).cast("double") - F.col("s").cast(
        "double"
    )
    # products formed in DOUBLE: s² and n·q overflow int64 past ~10⁴ rows
    # per group at |v| ≤ 100 (s ≈ rows·5·10⁵ ⇒ s² ≈ 10²⁰ at sf0.1 —
    # caught by the bench run); identical-double-op-tree determinism is
    # the eval_ab_ztest discipline
    var_num = F.col("n").cast("double") * F.col("q").cast("double") - F.col(
        "s"
    ).cast("double") * F.col("s").cast("double")
    # z = (n·v − S) / (n·sqrt(var_num/(n·(n−1)))) stated as one tree;
    # scale factors cancel, so no 10^4 appears
    den = F.col("n").cast("double") * F.sqrt(
        var_num / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    ok = (F.col("n") > 1) & (var_num > 0)
    return j.select(
        "event_id",
        "event_type",
        "value",
        F.when(ok, half_up(num / den)).alias("z"),
    )


def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — hold out the log's LAST day,
    predict each (event_type, hour) as the training days' hourly mean,
    and score absolute error against the held-out actuals.  The
    model-eval loop every metrics forecast ships with, kept
    integer-exact: values are cents-scaled; each test row's error is the
    integer |v·n_h − s_h| (prediction s_h/n_h cross-multiplied), summed
    per (type, hour) cell so no mixed-denominator float sum ever forms;
    the cell MAE is then ONE half-up divide err_sum/(n_h·10⁴·n_test).
    Cells with no training history emit NULL mae (n_train = 0 — the
    cold-start alarm, not a crash).

    Scale: train and test are two conditional aggregates over one scan
    (the 6-integer-sketch discipline); the scoreboard join is on the
    bounded (type, hour) key.  Carrier: |v·n_h| ≤ 10⁶·n_h, summed over a
    cell's test rows — int64 to ~10⁹ row-pairs per cell; past that,
    bucket days first.
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
    b = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.hour("ts").alias("hr"),
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    )
    last_day = b.agg(F.max("day").alias("last_day"))
    b = b.crossJoin(F.broadcast(last_day))
    train = (
        b.filter(F.col("day") < F.col("last_day"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n_train"), F.sum("v_s").alias("s_train"))
    )
    test = b.filter(F.col("day") == F.col("last_day")).select(
        "event_type", "hr", "v_s"
    )
    j = test.join(train, ["event_type", "hr"], "left")
    cell = j.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.first("n_train").alias("n_train"),
        F.sum(
            F.when(
                F.col("n_train").isNotNull(),
                F.abs(
                    F.col("v_s") * F.col("n_train") - F.col("s_train")
                ),
            )
        ).alias("err_num"),
    )
    return cell.select(
        "event_type",
        F.col("hr").cast("int").alias("hr"),
        F.col("n_test").cast("long").alias("n_test"),
        F.coalesce(F.col("n_train"), F.lit(0)).cast("long").alias("n_train"),
        F.when(
            F.col("n_train").isNotNull(),
            half_up(
                F.col("err_num").cast("double")
                / (F.col("n_train") * 10000 * F.col("n_test")).cast("double")
            ),
        ).alias("mae"),
    )


def ts_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day growth per event type — the ubiquitous period-over-
    period metric row: daily counts, the previous day's count (lag over
    the OBSERVED day sequence), the absolute delta, and the growth ratio
    as one half-up divide of exact integers (NULL on the first observed
    day and when the prior day had zero rows — the ANSI-safe phrasing).

    Scale: one (type, day) map-side-combined aggregate (≤ 366·|types|
    rows/year), then a lag window over those aggregate rows only.
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    t = g.withColumn("prev_n", F.lag("n").over(w))
    return t.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("prev_n").cast("long").alias("prev_n"),
        (F.col("n") - F.col("prev_n")).cast("long").alias("delta"),
        F.when(
            F.col("prev_n") > 0,
            half_up(
                (F.col("n") - F.col("prev_n"))
                / F.col("prev_n").cast("double")
            ),
        ).alias("growth"),
    )


def seq_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior — for every
    (from_state, to_state) pair of consecutive events in a user's
    timeline, the transition count and the row-normalized probability
    (one half-up divide of exact counts).  The behavioral model behind
    next-action prediction and funnel leak analysis; seq_pattern_detect
    matches ONE declared pattern, this estimates the whole chain.

    Scale: lag over the user-keyed timeline (one exchange, bounded per
    user), then a map-side-combined groupBy over ≤ |states|² cells; the
    per-from-state totals are a window over those ≤ 25 rows.
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_state"),
            F.col("event_type").alias("to_state"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_state")
    t = pairs.withColumn("row_total", F.sum("n").over(wt))
    return t.select(
        "from_state",
        "to_state",
        F.col("n").cast("long").alias("n"),
        F.col("row_total").cast("long").alias("row_total"),
        half_up(F.col("n") / F.col("row_total").cast("double")).alias(
            "p"
        ),
    )


def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit — exact P5/P95 caps per event type and how
    much each tail would be clipped: the outlier treatment every feature
    pipeline applies before scaling (feature_standardize's robust
    sibling).  Thresholds are EXACT order statistics (the value at rank
    ⌈0.05·n⌉ / ⌈0.95·n⌉ over (value, event_id) — always a real data
    value, the weighted-median discipline), computed with a per-type
    rank window bounded by the group's rows; verdicts are integer rank
    comparisons, and the clipped-mass figures are decimal-carried.

    Output per type: n, the two cents-scaled caps, tail counts, and the
    share of value mass the caps would clip (half-up).
    """
    from .._util import half_up

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
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    )
    w = Window.partitionBy("event_type").orderBy("v_s", "event_id")
    r = t.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    # ceil(q*n) as integer arithmetic: (q_num*n + q_den - 1) DIV q_den
    lo_rk = F.expr("(5 * n + 99) DIV 100")
    hi_rk = F.expr("(95 * n + 99) DIV 100")
    caps = r.filter(
        (F.col("rk") == lo_rk) | (F.col("rk") == hi_rk)
    ).groupBy("event_type").agg(
        F.min("v_s").alias("p05_s"), F.max("v_s").alias("p95_s")
    )
    j = t.join(caps, "event_type")
    g = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("p05_s").alias("p05_s"),
        F.first("p95_s").alias("p95_s"),
        F.sum(
            F.when(F.col("v_s") < F.col("p05_s"), 1).otherwise(0)
        ).alias("n_below"),
        F.sum(
            F.when(F.col("v_s") > F.col("p95_s"), 1).otherwise(0)
        ).alias("n_above"),
        F.sum(
            F.when(
                F.col("v_s") > F.col("p95_s"),
                F.col("v_s") - F.col("p95_s"),
            ).otherwise(0)
        ).alias("clip_mass_s"),
        F.sum("v_s").alias("total_s"),
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("p05_s").cast("long").alias("p05_s"),
        F.col("p95_s").cast("long").alias("p95_s"),
        F.col("n_below").cast("long").alias("n_below"),
        F.col("n_above").cast("long").alias("n_above"),
        F.when(
            F.col("total_s") > 0,
            half_up(
                F.col("clip_mass_s") / F.col("total_s").cast("double"), 6
            ),
        ).alias("clipped_share"),
    )


_ABSENCE_US = 2 * 86_400_000_000  # silent for > 2 days => alarm


def ts_absence_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence detection (dead-man switch) — the alarm for what DIDN'T
    happen: per user, the last event time, how long they have been
    silent relative to the stream frontier (the global max ts), and the
    alarm bit for > 2 days of silence.  ts_debounce suppresses bursts;
    this flags the opposite failure.  All comparisons in exact
    microseconds; the frontier is a 1-row broadcast.

    Scale: one map-side-combined per-user max; in production the
    frontier comes from the watermark, and the alarm set is the
    anti-join feeding the pager — same plan.
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    frontier = e.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    j = per.crossJoin(F.broadcast(frontier))
    silent = F.col("max_us") - F.col("last_us")
    return j.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        silent.cast("long").alias("silent_us"),
        half_up(silent / F.lit(86_400_000_000.0)).alias("silent_days"),
        (silent > _ABSENCE_US).alias("alarm"),
    )


def agg_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actuarial life table of user retention — the discrete survival
    analysis behind churn curves: per lifetime day k, how many users
    were still AT RISK (lifetime ≥ k), how many churned exactly at k
    (uncensored, lifetime == k), how many were censored there (still
    active at the stream frontier — their true lifetime is unknown),
    and the discrete hazard d_k/n_k as one half-up divide.  The KM
    survival curve is the running product of (1 − hazard) — left
    per-step here so every figure stays a single exact divide (no
    cross-step float product enters the hash contract).

    Lifetime = whole days between a user's first and last event;
    censored = still active within 2 days of the frontier
    (ts_absence_alarm's rule).  Scale: one per-user aggregate, a
    ≤ max-lifetime-row bucket table, and a suffix count via one small
    window — nothing beyond the bounded day domain.
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    frontier = e.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    day = 86_400_000_000
    u = per.crossJoin(F.broadcast(frontier)).select(
        F.expr(f"(last_us - first_us) DIV {day}").alias("k"),
        (F.col("max_us") - F.col("last_us") < 2 * day).alias("censored"),
    )
    g = u.groupBy("k").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0)).alias("c"),
    )
    # n_at_risk(k) = users with lifetime >= k = suffix sum over the
    # bounded day-bucket rows (<= max lifetime in days)
    w = Window.orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = g.withColumn("n_at_risk", F.sum(F.col("d") + F.col("c")).over(w))
    return t.select(
        F.col("k").cast("long").alias("lifetime_day"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("c").cast("long").alias("n_censored"),
        half_up(F.col("d") / F.col("n_at_risk").cast("double"), 6).alias(
            "hazard"
        ),
    )


_ATTR_WINDOW_US = 7 * 86_400_000_000  # 7-day lookback


def join_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — every purchase splits one unit
    of credit equally across the SAME user's views in the preceding 7
    days, and each view accumulates credit over all purchases it
    assisted.  The marketing-science companion to join_asof (last-touch)
    and funnel_conversion (path shape): per-touch fractional credit.

    Each assignment's credit is the half-up integer of 10⁴/n_views for
    that purchase (eval_mrr's reciprocal carrier), so per-view totals
    are exact integer sums — no float accumulates across purchases.
    Purchases with NO preceding view keep their credit as
    'unattributed' (reported in the companion row with view_id NULL).

    Scale: the view↔purchase pairing joins on the user key with a
    µs-window predicate — bounded by one user's 7-day activity; at
    100 TB the time-bin bucketing of join_range bounds the pair fan-out
    per bin.
    """
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.unix_micros("ts").alias("v_us"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    pairs = p.join(v, "user_id").filter(
        (F.col("v_us") < F.col("p_us"))
        & (F.col("v_us") >= F.col("p_us") - _ATTR_WINDOW_US)
    )
    per_p = pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views")
    )
    credited = (
        pairs.join(per_p, "purchase_id")
        .withColumn(
            "credit_s", F.expr("(2 * 10000 + n_views) DIV (2 * n_views)")
        )
        .groupBy("view_id")
        .agg(
            F.count(F.lit(1)).alias("n_assists"),
            F.sum("credit_s").alias("credit_s"),
        )
        .select(
            F.col("view_id"),
            F.col("n_assists").cast("long").alias("n_assists"),
            F.col("credit_s").cast("long").alias("credit_s"),
        )
    )
    unattributed = (
        p.join(pairs.select("purchase_id").distinct(), "purchase_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(None).cast("long").alias("view_id"),
            F.col("n").cast("long").alias("n_assists"),
            (F.col("n") * 10000).cast("long").alias("credit_s"),
        )
    )
    return credited.unionByName(unattributed)


def feature_rfm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring — the CRM workhorse: each user's Recency
    (µs since last event, lower is better), Frequency (event count) and
    Monetary (cents value mass) mapped to 1-5 quintiles by EXACT
    equal-frequency rank (feature_bucketize's integer formula
    ((rank−1)·5) DIV n over the two-phase prefix — three rank passes,
    never a global window), concatenated into the familiar '555'-style
    segment code.

    Quintile orientation: 5 = best (most recent / most frequent / most
    valuable); ranks tie-break on user_id so the buckets are total-order
    deterministic.  Scale: one per-user aggregate then three linear
    two-phase rank passes over |users| rows.
    """
    from .._util import two_phase_prefix

    e = table(spark, sf_dir, "events").withColumn("value", finite("value"))
    frontier = e.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    per = (
        e.groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.coalesce(
                F.sum(
                    F.expr("cast(floor(value * 10000 + 0.5) as bigint)")
                ),
                F.lit(0),
            ).alias("money_s"),
        )
        .crossJoin(F.broadcast(frontier))
        .withColumn("recency_us", F.col("max_us") - F.col("last_us"))
    )
    # 5 = best: rank recency DESCENDING (stalest first), freq/money
    # ascending — the top quintile of each rank order scores 5
    r1, _ = two_phase_prefix(
        per, ["recency_us", "user_id"], rank_as="r_rec"
    )
    r2, _ = two_phase_prefix(
        r1, ["freq", "user_id"], rank_as="r_freq"
    )
    r3, totals = two_phase_prefix(
        r2, ["money_s", "user_id"], rank_as="r_money"
    )
    j = r3.crossJoin(F.broadcast(totals))
    q = lambda r: F.expr(f"(({r} - 1) * 5) DIV tot_rows + 1")
    # recency ranked ascending on recency_us puts FRESH users first —
    # invert so 5 = freshest
    rec_q = F.expr("6 - (((r_rec - 1) * 5) DIV tot_rows + 1)")
    return j.select(
        "user_id",
        F.col("recency_us").cast("long").alias("recency_us"),
        F.col("freq").cast("long").alias("frequency"),
        F.col("money_s").cast("long").alias("monetary_s"),
        rec_q.cast("int").alias("r_score"),
        q("r_freq").cast("int").alias("f_score"),
        q("r_money").cast("int").alias("m_score"),
        F.concat(
            rec_q.cast("string"),
            q("r_freq").cast("string"),
            q("r_money").cast("string"),
        ).alias("rfm"),
    )


_PEAK_PROM_S = 200_000  # >= 20.0 above BOTH neighbors (cents scale)


def ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with a prominence floor — points strictly
    above both neighbors by at least 20.0 in each series' (ts, event_id)
    order: the spike-picker feeding anomaly review queues (the discrete
    cousin of win_control_chart's statistical gate — this one is purely
    structural, no distribution assumed).  All comparisons on
    cents-scaled int64; endpoints have one neighbor only and never
    qualify.

    Scale: one lag + one lead over the series-keyed exchange; output is
    the (sparse) peak set.
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
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s2 = t.withColumn("prev_s", F.lag("v_s").over(w)).withColumn(
        "next_s", F.lead("v_s").over(w)
    )
    prom = F.least(
        F.col("v_s") - F.col("prev_s"), F.col("v_s") - F.col("next_s")
    )
    return (
        s2.filter(
            F.col("prev_s").isNotNull()
            & F.col("next_s").isNotNull()
            & (prom >= _PEAK_PROM_S)
        )
        .select(
            "event_type",
            "event_id",
            "value",
            prom.cast("long").alias("prominence_s"),
        )
    )


_PATH_TOPK = 20


def seq_path_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavior paths — the Sankey-diagram feed: every
    consecutive (a → b → c) event-type triple in a user's timeline,
    counted corpus-wide, top-20 with each path's share of all triples
    (half-up).  seq_markov_transitions models one step; this censuses
    the short paths product teams actually read.

    Scale: two lead windows over the user-keyed exchange (bounded per
    user), one map-side-combined groupBy over ≤ |states|³ cells, and a
    TakeOrderedAndProject top-k — the total triple count rides the same
    aggregate (window over the ≤125 cells).
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("b", F.lead("event_type", 1).over(w))
        .withColumn("c", F.lead("event_type", 2).over(w))
        .filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    )
    g = t.groupBy(
        F.col("event_type").alias("step1"),
        F.col("b").alias("step2"),
        F.col("c").alias("step3"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy()
    g2 = g.withColumn("total", F.sum("n").over(wt))
    # path census is domain-bounded (|event_type|^3 rows) so the global
    # window was safe, but limit-then-rank is the uniform discipline
    wk = Window.orderBy(F.desc("n"), "step1", "step2", "step3")
    return (
        g2.orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(_PATH_TOPK)
        .withColumn("rk", F.row_number().over(wk))
        .select(
            F.col("rk").cast("int").alias("rk"),
            "step1",
            "step2",
            "step3",
            F.col("n").cast("long").alias("n"),
            half_up(F.col("n") / F.col("total").cast("double")).alias(
                "share"
            ),
        )
    )


_LIFT_MIN_SUPPORT = 2
_LIFT_TOPK = 50


def join_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets — support, confidence and
    lift for co-purchased part pairs (the market-basket metrics behind
    'frequently bought together'; graph_common_neighbors scores the
    neighborhood overlap, this prices the RULE).  All three metrics are
    single half-up divides of exact integers: support n_ab/N,
    confidence n_ab/n_a, lift n_ab·N/(n_a·n_b) — cross-multiplied
    int64 products (carrier: n_ab·N < 2⁶³ to ~3·10⁹ baskets).

    Scale: pairs generate per basket (Σ basket² — bounded by basket
    size, graph_common_neighbors' discipline); part supports map-side
    combine and join back on the pair's two keys; top-50 by (lift,
    pair) with total-order tie-breaks.
    """
    from .._util import half_up

    baskets, _ = _basket_pairs(table(spark, sf_dir, "lineitem"))
    # materialized once (r14; r15 moved the checkpoint to the BASKET
    # relation — one row per order instead of one per (o, p), and the
    # distinct + self-join became the streamed _pairs_of_baskets
    # expansion): it feeds FOUR consumers (the basket count, the pair
    # expansion, and via supp the two support lookups) — un-materialized,
    # the plan re-ran the scan + grouping exchange per consumer
    baskets = baskets.localCheckpoint(eager=True)
    # one row per distinct order (a NULL order key groups to one row,
    # exactly like the old distinct-o count)
    n_baskets = baskets.count()
    supp = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    pairs = (
        _pairs_of_baskets(baskets)
        .groupBy(F.col("a").alias("pa"), F.col("b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _LIFT_MIN_SUPPORT)
    )
    j = (
        pairs.join(supp.select(F.col("p").alias("pa"), F.col("n_p").alias("n_a")), "pa")
        .join(supp.select(F.col("p").alias("pb"), F.col("n_p").alias("n_b")), "pb")
    )
    lift = half_up(
        (F.col("n_ab") * F.lit(n_baskets)).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    # top-k via TakeOrderedAndProject (no global window); rk derived
    # AFTER the cut, over the ≤_LIFT_TOPK surviving rows only
    lift_key = F.expr(f"(n_ab * {n_baskets} * 10000) DIV (n_a * n_b)")
    j = j.withColumn("_lift_key", lift_key)
    cut = j.orderBy(F.desc("_lift_key"), "pa", "pb").limit(_LIFT_TOPK)
    wk = Window.orderBy(F.desc("_lift_key"), "pa", "pb")
    return (
        cut.withColumn("rk", F.row_number().over(wk))
        .select(
            F.col("rk").cast("int").alias("rk"),
            "pa",
            "pb",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            half_up(F.col("n_ab") / F.lit(float(n_baskets))).alias(
                "support"
            ),
            half_up(F.col("n_ab") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            lift.alias("lift"),
        )
    )


QUERIES = {
    "join_basket_lift": join_basket_lift,
    "seq_path_census": seq_path_census,
    "ts_peaks": ts_peaks,
    "feature_rfm_score": feature_rfm_score,
    "join_attribution_linear": join_attribution_linear,
    "agg_life_table": agg_life_table,
    "ts_absence_alarm": ts_absence_alarm,
    "feature_winsorize": feature_winsorize,
    "seq_markov_transitions": seq_markov_transitions,
    "ts_period_growth": ts_period_growth,
    "ts_forecast_backtest": ts_forecast_backtest,
    "feature_standardize": feature_standardize,
    "join_interval_relations": join_interval_relations,
    "ts_debounce": ts_debounce,
    "graph_kcore": graph_kcore,
    "graph_connected_components": graph_connected_components,
    "ts_seasonal_index": ts_seasonal_index,
    "feature_target_encode": feature_target_encode,
    "agg_regression": agg_regression,
    "anomaly_mad": anomaly_mad,
    "graph_pagerank": graph_pagerank,
    "ts_changepoint": ts_changepoint,
    "ts_autocorr": ts_autocorr,
    "graph_common_neighbors": graph_common_neighbors,
    "feature_bucketize": feature_bucketize,
    "seq_string_mine": seq_string_mine,
    "funnel_conversion": funnel_conversion,
    "agg_retention_cohort": agg_retention_cohort,
    "seq_pattern_detect": seq_pattern_detect,
    "skyline_pareto": skyline_pareto,
    "interval_union": interval_union,
}

def _kcore_sql() -> str:
    """Unrolled 3-round k-core pruning — same rounds as graph_kcore."""
    k = _KCORE_K
    body = [
        """
        WITH li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        e0 AS (
            SELECT DISTINCT a.p AS u, b.p AS v
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        )"""
    ]
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        body.append(
            f""",
        und{i} AS (
            SELECT u, v FROM {prev}
            UNION ALL SELECT v AS u, u AS v FROM {prev}
        ),
        keep{i} AS (
            SELECT u FROM und{i} GROUP BY u HAVING count(*) >= {k}
        ),
        e{i} AS (
            SELECT e.u, e.v FROM {prev} e
            JOIN keep{i} ku ON e.u = ku.u
            JOIN keep{i} kv ON e.v = kv.u
        )"""
        )
        prev = f"e{i}"
    body.append(
        f""",
        undf AS (
            SELECT u, v FROM {prev}
            UNION ALL SELECT v AS u, u AS v FROM {prev}
        )
        SELECT u AS part, CAST(count(*) AS BIGINT) AS deg,
               (count(*) >= {k}) AS stable
        FROM undf GROUP BY u"""
    )
    return "".join(body)


_STD_Z = (
    "((CAST(n * v_s AS DOUBLE) - CAST(s AS DOUBLE))"
    " / (CAST(n AS DOUBLE)"
    "    * sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
    "            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    "           / CAST(n * (n - 1) AS DOUBLE))))"
)

ORACLE = {
    "join_basket_lift": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM li),
        supp AS (
            SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY p
        ),
        pairs AS (
            SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_ab
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p
            HAVING count(*) >= 2
        ),
        j AS (
            SELECT pr.pa, pr.pb, pr.n_ab,
                   sa.n_p AS n_a, sb.n_p AS n_b, nb.n
            FROM pairs pr
            JOIN supp sa ON sa.p = pr.pa
            JOIN supp sb ON sb.p = pr.pb
            CROSS JOIN nb
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY (n_ab * n * 10000) // (n_a * n_b) DESC, pa, pb
               ) AS INTEGER) AS rk,
               pa, pb, n_ab, n_a, n_b,
               {sql_half_up("CAST(n_ab AS DOUBLE) / n")} AS support,
               {sql_half_up("CAST(n_ab AS DOUBLE) / n_a")} AS confidence,
               {sql_half_up("CAST(n_ab * n AS DOUBLE) / (n_a * n_b)")} AS lift
        FROM j
        QUALIFY rk <= 50
    """,
    "seq_path_census": f"""
        WITH t AS (
            SELECT event_type AS step1,
                   lead(event_type, 1) OVER w AS step2,
                   lead(event_type, 2) OVER w AS step3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        g AS (
            SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
            FROM t WHERE step2 IS NOT NULL AND step3 IS NOT NULL
            GROUP BY step1, step2, step3
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        SELECT CAST(row_number() OVER (
                   ORDER BY n DESC, step1, step2, step3
               ) AS INTEGER) AS rk,
               step1, step2, step3, n,
               {sql_half_up("CAST(n AS DOUBLE) / total")} AS share
        FROM g CROSS JOIN tot
        QUALIFY rk <= 20
    """,
    "ts_peaks": f"""
        WITH t AS (
            SELECT event_type, event_id, ts, value,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        s AS (
            SELECT *, lag(v_s) OVER w AS prev_s, lead(v_s) OVER w AS next_s
            FROM t
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_type, event_id, value,
               CAST(LEAST(v_s - prev_s, v_s - next_s) AS BIGINT)
                   AS prominence_s
        FROM s
        WHERE prev_s IS NOT NULL AND next_s IS NOT NULL
          AND LEAST(v_s - prev_s, v_s - next_s) >= 200000
    """,
    "feature_rfm_score": f"""
        WITH f AS (SELECT max(epoch_us(ts)) AS max_us FROM {SQL_FINITE_EVENTS} events),
        per AS (
            SELECT user_id,
                   CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(COALESCE(SUM(CAST(floor(value * 10000 + 0.5)
                                          AS BIGINT)), 0) AS BIGINT)
                       AS money_s
            FROM {SQL_FINITE_EVENTS} events GROUP BY user_id
        ),
        r AS (
            SELECT p.*,
                   CAST(f.max_us - p.last_us AS BIGINT) AS recency_us
            FROM per p CROSS JOIN f
        ),
        ranked AS (
            SELECT *,
                   CAST(row_number() OVER (ORDER BY recency_us, user_id)
                        AS BIGINT) AS r_rec,
                   CAST(row_number() OVER (ORDER BY freq, user_id)
                        AS BIGINT) AS r_freq,
                   CAST(row_number() OVER (ORDER BY money_s, user_id)
                        AS BIGINT) AS r_money,
                   CAST(count(*) OVER () AS BIGINT) AS n
            FROM r
        )
        SELECT user_id, recency_us, freq AS frequency,
               money_s AS monetary_s,
               CAST(6 - (((r_rec - 1) * 5) // n + 1) AS INTEGER)
                   AS r_score,
               CAST(((r_freq - 1) * 5) // n + 1 AS INTEGER) AS f_score,
               CAST(((r_money - 1) * 5) // n + 1 AS INTEGER) AS m_score,
               CAST(6 - (((r_rec - 1) * 5) // n + 1) AS VARCHAR)
                   || CAST(((r_freq - 1) * 5) // n + 1 AS VARCHAR)
                   || CAST(((r_money - 1) * 5) // n + 1 AS VARCHAR)
                   AS rfm
        FROM ranked
    """,
    "join_attribution_linear": """
        WITH v AS (
            SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
            FROM events WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'
        ),
        pairs AS (
            SELECT p.purchase_id, v.view_id
            FROM p JOIN v ON p.user_id = v.user_id
             AND v.v_us < p.p_us
             AND v.v_us >= p.p_us - 604800000000
        ),
        per_p AS (
            SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_views
            FROM pairs GROUP BY purchase_id
        ),
        credited AS (
            SELECT pr.view_id,
                   CAST(count(*) AS BIGINT) AS n_assists,
                   CAST(SUM((2 * 10000 + pp.n_views)
                            // (2 * pp.n_views)) AS BIGINT) AS credit_s
            FROM pairs pr JOIN per_p pp USING (purchase_id)
            GROUP BY pr.view_id
        ),
        unattributed AS (
            SELECT CAST(NULL AS BIGINT) AS view_id,
                   CAST(count(*) AS BIGINT) AS n_assists,
                   CAST(count(*) * 10000 AS BIGINT) AS credit_s
            FROM p
            WHERE purchase_id NOT IN (SELECT purchase_id FROM pairs)
        )
        SELECT * FROM credited UNION ALL SELECT * FROM unattributed
    """,
    "agg_life_table": f"""
        WITH per AS (
            SELECT user_id,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
                   CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
            FROM events GROUP BY user_id
        ),
        f AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
              FROM events),
        u AS (
            SELECT (p.last_us - p.first_us) // 86400000000 AS k,
                   (f.max_us - p.last_us < 172800000000) AS censored
            FROM per p CROSS JOIN f
        ),
        g AS (
            SELECT k,
                   CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END)
                        AS BIGINT) AS c
            FROM u GROUP BY k
        ),
        t AS (
            SELECT *,
                   CAST(SUM(d + c) OVER (
                       ORDER BY k DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS n_at_risk
            FROM g
        )
        SELECT CAST(k AS BIGINT) AS lifetime_day, n_at_risk,
               d AS n_churned, c AS n_censored,
               {sql_half_up("CAST(d AS DOUBLE) / n_at_risk", 6)} AS hazard
        FROM t
    """,
    "ts_absence_alarm": f"""
        WITH per AS (
            SELECT user_id, CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        ),
        f AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS max_us FROM events)
        SELECT p.user_id, p.n_events,
               CAST(f.max_us - p.last_us AS BIGINT) AS silent_us,
               {sql_half_up(
                   "CAST(f.max_us - p.last_us AS DOUBLE) "
                   "/ 86400000000.0"
               )} AS silent_days,
               (f.max_us - p.last_us > 172800000000) AS alarm
        FROM per p CROSS JOIN f
    """,
    "feature_winsorize": f"""
        WITH t AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        r AS (
            SELECT *,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY v_s, event_id
                   ) AS BIGINT) AS rk,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM t
        ),
        caps AS (
            SELECT event_type,
                   CAST(min(v_s) AS BIGINT) AS p05_s,
                   CAST(max(v_s) AS BIGINT) AS p95_s
            FROM r
            WHERE rk = (5 * n + 99) // 100 OR rk = (95 * n + 99) // 100
            GROUP BY event_type
        )
        SELECT t.event_type,
               CAST(count(*) AS BIGINT) AS n,
               any_value(c.p05_s) AS p05_s,
               any_value(c.p95_s) AS p95_s,
               CAST(SUM(CASE WHEN t.v_s < c.p05_s THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN t.v_s > c.p95_s THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above,
               CASE WHEN SUM(t.v_s) > 0 THEN
                   {sql_half_up(
                       "CAST(SUM(CASE WHEN t.v_s > c.p95_s "
                       "THEN t.v_s - c.p95_s ELSE 0 END) "
                       "AS DOUBLE) / SUM(t.v_s)",
                       6,
                   )}
               END AS clipped_share
        FROM t JOIN caps c USING (event_type)
        GROUP BY t.event_type
    """,
    "seq_markov_transitions": f"""
        WITH p AS (
            SELECT lag(event_type) OVER w AS from_state,
                   event_type AS to_state
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        g AS (
            SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE from_state IS NOT NULL
            GROUP BY from_state, to_state
        )
        SELECT from_state, to_state, n,
               CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT)
                   AS row_total,
               {sql_half_up("CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_state)")} AS p
        FROM g
    """,
    "ts_period_growth": f"""
        WITH g AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, n,
               CAST(lag(n) OVER w AS BIGINT) AS prev_n,
               CAST(n - lag(n) OVER w AS BIGINT) AS delta,
               CASE WHEN lag(n) OVER w > 0 THEN
                   {sql_half_up("CAST(n - lag(n) OVER w AS DOUBLE) / lag(n) OVER w")}
               END AS growth
        FROM g
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    "ts_forecast_backtest": f"""
        WITH b AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(date_part('hour', ts) AS INTEGER) AS hr,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        ld AS (SELECT max(day) AS last_day FROM b),
        train AS (
            SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n_train,
                   CAST(SUM(v_s) AS BIGINT) AS s_train
            FROM b, ld WHERE day < last_day
            GROUP BY event_type, hr
        ),
        test AS (
            SELECT event_type, hr, v_s FROM b, ld WHERE day = last_day
        )
        SELECT t.event_type, t.hr,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(COALESCE(any_value(tr.n_train), 0) AS BIGINT)
                   AS n_train,
               CASE WHEN any_value(tr.n_train) IS NOT NULL THEN
                   {sql_half_up(
                       "CAST(SUM(abs(t.v_s * tr.n_train - tr.s_train))"
                       " AS DOUBLE)"
                       " / CAST(any_value(tr.n_train) * 10000 * count(*)"
                       " AS DOUBLE)"
                   )}
               END AS mae
        FROM test t LEFT JOIN train tr USING (event_type, hr)
        GROUP BY t.event_type, t.hr
    """,
    "feature_standardize": f"""
        WITH rows_ AS (
            SELECT event_id, event_type, value,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        g AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(v_s) AS BIGINT) AS s,
                   CAST(SUM(v_s * v_s) AS BIGINT) AS q
            FROM rows_ GROUP BY event_type
        )
        SELECT r.event_id, r.event_type, r.value,
               CASE WHEN n > 1
                     AND CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0
                    THEN {sql_half_up(_STD_Z)} END AS z
        FROM rows_ r JOIN g USING (event_type)
    """,
    "join_interval_relations": """
        WITH iv AS (
            SELECT user_id, event_type,
                   min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
            FROM events GROUP BY user_id, event_type
        )
        SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
               CASE
                   WHEN a.s = b.s AND a.e = b.e THEN 'equal'
                   WHEN a.e < b.s THEN 'before'
                   WHEN a.e = b.s THEN 'meets'
                   WHEN a.s = b.s THEN 'starts'
                   WHEN a.e = b.e THEN 'finishes'
                   WHEN a.s < b.s AND a.e > b.e THEN 'contains'
                   WHEN a.s < b.s AND a.e < b.e THEN 'overlaps'
                   ELSE 'during'
               END AS relation
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND (a.s, a.e, a.event_type) < (b.s, b.e, b.event_type)
    """,
    "ts_debounce": f"""
        WITH e AS (
            SELECT user_id, ts, event_id,
                   epoch_us(ts) AS us
            FROM events
        ),
        f AS (
            SELECT *,
                   CASE WHEN lag(us) OVER w IS NULL THEN 1
                        WHEN us - lag(us) OVER w > {_DEBOUNCE_US} THEN 1
                        ELSE 0 END AS new_burst
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        b AS (
            SELECT *,
                   CAST(SUM(new_burst) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS burst_id
            FROM f
        ),
        a AS (
            SELECT user_id, burst_id, ts AS anchor_ts,
                   event_id AS anchor_event_id
            FROM b
            QUALIFY row_number() OVER (
                PARTITION BY user_id, burst_id ORDER BY ts, event_id
            ) = 1
        )
        SELECT g.user_id, g.burst_id, a.anchor_ts, a.anchor_event_id,
               g.n_events, g.n_events - 1 AS n_suppressed
        FROM (
            SELECT user_id, burst_id, CAST(count(*) AS BIGINT) AS n_events
            FROM b GROUP BY user_id, burst_id
        ) g JOIN a USING (user_id, burst_id)
    """,
    "graph_kcore": _kcore_sql(),
    "graph_connected_components": _cc_sql(),
    "ts_seasonal_index": f"""
        WITH g AS (
            SELECT event_type,
                   CAST(date_part('hour', ts) AS INTEGER) AS hr,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) AS s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
            GROUP BY event_type, hr
        ),
        t AS (
            SELECT *,
                   CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
                       AS tot_n,
                   CAST(SUM(s) OVER (PARTITION BY event_type) AS BIGINT)
                       AS tot_s
            FROM g
        )
        SELECT event_type, hr, n,
               {sql_half_up("CAST(s AS DOUBLE) / (n * 10000)")} AS mean_value,
               CASE WHEN tot_s <> 0 THEN {sql_half_up(
                   "CAST(s * tot_n AS DOUBLE) / CAST(tot_s * n AS DOUBLE)"
               )} END AS seasonal_index
        FROM t
    """,
    "feature_target_encode": f"""
        WITH o AS (
            SELECT o_orderkey, o_orderpriority AS cat,
                   CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM orders
        ),
        stats AS (
            SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
                   CAST(SUM(y) AS BIGINT) AS sum_cat
            FROM o GROUP BY cat
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_tot,
                   CAST(SUM(y) AS BIGINT) AS s_tot
            FROM o
        )
        SELECT o.o_orderkey, o.cat, o.y, s.n_cat,
               CASE WHEN s.n_cat > 1 THEN {sql_half_up(
                   "CAST(s.sum_cat - o.y AS DOUBLE)"
                   " / CAST(s.n_cat - 1 AS DOUBLE)"
               )} END AS loo_enc,
               {sql_half_up(
                   f"CAST((s.sum_cat - o.y) * t.n_tot + {_TE_M} * t.s_tot"
                   f" AS DOUBLE)"
                   f" / CAST((s.n_cat - 1 + {_TE_M}) * t.n_tot AS DOUBLE)"
               )} AS smooth_enc
        FROM o JOIN stats s ON o.cat = s.cat CROSS JOIN tot t
    """,
    "graph_pagerank": _pagerank_sql(),
    "ts_autocorr": _autocorr_sql(),
    "graph_common_neighbors": f"""
        WITH e AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        deg AS (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY p),
        pairs AS (
            SELECT a.p AS part_a, b.p AS part_b,
                   CAST(count(*) AS BIGINT) AS common
            FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p
            HAVING count(*) >= 2
        )
        SELECT part_a, part_b, common,
               da.deg AS deg_a, db.deg AS deg_b,
               {sql_half_up("CAST(common AS DOUBLE) / (da.deg + db.deg - common)")} AS jaccard
        FROM pairs
        JOIN deg da ON da.p = part_a
        JOIN deg db ON db.p = part_b
        ORDER BY common DESC, part_a, part_b
        LIMIT {_CN_TOPK}
    """,
    "ts_changepoint": f"""
        WITH u AS (
            SELECT event_type, ts, event_id,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        ),
        r AS (
            SELECT event_type,
                   CAST(SUM(v_s) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS s_i,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS BIGINT) AS i
            FROM u
        ),
        t AS (
            SELECT event_type, CAST(SUM(v_s) AS BIGINT) AS s_n,
                   CAST(count(*) AS BIGINT) AS n
            FROM u GROUP BY event_type
        ),
        d AS (
            SELECT r.event_type, t.n,
                   abs(t.n * r.s_i - r.i * t.s_n) AS diff, r.i
            FROM r JOIN t ON r.event_type = t.event_type
        ),
        rk AS (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY diff DESC, i
            ) AS rr
            FROM d
        )
        SELECT event_type, n, i AS cp_index, CAST(diff AS BIGINT) AS max_dev
        FROM rk WHERE rr = 1
    """,
    "agg_regression": f"""
        SELECT event_type,
               CAST(regr_count(value, CAST(hour(ts) AS DOUBLE)) AS BIGINT)
                   AS n_points,
               {sql_half_up("regr_slope(value, CAST(hour(ts) AS DOUBLE))")} AS slope,
               {sql_half_up("regr_intercept(value, CAST(hour(ts) AS DOUBLE))")} AS intercept,
               {sql_half_up("regr_r2(value, CAST(hour(ts) AS DOUBLE))")} AS r2
        FROM {SQL_FINITE_EVENTS} events GROUP BY event_type
    """,
    "anomaly_mad": f"""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM {SQL_FINITE_EVENTS} events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, m.med,
                   abs(e.value - m.med) AS adev
            FROM {SQL_FINITE_EVENTS} e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {sql_half_up("any_value(d.med)")} AS med,
               {sql_half_up("any_value(ma.mad)")} AS mad,
               CAST(count(*) FILTER (WHERE d.adev > {_MAD_K!r} * ma.mad)
                    AS BIGINT) AS n_outliers
        FROM dev d JOIN mad ma USING (event_type)
        GROUP BY d.event_type
    """,
    "feature_bucketize": f"""
        WITH r AS (
            SELECT o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1
                       AS rk,
                   count(*) OVER () AS n_total
            FROM orders WHERE o_totalprice IS NOT NULL
        )
        SELECT CAST((rk * {_N_BUCKETS}) // n_total AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               min(o_totalprice) AS lo,
               max(o_totalprice) AS hi
        FROM r
        GROUP BY 1
        ORDER BY bucket
    """,
    "seq_string_mine": """
        WITH s AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(seq) AS INTEGER) AS seq_len,
               CAST((length(seq) - length(replace(seq, 'vc', ''))) // 2
                    AS BIGINT) AS n_view_click,
               CAST((length(seq) - length(replace(seq, 'cp', ''))) // 2
                    AS BIGINT) AS n_click_purchase,
               CAST((length(seq) - length(replace(seq, 'ee', ''))) // 2
                    AS BIGINT) AS n_error_pair
        FROM s
    """,
    "skyline_pareto": """
        WITH o AS (
            SELECT o_orderkey, o_totalprice,
                   CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
                        AS INTEGER) AS day
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        ),
        m AS (
            SELECT o_orderkey, day, o_totalprice,
                   min(o_totalprice) OVER (
                       ORDER BY day
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_earlier
            FROM o
        )
        SELECT o_orderkey, day, o_totalprice
        FROM m
        WHERE best_earlier IS NULL OR o_totalprice < best_earlier
    """,
    "interval_union": """
        WITH iv AS (
            SELECT user_id,
                   epoch_us(ts) AS s,
                   epoch_us(ts) + 600000000 AS e
            FROM events
        ),
        marked AS (
            SELECT user_id, s, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        lab AS (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM marked
        ),
        islands AS (
            SELECT user_id, island, min(s) AS is_s, max(e) AS is_e
            FROM lab GROUP BY user_id, island
        )
        SELECT user_id, count(*) AS n_islands,
               CAST(SUM(is_e - is_s) AS BIGINT) AS covered_us,
               CAST(MAX(is_e - is_s) AS BIGINT) AS longest_us
        FROM islands GROUP BY user_id
    """,
    "seq_pattern_detect": """
        WITH m AS (
            SELECT user_id, event_type, ts,
                   lead(event_type, 1) OVER w AS nxt1,
                   lead(event_type, 2) OVER w AS nxt2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        h AS (
            SELECT user_id, ts,
                   (event_type = 'click'
                    AND (nxt1 = 'purchase' OR nxt2 = 'purchase')) AS hit
            FROM m
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matches,
               min(CASE WHEN hit THEN ts END) AS first_match_ts
        FROM h GROUP BY user_id
    """,
    "funnel_conversion": """
        WITH pu AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN pu ON e.user_id = pu.user_id
            WHERE e.event_type = 'click' AND e.ts >= pu.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
            GROUP BY e.user_id
        )
        SELECT count(*) AS n_users,
               count(t_view) AS n_viewed,
               count(t_click) AS n_clicked,
               count(t_purchase) AS n_purchased
        FROM pu
        LEFT JOIN c USING (user_id)
        LEFT JOIN p USING (user_id)
    """,
    "agg_retention_cohort": """
        WITH active AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events
        ),
        first AS (
            SELECT user_id, min(day) AS cohort_day FROM active GROUP BY user_id
        )
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER)
                   AS day_offset,
               count(DISTINCT a.user_id) AS n_active
        FROM active a JOIN first f ON a.user_id = f.user_id
        WHERE date_diff('day', f.cohort_day, a.day) <= 7
        GROUP BY f.cohort_day, day_offset
    """,
}
