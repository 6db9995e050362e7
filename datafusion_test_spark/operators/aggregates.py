"""Aggregation operators (SURVEY §2.2 "Aggregations").

Reference parity: DataFusion's partial/final HashAggregate pipeline
(`datafusion-functions-aggregate`, reference Cargo.lock:911; partial→final
split exercised via the DISTINCT query at /root/reference/src/main.rs:122).
Spark produces the identical physical shape: HashAggregate(partial) →
Exchange(hashpartitioning) → HashAggregate(final), with map-side combine.

Scale notes (100 TB): group-by keys here are low-cardinality
(returnflag/linestatus ≈ 6 groups; custkey ≈ 15M at SF 10k) so partial
aggregation collapses the shuffle to O(groups × partitions) rows.  AQE
coalesces the post-shuffle partitions.  Skewed keys are handled by AQE skew
join/agg splitting (enabled in session.py).  Decimal-cast sums (see _util)
keep results reduce-order-independent — which also matters for *correctness
reproducibility* on an elastic cluster, not just oracle hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import dsum, finite, half_up, r4, safe_corr, sql_dsum, sql_half_up
from ..io import SQL_FINITE_EVENTS, table


def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped count/sum/avg/min/max over lineitem."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity"), "sum_qty"),
        r4(F.avg("l_extendedprice"), "avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate with derived expressions.

    The flagship query (SURVEY §7 M1): scan → project → filter → partial agg →
    shuffle → final agg, the same pipeline the reference's DISTINCT lowers to.
    (Measured: io.parallel does NOT pay here — the 1998-09 filter keeps the
    map side small enough that the extra round-robin shuffle cancels the
    parallelism gain, unlike tpch_q1_shape's wider cutoff.)
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            r4(F.avg("l_quantity"), "avg_qty"),
            r4(F.avg("l_extendedprice"), "avg_price"),
            r4(F.avg("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HLL++) — rows-only oracle (approximate).

    At 100 TB this replaces exact distinct-count's full shuffle with a
    fixed-size sketch mergeable map-side; relative error 5%.

    Self-verifying oracle shape (the driver has no rows-only fallback): emit
    the exact count as the anchor plus a boolean asserting the HLL estimate
    is within tolerance; the DuckDB twin computes the exact count and TRUE.
    """
    o = table(spark, sf_dir, "orders")
    # rsd 0.02 with a 3-sigma 0.06 tolerance: rsd is a standard deviation,
    # so asserting within 1 sigma would flake (the default 0.05 sketch
    # measured 6.7% off at sf0.01)
    # try_divide: an empty relation (a pruned partition at scale) has
    # exact = 0; ANSI `/` would raise where the oracle's claim is a
    # vacuous TRUE (caught by the degenerate-corpus gate, round 5)
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.coalesce(
            F.try_divide(
                F.abs(
                    F.approx_count_distinct("o_custkey", 0.02)
                    - F.countDistinct("o_custkey")
                ),
                F.countDistinct("o_custkey"),
            )
            <= F.lit(0.06),
            F.lit(True),
        ).alias("within_tol"),
    )


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_spent"),
        )
        .filter(F.col("n_orders") >= 5)
    )


def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate FILTER (WHERE ...) clauses."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_discount > 0.05)"
            " AS DOUBLE)"
        ).alias("qty_hi_disc"),
        F.expr("COUNT(*) FILTER (WHERE l_linestatus = 'O')").alias("n_open"),
        F.count(F.lit(1)).alias("n_total"),
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(r_name, n_name) with subtotals + grand total.

    Witnessed-rows contract (shared by agg_cube/agg_grouping_sets): the
    operator emits only grouping-set rows witnessed by ≥ 1 input row —
    Spark's grouped-aggregation semantics, stated as an explicit
    ``count ≥ 1`` filter on BOTH engines.  The one place the engines
    natively diverge is an EMPTY input relation, where the SQL standard
    (and DuckDB) emit an unwitnessed global () row with count 0 while
    Spark emits nothing; the filter makes the Spark behavior the stated
    contract instead of a checker allowlist (r12, VERDICT r11 item 4 —
    every witnessed row has count ≥ 1, so the filter is a no-op on any
    non-empty input and the hash history is unchanged)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .filter(F.col("n_nations") >= 1)
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions.

    Emits witnessed grouping-set rows only — see agg_rollup's contract
    note (the ``n_rows ≥ 1`` filter is the stated cross-engine
    empty-input semantics, not a data filter)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
        .filter(F.col("n_rows") >= 1)
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point.

    Emits witnessed grouping-set rows only — see agg_rollup's contract
    note (``HAVING COUNT(*) >= 1`` is the stated cross-engine
    empty-input semantics, not a data filter)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        HAVING COUNT(*) >= 1
        """
    )


def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-customer sorted list of order keys.

    collect_list's element order is shuffle-arrival-dependent, so the
    result is always wrapped in sort_array — the only deterministic (and
    therefore engine-portable) form of list aggregation.  The sorted list is
    emitted as a canonical comma-joined string because the driver's hash
    canonicalizer cannot factorize array cells (numpy.ndarray is unhashable —
    proven red row in CORRECTNESS_r01.json).
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates: each customer's biggest/smallest order.

    Tie-safety (round-5 zero-variance gate): bare max_by/arg_max are
    nondeterministic on tied prices in BOTH engines, so the ordering
    value is a composite — (price, -orderkey) for max, (price, orderkey)
    for min — making ties resolve to the SMALLEST orderkey everywhere.
    Spark's max_by takes the struct directly; the oracle uses the
    lexicographic struct-max twin ``-(max({p, nk: -key}).nk)``.
    """
    o = table(spark, sf_dir, "orders")
    # a NULL price is not an extremum candidate: the ordering struct is
    # NULLed for those rows, and max_by/min_by (like arg_max/arg_min)
    # ignore NULL ordering values — struct(NULL, k) would otherwise be a
    # comparable non-NULL struct whose rank differs between engines
    # (nulls degenerate corpus, round 6)
    p = F.col("o_totalprice")
    return o.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderkey",
            F.when(
                p.isNotNull(),
                F.struct(p.alias("p"), (-F.col("o_orderkey")).alias("nk")),
            ),
        ).alias("biggest_order"),
        F.min_by(
            "o_orderkey",
            F.when(
                p.isNotNull(),
                F.struct(p.alias("p"), F.col("o_orderkey").alias("k")),
            ),
        ).alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates over line numbers per order."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.bit_and("l_linenumber").alias("band"),
        F.bit_or("l_linenumber").alias("bor"),
        F.bit_xor("l_linenumber").alias("bxor"),
    )


def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative aggregate: compound tax factor per order (<=7 items per
    group, so the double product is well-conditioned; round(4) absorbs
    reduce-order ulps)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.round(F.product(1 + F.col("l_tax")), 4).alias("tax_factor"),
        F.count(F.lit(1)).alias("n_items"),
    )


def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP, Spark 4) +
    exact median per customer.  WITHIN GROUP ordering makes the
    concatenation deterministic (equal keys concatenate equal strings), the
    same discipline as sort_array in agg_collect."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_custkey,
               listagg(o_orderpriority, '|')
                   WITHIN GROUP (ORDER BY o_orderpriority) AS prios,
               round(median(o_totalprice), 4) AS med_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
        """
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/median(exact percentile)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_quantity"), "sd_qty"),
        r4(F.var_samp("l_discount"), "var_disc"),
        # safe_corr: builtin corr raises ANSI div-0 on a constant column
        r4(safe_corr("l_quantity", "l_extendedprice"), "corr_qty_price"),
        r4(F.expr("percentile(l_quantity, 0.5)"), "median_qty"),
    )


def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (percentile_approx, a GK-style mergeable rank
    sketch) — the 100 TB replacement for exact percentile's sort/collect:
    fixed-size state, combines map-side, one row out.

    Self-verifying oracle shape (same pattern as agg_approx_distinct): the
    EXACT p50/p95 are the hash anchors; booleans assert the sketch lands
    inside the exact [p-0.01, p+0.01] rank bracket — ~100x looser than the
    sketch's 1e-4 rank-error bound at accuracy=10000, so it cannot flake.
    """
    li = table(spark, sf_dir, "lineitem")
    ap50 = F.expr("percentile_approx(l_extendedprice, 0.5, 10000)")
    ap95 = F.expr("percentile_approx(l_extendedprice, 0.95, 10000)")
    return li.agg(
        r4(F.expr("percentile(l_extendedprice, 0.5)"), "exact_p50"),
        r4(F.expr("percentile(l_extendedprice, 0.95)"), "exact_p95"),
        # coalesce(…, TRUE): on an empty relation every percentile is NULL
        # and the bracket test is NULL — the oracle's claim is a vacuous
        # TRUE (degenerate-corpus gate, round 5).  The distinct-count
        # floor states the bracket's real precondition: the sketch
        # returns an ACTUAL data value while the exact brackets
        # interpolate, so on a <= 2-point distribution the interpolated
        # [p49, p51] interval can contain no data value at all (found by
        # the two-value corpus)
        F.coalesce(
            (ap50 >= F.expr("percentile(l_extendedprice, 0.49)"))
            & (ap50 <= F.expr("percentile(l_extendedprice, 0.51)"))
            | (F.countDistinct("l_extendedprice") <= 2),
            F.lit(True),
        ).alias("p50_ok"),
        F.coalesce(
            (ap95 >= F.expr("percentile(l_extendedprice, 0.94)"))
            & (ap95 <= F.expr("percentile(l_extendedprice, 0.96)"))
            | (F.countDistinct("l_extendedprice") <= 2),
            F.lit(True),
        ).alias("p95_ok"),
    )


def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable HLL sketches (Datasketches `hll_sketch_agg` /
    `hll_union_agg`) — the production pattern approx_count_distinct can't do:
    persist per-partition/per-day sketches once, then MERGE them for any
    roll-up without touching raw data.  At 100 TB the partial sketch table
    is O(groups · 2^lgK) bytes, and every downstream distinct-count query is
    an aggregation over sketches instead of a full shuffle of raw keys.

    Shape: per-nation customer sketches -> union-merge -> global estimate,
    plus a direct (unpartitioned) sketch of the same column.  Self-verifying
    oracle (same pattern as agg_approx_distinct): exact anchors + booleans
    asserting both estimates land within 5% (3 sigma at lgK=12, rse 1.6%);
    measured error at sf0.01 is ~0.4%.  Merge and direct estimates may
    differ by a few counts (sketch state promotion), so each is checked
    against the exact count, not each other.
    """
    c = table(spark, sf_dir, "customer")
    lgk = F.lit(12)
    partials = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey", lgk).alias("sk")
    )
    merged = partials.agg(
        F.count(F.lit(1)).alias("n_partials"),
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("m_est"),
    )
    base = c.agg(
        F.countDistinct("c_custkey").alias("exact_custs"),
        F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey", lgk)).alias("d_est"),
    )
    tol = F.lit(0.05)
    # try_divide + coalesce(TRUE): exact_custs = 0 on an empty relation —
    # ANSI `/` would raise where the oracle's claim is a vacuous TRUE
    return base.crossJoin(merged).select(
        "exact_custs",
        "n_partials",
        F.coalesce(
            F.try_divide(
                F.abs(F.col("m_est") - F.col("exact_custs")),
                F.col("exact_custs"),
            )
            <= tol,
            F.lit(True),
        ).alias("merged_within_tol"),
        F.coalesce(
            F.try_divide(
                F.abs(F.col("d_est") - F.col("exact_custs")),
                F.col("exact_custs"),
            )
            <= tol,
            F.lit(True),
        ).alias("direct_within_tol"),
    )


def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode() / median() ordered-set aggregates per group.

    median uses each engine's builtin exact median (Spark `median`, DuckDB
    `median` — both percentile_cont(0.5), interpolated; round(…,4) absorbs
    any last-ulp interpolation drift).  mode is computed via an explicit
    count-then-rank window with a deterministic tie-break (count DESC,
    value ASC) because BOTH engines' builtin mode() picks an arbitrary tie
    member — non-reproducible on re-run, unacceptable in a diffed pipeline.
    Scale: the mode path is one partial-agg shuffle on (group, value) then
    a per-group WindowGroupLimit; median's full sort per group is the
    expensive exact form — approx_percentile (agg_approx_quantile) is the
    100 TB substitute.
    """
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    from pyspark.sql import Window

    cnt = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("l_quantity").asc()
    )
    mode = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_count"),
        )
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return med.join(mode, "l_returnflag")


def agg_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate set INTERSECTION from union-only HLL sketches via
    inclusion-exclusion: |A∩B| ≈ |A| + |B| − |A∪B| — the sketch-algebra
    identity that answers audience-overlap questions (clickers ∩ buyers)
    from per-segment sketches WITHOUT rescanning raw keys.  HLL only
    unions; intersection error compounds (~rse·√3·|A∪B|), so the oracle
    asserts a 10% band against the exact overlap plus exact anchors.

    At 100 TB the three sketches come from the persisted per-day sketch
    table (agg_hll_merge's pattern); this query touches no raw data.
    """
    e = table(spark, sf_dir, "events")
    lgk = F.lit(12)
    a = e.filter(F.col("event_type") == "click")
    b = e.filter(F.col("event_type") == "purchase")
    est = (
        a.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lgk)).alias("ea"))
        .crossJoin(
            b.agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lgk)).alias(
                    "eb"
                )
            )
        )
        .crossJoin(
            a.unionByName(b).agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lgk)).alias(
                    "eu"
                )
            )
        )
    )
    exact = (
        a.select("user_id")
        .intersect(b.select("user_id"))
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    # the estimate itself is sketch-state-dependent and NOT hash-stable
    # cross-engine; the driver-checked output is the exact anchor + the
    # tolerance boolean (same policy as agg_approx_distinct/agg_hll_merge)
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_overlap",
        (
            F.abs(F.col("ea") + F.col("eb") - F.col("eu") - F.col("exact_overlap"))
            <= 0.10 * F.col("exact_overlap") + F.lit(3.0)
        ).alias("within_10pct"),
    )


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures in long
    format — the feature-correlation profile.  All pairs compute in ONE
    aggregate pass (partial moments combine map-side); round(…,4) per the
    _util AVG/STDDEV policy."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            # safe_corr: builtin corr raises ANSI div-0 on a constant column
            # half_up (not engine round): uniform with the r4 policy — a
            # corr tie at .xxxx5 is believed impossible (sqrt quotient)
            # but the stated-formula rounding removes the assumption
            aggs.append(half_up(safe_corr(a, b)).alias(f"{a}__{b}"))
    wide = li.groupBy().agg(*aggs)
    pairs = None
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            row = wide.select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"{a}__{b}").alias("pearson_r"),
            )
            pairs = row if pairs is None else pairs.unionByName(row)
    return pairs


def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix (nats) — the
    domain-diversity metric curation dashboards track per crawl source
    (a zero-entropy source is monolingual; ln(5) ≈ 1.609 is uniform over
    the 5 corpus languages).  Two chained aggregates, both map-side
    combinable.  round(…,4): ln is correctly-rounded-ish but not
    bit-contracted across libms — same policy as AVG/STDDEV.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select("source", "lang")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.withColumn(
            "tot", F.sum("c").over(Window.partitionBy("source"))
        )
        .groupBy("source")
        .agg(
            F.max("tot").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("tot"))
                    * F.log(F.col("c") / F.col("tot"))
                ),
                4,
            ).alias("lang_entropy"),
        )
    )


def agg_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the report that justifies (or vetoes)
    salting/AQE-skew-join before a 100 TB shuffle: per-key group sizes of
    lineitem on l_partkey reduced to the hot-key fingerprint (max / median
    group, hottest key's share, a salting trigger at max > 5x average).
    Two chained aggregates, both map-side combinable; the second runs
    over one row per distinct key.
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    sizes = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("g"))
    return sizes.groupBy().agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("g").alias("n_rows"),
        F.max("g").alias("max_group"),
        F.round(F.median("g"), 4).alias("median_group"),
        (F.max("g") * F.count(F.lit(1)) > 5 * F.sum("g")).alias(
            "salting_recommended"
        ),
    )


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (percentile_cont semantics) of
    l_extendedprice per return flag — the exact anchor next to the
    agg_approx_quantile sketch path.  Exact percentiles need the full
    per-group sort; at 100 TB you run the sketch and keep this for audits
    on sampled partitions.  round(…,4): interpolation arithmetic differs
    in operation order across engines at the last ulp."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.round(F.percentile("l_extendedprice", F.lit(p / 100)), 4).alias(
                f"p{p}"
            )
            for p in (25, 50, 75, 95)
        ],
    )


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of l_extendedprice — the profiling
    aggregate behind every data-distribution dashboard.  Two passes: a
    1-row global [min,max] (broadcast), then one shuffle of 20 bucket
    rows with map-side combine.  Bucket arithmetic is plain IEEE double
    ops (identical in both engines); the closed top bucket uses LEAST.
    """
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = F.broadcast(
        li.groupBy().agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )
    # try_divide: a constant-valued relation (hi == lo — one row, or one
    # distinct price in a pruned partition) must not raise under ANSI; the
    # NULL it yields is skipped by least(), landing the row in the top
    # bucket exactly as the oracle's NaN does on DuckDB (least ignores
    # NaN/NULL on both engines — degenerate-corpus gate, round 5)
    b = li.crossJoin(bounds).select(
        F.least(
            F.lit(19),
            F.floor(
                F.try_divide(
                    (F.col("l_extendedprice") - F.col("lo")) * 20.0,
                    F.col("hi") - F.col("lo"),
                )
            ),
        )
        .cast("int")
        .alias("bucket"),
        "lo",
        "hi",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.first("lo") + F.col("bucket") * (F.first("hi") - F.first("lo")) / 20.0,
            4,
        ).alias("bucket_lo"),
    )


# count-min sketch geometry: 4 hash rows x 256 buckets (2 md5 hex chars).
_CM_D = 4
_CM_HEX = 2


def _cm_bucket(h: int, key):
    return F.substring(
        F.md5(F.concat(F.lit(f"{h}:"), key.cast("string"))), 1, _CM_HEX
    )


def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, diffed against exact counts.

    The sketch is a fixed-size (d x w integer grid) mergeable state: every
    event increments one bucket per hash row; a key's estimate is the MIN
    of its d buckets, guaranteed >= the true count (one-sided error).  The
    top-10 exact heavy keys are probed and the overestimate invariant is
    emitted per key.

    Scale: the sketch build is a groupBy over (d x w) cells — the shuffle
    carries at most 1024 rows regardless of input volume, with map-side
    partial counting doing all the work; this is the frequency analog of
    agg_hll_merge's persist-sketches-once pattern (build daily, merge by
    cell-wise +, probe without rescanning).  The probe side is a broadcast
    join of 10 keys x 4 cells.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select("user_id")
    cells = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("h"),
                        _cm_bucket(h, F.col("user_id")).alias("bkt"),
                    )
                    for h in range(_CM_D)
                ]
            )
        ).alias("c")
    )
    cm = cells.groupBy("c.h", "c.bkt").agg(F.count(F.lit(1)).alias("cnt"))
    # top-10 via TakeOrderedAndProject — a global window + rk filter here
    # would single-partition-sort ALL users (the r5 window audit)
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(10)
    )
    probes = top.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("h"),
                        _cm_bucket(h, F.col("user_id")).alias("bkt"),
                    )
                    for h in range(_CM_D)
                ]
            )
        ).alias("c"),
    ).select("user_id", "n_exact", "c.h", "c.bkt")
    return (
        probes.join(F.broadcast(cm), ["h", "bkt"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_est"))
        .select(
            "user_id",
            "n_exact",
            "n_est",
            (F.col("n_est") >= F.col("n_exact")).alias("est_ge_exact"),
        )
    )


def agg_weighted_median(
    spark: SparkSession, sf_dir: str, par: int | None = None
) -> DataFrame:
    """Exact weighted median per group: the smallest l_extendedprice whose
    cumulative l_quantity weight reaches half the group's total — the
    robust center a revenue-weighted price report needs (plain median
    ignores volume; mean is skew-fragile).  Quantities are integral, so
    the crossing test 2·cum_w ≥ tot_w is pure int64 — no fractional rank,
    no interpolation, and the emitted median is a raw data value (never a
    computed float), all of which makes the result engine-exact.

    Plan: duplicate prices collapse in a map-side-combined groupBy, the
    per-group cumulative weight is the group_cols= two-phase prefix (no
    single-partition window at any group size), and the crossing pick is
    a filter + min aggregate.  This is the one-pass exact form; at
    petabyte group sizes the standard swap is approx weighted quantiles
    (weighted t-digest) with the same surface.
    """
    from .._util import two_phase_prefix

    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("v"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        # a NULL price is not a candidate value and a NULL quantity
        # carries no weight — the median basis is the fully-observed
        # (v, w) rows on both engines (nulls degenerate corpus, round 6)
        .filter(F.col("v").isNotNull() & F.col("w").isNotNull())
    )
    gp = li.groupBy("flag", "v").agg(
        F.sum("w").alias("w"), F.count(F.lit(1)).alias("c")
    )
    pre, totals = two_phase_prefix(
        gp, ["v"], sum_cols=("w", "c"), group_cols=("flag",), par=par
    )
    crossed = pre.join(F.broadcast(totals), "flag").filter(
        2 * (F.col("pre_w") + F.col("w")) >= F.col("tot_w")
    )
    return crossed.groupBy("flag", "tot_c", "tot_w").agg(
        F.min("v").alias("weighted_median")
    ).select(
        "flag",
        F.col("tot_c").cast("long").alias("n_rows"),
        F.col("tot_w").cast("long").alias("total_weight"),
        "weighted_median",
    )


def agg_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling weekly-active-users — per observed day, the DISTINCT
    users active in the trailing 7-day window, plus that day's DAU and
    the DAU/WAU stickiness ratio.  Sliding distinct counts do NOT
    decompose into running sums (a user active twice in the window must
    count once), so the scalable phrasing explodes each (user, day)
    activity fact to the ≤ 7 anchor days it supports and counts
    distinct per anchor — bounded ×7 fan-out instead of a per-day
    re-scan, with the quadratic self-join as the declarative oracle.

    Scale: the activity relation is first collapsed to distinct
    (user, day) — map-side combine over the raw stream — so the
    exploded volume is 7·|user-days|, not 7·|events|; the final
    count-distinct shuffles on the anchor day (365 keys/year).
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events")
    ed = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = ed.select("day").distinct()
    exploded = ed.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("anchor"),
    )
    wau = (
        exploded.join(days.withColumnRenamed("day", "anchor"), "anchor")
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = ed.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["anchor"])
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            half_up(F.col("dau") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the
    inequality statistic behind "top-x% of customers drive y% of
    revenue", computed EXACTLY from the closed form over ascending
    ranks: G = (2·Σ r·x_r − (n+1)·Σx) / (n·Σx), with cents-scaled
    integer spend, the global rank from the range-partitioned two-phase
    prefix (never a single-partition window), and the rank-weighted SUM
    carried as DECIMAL(38,0) so the accumulator never wraps.  Carrier
    bound: each int64 product r·x needs rank·cents < 2⁶³ — holds to
    ~10⁶ customers at ~$10M lifetime spend; past that, pre-scale cents
    to dollars (the statistic is scale-invariant).  One IEEE divide at
    the end, half-up to 6 places.

    Scale: per-customer totals are one map-side-combined groupBy; the
    rank is linear two-phase work; the final reduce is 3 cells.
    """
    from .._util import half_up, two_phase_prefix

    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("cents")
    )
    # a customer whose every price is NULL has NO observed spend — no
    # point on the Lorenz curve (NULL cents would rank engine-dependently
    # and NULL-poison r·x; nulls degenerate corpus, round 6)
    per = per.filter(F.col("cents").isNotNull())
    ranked, _ = two_phase_prefix(
        per, ["cents", "o_custkey"], rank_as="r"
    )
    t = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(
            (F.col("r") * F.col("cents")).cast("decimal(38,0)")
        ).alias("srx"),
    )
    g = (
        F.lit(2.0) * F.col("srx").cast("double")
        - (F.col("n") + 1).cast("double") * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * F.col("sx").cast("double"))
    return t.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        F.when(
            (F.col("n") > 0) & (F.col("sx") > 0), half_up(g, 6)
        ).alias("gini"),
    )


# Benford P(d) = log10(1 + 1/d), frozen to 10^6-scaled literals at import
# (the eval_ndcg discount-table discipline: no runtime log in the contract)
import math as _math

_BENFORD_S = [
    round(1_000_000 * _math.log10(1 + 1 / d)) for d in range(1, 10)
]


def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen: natural multi-scale amounts follow
    P(d) = log₁₀(1 + 1/d), and a ledger that doesn't is worth a look.
    The law's probabilities are import-time integer literals (10⁶-scaled,
    shared verbatim with the oracle — runtime log never runs), and the
    first digit comes from CAST(cents AS STRING) — integer-to-string is
    portable where double formatting is not.

    Output: one row per digit 1-9 with observed count, expected count
    (half-up of n·p_d), and the per-digit relative deviation — kept
    per-digit so no cross-digit float sum ever forms (the
    ts_forecast_backtest discipline).  Scale: one map-side-combined
    9-group aggregate; the global n is a 1-row broadcast.
    """
    from .._util import half_up

    o = table(spark, sf_dir, "orders").select(
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "cents"
        )
    ).filter(F.col("cents") > 0)
    d = o.select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    p = F.element_at(
        F.array(*[F.lit(x) for x in _BENFORD_S]), F.col("digit")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .withColumn("p_s", p)
        .select(
            "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.expr(
                "cast((2 * n * p_s + 1000000) DIV 2000000 as bigint)"
            ).alias("n_expected"),
            half_up(
                (F.col("n_obs") * 1_000_000).cast("double")
                / (F.col("n") * F.col("p_s")).cast("double")
            ).alias("obs_over_exp"),
        )
    )


def agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration — the smallest number of top customers whose
    spend reaches 80% of revenue (the "does the 80/20 rule hold here"
    headline next to agg_gini's full-curve statistic).  Integer-exact:
    customers rank DESCENDING by cents spend via the two-phase prefix
    (rank and exclusive prefix sum, never a global window), and the
    crossing row is the first with 5·(pre+cents) ≥ 4·total — a pure
    int64 predicate; the reported percentage is one half-up divide.

    Scale: per-customer totals map-side combine; the crossing test is a
    per-row predicate over the ranked relation with a 1-row argmin.
    """
    from .._util import half_up, two_phase_prefix

    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("cents")
    )
    # unobserved customers (all prices NULL) are outside the curve —
    # same exclusion as agg_gini (nulls degenerate corpus, round 6)
    per = per.filter(F.col("cents").isNotNull())
    # descending spend order == ascending (-cents, custkey)
    per = per.withColumn("neg", -F.col("cents"))
    ranked, totals = two_phase_prefix(
        per, ["neg", "o_custkey"], sum_cols=("cents",), rank_as="r"
    )
    j = ranked.crossJoin(F.broadcast(totals))
    crossing = j.filter(
        5 * (F.col("pre_cents") + F.col("cents")) >= 4 * F.col("tot_cents")
    )
    k = crossing.agg(F.min("r").alias("k"))
    # .filter(k not null): an empty orders relation has no crossing row —
    # the oracle's GROUP BY over the empty crossing emits no row, so the
    # Spark side must drop its all-NULL aggregate row to match
    # (degenerate-corpus gate, round 5); at any nonempty scale k exists
    return (
        k.crossJoin(F.broadcast(totals))
        .filter(F.col("k").isNotNull())
        .select(
            F.col("tot_rows").cast("long").alias("n_customers"),
            F.col("k").cast("long").alias("k_top_customers"),
            half_up(F.col("k") / F.col("tot_rows").cast("double")).alias(
                "pct_customers_for_80pct"
            ),
        )
    )


def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per market segment —
    HHI = Σ shareᵢ² over each customer's share of the segment's spend,
    the antitrust-grade concentration statistic next to agg_gini's
    inequality curve and agg_pareto's crossing point.  Spend is
    DOLLAR-scaled int64 (squares of cents would overflow); the
    squared-sum accumulates as DECIMAL(38,0) over exact int64 squares,
    and HHI is ONE double expression (sum_sq / total²) stated
    identically in both engines, half-up to 6.

    Scale: per-(segment, customer) totals map-side combine; the segment
    reduce carries 3 cells; top_share is a max over the same relation.
    """
    from .._util import half_up

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(
                F.expr("cast(floor(o_totalprice) as bigint)")
            ).alias("dollars")
        )
    )
    g = per.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum("dollars").alias("tot"),
        F.sum(
            (F.col("dollars") * F.col("dollars")).cast("decimal(38,0)")
        ).alias("sum_sq"),
        F.max("dollars").alias("max_dollars"),
    )
    hhi = F.col("sum_sq").cast("double") / (
        F.col("tot").cast("double") * F.col("tot").cast("double")
    )
    return g.select(
        "c_mktsegment",
        F.col("n_custs").cast("long").alias("n_custs"),
        F.col("tot").cast("long").alias("total_dollars"),
        F.when((F.col("tot") > 0), half_up(hhi, 6)).alias("hhi"),
        F.when(
            F.col("tot") > 0,
            half_up(F.col("max_dollars") / F.col("tot").cast("double"), 6),
        ).alias("top_share"),
    )


def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day — each day's events divided by
    whether the user first appeared THAT day (acquisition) or earlier
    (retention): the growth-accounting row under every DAU chart (and
    the per-day decomposition agg_rolling_wau's window rolls up).  The
    first-seen day is one min-aggregate (corpus_vocab_growth's
    first-occurrence discipline); shares are single half-up divides.

    Scale: per-user first day map-side combines; the event stream joins
    it on the user key (broadcast at bounded user counts, shuffle
    otherwise) and reduces to ≤ 366 day rows.
    """
    from .._util import half_up

    e = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = e.join(first, "user_id")
    g = j.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
        ).alias("n_new"),
        F.countDistinct(
            F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
        ).alias("n_new_users"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return g.select(
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_new").cast("long").alias("n_new_user_events"),
        F.col("n_new_users").cast("long").alias("n_new_users"),
        F.col("n_users").cast("long").alias("n_users"),
        half_up(F.col("n_new") / F.col("n_events").cast("double")).alias(
            "new_share"
        ),
    )


def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — purchase value accumulated by cohort age: users
    grouped by their first-seen day (the cohort), purchase mass bucketed
    by days since that first day, and the running cumulative per cohort.
    agg_retention_cohort counts who RETURNS; this prices what they are
    WORTH over time — the payback-period table under every acquisition
    budget.  Value mass is cents-scaled int64 (sums exact), the
    cumulative runs over each cohort's ≤ observed-days rows.

    Scale: first-day per user map-side combines, the fact stream joins
    it on the user key, and the curve table is |cohorts|·|ages| rows —
    bounded by the calendar, never the stream.
    """
    e = table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("cohort_day")
    )
    # raw filter first (both conjuncts push to the scan); the finite guard
    # then drops NaN/Inf, which no storage-level filter can express
    p = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).withColumn("value", finite("value")).filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    )
    from pyspark.sql import Window

    j = p.join(first, "user_id").withColumn(
        "age_days",
        F.expr("(unix_micros(day) - unix_micros(cohort_day))"
               " DIV 86400000000"),
    )
    g = j.groupBy("cohort_day", "age_days").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("v_s").alias("value_s"),
    )
    w = Window.partitionBy("cohort_day").orderBy("age_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.withColumn("cum_value_s", F.sum("value_s").over(w)).select(
        "cohort_day",
        F.col("age_days").cast("long").alias("age_days"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
        F.col("value_s").cast("long").alias("value_s"),
        F.col("cum_value_s").cast("long").alias("cum_value_s"),
    )


def agg_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — parts bucketed by cumulative
    revenue contribution (A: first 80% of revenue, B: next 15%, C: the
    tail), the supply-chain standard built on agg_pareto's crossing
    machinery but emitting the per-item label the planner consumes.
    Revenue is cents-scaled int64; the class verdicts are integer
    cross-multiplications on the INCLUSIVE cumulative (20·cum vs
    16·total, 20·cum vs 19·total), and ranks come from the two-phase
    prefix — no global window.

    Scale: per-part revenue map-side combines; classification is a
    per-row predicate over the ranked relation.
    """
    from .._util import two_phase_prefix

    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "cast(floor(l_extendedprice * (1 - l_discount) * 100"
                " + 0.5) as bigint)"
            )
        ).alias("cents")
    )
    per = per.withColumn("neg", -F.col("cents"))
    ranked, totals = two_phase_prefix(
        per, ["neg", "l_partkey"], sum_cols=("cents",), rank_as="r"
    )
    j = ranked.crossJoin(F.broadcast(totals))
    cum = F.col("pre_cents") + F.col("cents")
    cls = (
        F.when(20 * cum <= 16 * F.col("tot_cents"), "A")
        .when(20 * cum <= 19 * F.col("tot_cents"), "B")
        .otherwise("C")
    )
    return j.select(
        "l_partkey",
        F.col("cents").cast("long").alias("revenue_cents"),
        F.col("r").cast("long").alias("revenue_rank"),
        cls.alias("abc_class"),
    )


def agg_anova_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size — how much of each event type's value
    variance the hour-of-day explains: η² = SS_between / SS_total over
    the 24 hour groups, the statistical companion ts_seasonal_index's profile
    needs before anyone trusts it (a seasonal index over noise is
    decoration).  Every sum reduces to exact cents-scaled integers
    (n_h, S_h, Q_h per cell); SS terms are ONE double expression over
    them stated identically in both engines (eval_ab_ztest's
    discipline), η² half-up to 6.

    Scale: one (type, hour) map-side-combined aggregate, then a ≤24-row
    per-type reduce — the scan is touched once.
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
    cells = e.select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("v_s"),
    ).groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("v_s").alias("s_h"),
        F.sum(F.col("v_s") * F.col("v_s")).alias("q_h"),
    )
    # Σ s_h²/n_h must NOT be a float sum (reduce-order-dependent); carry
    # it as exact integers instead: per cell the quotient b_h = s_h² DIV
    # n_h plus the 10⁶-scaled half-up remainder c_h — both int64, summed
    # exactly (b via a DECIMAL(38,0) accumulator).  Carrier: s_h² < 2⁶³
    # holds to ~3·10⁹ cents-mass per cell; past that pre-scale to
    # dollars (agg_gini's fallback).
    cells = cells.withColumn(
        "b_h", F.expr("(s_h * s_h) DIV n_h")
    ).withColumn(
        "c_h",
        F.expr("(2 * 1000000 * ((s_h * s_h) % n_h) + n_h) DIV (2 * n_h)"),
    )
    t = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_h").alias("n"),
        F.sum("s_h").alias("s"),
        F.sum("q_h").alias("q"),
        F.sum(F.col("b_h").cast("decimal(38,0)")).alias("b"),
        F.sum("c_h").alias("c"),
    )
    sum_s2_over_n = (
        F.col("b").cast("double")
        + F.col("c").cast("double") / F.lit(1.0e6)
    )
    ss_total = F.col("q").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / F.col("n").cast("double")
    ss_between = sum_s2_over_n - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / F.col("n").cast("double")
    return t.select(
        "event_type",
        F.col("k").cast("int").alias("n_groups"),
        F.col("n").cast("long").alias("n_rows"),
        F.when(ss_total > 0, half_up(ss_between / ss_total, 6)).alias(
            "eta_sq"
        ),
    )


_WILSON_Z2_E6 = 3_841_459  # z² for z = 1.959964 (95%), scaled 10⁶


def agg_wilson_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking by Wilson lower confidence bound — the
    sort-items-by-rating primitive that beats raw averages (an item
    with 1/1 positives must NOT outrank 95/100): per part, the return
    rate's 95% Wilson lower bound from exact (k returns, n lines)
    integers, ranked descending.  z² is a frozen 10⁶-scaled literal
    (the discount-table discipline); the bound is one shared double
    tree over the two integers — sqrt is IEEE-pinned, so both engines
    agree bitwise; half-up to 6.

    Scale: one map-side-combined per-part aggregate, then a top-k cut
    by (bound, part) total order.
    """
    from .._util import half_up

    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("k"),
    ).filter(F.col("n") >= 3)
    z2 = F.lit(_WILSON_Z2_E6 / 1.0e6)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    bound = (
        p
        + z2 / (2.0 * n)
        - F.sqrt(z2) * F.sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n)
    ) / (1.0 + z2 / n)
    from pyspark.sql import Window

    t = g.withColumn("wilson_low", half_up(bound, 6))
    # top-k via TakeOrderedAndProject (no global window); rk derived
    # AFTER the cut, over the ≤50 surviving rows only
    cut = t.orderBy(F.desc("wilson_low"), "l_partkey").limit(50)
    wk = Window.orderBy(F.desc("wilson_low"), "l_partkey")
    return (
        cut.withColumn("rk", F.row_number().over(wk))
        .select(
            F.col("rk").cast("int").alias("rk"),
            "l_partkey",
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k_returns"),
            "wilson_low",
        )
    )


def agg_tdigest_quantiles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-histogram quantiles — the streaming/mergeable quantile shape
    (what a t-digest/GK sketch approximates), phrased so the statistic is
    EXACT and SQL-twinnable: values are floored into unit buckets, the
    per-(type, bucket) histogram is one map-side-combined count aggregate
    (fixed-size state — the eval_auc carrier note's prescription past
    2·10⁹ rows), and the p50/p90/p99 BUCKETS are read off the cumulative
    histogram.  "Quantile bucket" = the smallest bucket whose cumulative
    count reaches ceil(q·N) — integer rank arithmetic end to end, both
    engines truncating division identically (the r9 advisor note).

    Scale: the only O(N) work is the histogram aggregate; the cumulative
    window runs over O(#buckets) rows per type.  NULL / non-finite values
    are absent (finite-measurement contract), and finite values outside
    ±2⁶³ are excluded by the SAME bound on both engines — Spark's
    float→BIGINT cast saturates to Long.MAX where DuckDB's CAST raises a
    Conversion Error (r9 advisor), so the bucket domain is pinned to the
    representable range rather than left to diverging overflow rules.
    """
    e = (
        table(spark, sf_dir, "events")
        .select("event_type", finite("value").alias("v"))
        .filter(F.col("v").isNotNull())
        .filter(
            (F.col("v") >= F.lit(-9223372036854775808.0))
            & (F.col("v") < F.lit(9223372036854775808.0))
        )
    )
    h = (
        e.select("event_type", F.floor("v").cast("bigint").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    cum = h.select(
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    def q_bucket(pct: int):
        # ceil(N·pct/100) in INTEGER division (Spark DIV ≡ DuckDB // for
        # integers — both truncate toward zero; r9 advisor note)
        rank = F.expr(f"(n * {pct} + 99) DIV 100")
        return F.min(F.when(F.col("cum") >= rank, F.col("bucket"))).alias(
            f"p{pct}_bucket"
        )
    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_obs"),
        F.count(F.lit(1)).alias("n_buckets"),
        q_bucket(50),
        q_bucket(90),
        q_bucket(99),
    )


QUERIES = {
    "agg_tdigest_quantiles_bucketed": agg_tdigest_quantiles_bucketed,
    "agg_wilson_rank": agg_wilson_rank,
    "agg_anova_eta": agg_anova_eta,
    "agg_abc_class": agg_abc_class,
    "agg_cohort_ltv": agg_cohort_ltv,
    "agg_new_vs_returning": agg_new_vs_returning,
    "agg_hhi": agg_hhi,
    "agg_pareto": agg_pareto,
    "agg_benford": agg_benford,
    "agg_gini": agg_gini,
    "agg_rolling_wau": agg_rolling_wau,
    "agg_weighted_median": agg_weighted_median,
    "agg_count_min": agg_count_min,
    "agg_percentiles": agg_percentiles,
    "agg_histogram": agg_histogram,
    "agg_hll_intersect": agg_hll_intersect,
    "agg_corr_matrix": agg_corr_matrix,
    "agg_skew_diagnose": agg_skew_diagnose,
    "agg_entropy": agg_entropy,
    "agg_global": agg_global,
    "agg_groupby": agg_groupby,
    "agg_count_distinct": agg_count_distinct,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_having": agg_having,
    "agg_filter_clause": agg_filter_clause,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_collect": agg_collect,
    "agg_minmax_by": agg_minmax_by,
    "agg_bitwise": agg_bitwise,
    "agg_product": agg_product,
    "agg_listagg": agg_listagg,
    "agg_stats": agg_stats,
    "agg_approx_quantile": agg_approx_quantile,
    "agg_hll_merge": agg_hll_merge,
    "agg_mode_median": agg_mode_median,
}

ORACLE = {
    # same unit-bucket histogram, same integer ceil-rank selection
    "agg_tdigest_quantiles_bucketed": f"""
        WITH e AS (
            SELECT event_type, value AS v
            FROM {SQL_FINITE_EVENTS} events
            WHERE value IS NOT NULL
              AND value >= -9223372036854775808.0
              AND value <  9223372036854775808.0
        ),
        h AS (
            SELECT event_type, CAST(floor(v) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM e GROUP BY 1, 2
        ),
        c AS (
            SELECT event_type, bucket, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM h
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_obs,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bucket END)
                   AS p50_bucket,
               MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bucket END)
                   AS p90_bucket,
               MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bucket END)
                   AS p99_bucket
        FROM c GROUP BY event_type
    """,
    "agg_wilson_rank": f"""
        WITH g AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS k
            FROM lineitem GROUP BY l_partkey
            HAVING count(*) >= 3
        ),
        b AS (
            SELECT *,
                   ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                     + 3.841459 / (2.0 * CAST(n AS DOUBLE))
                     - sqrt(3.841459)
                       * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                               * (1.0 - CAST(k AS DOUBLE)
                                        / CAST(n AS DOUBLE))
                               + 3.841459 / (4.0 * CAST(n AS DOUBLE)))
                              / CAST(n AS DOUBLE)))
                    / (1.0 + 3.841459 / CAST(n AS DOUBLE))) AS raw
            FROM g
        ),
        w AS (
            SELECT l_partkey, n, k,
                   {sql_half_up("raw", 6)} AS wilson_low
            FROM b
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY wilson_low DESC, l_partkey
               ) AS INTEGER) AS rk,
               l_partkey, n, k AS k_returns, wilson_low
        FROM w
        QUALIFY rk <= 50
    """,
    "agg_anova_eta": f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(date_part('hour', ts) AS INTEGER) AS hr,
                   CAST(count(*) AS BIGINT) AS n_h,
                   CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) AS s_h,
                   CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)
                            * CAST(floor(value * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) AS q_h
            FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
            GROUP BY event_type, hr
        ),
        t AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(n_h) AS BIGINT) AS n,
                   CAST(SUM(s_h) AS BIGINT) AS s,
                   CAST(SUM(q_h) AS BIGINT) AS q,
                   SUM(CAST((s_h * s_h) // n_h AS DECIMAL(38,0))) AS b,
                   CAST(SUM((2 * 1000000 * ((s_h * s_h) % n_h) + n_h)
                            // (2 * n_h)) AS BIGINT) AS c
            FROM cells GROUP BY event_type
        )
        SELECT event_type, CAST(k AS INTEGER) AS n_groups,
               n AS n_rows,
               CASE WHEN CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n AS DOUBLE) > 0 THEN
                   {sql_half_up(
                       "(CAST(b AS DOUBLE) "
                       "+ CAST(c AS DOUBLE) / 1000000.0 "
                       "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE) "
                       "/ CAST(n AS DOUBLE)) "
                       "/ (CAST(q AS DOUBLE) "
                       "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE) "
                       "/ CAST(n AS DOUBLE))",
                       6,
                   )}
               END AS eta_sq
        FROM t
    """,
    "agg_abc_class": """
        WITH per AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                       * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, cents,
                   CAST(row_number() OVER (ORDER BY -cents, l_partkey)
                        AS BIGINT) AS r,
                   CAST(SUM(cents) OVER (
                       ORDER BY -cents, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM per
        ),
        t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM per)
        SELECT l_partkey, cents AS revenue_cents, r AS revenue_rank,
               CASE WHEN 20 * cum <= 16 * t.tot THEN 'A'
                    WHEN 20 * cum <= 19 * t.tot THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked CROSS JOIN t
    """,
    "agg_cohort_ltv": f"""
        WITH f AS (
            SELECT user_id,
                   CAST(min(date_trunc('day', ts)) AS TIMESTAMP)
                       AS cohort_day
            FROM {SQL_FINITE_EVENTS} events GROUP BY user_id
        ),
        p AS (
            SELECT user_id,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type = 'purchase' AND value IS NOT NULL
        ),
        j AS (
            SELECT f.cohort_day,
                   (epoch_us(p.day) - epoch_us(f.cohort_day))
                       // 86400000000 AS age_days,
                   p.v_s
            FROM p JOIN f USING (user_id)
        ),
        g AS (
            SELECT cohort_day, age_days,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(SUM(v_s) AS BIGINT) AS value_s
            FROM j GROUP BY cohort_day, age_days
        )
        SELECT cohort_day, CAST(age_days AS BIGINT) AS age_days,
               n_purchases, value_s,
               CAST(SUM(value_s) OVER (
                   PARTITION BY cohort_day ORDER BY age_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_value_s
        FROM g
    """,
    "agg_new_vs_returning": f"""
        WITH e AS (
            SELECT user_id,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events
        ),
        f AS (
            SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id
        )
        SELECT e.day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new_user_events,
               CAST(count(DISTINCT CASE WHEN e.day = f.first_day
                          THEN e.user_id END) AS BIGINT) AS n_new_users,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
               {sql_half_up(
                   "CAST(SUM(CASE WHEN e.day = f.first_day "
                   "THEN 1 ELSE 0 END) AS DOUBLE) "
                   "/ count(*)"
               )}
                   AS new_share
        FROM e JOIN f USING (user_id)
        GROUP BY e.day
    """,
    "agg_hhi": f"""
        WITH per AS (
            SELECT c.c_mktsegment, o.o_custkey,
                   CAST(SUM(CAST(floor(o_totalprice) AS BIGINT))
                        AS BIGINT) AS dollars
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        g AS (
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_custs,
                   CAST(SUM(dollars) AS BIGINT) AS tot,
                   SUM(CAST(dollars * dollars AS DECIMAL(38,0))) AS sum_sq,
                   CAST(max(dollars) AS BIGINT) AS max_dollars
            FROM per GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, n_custs, tot AS total_dollars,
               CASE WHEN tot > 0 THEN
                   {sql_half_up(
                       "CAST(sum_sq AS DOUBLE) "
                       "/ (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))",
                       6,
                   )}
               END AS hhi,
               CASE WHEN tot > 0 THEN
                   {sql_half_up(
                       "CAST(max_dollars AS DOUBLE) "
                       "/ CAST(tot AS DOUBLE)",
                       6,
                   )}
               END AS top_share
        FROM g
    """,
    "agg_pareto": f"""
        WITH per AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
            HAVING cents IS NOT NULL
        ),
        ranked AS (
            SELECT cents,
                   CAST(row_number() OVER (ORDER BY -cents, o_custkey)
                        AS BIGINT) AS r,
                   CAST(COALESCE(SUM(cents) OVER (
                       ORDER BY -cents, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS pre
            FROM per
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(cents) AS BIGINT) AS tot FROM per)
        SELECT t.n AS n_customers,
               CAST(min(r.r) AS BIGINT) AS k_top_customers,
               {sql_half_up("CAST(min(r.r) AS DOUBLE) / t.n")} AS pct_customers_for_80pct
        FROM ranked r CROSS JOIN t
        WHERE 5 * (r.pre + r.cents) >= 4 * t.tot
        GROUP BY t.n
    """,
    "agg_benford": f"""
        WITH c AS (
            SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        d AS (
            SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
                       AS digit
            FROM c WHERE cents > 0
        ),
        g AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
            FROM d GROUP BY digit
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
        SELECT g.digit, g.n_obs,
               CAST((2 * t.n * ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])[g.digit] + 1000000)
                    // 2000000 AS BIGINT) AS n_expected,
               {sql_half_up(
                   "CAST(g.n_obs * 1000000 AS DOUBLE) "
                   "/ CAST(t.n * ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])[g.digit] "
                   "AS DOUBLE)"
               )} AS obs_over_exp
        FROM g CROSS JOIN tot t
    """,
    "agg_gini": f"""
        WITH per AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
            HAVING cents IS NOT NULL
        ),
        ranked AS (
            SELECT cents,
                   CAST(row_number() OVER (ORDER BY cents, o_custkey)
                        AS BIGINT) AS r
            FROM per
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS sx,
                   SUM(CAST(r * cents AS DECIMAL(38,0))) AS srx
            FROM ranked
        )
        SELECT n AS n_customers, sx AS total_cents,
               CASE WHEN n > 0 AND sx > 0 THEN
                   {sql_half_up(
                       "(2.0 * CAST(srx AS DOUBLE) "
                       "- CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) "
                       "/ (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))",
                       6,
                   )}
               END AS gini
        FROM t
    """,
    # the quadratic self-join phrasing — the SEMANTICS the x7 explode
    # replaces at scale
    "agg_rolling_wau": f"""
        WITH ed AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM ed),
        wau AS (
            SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
            FROM days d
            JOIN ed e ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
            GROUP BY d.day
        ),
        dau AS (
            SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM ed GROUP BY day
        )
        SELECT d.day, d.dau, w.wau,
               {sql_half_up("CAST(d.dau AS DOUBLE) / w.wau")} AS stickiness
        FROM dau d JOIN wau w ON d.day = w.day
    """,
    "agg_weighted_median": """
        WITH g AS (
            SELECT l_returnflag AS flag, l_extendedprice AS v,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w,
                   CAST(count(*) AS BIGINT) AS c
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            GROUP BY flag, v
        ),
        cu AS (
            SELECT flag, v, w,
                   CAST(SUM(w) OVER (
                       PARTITION BY flag ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM g
        ),
        t AS (
            SELECT flag, CAST(SUM(w) AS BIGINT) AS tw,
                   CAST(SUM(c) AS BIGINT) AS n
            FROM g GROUP BY flag
        )
        SELECT cu.flag, t.n AS n_rows, t.tw AS total_weight,
               min(v) AS weighted_median
        FROM cu JOIN t ON cu.flag = t.flag
        WHERE 2 * cum >= t.tw
        GROUP BY cu.flag, t.n, t.tw
    """,
    "agg_entropy": """
        WITH c AS (
            SELECT source, lang, count(*) AS c
            FROM documents GROUP BY source, lang
        ),
        t AS (SELECT source, SUM(c) AS tot FROM c GROUP BY source)
        SELECT c.source, CAST(max(t.tot) AS BIGINT) AS n_docs,
               count(*) AS n_langs,
               round(-SUM((c.c / CAST(t.tot AS DOUBLE))
                          * ln(c.c / CAST(t.tot AS DOUBLE))), 4)
                   AS lang_entropy
        FROM c JOIN t ON c.source IS NOT DISTINCT FROM t.source
        GROUP BY c.source
    """,
    "agg_skew_diagnose": """
        WITH sizes AS (
            SELECT l_partkey, count(*) AS g FROM lineitem GROUP BY l_partkey
        )
        SELECT count(*) AS n_keys,
               CAST(SUM(g) AS BIGINT) AS n_rows,
               max(g) AS max_group,
               round(median(g), 4) AS median_group,
               (max(g) * count(*) > 5 * SUM(g)) AS salting_recommended
        FROM sizes
    """,
    "agg_corr_matrix": f"""
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, {sql_half_up("corr(l_quantity, l_extendedprice)")} AS pearson_r FROM lineitem
        UNION ALL
        SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, {sql_half_up("corr(l_quantity, l_discount)")} AS pearson_r FROM lineitem
        UNION ALL
        SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, {sql_half_up("corr(l_quantity, l_tax)")} AS pearson_r FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, {sql_half_up("corr(l_extendedprice, l_discount)")} AS pearson_r FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, {sql_half_up("corr(l_extendedprice, l_tax)")} AS pearson_r FROM lineitem
        UNION ALL
        SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, {sql_half_up("corr(l_discount, l_tax)")} AS pearson_r FROM lineitem
    """,
    "agg_hll_intersect": """
        SELECT CAST((SELECT count(*) FROM (
                   SELECT user_id FROM events WHERE event_type = 'click'
                   INTERSECT
                   SELECT user_id FROM events WHERE event_type = 'purchase'
               )) AS BIGINT) AS exact_overlap,
               true AS within_10pct
    """,
    "agg_histogram": """
        WITH b AS (
            SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
            FROM lineitem
        ),
        h AS (
            SELECT CAST(LEAST(19, FLOOR((l_extendedprice - lo) * 20.0
                                        / (hi - lo))) AS INTEGER) AS bucket,
                   lo, hi
            FROM lineitem, b
        )
        SELECT bucket, count(*) AS n_rows,
               round(min(lo) + bucket * (min(hi) - min(lo)) / 20.0, 4)
                   AS bucket_lo
        FROM h GROUP BY bucket
    """,
    "agg_percentiles": """
        SELECT l_returnflag, count(*) AS n_rows,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_count_min": f"""
        WITH cells AS (
            {" UNION ALL ".join(
                f'''SELECT {h} AS h,
                           substring(md5('{h}:' || CAST(user_id AS VARCHAR)),
                                     1, {_CM_HEX}) AS bkt
                    FROM events'''
                for h in range(_CM_D)
            )}
        ),
        cm AS (
            SELECT h, bkt, count(*) AS cnt FROM cells GROUP BY h, bkt
        ),
        top AS (
            SELECT user_id, n_exact FROM (
                SELECT user_id, count(*) AS n_exact,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          user_id ASC) AS rk
                FROM events GROUP BY user_id
            ) WHERE rk <= 10
        ),
        probes AS (
            {" UNION ALL ".join(
                f'''SELECT user_id, n_exact, {h} AS h,
                           substring(md5('{h}:' || CAST(user_id AS VARCHAR)),
                                     1, {_CM_HEX}) AS bkt
                    FROM top'''
                for h in range(_CM_D)
            )}
        )
        SELECT p.user_id, p.n_exact, min(cm.cnt) AS n_est,
               (min(cm.cnt) >= p.n_exact) AS est_ge_exact
        FROM probes p JOIN cm ON p.h = cm.h AND p.bkt = cm.bkt
        GROUP BY p.user_id, p.n_exact
    """,
    "agg_global": f"""
        SELECT COUNT(*) AS n_rows,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_half_up("AVG(l_extendedprice)")} AS avg_price,
               MIN(l_shipdate) AS min_ship,
               MAX(l_shipdate) AS max_ship
        FROM lineitem
    """,
    "agg_groupby": f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {sql_half_up("AVG(l_quantity)")} AS avg_qty,
               {sql_half_up("AVG(l_extendedprice)")} AS avg_price,
               {sql_half_up("AVG(l_discount)")} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "agg_count_distinct": """
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_custs,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    "agg_having": f"""
        SELECT o_custkey, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS total_spent
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5
    """,
    "agg_filter_clause": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_hi_disc,
               COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
               COUNT(*) AS n_total
        FROM lineitem GROUP BY l_returnflag
    """,
    # the HAVING COUNT(*) >= 1 clause is the witnessed-rows contract (see
    # the operator docstrings): it drops ONLY the SQL standard's
    # unwitnessed () row over an EMPTY input — a no-op on any non-empty
    # relation — making Spark's grouped-aggregation empty-input semantics
    # a stated cross-engine contract instead of a checker allowlist
    "agg_rollup": """
        SELECT r_name, n_name, COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        HAVING COUNT(*) >= 1
    """,
    "agg_cube": f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        HAVING COUNT(*) >= 1
    """,
    "agg_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        HAVING COUNT(*) >= 1
    """,
    "agg_minmax_by": """
        SELECT o_custkey,
               CAST(-((max(CASE WHEN o_totalprice IS NOT NULL
                           THEN {'p': o_totalprice, 'nk': -o_orderkey} END)).nk)
                    AS BIGINT) AS biggest_order,
               CAST((min(CASE WHEN o_totalprice IS NOT NULL
                         THEN {'p': o_totalprice, 'k': o_orderkey} END)).k
                    AS BIGINT) AS smallest_order,
               MAX(o_totalprice) AS max_price
        FROM orders GROUP BY o_custkey
    """,
    "agg_product": """
        SELECT l_orderkey,
               ROUND(product(1 + l_tax), 4) AS tax_factor,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_orderkey
    """,
    "agg_bitwise": """
        SELECT l_orderkey,
               CAST(bit_and(l_linenumber) AS INT) AS band,
               CAST(bit_or(l_linenumber) AS INT) AS bor,
               CAST(bit_xor(l_linenumber) AS INT) AS bxor
        FROM lineitem GROUP BY l_orderkey
    """,
    "agg_collect": """
        SELECT o_custkey,
               array_to_string(list_sort(array_agg(o_orderkey)), ',') AS order_keys,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
    "agg_approx_distinct": """
        SELECT COUNT(DISTINCT o_custkey) AS exact_custs, TRUE AS within_tol
        FROM orders
    """,
    "agg_listagg": """
        SELECT o_custkey,
               string_agg(o_orderpriority, '|' ORDER BY o_orderpriority) AS prios,
               ROUND(median(o_totalprice), 4) AS med_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
    "agg_stats": f"""
        SELECT l_returnflag,
               {sql_half_up("STDDEV_SAMP(l_quantity)")} AS sd_qty,
               {sql_half_up("VAR_SAMP(l_discount)")} AS var_disc,
               {sql_half_up("CORR(l_quantity, l_extendedprice)")} AS corr_qty_price,
               {sql_half_up("QUANTILE_CONT(l_quantity, 0.5)")} AS median_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_approx_quantile": f"""
        SELECT {sql_half_up("QUANTILE_CONT(l_extendedprice, 0.5)")} AS exact_p50,
               {sql_half_up("QUANTILE_CONT(l_extendedprice, 0.95)")} AS exact_p95,
               TRUE AS p50_ok,
               TRUE AS p95_ok
        FROM lineitem
    """,
    "agg_hll_merge": """
        SELECT COUNT(DISTINCT c_custkey) AS exact_custs,
               COUNT(DISTINCT c_nationkey) AS n_partials,
               TRUE AS merged_within_tol,
               TRUE AS direct_within_tol
        FROM customer
    """,
    "agg_mode_median": """
        WITH cnt AS (
            SELECT l_returnflag, l_quantity, COUNT(*) AS c
            FROM lineitem GROUP BY l_returnflag, l_quantity
        ),
        md AS (
            SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY l_returnflag
                    ORDER BY c DESC, l_quantity ASC
                ) AS rk FROM cnt
            ) WHERE rk = 1
        ),
        me AS (
            SELECT l_returnflag,
                   ROUND(median(l_quantity), 4) AS median_qty,
                   COUNT(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT me.l_returnflag, me.median_qty, me.n_rows,
               md.mode_qty, md.mode_count
        FROM me JOIN md ON me.l_returnflag = md.l_returnflag
    """,
}
