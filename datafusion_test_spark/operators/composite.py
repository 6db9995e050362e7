"""Composite analytic queries — TPC-H-shaped end-to-end pipelines.

The reference's single query exercises one operator chain
(scan→project→distinct→coalesce, /root/reference/src/main.rs:122); a user of
the engine it links (the full DataFusion surface, Cargo.lock:714-1156) runs
multi-join star-schema analytics.  These entries compose the already-declared
primitives (broadcast dim joins, shuffled fact joins, decimal-sum aggregates,
top-k) into the canonical TPC-H shapes Q3 / Q5 / Q10, adapted to the
testdata's column subset.

Scale notes (100 TB): dimension tables (customer/supplier/nation/region) are
broadcast — zero shuffle for every dim edge; the only exchanges are the
orders⋈lineitem fact-fact join (shuffle on orderkey, the natural co-location
key a production lake would bucket both tables on) and the final group-by.
Revenue sums go through DECIMAL(18,6) so plan-order is irrelevant to the
result (_util.dsum), and every top-k ends in TakeOrderedAndProject — k rows
per partition to the driver, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import dsum, r4, sql_dsum, sql_half_up
from ..io import parallel, table


def tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (pricing summary): the canonical full-scan aggregate — one pass
    over the fact table, grouped by two low-cardinality flags, eight
    aggregates.  At 100 TB this is the best case for Spark: predicate and
    the 6-column projection push to the parquet scan, partial aggregation
    combines map-side, and the single shuffle moves ~6 groups × partials.
    Decimal-cast sums (charge = price·(1-disc)·(1+tax) is ≤6-decimal, so
    DECIMAL(18,6) is exact) keep the result reduce-order independent.
    io.parallel: the testdata file is one unsplittable row group, so the
    map side is repartitioned to cores (skipped on a many-split lake)."""
    li = parallel(
        spark,
        table(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("2000-09-02")
        ),
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"
            ),
            dsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            r4(F.avg("l_quantity"), "avg_qty"),
            r4(F.avg("l_extendedprice"), "avg_price"),
            r4(F.avg("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 (forecasting revenue change): one scalar from a fully-pushed-down
    conjunctive filter — the purest pushdown showcase: every predicate
    reaches the parquet scan (PushedFilters), 4 columns read of 11, no
    join, one map-side-combined sum."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01"))
            & (F.col("l_shipdate") < F.lit("1999-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (order-priority checking), adapted: count orders per priority
    having at least one lineitem shipped after the order date (the
    testdata has no commit/receipt dates; l_shipdate > o_orderdate is the
    same EXISTS shape).  A LEFT SEMI join — Spark never materializes the
    match multiplicity, and both sides shuffle on orderkey, the natural
    bucket key, so on a bucketed lake this runs shuffle-free."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 (promotion effect): revenue share of PROMO-type parts in one
    ship-month.  Broadcast dim join + a single global two-sum aggregate;
    the percentage is a division of two decimal-exact sums, so it is
    bit-identical across engines before the final round."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-06-01"))
        & (F.col("l_shipdate") < F.lit("1998-07-01"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0), "promo_rev"),
            dsum(rev, "total_rev"),
        )
        .select(
            F.round(100.0 * F.col("promo_rev") / F.col("total_rev"), 4).alias(
                "promo_pct"
            ),
            "promo_rev",
            "total_rev",
        )
    )


def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (shipping priority): top-10 open BUILDING-segment orders by
    pending revenue — broadcast dim filter, fact-fact equi-join, grouped
    decimal revenue, deterministic top-k."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 (local supplier volume): ASIA revenue per nation where the
    supplying and ordering nations match — the 6-table star join."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 (returned items): top-20 customers by revenue lost to returns."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "lost_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 (large-volume orders): aggregate the fact table, filter on the
    aggregate (HAVING), then join the qualifying keys BACK to the facts —
    the aggregate-as-semi-join-filter shape.  At 100 TB the qualifying-key
    set after HAVING is small, so Spark (with AQE) broadcasts it into the
    second fact pass instead of re-shuffling lineitem."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .filter(F.col("total_qty") > 180.0)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 (discounted revenue, disjunctive predicate): revenue over an OR
    of three (brand, size-range, quantity-range) conjunct groups.  The
    join key (l_partkey = p_partkey) is shared by every disjunct, so
    Catalyst keeps the broadcast EQUI join and evaluates the OR as a
    post-join filter — the shape that degenerates to a nested-loop in
    engines that can't factor the common conjunct out of a disjunction."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    disj = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#22") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_brand") == "Brand#15") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 40)))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(disj)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


QUERIES = {
    "tpch_q1_shape": tpch_q1_shape,
    "tpch_q4_shape": tpch_q4_shape,
    "tpch_q6_shape": tpch_q6_shape,
    "tpch_q19_shape": tpch_q19_shape,
    "tpch_q14_shape": tpch_q14_shape,
    "tpch_q3_shape": tpch_q3_shape,
    "tpch_q5_shape": tpch_q5_shape,
    "tpch_q10_shape": tpch_q10_shape,
    "tpch_q18_shape": tpch_q18_shape,
}

ORACLE = {
    "tpch_q1_shape": f"""
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
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "tpch_q6_shape": f"""
        SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1999-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "tpch_q19_shape": f"""
        SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
    "tpch_q4_shape": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "tpch_q14_shape": f"""
        WITH s AS (
            SELECT
                {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_rev,
                {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1998-06-01'
              AND l_shipdate <  TIMESTAMP '1998-07-01'
        )
        SELECT ROUND(100.0 * promo_rev / total_rev, 4) AS promo_pct,
               promo_rev, total_rev
        FROM s
    """,
    "tpch_q3_shape": f"""
        SELECT l_orderkey, o_orderdate,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "tpch_q5_shape": f"""
        SELECT n_name,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "tpch_q18_shape": f"""
        WITH big AS (
            SELECT l_orderkey,
                   {sql_dsum('l_quantity')} AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING {sql_dsum("l_quantity")} > 180.0
        )
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, total_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
        ORDER BY total_qty DESC, o_orderkey
        LIMIT 100
    """,
    "tpch_q10_shape": f"""
        SELECT c_custkey, c_name, n_name,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS lost_revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY lost_revenue DESC, c_custkey
        LIMIT 20
    """,
}
