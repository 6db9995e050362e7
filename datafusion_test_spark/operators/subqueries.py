"""Subquery operators — scalar, IN, correlated EXISTS, lateral-style derived
tables (SURVEY §4 row "subquery decorrelation": DataFusion's optimizer links
`RewriteCorrelatedScalarSubquery`-class rules via Cargo.lock:1025-1026, and
Spark's Catalyst decorrelates the same shapes into joins).

These run through the SQL entry point (spark.sql), exercising the full
parse → analyze → decorrelate → join-rewrite path; plan tests assert the
correlated forms decorrelate into joins rather than per-row re-execution —
which is exactly what makes them viable at 100 TB.

Also here: pivot / unpivot reshaping (DataFusion exposes equivalent
capability via CASE-aggregation; Spark has them first-class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import DEC, sql_dsum
from ..io import register_views, table


def sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders above the global average price."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
        """
    )


def sub_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery): customers in nations that belong to the EUROPE region."""
    register_views(spark, sf_dir, ["customer", "nation", "region"])
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_regionkey IN (
                SELECT r_regionkey FROM region WHERE r_name = 'EUROPE'
            )
        )
        """
    )


def sub_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: each order vs its customer's max order.
    Catalyst decorrelates to an aggregate + join (plan-asserted)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o1
        WHERE o_totalprice = (
            SELECT MAX(o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o1.o_custkey
        )
        """
    )


def sub_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with an extra predicate (beyond join_semi's plain
    form): suppliers sharing a nation with at least one negative-balance
    customer."""
    register_views(spark, sf_dir, ["supplier", "customer"])
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < 0
        )
        """
    )


def sub_scalar_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery in the SELECT list: each nation's customer
    count, decorrelated by Catalyst into an outer-join aggregate."""
    register_views(spark, sf_dir, ["nation", "customer"])
    return spark.sql(
        """
        SELECT n_nationkey, n_name,
               (SELECT COUNT(*) FROM customer c
                WHERE c.c_nationkey = n.n_nationkey) AS n_customers
        FROM nation n
        """
    )


def cte_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level WITH: a CTE referenced twice downstream (tests Catalyst's
    CTE dedup/inlining; DataFusion's sqlparser handles the same shapes)."""
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(
        f"""
        WITH big AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS spent
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, spent,
                   CASE WHEN spent > (SELECT AVG(spent) FROM big)
                        THEN 'above' ELSE 'below' END AS band
            FROM big
        )
        SELECT band, COUNT(*) AS n_custs,
               CAST(SUM(CAST(spent AS {DEC})) AS DOUBLE) AS band_spent
        FROM ranked GROUP BY band
        """
    )


def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status (rows) × priority class (columns).

    Empty (status, prio) cells pivot to NULL in Spark but COUNT(*) FILTER
    yields 0 in the oracle — filled to 0 so the semantics (and hashes) agree
    on any scale factor.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("prio", F.substring("o_orderpriority", 1, 1))
        .groupBy("o_orderstatus")
        .pivot("prio", ["1", "2", "3", "4", "5"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({str(i): f"p{i}" for i in range(1, 6)})
        .na.fill(0, [f"p{i}" for i in range(1, 6)])
    )


def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): lineitem charge components to (metric, amount) rows."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "amount",
    )


def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4+): a generated month spine left-joined to
    order counts — the canonical gaps-free time series.  The recursion depth
    is the spine length (24), independent of data volume, so this is
    scale-safe: the spine is a tiny broadcast side against the fact scan."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT DATE'1995-01-01'
            UNION ALL
            SELECT add_months(m, 1) FROM months WHERE m < DATE'1996-12-01'
        )
        SELECT m, COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m
        """
    )


def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT: each
    customer's 2 most recent orders.  Catalyst plans this as a decorrelated
    window top-n, not per-row re-execution (same rewrite class as the
    scalar-subquery decorrelation above) — which is what makes it viable
    over a 100 TB orders table."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey, t.o_orderdate
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_orderdate FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_orderdate DESC, o_orderkey LIMIT 2
        ) t
        """
    )


def sub_in_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery under a disjunction — NOT reducible to a semi-join
    because non-matching rows must survive with a false flag: Catalyst
    plans the membership probe as an ExistenceJoin (the semi-join variant
    that emits an exists bit instead of filtering), the one physical join
    type the inner/semi/anti family doesn't cover (plan-test pinned).
    The probe side is the filtered orders keys — broadcastable here; at
    scale AQE picks shuffle when the key set outgrows the threshold.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal,
               (c_custkey IN (
                    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
                ) OR c_acctbal > 9000.0) AS flagged
        FROM customer
        """
    )


def sub_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparison subqueries — x >= ALL / > ANY / < ALL
    (SELECT ...) — a surface Spark's parser does not accept (probed:
    PARSE_SYNTAX_ERROR), implemented as the rewrite every optimizer
    applies anyway: ALL collapses to a comparison against the subquery's
    MAX/MIN 1-row aggregate, ANY to the opposite extreme, and = ANY is
    IN (here an ExistenceJoin flag against the distinct value set).

    Semantics note: with a non-empty, NULL-free supplier side (true of
    this dataset by construction) the rewrite is exact; the general
    NULL/empty case needs the count-based guards the docs of
    NULL-aware anti-join describe — out of scope, stated explicitly.

    Scale (100 TB): the quantifier side becomes a 1-row (extremes) or
    distinct-set (eq_any) broadcast; the customer scan is map-only.
    That is the entire point of the rewrite — a naive per-row subquery
    re-execution would be O(N·M).
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = table(spark, sf_dir, "supplier")
    ext = s.agg(
        F.max("s_acctbal").alias("mx"),
        F.min("s_acctbal").alias("mn"),
        # non-null subquery cardinality: = ANY over a NON-empty set with
        # a NULL probe is UNKNOWN, not FALSE (three-valued logic; the
        # bare existence-join flag lost this — nulls corpus, round 6)
        F.count("s_acctbal").alias("nv"),
    )
    vals = s.select(F.col("s_acctbal").alias("v")).distinct()
    j = (
        c.crossJoin(F.broadcast(ext))
        .join(
            F.broadcast(vals), F.col("c_acctbal") == F.col("v"), "left"
        )
    )
    return j.select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_acctbal") >= F.col("mx")).alias("ge_all"),
        (F.col("c_acctbal") > F.col("mn")).alias("gt_any"),
        (F.col("c_acctbal") < F.col("mn")).alias("lt_all"),
        F.when(F.col("v").isNotNull(), F.lit(True))
        .when(F.col("c_acctbal").isNull() & (F.col("nv") > 0), F.lit(None))
        .otherwise(F.lit(False))
        .alias("eq_any"),
    )


def sub_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null landmine, pinned cross-engine: when the subquery
    list contains even one NULL, `x NOT IN (list)` is never TRUE
    (three-valued logic — x <> NULL is UNKNOWN), so the query silently
    returns ZERO rows; NOT EXISTS states the intended anti-join.  Both
    phrasings run over the SAME data (one NULL injected into the list
    via NULLIF) and the result row carries both counts plus the landmine
    flag — the regression test every SQL migration should keep.

    Plan note: Spark compiles NOT IN to a null-aware anti join (its
    single most expensive join flavor at scale — another reason NOT
    EXISTS wins); NOT EXISTS is a plain LeftAnti.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        WITH keys AS (
            SELECT NULLIF(o_custkey,
                          (SELECT MIN(o_custkey) FROM orders)) AS k
            FROM orders WHERE o_totalprice > 100000
        )
        SELECT
            (SELECT COUNT(*) FROM customer) AS n_customers,
            (SELECT COUNT(*) FROM customer
             WHERE c_custkey NOT IN (SELECT k FROM keys)) AS n_not_in,
            (SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM keys
                               WHERE keys.k = c.c_custkey))
                AS n_not_exists,
            ((SELECT COUNT(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM keys)) = 0
             AND
             (SELECT COUNT(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM keys
                                WHERE keys.k = c.c_custkey)) > 0)
                AS null_landmine_demonstrated
        """
    )


QUERIES = {
    "sub_not_in_nulls": sub_not_in_nulls,
    "sub_quantified": sub_quantified,
    "sub_in_disjunct": sub_in_disjunct,
    "sub_scalar": sub_scalar,
    "cte_recursive": cte_recursive,
    "join_lateral": join_lateral,
    "sub_in": sub_in,
    "sub_correlated_scalar": sub_correlated_scalar,
    "sub_exists_correlated": sub_exists_correlated,
    "sub_scalar_select": sub_scalar_select,
    "cte_multi": cte_multi,
    "pivot_wide": pivot_wide,
    "unpivot_long": unpivot_long,
}

ORACLE = {
    "sub_not_in_nulls": """
        WITH keys AS (
            SELECT NULLIF(o_custkey,
                          (SELECT MIN(o_custkey) FROM orders)) AS k
            FROM orders WHERE o_totalprice > 100000
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_customers,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             WHERE c_custkey NOT IN (SELECT k FROM keys)) AS n_not_in,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM keys
                               WHERE keys.k = c.c_custkey))
                AS n_not_exists,
            ((SELECT COUNT(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM keys)) = 0
             AND
             (SELECT COUNT(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM keys
                                WHERE keys.k = c.c_custkey)) > 0)
                AS null_landmine_demonstrated
    """,
    # the NATIVE quantified forms — DuckDB parses ALL/ANY directly, so
    # the oracle proves the min/max rewrite IS the quantified semantics
    "sub_quantified": """
        SELECT c_custkey, c_acctbal,
               c_acctbal >= ALL (SELECT s_acctbal FROM supplier) AS ge_all,
               c_acctbal >  ANY (SELECT s_acctbal FROM supplier) AS gt_any,
               c_acctbal <  ALL (SELECT s_acctbal FROM supplier) AS lt_all,
               c_acctbal =  ANY (SELECT s_acctbal FROM supplier) AS eq_any
        FROM customer
    """,
    "sub_in_disjunct": """
        SELECT c_custkey, c_acctbal,
               (c_custkey IN (
                    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
                ) OR c_acctbal > 9000.0) AS flagged
        FROM customer
    """,
    "cte_recursive": """
        WITH RECURSIVE months(m) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
            WHERE m < DATE '1996-12-01'
        )
        SELECT m, COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m
    """,
    "join_lateral": """
        SELECT c_custkey, t.o_orderkey, t.o_orderdate
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_orderdate FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_orderdate DESC, o_orderkey LIMIT 2
        ) t
    """,
    "sub_scalar": """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
    """,
    "sub_in": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey IN (
            SELECT n_nationkey FROM nation WHERE n_regionkey IN (
                SELECT r_regionkey FROM region WHERE r_name = 'EUROPE'))
    """,
    "sub_correlated_scalar": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders o1
        WHERE o_totalprice = (
            SELECT MAX(o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o1.o_custkey)
    """,
    "sub_exists_correlated": """
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < 0)
    """,
    "sub_scalar_select": """
        SELECT n_nationkey, n_name,
               (SELECT COUNT(*) FROM customer c
                WHERE c.c_nationkey = n.n_nationkey) AS n_customers
        FROM nation n
    """,
    "cte_multi": f"""
        WITH big AS (
            SELECT o_custkey,
                   {sql_dsum("o_totalprice")} AS spent
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, spent,
                   CASE WHEN spent > (SELECT AVG(spent) FROM big)
                        THEN 'above' ELSE 'below' END AS band
            FROM big
        )
        SELECT band, COUNT(*) AS n_custs,
               {sql_dsum("spent")} AS band_spent
        FROM ranked GROUP BY band
    """,
    "pivot_wide": """
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE substr(o_orderpriority,1,1) = '1') AS p1,
               COUNT(*) FILTER (WHERE substr(o_orderpriority,1,1) = '2') AS p2,
               COUNT(*) FILTER (WHERE substr(o_orderpriority,1,1) = '3') AS p3,
               COUNT(*) FILTER (WHERE substr(o_orderpriority,1,1) = '4') AS p4,
               COUNT(*) FILTER (WHERE substr(o_orderpriority,1,1) = '5') AS p5
        FROM orders GROUP BY o_orderstatus
    """,
    "unpivot_long": """
        SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric,
               l_extendedprice AS amount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
}
