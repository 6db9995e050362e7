"""UDF / UDAF / UDTF surface (SURVEY §2.4).

Reference parity: DataFusion exposes create_udf / create_udaf / table
functions (`datafusion-functions-table`, reference Cargo.lock:971-972); the
reference registers none, so this tier demonstrates the extension points.

Scale notes: row-at-a-time Python UDFs pay per-row serialization — they exist
here only as the API-parity demo (`udf_python`).  The production path is
Arrow-vectorized pandas UDFs (`udf_pandas`: one Arrow batch per ~10k rows)
and `applyInPandas` for grouped custom aggregates.  Built-in expressions
remain the hot path everywhere else in this package.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .._util import finite, sql_sane_ts_where
from ..io import SQL_FINITE_EMBEDDINGS, SQL_FINITE_EVENTS, table


def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar row-at-a-time Python UDF: discounted price.

    IEEE double ops in Python match the SQL double ops bit-for-bit, so this
    still hash-matches the arithmetic oracle.
    """
    # NULL-propagating like the SQL expression it mirrors — a Python UDF
    # receives None for NULL inputs and must hand NULL back, not crash
    # (nulls degenerate corpus, round 6)
    discounted = F.udf(
        lambda p, d: p * (1.0 - d) if p is not None and d is not None else None,
        DoubleType(),
    )
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted("l_extendedprice", "l_discount").alias("disc_price"),
    )


def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same function as a vectorized pandas UDF (Arrow batch transfer)."""

    @F.pandas_udf("double")
    def discounted(p: pd.Series, d: pd.Series) -> pd.Series:
        return p * (1.0 - d)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted("l_extendedprice", "l_discount").alias("disc_price"),
    )


def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same function as an Arrow-optimized Python UDF (`useArrow=True`,
    Spark 3.5+): row-at-a-time Python semantics but Arrow-batched transfer —
    the drop-in accelerator when a legacy `F.udf` can't be rewritten as a
    pandas UDF.  Completes the UDF tier: python / arrow / pandas / grouped /
    table-valued."""
    discounted = F.udf(
        lambda p, d: p * (1.0 - d) if p is not None and d is not None else None,
        DoubleType(),
        useArrow=True,
    )
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted("l_extendedprice", "l_discount").alias("disc_price"),
    )


def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same function as a SCALAR_ITER pandas UDF (`Iterator[Series] ->
    Iterator[Series]`) — the variant for expensive per-executor
    initialization (model load, dictionary mmap): setup code runs ONCE
    per partition before the batch loop, not once per batch.  Here the
    'model' is a trivial constant so the result is bit-identical to
    udf_pandas; what the entry pins is the iterator protocol itself
    (init-once, stream batches, same Arrow transfer).
    """
    @F.pandas_udf("double")
    def discounted_iter(
        it: Iterator[Tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        one = 1.0  # the once-per-partition "model load"
        for p, d in it:
            yield p * (one - d)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted_iter("l_extendedprice", "l_discount").alias("disc_price"),
    )


def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregate via applyInPandas: geometric mean of
    extendedprice per returnflag.

    Values are sorted inside the UDF before reduction so the result is
    independent of shuffle arrival order (determinism contract).
    Oracle: exp(avg(ln(x))).
    """
    import numpy as np

    def geo_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        # aggregate over the group's NON-NULL values, like SQL avg(ln(x))
        # — NULLs arrive as NaN in the Arrow batch and would poison the
        # mean; an all-NULL group has no geometric mean (NULL result)
        x = np.sort(pdf["l_extendedprice"].dropna().to_numpy())
        geo = round(float(np.exp(np.mean(np.log(x)))), 2) if len(x) else None
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "geo_price": [geo],
            },
            dtype="object",
        )

    # column-prune BEFORE the Python boundary: the aggregate reads two
    # columns, and every other lineitem column would pay Arrow
    # serialization per batch — including l_shipdate, whose extreme
    # instants (time corpus, round 8) don't even CONVERT to pandas'
    # ns-resolution timestamps.  Never ship a column the UDF doesn't use.
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        geo_mean, schema="l_returnflag string, geo_price double"
    )


def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function: one row per array element (posexplode),
    1-based positions to match SQL subscripting."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.filter(F.col("vec_id") < 50)
        .select("vec_id", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "val",
        )
    )


def udtf_python_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Python UDTF (Spark 4 `@udtf` class API, not a builtin explode):
    tokenizes each document via a LATERAL table-function join, emitting
    (word, 0-based position) rows.

    This is the extension point for custom row-expanding logic the builtin
    generators can't express (stateful per-row expansion, external lookups).
    Scale: the UDTF runs in the Python worker per partition — row-at-a-time
    protocol here (API demo); production expansion stays with builtin
    explode/posexplode (udtf_explode) or arrow-optimized UDTFs.  The LATERAL
    join is map-side: no shuffle, parallelism = input partitions.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            if text is None:
                return  # NULL input expands to ZERO rows (inner LATERAL)
            for i, w in enumerate(text.split(" ")):
                yield (w, i)

    spark.udtf.register("dfts_split_words", SplitWords)
    table(spark, sf_dir, "documents").createOrReplaceTempView("dfts_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.word, s.pos
        FROM dfts_udtf_docs d, LATERAL dfts_split_words(d.text) s
        """
    )


def udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the two-sided custom operator API): clicks
    and purchases cogrouped per user, one pandas function seeing BOTH
    groups at once — the extension point for custom merge logic
    (interleaving, per-key reconciliation, as-of matching in pandas) that
    a join can't express row-wise.

    Both sides shuffle once on the key and pair up group-by-group; output
    is counts + time bounds (order-insensitive statistics only — the
    cogroup feed order within a group is not a contract).

    SELF-COGROUP HAZARD (found at sf0.1): deriving both sides from ONE
    scan lets the analyzer bind the right side's reconcile arguments to
    the LEFT's expression ids (plan showed reconcile(user_id#2L, ts#1,
    user_id#2L, ts#1)), and the right pandas frame then arrives with its
    ts column silently MISSING for some groups.  Each side therefore
    gets its own scan — the same discipline as self-join aliasing.
    """
    # sane-time-domain quarantine (time corpus, round 8): ts IS this
    # op's payload and it crosses the Arrow→pandas boundary, where only
    # ns-resolution instants ([1677, 2262]) are representable — a single
    # year-9999 event kills the worker.  The quarantine also keeps the
    # nullable-group float64 fallback exact ([1900, 2100) micros < 2^53).
    # Both oracle sides carry the matching WHERE.
    from .._util import sane_ts_filter

    clicks = sane_ts_filter(
        table(spark, sf_dir, "events").filter(
            F.col("event_type") == "click"
        )
    ).select("user_id", "ts")
    # fresh=True: io.table's r14 plan memo would hand both sides the SAME
    # expression ids, re-creating exactly the mis-binding documented above
    purchases = sane_ts_filter(
        table(spark, sf_dir, "events", fresh=True).filter(
            F.col("event_type") == "purchase"
        )
    ).select("user_id", "ts")

    def reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        n_c, n_p = len(left), len(right)
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [n_c],
                "n_purchases": [n_p],
                "first_click": [left["ts"].min() if n_c else None],
                "last_purchase": [right["ts"].max() if n_p else None],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id bigint, n_clicks bigint, n_purchases bigint, "
            "first_click timestamp, last_purchase timestamp",
        )
    )


def udf_grouped_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment model training via grouped applyInPandas — the
    fit-a-model-per-group pattern (per-store forecasters, per-segment
    scorers) exercised with a model whose answer is INDEPENDENTLY
    checkable: closed-form OLS of value on hour-of-day per event type,
    which must agree with the ANSI regr_* aggregates (the oracle is
    agg_regression's SQL).  round(,4) absorbs the accumulation-order
    ulps between pandas, Spark and DuckDB (agg_regression's
    discipline).

    Scale: one shuffle on the group key; each pandas call sees one
    group's rows — bounded by segment size, the contract every grouped
    trainer relies on.  A real deployment swaps the closed form for
    model.fit(); the plumbing (schema, grouping, Arrow batches) is
    identical.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).withColumn(
        "value", finite("value")
    ).filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = float(len(pdf))
        sx = float(pdf["x"].sum())
        sy = float(pdf["y"].sum())
        sxx = float((pdf["x"] * pdf["x"]).sum())
        sxy = float((pdf["x"] * pdf["y"]).sum())
        den = n * sxx - sx * sx
        if n < 2.0 or den == 0.0:
            # regr_slope/_intercept are NULL for <2 points or constant x
            slope = intercept = None
        else:
            s = (n * sxy - sx * sy) / den
            slope = round(s, 4)
            intercept = round((sy - s * sx) / n, 4)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_points": [int(n)],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    return e.groupBy("event_type").applyInPandas(
        fit,
        "event_type string, n_points bigint, slope double, intercept double",
    )


QUERIES = {
    "udf_grouped_train": udf_grouped_train,
    "udf_cogrouped": udf_cogrouped,
    "udf_python": udf_python,
    "udf_pandas": udf_pandas,
    "udf_pandas_iter": udf_pandas_iter,
    "udf_arrow": udf_arrow,
    "udaf_grouped": udaf_grouped,
    "udtf_explode": udtf_explode,
    "udtf_python_api": udtf_python_api,
}

_DISC_SQL = """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS disc_price
        FROM lineitem
"""

ORACLE = {
    # the grouped-pandas fit must equal the ANSI regression aggregates
    "udf_grouped_train": f"""
        SELECT event_type,
               CAST(regr_count(value, CAST(hour(ts) AS DOUBLE)) AS BIGINT)
                   AS n_points,
               round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 4)
                   AS slope,
               round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 4)
                   AS intercept
        FROM {SQL_FINITE_EVENTS} events WHERE value IS NOT NULL
        GROUP BY event_type
    """,
    "udf_cogrouped": f"""
        WITH c AS (
            SELECT user_id, count(*) AS n_clicks, min(ts) AS first_click
            FROM events
            WHERE {sql_sane_ts_where()}
              AND event_type = 'click'
            GROUP BY user_id
        ),
        p AS (
            SELECT user_id, count(*) AS n_purchases, max(ts) AS last_purchase
            FROM events
            WHERE {sql_sane_ts_where()}
              AND event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               COALESCE(n_clicks, 0) AS n_clicks,
               COALESCE(n_purchases, 0) AS n_purchases,
               first_click, last_purchase
        FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
    "udf_python": _DISC_SQL,
    "udf_pandas": _DISC_SQL,
    "udf_pandas_iter": _DISC_SQL,
    "udf_arrow": _DISC_SQL,
    "udaf_grouped": """
        SELECT l_returnflag,
               ROUND(EXP(AVG(LN(l_extendedprice))), 2) AS geo_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "udtf_explode": f"""
        SELECT vec_id, CAST(i AS INT) AS pos, embedding[i] AS val
        FROM {SQL_FINITE_EMBEDDINGS} embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        WHERE vec_id < 50
    """,
    # Python's str.split(' ') and DuckDB's string_split agree exactly,
    # including the ['']-for-empty-string edge
    "udtf_python_api": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        u AS (SELECT doc_id,
                     unnest(list_transform(ws,
                         (x, i) -> {'word': x, 'pos': CAST(i - 1 AS INT)})) AS s
              FROM w)
        SELECT doc_id, s.word, s.pos FROM u
    """,
}
