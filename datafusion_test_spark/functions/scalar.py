"""Scalar function families (SURVEY §2.2 "Scalar functions").

Reference parity: `datafusion-functions` (reference Cargo.lock:881-882) and
`datafusion-functions-nested` (Cargo.lock:947-948) — the string / regex /
date / math / conditional / cast / array / struct / json function library
that the linked engine exposes to any SQL it parses.

All implementations are built-in `pyspark.sql.functions` — JVM-side,
whole-stage-codegen'd, zero Python in the hot path.  Dialect drift against
the DuckDB oracle (1-based substr, ceil return types, interval syntax,
float-vs-double list folds) is resolved in the oracle SQL, never by changing
engine semantics (SURVEY §7 M3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import (
    ascii_lower,
    sane_ts_filter,
    sql_ascii_lower,
    sql_sane_ts_where,
)
from ..io import SQL_FINITE_EMBEDDINGS, table


def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substr/upper/lower/length/trim/concat/replace/lpad.

    name_lo uses the portable ASCII case mapping (see _util.ascii_lower):
    full-Unicode lower() is implementation-defined and the engines
    disagree on İ / ß / final Σ, so a hash contract must pin A-Z.
    seg_up keeps the real F.upper — c_mktsegment is a TPC-H ASCII enum.
    """
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name8"),
        F.upper("c_mktsegment").alias("seg_up"),
        ascii_lower("c_name").alias("name_lo"),
        F.length("c_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_repl"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
    )


def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / regexp matching / split."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", r"[AEIOU]", "_").alias("type_masked"),
        F.col("p_type").rlike(r"^(PROMO|LARGE)").alias("is_promo_large"),
        # split() demonstrated, then re-joined to a canonical string: the
        # driver's hash canonicalizer cannot factorize array cells.
        F.concat_ws("|", F.split(F.col("p_type"), " ")).alias("type_words"),
    )


def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/date_trunc/interval add/datediff/extract.

    sane-time-domain guard (time corpus, round 8): this op DERIVES new
    instants (+30 days, date_trunc), so a year-9999 input produces a
    year-10000 due_ts that no Python/Arrow client can materialize, and a
    year-1 input month-truncates onto 0001-01-01 (uncollectible: CPython's
    fromtimestamp probes ±1 day for DST-fold detection).  Inputs outside
    [1900, 2100) are data errors for derived-instant arithmetic — the
    raw-column range filter keeps parquet pushdown; oracle carries the
    matching WHERE."""
    o = sane_ts_filter(table(spark, sf_dir, "orders"), "o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.expr("EXTRACT(QUARTER FROM o_orderdate)").cast("int").alias("qtr"),
    )


def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ceil/floor/mod/power/ln/exp/sqrt."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice"), 1).alias("price_r1"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.ceil("l_discount").alias("disc_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        (F.col("l_linenumber") % 3).alias("ln_mod3"),
        F.round(F.pow(F.col("l_quantity"), 2), 4).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice")), 4).alias("price_ln"),
        F.round(F.exp(F.col("l_discount")), 4).alias("disc_exp"),
        F.round(F.sqrt(F.col("l_quantity")), 4).alias("qty_sqrt"),
    )


def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/hyperbolic family: sin/cos/tan/atan2/sinh, rounded to 4
    (libm implementations may differ in the last ulp across engines)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_discount")
    y = F.col("l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin(x), 4).alias("sin_d"),
        F.round(F.cos(x), 4).alias("cos_d"),
        F.round(F.tan(x), 4).alias("tan_d"),
        F.round(F.atan2(y, x + 0.01), 4).alias("atan2_td"),
        F.round(F.sinh(x), 4).alias("sinh_d"),
    )


def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digests: md5 / sha256 — algorithm-defined, so the
    hex strings match across engines exactly (no float caveats)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("md5_name"),
        F.sha2(F.col("c_name"), 256).alias("sha256_name"),
    )


def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / greatest / least."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 5000, "regular")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(none)")).alias(
            "seg_or_none"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_pos"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_capped"),
    )


def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts among int/double/string/date/decimal (trunc-safe choices only:
    double→int truncation vs rounding differs across engines, so integer
    conversions go through FLOOR on both sides)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("long").alias("price_int"),
        # decimal cast demonstrated, then round-tripped back to DOUBLE: a bare
        # DECIMAL output column renders differently in the driver's cell
        # canonicalizer (Spark Decimal vs DuckDB decimal), same class of
        # cross-engine drift as raw float→string (see fn_array.head4).
        F.col("o_totalprice").cast("decimal(14,2)").cast("double").alias("price_dec"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.concat(F.lit("19"), F.lit("95")).cast("int").alias("str_int"),
    )


def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array fns incl. higher-order transform/aggregate over embeddings.

    The fold accumulates in DOUBLE on both engines (float-order folds are
    deterministic left-to-right, so results are bit-identical).
    """
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        # slice() demonstrated, then quantized (×10⁴ → int) and joined to a
        # string: array cells crash the driver's canonicalizer, and raw
        # float→string rendering differs across engines (1.0E-4 vs 0.0001).
        # concat_ws IGNORES a NULL array argument (returns '') — gate it
        # so a NULL embedding yields NULL like every other column here
        # (nulls degenerate corpus, round 6)
        F.when(
            F.col("embedding").isNotNull(),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("embedding", 1, 4),
                    lambda x: F.round(x.cast("double") * 10000, 0)
                    .cast("long")
                    .cast("string"),
                ),
            ),
        ).alias("head4"),
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ).alias("vec_sum"),
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("vec_norm2"),
    )


def fn_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct construction + field access (rows-only oracle: DuckDB's
    struct/map literals hash differently, so the driver records counts)."""
    c = table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")).alias(
                "info"
            ),
            F.create_map(F.lit("segment"), F.col("c_mktsegment")).alias("attrs"),
        )
        .select(
            "c_custkey",
            F.col("info.name").alias("name"),
            F.col("info.bal").alias("bal"),
            F.col("attrs")["segment"].alias("segment"),
        )
    )


def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction + typed cast from events.props."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (Spark 4): parse_json once into the
    binary variant encoding, then typed path extraction with variant_get —
    the modern replacement for per-path get_json_object re-parsing.

    At 100 TB the difference is material: a VARIANT column is parsed once at
    ingest (and shredded into columnar storage by the writer), so N path
    extractions cost N cheap binary probes instead of N full JSON parses.
    Missing paths return NULL (asserted), matching JSON-path semantics.
    """
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.variant_get(v, "$.missing", "int").isNull().alias("missing_is_null"),
    )


def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + host-level rollup — the web-corpus curation staple
    (URL-normalized dedup keys, per-host crawl quotas, domain mixing all
    start from parse_url).  URLs are synthesized from document metadata,
    parsed with Spark's builtin parse_url (JVM URI parsing, codegen'd),
    and aggregated per host.  The oracle re-derives every component with
    anchored regexes — for well-formed URLs the two definitions agree
    exactly, so the hash proves parse_url's component extraction.

    Robustness (unicode corpus, round 7): hostnames are ASCII by spec —
    real DNS labels carry Unicode only as punycode — so the synthesized
    host token sanitizes `source` to [A-Za-z0-9-] (identical regex both
    engines); and the parse itself is try_parse_url, so a junk URL in a
    100 TB crawl yields NULL components instead of killing the job (ANSI
    parse_url RAISES on an invalid URL — measured here).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    # valid DNS label: [A-Za-z0-9-] only, must START and END alphanumeric
    # (java.net.URI returns a null host for a label with edge dashes —
    # measured), so trim edge dashes and anchor with a literal 'h'
    host_label = F.concat(
        F.lit("h"),
        F.regexp_replace(
            F.regexp_replace("source", "[^A-Za-z0-9-]", "-"), "^-+|-+$", ""
        ),
    )
    url = F.concat(
        F.lit("https://"),
        host_label,
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&v=2"),
    )
    u = d.select("doc_id", url.alias("url"))
    parsed = u.select(
        "doc_id",
        "url",
        F.try_parse_url("url", F.lit("HOST")).alias("host"),
        F.try_parse_url("url", F.lit("PATH")).alias("path"),
        F.try_parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
        F.try_parse_url("url", F.lit("PROTOCOL")).alias("proto"),
    )
    return parsed.groupBy("host", "proto").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("ref").alias("n_refs"),
        F.min("doc_id").alias("min_doc"),
    )


def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: case-insensitive comparison/grouping via
    COLLATE UTF8_LCASE — the engine-level answer to lower()-wrapping every
    comparison (collation-aware comparators run inside codegen and keep
    stats usable; lower() wrappers defeat predicate pushdown on collated
    sources).  A mixed-case copy of `source` (upper for even doc_ids) is
    grouped under binary and under case-insensitive collation; the oracle
    reproduces the semantics with lower().

    Scope: ASCII-printable sources only (identical regex filter both
    engines).  Beyond ASCII, UTF8_LCASE (ICU case folding: ß→ss, İ→i̇)
    and the oracle's lower() (utf8proc simple mapping) intentionally
    differ — at 100 TB you pick the collation and the ENGINE owns its
    semantics; a cross-engine oracle can only replicate the ASCII subset
    (unicode corpus, round 7).
    """
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        # \A..\z, not ^..$: Java find() lets $ also match BEFORE a final
        # line terminator, so an all-ASCII source ending in '\n' would
        # pass here yet fail the oracle's RE2 regexp_matches ($ = end of
        # text only).  \z pins end-of-input in Java; RE2 keeps ^..$.
        .filter(F.col("source").rlike(r"\A[ -~]*\z"))
    )
    # upper-case by id BLOCK (div 20), not parity: source correlates with
    # doc_id % 20, so a parity rule would never produce both casings of
    # the same source value
    mixed = F.when(
        F.expr("doc_id DIV 20") % 2 == 0, F.upper("source")
    ).otherwise(F.col("source"))
    u = d.select("doc_id", mixed.alias("src_mixed"))
    per_ci = (
        u.groupBy(F.collate("src_mixed", "UTF8_LCASE").alias("g"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
        # group key normalized for output so both engines emit one casing
        .select(
            F.lower(F.col("g")).cast("string").alias("source_ci"),
            "n_docs",
            "min_doc",
        )
    )
    counts = u.groupBy().agg(
        F.countDistinct("src_mixed").alias("n_distinct_binary"),
        F.countDistinct(F.collate("src_mixed", "UTF8_LCASE")).alias(
            "n_distinct_ci"
        ),
    )
    return per_ci.crossJoin(F.broadcast(counts))


def fn_generator_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving generator (explode_outer): documents keep a row
    even when their generated list is empty — the LEFT-JOIN-shaped
    explode every fan-out that must not drop parents needs (a plain
    explode silently loses empty-list rows, a classic lineage bug).
    Long words (>= 8 chars) are the generated list; short-only documents
    surface with a NULL word."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split("text", " "), lambda w: F.length(w) >= 8
        ).alias("lw"),
    )
    return d.select("doc_id", F.explode_outer("lw").alias("word"))


def fn_try_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI error-safety surface: Spark 4 runs ANSI mode by default,
    where bad arithmetic RAISES — the try_* family is the declared escape
    hatch that turns each error class into NULL instead of a failed job.
    One column per class: divide-by-zero, invalid string cast, int64
    overflow, out-of-bounds array index — plus the happy path of each to
    pin that try_* never perturbs valid results.  The oracle states the
    same semantics with DuckDB's TRY_CAST and literal NULLs (DuckDB has
    no ANSI mode to escape; the point is the RESULT contract matches).
    """
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "try_divide(o_totalprice, CAST(o_orderkey - o_orderkey AS DOUBLE))"
        ).alias("div0_null"),
        F.expr("try_divide(o_totalprice, CAST(2 AS DOUBLE))").alias("half"),
        F.expr("try_cast(o_orderstatus AS INT)").alias("bad_cast_null"),
        F.expr(
            "try_cast(CAST(o_orderkey AS STRING) AS INT)"
        ).alias("good_cast"),
        # +1 so the addend is strictly positive even for orderkey 0 —
        # try_add(MAX, 0) would legally NOT overflow
        F.expr("try_add(9223372036854775807, o_orderkey + 1)").alias(
            "overflow_null"
        ),
        (F.col("o_orderkey") + F.lit(1)).alias("plus_one"),
        F.expr("try_element_at(array(1, 2, 3), 99)").alias("oob_null"),
    )


def fn_mask_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial display masking — the PII-surface trio's third member
    (text_pii_scrub destroys, privacy_pseudonymize re-keys, this one
    REDACTS FOR DISPLAY): keep a recognizable suffix, star the rest.
    Customer names keep their last 4 characters behind a fixed-width
    prefix; the account balance keeps only its integer-digit COUNT
    (magnitude without the value — cents string length, portable
    integer-to-string).  Deterministic pure string ops, identical in
    both dialects; map-only at any scale.
    """
    c = table(spark, sf_dir, "customer")
    name_mask = F.concat(
        F.lit("****"), F.substring(F.col("c_name"), -4, 4)
    )
    digits = F.length(
        F.expr("cast(cast(floor(abs(c_acctbal)) as bigint) as string)")
    )
    return c.select(
        "c_custkey",
        name_mask.alias("name_masked"),
        (F.length("c_name") > 4).alias("was_masked"),
        digits.cast("int").alias("balance_magnitude_digits"),
    )


def fn_allocate_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Penny-exact proportional allocation (largest-remainder method) —
    the billing primitive: split each order's total cents across its
    line items proportional to quantity such that the parts sum back to
    the total EXACTLY (naive rounding leaks pennies).  base_i =
    total·qᵢ DIV Q, then the leftover R = total − Σbase pennies go to
    the R largest remainders (ties by line number) — every step integer,
    so conservation is provable, not approximate.

    Scale: all windows partition by the order key and are bounded by a
    basket's line count; the allocation is the same per-group
    largest-remainder any invoice system runs, here at shuffle scale.
    """
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("cast(floor(l_quantity) as bigint)").alias("qty"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "total_c"
        ),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).drop("o_orderkey")
    wq = Window.partitionBy("l_orderkey")
    t = j.withColumn("q_tot", F.sum("qty").over(wq)).withColumn(
        "base", F.expr("(total_c * qty) DIV q_tot")
    ).withColumn("rem", F.expr("(total_c * qty) % q_tot"))
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rem"), F.asc("l_linenumber")
    )
    t = t.withColumn("rr", F.row_number().over(wr)).withColumn(
        "leftover", F.col("total_c") - F.sum("base").over(wq)
    )
    return t.select(
        "l_orderkey",
        "l_linenumber",
        F.col("qty").cast("long").alias("qty"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    )


QUERIES = {
    "fn_allocate_proportional": fn_allocate_proportional,
    "fn_mask_partial": fn_mask_partial,
    "fn_try_safety": fn_try_safety,
    "fn_collation": fn_collation,
    "fn_generator_outer": fn_generator_outer,
    "fn_string": fn_string,
    "fn_regex": fn_regex,
    "fn_date": fn_date,
    "fn_math": fn_math,
    "fn_trig": fn_trig,
    "fn_hash": fn_hash,
    "fn_conditional": fn_conditional,
    "fn_cast": fn_cast,
    "fn_array": fn_array,
    "fn_map_struct": fn_map_struct,
    "fn_json": fn_json,
    "fn_variant": fn_variant,
    "fn_url": fn_url,
}

ORACLE = {
    "fn_allocate_proportional": """
        WITH li AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(floor(l_quantity) AS BIGINT) AS qty
            FROM lineitem
        ),
        o AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS total_c
            FROM orders
        ),
        t AS (
            SELECT li.*, o.total_c,
                   CAST(SUM(qty) OVER (PARTITION BY l_orderkey) AS BIGINT)
                       AS q_tot
            FROM li JOIN o ON li.l_orderkey = o.o_orderkey
        ),
        b AS (
            SELECT *,
                   (total_c * qty) // q_tot AS base,
                   (total_c * qty) % q_tot AS rem
            FROM t
        ),
        r AS (
            SELECT *,
                   CAST(row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY rem DESC, l_linenumber
                   ) AS BIGINT) AS rr,
                   total_c - CAST(SUM(base) OVER (PARTITION BY l_orderkey)
                                  AS BIGINT) AS leftover
            FROM b
        )
        SELECT l_orderkey, l_linenumber, qty,
               CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_cents
        FROM r
    """,
    "fn_mask_partial": """
        SELECT c_custkey,
               '****' || CASE WHEN length(c_name) >= 4
                              THEN substring(c_name, length(c_name) - 3, 4)
                              ELSE c_name END AS name_masked,
               (length(c_name) > 4) AS was_masked,
               CAST(length(CAST(CAST(floor(abs(c_acctbal)) AS BIGINT)
                                AS VARCHAR)) AS INTEGER)
                   AS balance_magnitude_digits
        FROM customer
    """,
    "fn_try_safety": """
        SELECT o_orderkey,
               CAST(NULL AS DOUBLE) AS div0_null,
               o_totalprice / CAST(2 AS DOUBLE) AS half,
               TRY_CAST(o_orderstatus AS INTEGER) AS bad_cast_null,
               TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER)
                   AS good_cast,
               CAST(NULL AS BIGINT) AS overflow_null,
               o_orderkey + 1 AS plus_one,
               CAST(NULL AS INTEGER) AS oob_null
        FROM orders
    """,
    "fn_generator_outer": """
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               w -> length(w) >= 8) AS lw
            FROM documents
        )
        SELECT doc_id,
               -- NULL lw (NULL text) keeps its parent row too: explode_outer
               -- preserves parents for BOTH empty and NULL lists
               unnest(CASE WHEN lw IS NULL OR len(lw) = 0
                           THEN [CAST(NULL AS VARCHAR)] ELSE lw END) AS word
        FROM d
    """,
    "fn_collation": """
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN (doc_id // 20) % 2 = 0 THEN upper(source)
                        ELSE source END AS src_mixed
            FROM documents
            WHERE regexp_matches(source, '^[ -~]*$')
        ),
        per AS (
            SELECT lower(src_mixed) AS source_ci, count(*) AS n_docs,
                   min(doc_id) AS min_doc
            FROM u GROUP BY lower(src_mixed)
        ),
        c AS (
            SELECT count(DISTINCT src_mixed) AS n_distinct_binary,
                   count(DISTINCT lower(src_mixed)) AS n_distinct_ci
            FROM u
        )
        SELECT source_ci, n_docs, min_doc, n_distinct_binary, n_distinct_ci
        FROM per, c
    """,
    "fn_string": f"""
        SELECT c_custkey,
               substr(c_name, 1, 8) AS name8,
               upper(c_mktsegment) AS seg_up,
               {sql_ascii_lower("c_name")} AS name_lo,
               CAST(length(c_name) AS INT) AS name_len,
               trim('  ' || c_mktsegment || ' ') AS seg_trim,
               concat_ws('-', c_mktsegment, c_name) AS seg_name,
               replace(c_name, 'Customer', 'Cust') AS name_repl,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad
        FROM customer
    """,
    "fn_regex": """
        SELECT p_partkey,
               regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num,
               regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_masked,
               regexp_matches(p_type, '^(PROMO|LARGE)') AS is_promo_large,
               array_to_string(str_split(p_type, ' '), '|') AS type_words
        FROM part
    """,
    "fn_date": f"""
        SELECT o_orderkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
               CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dom,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               o_orderdate + INTERVAL 30 DAY AS due_ts,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
               CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr
        FROM orders
        WHERE {sql_sane_ts_where("o_orderdate")}
    """,
    "fn_math": """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice, 1) AS price_r1,
               abs(l_quantity - 25) AS qty_dev,
               CAST(ceil(l_discount) AS BIGINT) AS disc_ceil,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               l_linenumber % 3 AS ln_mod3,
               round(pow(l_quantity, 2), 4) AS qty_sq,
               round(ln(l_extendedprice), 4) AS price_ln,
               round(exp(l_discount), 4) AS disc_exp,
               round(sqrt(l_quantity), 4) AS qty_sqrt
        FROM lineitem
    """,
    "fn_hash": """
        SELECT c_custkey,
               md5(c_name) AS md5_name,
               sha256(c_name) AS sha256_name
        FROM customer
    """,
    "fn_trig": """
        SELECT l_orderkey, l_linenumber,
               round(sin(l_discount), 4) AS sin_d,
               round(cos(l_discount), 4) AS cos_d,
               round(tan(l_discount), 4) AS tan_d,
               round(atan2(l_tax, l_discount + 0.01), 4) AS atan2_td,
               round((exp(l_discount) - exp(-l_discount)) / 2, 4) AS sinh_d
        FROM lineitem
    """,
    "fn_conditional": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                    WHEN c_acctbal < 5000 THEN 'regular'
                    ELSE 'premium' END AS tier,
               coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS seg_or_none,
               greatest(c_acctbal, 0.0) AS bal_pos,
               least(c_acctbal, 1000.0) AS bal_capped
        FROM customer
    """,
    "fn_cast": """
        SELECT o_orderkey,
               CAST(o_orderkey AS DOUBLE) AS key_dbl,
               CAST(o_orderkey AS VARCHAR) AS key_str,
               CAST(floor(o_totalprice) AS BIGINT) AS price_int,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price_dec,
               CAST(o_orderdate AS DATE) AS order_date,
               CAST('19' || '95' AS INT) AS str_int
        FROM orders
    """,
    "fn_array": f"""
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               embedding[1] AS first_val,
               array_to_string(list_transform(embedding[1:4],
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)
                             AS VARCHAR)), ',') AS head4,
               list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')
                   AS vec_sum,
               list_aggregate(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS vec_norm2
        FROM {SQL_FINITE_EMBEDDINGS} embeddings
    """,
    # struct/map construction + field access collapses to the underlying
    # columns — the oracle states that semantic identity, hash-checking the
    # Spark-side construction/access mechanics
    "fn_map_struct": """
        SELECT c_custkey, c_name AS name, c_acctbal AS bal,
               c_mktsegment AS segment
        FROM customer
    """,
    "fn_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_int
        FROM events
    """,
    "fn_variant": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
               json_extract_string(props, '$.k') AS k_str,
               json_extract_string(props, '$.missing') IS NULL
                   AS missing_is_null
        FROM events
    """,
    "fn_url": """
        WITH u AS (
            SELECT doc_id,
                   'https://' || 'h' ||
                       regexp_replace(regexp_replace(source, '[^A-Za-z0-9-]', '-', 'g'),
                                      '^-+|-+$', '', 'g')
                       || '.example.com/' || lang || '/doc/'
                       || CAST(doc_id AS VARCHAR) || '?ref=r'
                       || CAST(doc_id % 7 AS VARCHAR) || '&v=2' AS url
            FROM documents
        ),
        parsed AS (
            SELECT doc_id,
                   regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
                   regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
                   regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref,
                   regexp_extract(url, '^([a-z]+)://', 1) AS proto
            FROM u
        )
        SELECT host, proto,
               COUNT(*) AS n_urls,
               COUNT(DISTINCT path) AS n_paths,
               COUNT(DISTINCT ref) AS n_refs,
               MIN(doc_id) AS min_doc
        FROM parsed GROUP BY host, proto
    """,
}
