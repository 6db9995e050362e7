"""Warehouse-maintenance & incremental-processing operators — the jobs that
keep a 100 TB lake healthy and its derived tables fresh (reference scope:
Tier C per BASELINE.json:6; the relational core they compose is the same
scan/agg/join/window surface as src/main.rs:122's query class).

- scd2_build        slowly-changing-dimension type 2 from the events log:
                    consecutive-duplicate collapse + validity intervals
                    (SQL oracle)
- agg_incremental   partial-aggregate merge: shard the log, aggregate each
                    shard, merge states losslessly — the algebra behind
                    every incremental/streaming rollup (SQL oracle)
- join_bloom        explicit bloom-style semi-join reduction: broadcast the
                    dim's hash-bucket set, prefilter the fact BEFORE the
                    join shuffle (SQL oracle verifies the candidate count,
                    i.e. the filter layer itself)
- fn_bitmap         distributed bitmap distinct-count: 63-bit word masks,
                    bit_or-merged, popcount-summed == exact (SQL oracle)
- layout_compaction small-file compaction with content-preservation proof
                    (SQL oracle; file counts verified as result columns)

Scale design (100 TB):

* scd2_build — lag-filter-lead/rank all share ONE (user_id) hash partition
  and (ts, event_id) sort: Catalyst plans a single Exchange+Sort feeding
  both WindowExecs (the filter between them is partitioning-preserving).
  The (ts, event_id) pair is the total commit order — same idiom as
  stream_cdc_apply — so retries and replays build the identical dimension.
* agg_incremental — DECIMAL(18,6) partial sums make the merge exact and
  associative (double addition is neither), which is precisely why the
  partial->merge ladder equals the direct aggregate bit-for-bit; at scale
  the shards are yesterday's stored state + today's delta, and only the
  delta is scanned.
* join_bloom — Spark's runtime bloom filter (runtimeFilter.bloomFilter)
  does this inside one query; building the filter EXPLICITLY pays off when
  the dim side is stable across many queries (build once, reuse all day)
  and when the fact scan is remote (candidate rows never leave the scan
  stage: the bucket probe is a map-side BroadcastHashJoin).  FP rate is
  bucket-count-bounded; the exact join afterwards removes them.
* fn_bitmap — the roaring-bitmap pattern on plain int64 columns: distinct
  keys compress into O(keyspace/63) words per group, masks merge with
  bit_or at every aggregation level (partial, shuffle, rollup) without
  re-scanning — the distinct-count analog of agg_hll_merge, but EXACT
  when the keyspace is dense.
* layout_compaction — coalesce() is a narrow dependency: compaction moves
  no rows across the network, it just concatenates splits per task.  At
  lake scale the same job runs per partition-directory with
  maxRecordsPerFile as the size governor; clustering-preserving variants
  swap coalesce for repartitionByRange on the sort key (layout_zonemap).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import finite, DEC, dsum, sql_dsum, scratch_dir
from ..io import SQL_FINITE_EVENTS, table

_BLOOM_BRAND = "Brand#4"   # 96 of 2000 parts at sf0.01 — selective dim filter
_BLOOM_HEX = 3             # md5-prefix chars -> 16^3 = 4096 buckets


def _scd2_intervals(e: DataFrame) -> DataFrame:
    """SCD2 interval derivation over a (user_id, event_type, ts,
    event_id) log — shared by scd2_build (full build) and
    scd2_correction (late-data incremental rebuild)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.row_number().over(w).alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension from the events log: per user, collapse
    consecutive repeats of event_type into state intervals with
    [effective_from, effective_to) validity, version numbers, and an
    is_current flag on the open interval."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return _scd2_intervals(e)


def scd2_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-data correction of an SCD2 dimension — the nightly
    reality of slowly-changing dimensions: a batch of events (here
    event_id ≡ 0 mod 17) arrives AFTER the dimension was built, and the
    fix must splice them into history, shifting validity intervals and
    renumbering versions.  The incremental algorithm: recompute ONLY
    the users that received late rows (from the full log) and keep every
    other user's rows untouched — then the contract is that this equals
    a full rebuild, which is exactly what the oracle states (the
    correction-equals-rebuild invariant, checked by hash).

    Scale (100 TB): affected users are a semi-join key set (late batches
    are small); the untouched side is an anti-join passthrough that
    never re-sorts, so the correction costs O(late users' history), not
    O(dimension).
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    on_time = e.filter(F.col("event_id") % 17 != 0)
    late = e.filter(F.col("event_id") % 17 == 0)
    affected = late.select("user_id").distinct()
    keep = _scd2_intervals(on_time).join(affected, "user_id", "left_anti")
    redo = _scd2_intervals(e).join(affected, "user_id", "left_semi")
    return keep.unionByName(redo)


def join_dim_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 join — "which dimension state was in effect when
    the fact happened": every purchase event joined to the scd2_build
    dimension row whose [effective_from, effective_to) interval contains
    the purchase ts.

    The naive phrasing is an interval-containment theta join (nested loop,
    O(facts x dim-rows-per-user)); the scale phrasing used here is the
    union + window idiom shared with join_asof: dimension VERSIONS are
    points (effective_from), so the containing interval is the last
    version at-or-before the fact ts — one shuffle on user_id, last-non-
    null carry.  Same-ts pairs resolve identically on both sides: versions
    order before facts at equal ts and the highest same-ts version wins
    (its interval is the non-empty one), which the oracle's containment
    predicate (from <= ts < to) states declaratively.
    """
    dim = scd2_build(spark, sf_dir).select(
        "user_id",
        F.col("effective_from").alias("t"),
        F.lit(0).alias("is_fact"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("state").alias("d_state"),
        F.col("version").alias("d_version"),
    )
    facts = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(1).alias("is_fact"),
            "event_id",
            F.lit(None).cast("string").alias("d_state"),
            F.lit(None).cast("int").alias("d_version"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_fact", "d_version")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dim.unionByName(facts)
        .withColumn("state_at", F.last("d_state", ignorenulls=True).over(w))
        .withColumn("version_at", F.last("d_version", ignorenulls=True).over(w))
        .filter(F.col("is_fact") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "state_at",
            "version_at",
        )
    )


def agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate merge equals direct aggregate, bit-for-bit.

    The log is sharded (event_id parity — stand-in for yesterday/today),
    each shard aggregates to a state (count, decimal sum, min, max), the
    states merge, and the merged result is diffed against the one-pass
    aggregate.  count/min/max merge trivially; the sum merges exactly
    ONLY because the carrier is decimal — the point of the operator.
    """
    e = table(spark, sf_dir, "events").select(
        "event_type", finite("value").alias("value"), "event_id"
    )
    partial = e.groupBy(
        "event_type", (F.col("event_id") % 2).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast(DEC)).alias("psum"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("psum").cast("double").alias("sum_value"),
        F.min("pmin").alias("min_value"),
        F.max("pmax").alias("max_value"),
    )
    direct = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("dn"),
        dsum(F.col("value"), "dsum_value"),
        F.min("value").alias("dmin"),
        F.max("value").alias("dmax"),
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
        (F.col("n_events") == F.col("dn")).alias("count_matches"),
        (F.col("sum_value") == F.col("dsum_value")).alias("sum_matches"),
        (
            (F.col("min_value") == F.col("dmin"))
            & (F.col("max_value") == F.col("dmax"))
        ).alias("bounds_match"),
    )


def _bucket(col: F.Column) -> F.Column:
    return F.substring(F.md5(col.cast("string")), 1, _BLOOM_HEX)


def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style prefiltered fact-dim join: the dim's distinct md5-prefix
    buckets broadcast to the fact scan, pruning non-candidate rows before
    any shuffle; the exact key join then removes the false positives.
    Emits the fact/candidate/joined counts — the filter's selectivity and
    FP overhead are themselves oracle-verified."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    dim = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _BLOOM_BRAND)
        .select("p_partkey")
    )
    dim_buckets = dim.select(_bucket(F.col("p_partkey")).alias("bkt")).distinct()
    cand = li.withColumn("bkt", _bucket(F.col("l_partkey"))).join(
        F.broadcast(dim_buckets), "bkt"
    )
    joined = cand.join(
        F.broadcast(dim), cand["l_partkey"] == dim["p_partkey"]
    )
    n_fact = li.groupBy().agg(F.count(F.lit(1)).alias("n_fact"))
    n_cand = cand.groupBy().agg(F.count(F.lit(1)).alias("n_candidates"))
    res = joined.groupBy().agg(
        F.count(F.lit(1)).alias("n_joined"), dsum(F.col("l_quantity"), "sum_qty")
    )
    return (
        n_fact.crossJoin(n_cand)
        .crossJoin(res)
        .select(
            "n_fact",
            "n_candidates",
            "n_joined",
            "sum_qty",
            (F.col("n_candidates") >= F.col("n_joined")).alias("no_false_negatives"),
        )
    )


def fn_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via 63-bit bitmap words
    (word = user_id div 63, mask = bit_or(1 << user_id mod 63), count =
    sum of popcounts), diffed against count(distinct).  63-bit words keep
    the shift in-range on engines that reject 1<<63 overflow (DuckDB)."""
    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    words = e.select(
        "event_type",
        F.expr("user_id DIV 63").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").alias(
            "bit"
        ),
    )
    masks = words.groupBy("event_type", "word_idx").agg(
        F.expr("bit_or(bit)").alias("mask")
    )
    bitmap = masks.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("n_users_bitmap"),
        F.count(F.lit(1)).alias("n_words"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return bitmap.join(exact, "event_type").select(
        "event_type",
        "n_users_bitmap",
        "n_users_exact",
        "n_words",
        (F.col("n_users_bitmap") == F.col("n_users_exact")).alias("bitmap_exact"),
    )


def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a 64-file fragmented copy of documents is
    compacted to 4 files with coalesce (narrow — no shuffle, no network),
    and content preservation is proven by row count + key checksum on the
    compacted copy.  File counts ride along as result columns so the
    layout claim itself is driver-verified."""
    base = os.path.join(scratch_dir("dfts_compact_"))
    small, big = os.path.join(base, "small"), os.path.join(base, "compacted")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.repartition(64).write.mode("overwrite").parquet(small)
    spark.read.parquet(small).coalesce(4).write.mode("overwrite").parquet(big)

    def nfiles(path: str) -> int:
        # count DATA files only: a fully-empty write still leaves one
        # schema-only parquet (0 row groups), which is not a layout file —
        # the oracle's least(64, n_rows) counts 0 there (degenerate gate)
        import pyarrow.parquet as pq

        return sum(
            1
            for f in os.listdir(path)
            if f.endswith(".parquet")
            and pq.ParquetFile(os.path.join(path, f)).metadata.num_rows > 0
        )

    rt = spark.read.schema(d.schema).parquet(big)
    # Layout-claim columns are derived so the oracle holds at ANY scale
    # (ADVICE r3): Spark writes no file for an empty partition, so the
    # fragmented copy has min(64, n_rows) files, and coalesce(4) bounds the
    # compacted copy at 4 — asserted as a boolean, since the exact count
    # depends on how the reader packs tiny files into splits.
    return rt.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    ).select(
        "n_rows",
        "id_sum",
        "chars_sum",
        F.lit(nfiles(small)).alias("n_files_small"),
        F.lit(nfiles(big) <= 4).alias("compacted_le_4"),
        F.lit(nfiles(big) < nfiles(small)).alias("files_reduced"),
    )


def layout_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregation half of the bucketed-layout story (join_bucketed
    proves the join half): GROUP BY on the bucket key of a
    `bucketBy(8).sortBy` table runs with NO Exchange before the
    aggregate — the scan's bucketing already satisfies the required
    hash distribution, so at 100 TB the daily per-supplier rollup reads
    its buckets and aggregates in place, paying the shuffle exactly once
    at layout time.  The plan property is asserted and EMITTED as a
    result column (`bucketed_no_shuffle`), same driver-verified pattern
    as join_bucketed; values hash-match the plain GROUP BY oracle,
    proving layout round-trip + aggregation correctness.
    """
    from ..plans.introspect import plan_string

    wh = scratch_dir("dfts_bucketagg_wh_")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS dfts_bucketaggdb LOCATION '{wh}'"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )
    li.write.mode("overwrite").bucketBy(8, "l_suppkey").sortBy(
        "l_suppkey"
    ).option("path", os.path.join(wh, "lineitem_ba")).saveAsTable(
        "dfts_bucketaggdb.lineitem_ba"
    )
    agg = (
        spark.table("dfts_bucketaggdb.lineitem_ba")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
            dsum(F.col("l_extendedprice"), "total_price"),
        )
    )
    no_shuffle = "Exchange hashpartitioning(l_suppkey" not in plan_string(agg)
    return agg.select(
        "l_suppkey",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("total_qty").cast("long").alias("total_qty"),
        "total_price",
        F.lit(no_shuffle).alias("bucketed_no_shuffle"),
    )


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit — the expectations suite a warehouse runs
    before publishing: referential integrity (orphan lineitems without an
    order, orphan orders without a customer — left_anti joins, never a
    collect), null-rate of the events value column, and a range gate on
    order totals.  One exact-integer row; the booleans are the
    contract a publish step asserts on.

    Scale: each check is one anti-join or one conditional aggregate;
    anti-joins shuffle on the key (AQE broadcasts the dim side when
    small) and everything reduces map-side.  The checks share no state,
    so at 100 TB they run concurrently and the audit costs max(check),
    not sum.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    orphan_li = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_lineitem"))
    )
    orphan_o = (
        o.select("o_custkey")
        .join(c.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_orders"))
    )
    # coalesce: SUM(CASE...) over an empty table is NULL; the oracle's
    # conditional counts are 0 (degenerate-corpus gate, round 5)
    base = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)), F.lit(0)
        ).alias("n_nonpos_price"),
    )
    ev = e.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("n_null_value"),
    )
    return (
        base.crossJoin(F.broadcast(ev))
        .crossJoin(F.broadcast(orphan_li))
        .crossJoin(F.broadcast(orphan_o))
        .select(
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_orphan_lineitem").cast("long").alias("n_orphan_lineitem"),
            F.col("n_orphan_orders").cast("long").alias("n_orphan_orders"),
            F.col("n_null_value").cast("long").alias("n_null_value"),
            F.col("n_nonpos_price").cast("long").alias("n_nonpos_price"),
            (
                (F.col("n_orphan_lineitem") == 0)
                & (F.col("n_orphan_orders") == 0)
            ).alias("ref_integrity_ok"),
            (F.col("n_nonpos_price") == 0).alias("ranges_ok"),
        )
    )


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — classify every key between two versions of a table
    as added / removed / changed (unchanged rows are filtered out, so the
    result is the CHANGE SET, what `table_changes()` / snapshot-expire
    audits return on Delta/Iceberg).  Runnable on plain parquet: one full
    outer join on the primary key, column-compare for 'changed'.

    Deterministic snapshot pair derived from orders (merge_upsert's
    discipline): version A drops keys ≡0 (mod 7) — those arrive later —
    and version B drops keys ≡0 (mod 11) (deleted) while keys ≡0 (mod 5)
    get a 10% price bump and status 'U' (modified).  The 1.1 multiply is
    one IEEE double op, bit-identical in DuckDB.

    Scale (100 TB): with both snapshots bucketed on the key the join is a
    zero-exchange SMJ; real table formats additionally prune partitions
    whose file-level stats are identical, so the diff touches only
    partitions that could differ.  Comparing a row FINGERPRINT
    (xxhash64 of the value columns) instead of each column keeps the
    shuffle rows narrow at wide schemas — here the two compare columns
    are carried directly so the output can show old vs new.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    a = o.filter(F.col("o_orderkey") % 7 != 0)
    b = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * F.lit(1.1)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("U"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    j = a.alias("a").join(b.alias("b"), "o_orderkey", "full_outer")
    change = (
        F.when(F.col("a.o_totalprice").isNull(), F.lit("added"))
        .when(F.col("b.o_totalprice").isNull(), F.lit("removed"))
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            "o_orderkey",
            change.alias("change"),
            F.col("a.o_totalprice").alias("old_price"),
            F.col("b.o_totalprice").alias("new_price"),
            F.col("a.o_orderstatus").alias("old_status"),
            F.col("b.o_orderstatus").alias("new_status"),
        )
        .filter(F.col("change") != "unchanged")
    )


_CK_HEX = "0123456789abcdef"


def _ck_expr(row_str: str, instr_fn: str) -> str:
    """Order-independent row fingerprint: md5 of the canonical row
    string, first 8 hex chars folded to an int64 via per-char strpos —
    a hash-to-int path with NO dialect divergence (conv()/from_hex
    differ across engines; strpos does not).  Shared verbatim by the
    Spark expression (instr) and the oracle (strpos)."""
    terms = " + ".join(
        f"(CAST({instr_fn}('{_CK_HEX}',"
        f" substring(md5({row_str}), {k}, 1)) AS BIGINT) - 1)"
        f" * {16 ** (8 - k)}"
        for k in range(1, 9)
    )
    return f"({terms})"


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint — the cross-environment
    equality audit run after a migration/backfill: each row canonicalizes
    to a '|'-joined string (floats carried as cents-scaled integers —
    raw double-to-string formatting is NOT portable across engines), the
    row hashes to an int64, and the table fingerprint is the SUM of row
    hashes plus the row count.  Any changed/missing/extra row moves the
    sum; row order and partitioning never do (sum is commutative), so
    two engines — or two clusters — can compare tables without sorting
    or co-locating anything.

    Scale: pure map-side projection + one global 2-cell reduce per
    table; the cheapest possible full-table integrity check, and the
    complement of table_diff (which names the differing keys once this
    checksum says they differ).
    """
    specs = {
        "orders": (
            "concat_ws('|', cast(o_orderkey as string), o_orderstatus,"
            " o_orderpriority,"
            " cast(cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            " as string))"
        ),
        "customer": (
            "concat_ws('|', cast(c_custkey as string), c_name,"
            " c_mktsegment, cast(c_nationkey as string))"
        ),
        "nation": (
            "concat_ws('|', cast(n_nationkey as string), n_name,"
            " cast(n_regionkey as string))"
        ),
    }
    outs = []
    for name, row_str in specs.items():
        t = table(spark, sf_dir, name)
        outs.append(
            t.select(
                F.expr(_ck_expr(row_str, "instr")).alias("h")
            ).agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("h").cast("long").alias("checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


QUERIES = {
    "table_checksum": table_checksum,
    "table_diff": table_diff,
    "layout_bucket_agg": layout_bucket_agg,
    "dq_audit": dq_audit,
    "scd2_build": scd2_build,
    "scd2_correction": scd2_correction,
    "join_dim_snapshot": join_dim_snapshot,
    "agg_incremental": agg_incremental,
    "join_bloom": join_bloom,
    "fn_bitmap": fn_bitmap,
    "layout_compaction": layout_compaction,
}

def _checksum_oracle() -> str:
    branches = []
    for name, row_str in {
        "orders": (
            "concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,"
            " o_orderpriority,"
            " CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            " AS VARCHAR))"
        ),
        "customer": (
            "concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,"
            " c_mktsegment, CAST(c_nationkey AS VARCHAR))"
        ),
        "nation": (
            "concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name,"
            " CAST(n_regionkey AS VARCHAR))"
        ),
    }.items():
        branches.append(
            f"SELECT '{name}' AS table_name,"
            f" CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(SUM({_ck_expr(row_str, 'strpos')}) AS BIGINT)"
            f" AS checksum FROM {name}"
        )
    return " UNION ALL ".join(branches)


ORACLE = {
    "table_checksum": _checksum_oracle(),
    "table_diff": """
        WITH o AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        ),
        a AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
        b AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS o_totalprice,
                   CASE WHEN o_orderkey % 5 = 0 THEN 'U'
                        ELSE o_orderstatus END AS o_orderstatus
            FROM o WHERE o_orderkey % 11 <> 0
        ),
        j AS (
            SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                   CASE
                       WHEN a.o_totalprice IS NULL THEN 'added'
                       WHEN b.o_totalprice IS NULL THEN 'removed'
                       WHEN a.o_totalprice <> b.o_totalprice
                            OR a.o_orderstatus <> b.o_orderstatus
                           THEN 'changed'
                       ELSE 'unchanged'
                   END AS change,
                   a.o_totalprice AS old_price, b.o_totalprice AS new_price,
                   a.o_orderstatus AS old_status, b.o_orderstatus AS new_status
            FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
        )
        SELECT * FROM j WHERE change <> 'unchanged'
    """,
    "dq_audit": """
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
            (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_events,
            (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
                AS n_orphan_lineitem,
            (SELECT CAST(count(*) AS BIGINT) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
                AS n_orphan_orders,
            (SELECT CAST(count(*) AS BIGINT) FROM events
             WHERE value IS NULL) AS n_null_value,
            (SELECT CAST(count(*) AS BIGINT) FROM orders
             WHERE o_totalprice <= 0) AS n_nonpos_price,
            ((SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) = 0
             AND
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) = 0)
                AS ref_integrity_ok,
            ((SELECT count(*) FROM orders WHERE o_totalprice <= 0) = 0)
                AS ranges_ok
    """,
    "layout_bucket_agg": f"""
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
               {sql_dsum('l_extendedprice')} AS total_price,
               TRUE AS bucketed_no_shuffle
        FROM lineitem GROUP BY l_suppkey
    """,
    "scd2_build": """
        WITH ch AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_type AS state, ts AS effective_from,
               lead(ts) OVER w AS effective_to,
               CAST(row_number() OVER w AS INTEGER) AS version,
               (lead(ts) OVER w IS NULL) AS is_current
        FROM ch
        WHERE prev IS NULL OR prev <> event_type
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    # correction-equals-rebuild: the incremental splice must hash-match
    # the FULL rebuild over the complete log (scd2_build's own SQL)
    "scd2_correction": """
        WITH ch AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_type AS state, ts AS effective_from,
               lead(ts) OVER w AS effective_to,
               CAST(row_number() OVER w AS INTEGER) AS version,
               (lead(ts) OVER w IS NULL) AS is_current
        FROM ch
        WHERE prev IS NULL OR prev <> event_type
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "join_dim_snapshot": """
        WITH ch AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        dim AS (
            SELECT user_id, event_type AS state, ts AS effective_from,
                   lead(ts) OVER w AS effective_to,
                   CAST(row_number() OVER w AS INTEGER) AS version
            FROM ch
            WHERE prev IS NULL OR prev <> event_type
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT f.event_id, f.user_id, f.ts,
               d.state AS state_at, d.version AS version_at
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') f
        LEFT JOIN dim d
          ON d.user_id = f.user_id
         AND d.effective_from <= f.ts
         AND (d.effective_to IS NULL OR f.ts < d.effective_to)
    """,
    "agg_incremental": f"""
        WITH partial AS (
            SELECT event_type, event_id % 2 AS shard,
                   count(*) AS pn,
                   SUM(CAST(value AS DECIMAL(18,6))) AS psum,
                   min(value) AS pmin, max(value) AS pmax
            FROM {SQL_FINITE_EVENTS} events GROUP BY event_type, event_id % 2
        ),
        merged AS (
            SELECT event_type, CAST(SUM(pn) AS BIGINT) AS n_events,
                   CAST(SUM(psum) AS DOUBLE) AS sum_value,
                   min(pmin) AS min_value, max(pmax) AS max_value
            FROM partial GROUP BY event_type
        ),
        direct AS (
            SELECT event_type, count(*) AS dn,
                   {sql_dsum('value')} AS dsum_value,
                   min(value) AS dmin, max(value) AS dmax
            FROM {SQL_FINITE_EVENTS} events GROUP BY event_type
        )
        SELECT m.event_type, n_events, sum_value, min_value, max_value,
               (n_events = dn) AS count_matches,
               (sum_value = dsum_value) AS sum_matches,
               (min_value = dmin AND max_value = dmax) AS bounds_match
        FROM merged m JOIN direct d ON m.event_type = d.event_type
    """,
    "join_bloom": f"""
        WITH dim AS (
            SELECT p_partkey FROM part WHERE p_brand = '{_BLOOM_BRAND}'
        ),
        dimb AS (
            SELECT DISTINCT substring(md5(CAST(p_partkey AS VARCHAR)), 1,
                                      {_BLOOM_HEX}) AS bkt
            FROM dim
        ),
        cand AS (
            SELECT l.l_partkey, l.l_quantity
            FROM lineitem l
            JOIN dimb ON substring(md5(CAST(l.l_partkey AS VARCHAR)), 1,
                                   {_BLOOM_HEX}) = dimb.bkt
        ),
        j AS (
            SELECT count(*) AS n_joined,
                   {sql_dsum('l_quantity')} AS sum_qty
            FROM cand JOIN dim ON cand.l_partkey = dim.p_partkey
        )
        SELECT (SELECT count(*) FROM lineitem) AS n_fact,
               (SELECT count(*) FROM cand) AS n_candidates,
               n_joined, sum_qty,
               ((SELECT count(*) FROM cand) >= n_joined) AS no_false_negatives
        FROM j
    """,
    "fn_bitmap": """
        WITH words AS (
            SELECT event_type, user_id // 63 AS word_idx,
                   bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS mask
            FROM events GROUP BY event_type, user_id // 63
        ),
        bm AS (
            SELECT event_type,
                   CAST(SUM(bit_count(mask)) AS BIGINT) AS n_users_bitmap,
                   count(*) AS n_words
            FROM words GROUP BY event_type
        ),
        ex AS (
            SELECT event_type, count(DISTINCT user_id) AS n_users_exact
            FROM events GROUP BY event_type
        )
        SELECT bm.event_type, n_users_bitmap, n_users_exact, n_words,
               (n_users_bitmap = n_users_exact) AS bitmap_exact
        FROM bm JOIN ex ON bm.event_type = ex.event_type
    """,
    "layout_compaction": """
        SELECT count(*) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum,
               CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
               CAST(LEAST(64, count(*)) AS INTEGER) AS n_files_small,
               true AS compacted_le_4,
               (count(*) > 4) AS files_reduced
        FROM documents
    """,
}
