"""Shared helpers for declared operators.

Numeric hash-stability contract (SURVEY §2 note, §7 risk 2): the driver
compares Spark results against DuckDB by order-insensitive value-hash, so
float aggregates must be *bit-identical* across engines.  Summing doubles is
order-dependent; Spark's partial/final aggregation and DuckDB's parallel sum
can disagree in the last ulps.  We therefore:

- SUM: cast the addend to DECIMAL(18,6) pre-sum (exact, associative integer
  arithmetic in both engines), cast the result back to double.  The cast
  rounds a 7th-decimal tie HALF_UP on the double's shortest decimal form,
  as Spark does (123456.7890125 -> 123456.789013); DuckDB's own cast rounds
  the binary value instead (-> .789012), so the oracle twin casts through
  that shortest form, VARCHAR (see :func:`sql_dsum`).
- AVG / STDDEV / CORR: round(…, 4) — the error of a mean/variance is
  O(sum_error / n), far below 1e-4 at our scales.
- Alias every computed column identically in Spark code and oracle SQL
  (the driver sorts columns by name before hashing).

At 100 TB these casts are still the right call: decimal sums avoid
nondeterministic reduce orders across thousands of partial aggregates, for a
few % cpu cost inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dsum(col: Column, alias: str) -> Column:
    """Exact, engine-portable SUM of a double expression."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def r4(col: Column, alias: str) -> Column:
    """HALF-UP round to 4 with alias — for avg/stddev-class aggregates.

    Half-up (not engine round): derived means and integer ratios DO land
    exactly on .xxxx5 (dyadic denominators: n/32·10⁴ = k.5), where Spark
    rounds up and DuckDB half-even.  Every oracle twin of an r4 column
    states the same floor(x·10⁴ + 0.5) formula (see :func:`sql_half_up`)."""
    return half_up(col, 4).alias(alias)


def sql_dsum(expr: str) -> str:
    """Oracle-side twin of :func:`dsum` (callers add ``AS alias``).

    The addend goes through its VARCHAR form: DuckDB prints a DOUBLE in its
    shortest round-trip form, the string Spark rounds, and prints BIGINT
    and DECIMAL values exactly.  A FLOAT addend must be cast to DOUBLE
    first, as Spark widens it before the cast."""
    return f"CAST(SUM(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE)"


_SCRATCH_ROOT: list[str] = []


def scratch_dir(prefix: str) -> str:
    """Fresh unique directory under one per-process scratch root that is
    removed at interpreter exit.

    Operators that materialize layouts (bucketed warehouses, compaction
    targets, format round-trips) need a private directory per invocation,
    but a bare ``tempfile.mkdtemp`` per call leaks disk across repeated
    bench/registry runs (ADVICE r3).  Routing every call through one
    atexit-cleaned root keeps per-invocation isolation and bounds the leak
    to a single process lifetime.
    """
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="dfts_scratch_")
        _SCRATCH_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


def two_phase_prefix(
    df,
    order_cols: list[str],
    sum_cols: tuple[str, ...] = (),
    rank_as: str | None = None,
    group_cols: tuple[str, ...] = (),
    par: int | None = None,
):
    """Distributed global prefix state over ``order_cols`` WITHOUT a
    single-partition window — the range-partitioned two-phase idiom shared
    by sample_systematic / drift_ks / pipeline_shuffle / curation._pack_bins
    and the other global rank entries: repartitionByRange on the
    order, a local window per partition, then an offsets window over only
    #partitions rows.  ``par`` is that partition count; ``None`` means a
    quarter of the default parallelism, at least 4.

    Adds ``pre_<col>`` = the EXCLUSIVE global prefix sum for each col in
    ``sum_cols`` and, if ``rank_as``, the 1-based global row number.
    Returns ``(out, totals)`` where ``totals`` is a 1-row frame with
    ``tot_<col>`` / ``tot_rows`` derived from the same per-partition
    aggregates — callers must NOT rescan the input for grand totals.

    ``group_cols`` generalizes the idiom to an independent prefix PER
    GROUP (drift_timeline's per-day CDFs): the range key becomes
    (group, order) so each group's rows stay order-contiguous, the local
    window and the offsets window both partition by the group, and
    ``totals`` becomes one row per group.  The offsets relation grows to
    O(#partitions + #groups) rows — still broadcastable for bounded group
    counts (days, sources, shards); for unbounded groups use a plain
    per-group window instead, which this helper deliberately is not.
    """
    from pyspark.sql import Window as W

    group_cols = tuple(group_cols)
    if par is None:
        par = max(4, df.sparkSession.sparkContext.defaultParallelism // 4)
    # Eagerly materialized: BOTH consumers (the local window and the
    # per-partition totals) must see the SAME range boundaries, but
    # repartitionByRange samples its boundaries at execution time and the
    # two subtrees can re-execute the exchange with different upstream
    # layouts under AQE — observed on eval_auc, where the offsets then
    # paired with the wrong partitions and 2463/3305 prefixes were wrong
    # (exchange REUSE had masked the hazard in the other callers).
    ranged = (
        df.repartitionByRange(par, *group_cols, *order_cols)
        .sortWithinPartitions(*group_cols, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_pre = (
        W.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    out = ranged
    for c in sum_cols:
        out = out.withColumn(
            f"pre_{c}", F.coalesce(F.sum(c).over(w_pre), F.lit(0))
        )
    if rank_as:
        out = out.withColumn(
            "_lrk",
            F.row_number().over(
                W.partitionBy("_pid", *group_cols).orderBy(*order_cols)
            ),
        )
    aggs = [F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    aggs.append(F.count(F.lit(1)).alias("_t_rows"))
    ptot = ranged.groupBy("_pid", *group_cols).agg(*aggs)
    w_off = (
        W.partitionBy(*group_cols) if group_cols else W
    ).orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    off_cols = [
        F.coalesce(F.sum(f"_t_{c}").over(w_off), F.lit(0)).alias(f"_o_{c}")
        for c in sum_cols
    ]
    if rank_as:
        off_cols.append(
            F.coalesce(F.sum("_t_rows").over(w_off), F.lit(0)).alias("_o_rows")
        )
    offs = ptot.select("_pid", *group_cols, *off_cols)
    out = out.join(F.broadcast(offs), ["_pid", *group_cols])
    for c in sum_cols:
        out = out.withColumn(
            f"pre_{c}", F.col(f"pre_{c}") + F.col(f"_o_{c}")
        ).drop(f"_o_{c}")
    if rank_as:
        out = out.withColumn(
            rank_as, (F.col("_lrk") + F.col("_o_rows")).cast("long")
        ).drop("_lrk", "_o_rows")
    t_aggs = [F.sum(f"_t_{c}").alias(f"tot_{c}") for c in sum_cols]
    t_aggs.append(F.sum("_t_rows").alias("tot_rows"))
    totals = (
        ptot.groupBy(*group_cols).agg(*t_aggs)
        if group_cols
        else ptot.agg(*t_aggs)
    )
    return out.drop("_pid"), totals


_INF = float("inf")


def finite(col) -> Column:
    """A measurement that is usable, or NULL: NaN/±Inf map to NULL.

    Non-finite floats are a normal production state at 100 TB — sensor
    glitches, log(0) features, divide-overflow metrics, failed model
    forward passes — and they are OPERATIONALLY absent: you can't train
    on NaN, chart Inf, or alert on either.  Treating them as NULL at the
    operator's observed-rows base gives every downstream aggregate the
    same well-defined semantics the nulls corpus already pinned, and is
    the only portable contract: engines agree NaN poisons a sum, but
    disagree on NaN→decimal casts (DuckDB raises, Spark nulls), NaN in
    approx quantiles, and ANSI float→int casts (Spark raises).  State
    the same rule in the oracle via :func:`sql_finite`.  NULL stays
    NULL (isnan(NULL) is NULL, so the guard passes it through)."""
    if isinstance(col, str):
        col = F.col(col)
    return F.when(
        ~(F.isnan(col) | (col == F.lit(_INF)) | (col == F.lit(-_INF))), col
    )


def sql_finite(expr: str) -> str:
    """Oracle-side twin of :func:`finite`."""
    return f"(CASE WHEN isfinite({expr}) THEN {expr} END)"


def finite_vec(col) -> Column:
    """An embedding that is usable, or NULL: any NaN/±Inf element marks
    the whole vector absent (the failed-forward-pass state) — one bad
    element already poisons every dot product, so partial salvage is
    meaningless.  Mapping to NULL reuses the NULL-embedding handling the
    round-6 nulls corpus proved in every consumer.  A NULL ELEMENT is
    the same class (it already poisons every dot product), and the
    predicate must be null-safe: a bare ``F.exists`` returns NULL (not
    false) for ``[1.0, NULL]``, which would NULL the vector here while
    the oracle's ``list_filter`` drops NULL-predicate elements and KEEPS
    it — so the rule is pinned both sides as "any NULL or non-finite
    element marks the vector absent".  Twin: :func:`sql_finite_vec`."""
    if isinstance(col, str):
        col = F.col(col)
    bad = F.exists(
        col,
        lambda x: x.isNull()
        | F.isnan(x)
        | (x == F.lit(_INF))
        | (x == F.lit(-_INF)),
    )
    return F.when(~bad, col)


def sql_finite_vec(expr: str) -> str:
    """Oracle-side twin of :func:`finite_vec`."""
    return (
        f"(CASE WHEN len(list_filter({expr}, x -> x IS NULL OR "
        f"NOT isfinite(CAST(x AS DOUBLE)))) = 0 THEN {expr} END)"
    )


# Operational time domain for GRID-DERIVING operators (gap-fill,
# resample): a single corrupt out-of-domain timestamp (year 1, 9999, a
# 1582 scan artifact) otherwise makes a min..max time grid materialize
# millions of cells — measured on the round-8 time corpus: rollup_gapfill
# produced a 2.5 GiB driver result and ts_resample_interp hung, from ONE
# bad row per event_type.  The contract mirrors the finite-measurement
# rule: timestamps outside [1900, 2100) are data errors and operationally
# ABSENT for operators whose COST is derived from the observed time
# range.  Point-in-time operators (as-of joins, SCD, plain bucketing)
# deliberately do NOT apply it — they process ancient dates at O(rows).
SANE_TS_LO = "1900-01-01"
SANE_TS_HI = "2100-01-01"


def sane_ts_filter(df, col: str = "ts"):
    """Filter to the operational time domain — applied to the RAW column
    (plain range predicate → parquet row-group pruning stays intact, the
    round-7 finite-guard pushdown lesson).  NULL timestamps drop too (a
    grid cannot anchor on them; twin: :func:`sql_sane_ts_where`)."""
    return df.filter(
        (F.col(col) >= F.lit(SANE_TS_LO).cast("timestamp"))
        & (F.col(col) < F.lit(SANE_TS_HI).cast("timestamp"))
    )


def sql_sane_ts_where(expr: str = "ts") -> str:
    """Oracle-side twin of :func:`sane_ts_filter` (a WHERE fragment)."""
    return (
        f"{expr} >= TIMESTAMP '{SANE_TS_LO}' "
        f"AND {expr} < TIMESTAMP '{SANE_TS_HI}'"
    )


_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col) -> Column:
    """Case normalization that is PORTABLE across engines — A-Z only.

    Full Unicode casing is implementation-defined and the engines
    genuinely disagree (measured on this box, round 7's unicode corpus):
    JVM ``lower('İ')`` = ``'i̇'`` (i + combining dot) vs utf8proc ``'i'``;
    JVM ``upper('ß')`` = ``'SS'`` vs utf8proc ``'ẞ'``; JVM lowercases a
    word-final ``Σ`` to ``ς`` (context rule) where utf8proc maps every
    ``Σ`` to ``σ``.  Any hash contract (dedup keys, token normalization,
    URL hosts — DNS case-insensitivity is ASCII-only by spec anyway) that
    case-folds beyond ASCII is therefore engine-lottery; pin it to the
    26-letter translate both sides via :func:`sql_ascii_lower`."""
    return F.translate(col, _ASCII_UP, _ASCII_LO)


def sql_ascii_lower(expr: str) -> str:
    """Oracle-side twin of :func:`ascii_lower`."""
    return f"translate({expr}, '{_ASCII_UP}', '{_ASCII_LO}')"


def half_up(col: Column, digits: int = 4) -> Column:
    """Explicit HALF-UP rounding — engine-stable where round() is not:
    Spark rounds half-ties up, DuckDB half-even, and derived means /
    interpolated midpoints DO land exactly on .xxxx5 (caught twice by the
    cross-scale sweeps).  State the same formula on both sides via
    :func:`sql_half_up`.

    Domain: finite inputs with |x| < 2^63 / 10^digits (~9.2e14 at the
    default 4).  Outside it, Spark's floor (BIGINT-valued: clamps at
    ±2^63, maps NaN to 0) and DuckDB's (DOUBLE-valued) diverge — fine for
    the ratio/mean/interpolation class this serves, not for raw sums."""
    scale = 10 ** digits
    return F.floor(col * scale + F.lit(0.5)).cast("double") / scale


def sql_half_up(expr: str, digits: int = 4) -> str:
    """Oracle-side twin of :func:`half_up`."""
    scale = 10 ** digits
    return f"CAST(floor(({expr}) * {scale} + 0.5) AS DOUBLE) / {scale}"


def safe_corr(x, y) -> Column:
    """Pearson correlation that is NULL on zero variance, like every other
    SQL engine's ``corr``.

    Spark 4's builtin ``corr`` RAISES DIVIDE_BY_ZERO under ANSI mode when
    either column is constant (found by the round-5 zero-variance corpus
    gate; an ``If`` guard does not help — the aggregate's result
    projection divides regardless).  ``covar_samp / (sx·sy)`` is the same
    statistic over the same central-moment buffers, with the division
    made NULL-safe; any last-ulp ordering difference is absorbed by the
    repo's round-to-4 output convention.

    All three moments are computed over the PAIRWISE-complete rows (both
    inputs non-NULL) — covar_samp skips a pair when either side is NULL,
    but a bare stddev_samp(x) would still include rows where only y is
    NULL, which is not Pearson correlation (caught by the nulls
    degenerate corpus, round 6: sd over a superset of covar's rows).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    pair = xc.isNotNull() & yc.isNotNull()
    xp, yp = F.when(pair, xc), F.when(pair, yc)
    return F.try_divide(
        F.covar_samp(xp, yp), F.stddev_samp(xp) * F.stddev_samp(yp)
    )
