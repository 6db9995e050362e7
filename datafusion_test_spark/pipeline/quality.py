"""Corpus quality gating + dataset assembly operators (training-data tier,
BASELINE.json:6 — the filter/split/audit steps between cleaned text and
training shards).

- text_quality_gopher   Gopher-style heuristic quality flags (repetition,
                        word-length, top-word dominance — Rae et al. 2021,
                        "Scaling Language Models", App. A1.1) as integer-
                        exact per-document booleans (SQL oracle)
- split_train_holdout   deterministic md5-draw train/val/test split — the
                        reproducible-under-retry split assignment that
                        rand() cannot give on an elastic cluster (SQL oracle)
- agg_heavy_hitters     frequent-key report over the events stream: the
                        exact two-phase heavy-hitter query (SQL oracle)

Scale design (100 TB):

* text_quality_gopher — every signal except top-word dominance is a single
  columnar projection over the scan (split/array_distinct/regexp_replace
  run inside whole-stage codegen; no shuffle, no UDF).  Top-word dominance
  explodes words → two-level aggregation; partial map-side combine keeps
  the shuffle at O(distinct (doc, word)) and the doc_id re-join is
  co-partitioned with the aggregation output.  Thresholds are integer
  cross-multiplications (10*top_cnt <= n_words), never float ratios, so
  the booleans are bit-identical on any engine at any scale.
* split_train_holdout — the split is a pure map-side function of doc_id
  (md5 prefix vs fixed hex thresholds): no shuffle is spent on assignment;
  the only shuffle is the tiny audit aggregate.  On a real pipeline the
  split column becomes the partition column of the shard write, and any
  executor retry recomputes the same assignment.
* agg_heavy_hitters — one shuffle of distinct keys with map-side partial
  aggregation; the total-row count joins in as a broadcast single row.
  When the keyspace itself doesn't fit (per-URL counting at crawl scale),
  swap the exact groupBy for a per-partition space-saving sketch +
  merge — same surface, sketched carrier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import (
    DEC,
    ascii_lower,
    finite,
    half_up,
    sql_ascii_lower,
    sql_dsum,
    sql_half_up,
)
from ._expr import sql_indexed_unnest
from ..io import SQL_FINITE_EVENTS, table

# Quality thresholds, chosen to discriminate on the synthetic corpus
# (doc-level medians: distinct-ratio 0.46, mean word len 4.5, top-word
# fraction 0.093).  All applied as integer cross-multiplications.
_MIN_WORDS = 20          # n_words >= 20
_DISTINCT_20X = 9        # 20*n_distinct >= 9*n_words  (distinct ratio >= 0.45)
_MWL_LO = 4              # n_alpha >= 4*n_words        (mean word len >= 4)
_MWL_HI = 10             # n_alpha <= 10*n_words       (mean word len <= 10)
_TOP_10X = 1             # 10*top_cnt <= 1*n_words     (top-word share <= 10%)

# split_train_holdout md5-prefix thresholds: 80% / 10% / 10%.
_TRAIN_HEX = "cccccccc"  # 0.8 * 16^8
_VAL_HEX = "e6666666"    # 0.9 * 16^8


def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher-style quality flags.

    Signals: document length (word count), duplicate-word fraction (the
    all-words repetition analog of Gopher's duplicate-line fraction —
    the corpus is single-line), mean word length band, and top-word
    dominance (most frequent word's share).  Every flag is an integer
    cross-multiplication so both engines agree bitwise.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    base = words.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct_words"),
        F.length(F.array_join("w", "")).alias("n_alpha"),
    )
    top = (
        words.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_cnt"))
    )
    j = base.join(top, "doc_id")
    ok_len = F.col("n_words") >= _MIN_WORDS
    ok_rep = 20 * F.col("n_distinct_words") >= _DISTINCT_20X * F.col("n_words")
    ok_mwl = (F.col("n_alpha") >= _MWL_LO * F.col("n_words")) & (
        F.col("n_alpha") <= _MWL_HI * F.col("n_words")
    )
    ok_top = 10 * F.col("top_word_cnt") <= _TOP_10X * F.col("n_words")
    return j.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "n_alpha",
        "top_word_cnt",
        ok_len.alias("ok_len"),
        ok_rep.alias("ok_repetition"),
        ok_mwl.alias("ok_word_len"),
        ok_top.alias("ok_top_word"),
        (ok_len & ok_rep & ok_mwl & ok_top).alias("pass_quality"),
    )


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split audit.

    Assignment = md5(doc_id) hex prefix vs fixed thresholds (same
    cross-engine draw as pipeline.curation.domain_mix: md5 is
    algorithm-defined, fixed-width lowercase hex compares numerically).
    Returns per-split counts, doc_id range, and the achieved fraction.
    """
    d = table(spark, sf_dir, "documents").select("doc_id")
    draw = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    split = (
        F.when(draw < _TRAIN_HEX, "train")
        .when(draw < _VAL_HEX, "val")
        .otherwise("test")
    )
    tot = d.count()
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            "split",
            "n_docs",
            "min_doc",
            "max_doc",
            # half-up: integer ratio, ties exactly at .xxxx5
            half_up(F.col("n_docs") / F.lit(float(tot))).alias("frac"),
        )
    )


def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: users contributing >= 0.8% of all events,
    ranked by (count desc, user_id asc).  The two-phase shape (map-side
    partial count -> one distinct-key shuffle -> broadcast total join)
    is the plan Catalyst already picks; the 1-row total is a broadcast.
    The global rank window runs over the already-thresholded set, which
    is bounded at 1/threshold rows by construction — never O(keys).
    """
    e = table(spark, sf_dir, "events").select("user_id")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = e.groupBy().agg(F.count(F.lit(1)).alias("total"))
    heavy = counts.join(F.broadcast(total)).filter(
        1000 * F.col("n_events") >= 8 * F.col("total")
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return heavy.select(
        "user_id", "n_events", F.row_number().over(w).alias("hh_rank")
    )


_CHUNK = 32   # tokens per training chunk
_STRIDE = 24  # chunk stride (overlap = _CHUNK - _STRIDE)
_VOCAB_K = 20  # vocabulary size for text_vocab_build


def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking — the context-window sharding step
    of LLM training prep: documents split into 32-token chunks at stride
    24 (8-token overlap keeps boundary context), provenance preserved as
    (doc_id, chunk_idx).  Map-side only: the chunk explode is bounded by
    ceil(tokens/stride) per document and never shuffles; at 100 TB the
    chunk stream feeds seq_pack's bin packing directly.

    Output stays scalar (counts + boundary tokens) — chunk token arrays
    are the payload in production but arrays are not driver-hashable.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    chunks = d.select(
        "doc_id",
        F.size("w").alias("n_words"),
        "w",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("w") - F.lit(1)) / F.lit(_STRIDE)).cast("int"),
            )
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * _STRIDE + 1
    toks = F.slice("w", start, F.lit(_CHUNK))
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(toks).alias("n_tokens"),
        F.element_at("w", start).alias("first_tok"),
        F.element_at(
            "w", F.least(F.col("chunk_idx") * _STRIDE + _CHUNK, F.col("n_words"))
        ).alias("last_tok"),
    )


def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary construction with contiguous ids and a
    corpus OOV (out-of-vocabulary) rate — the tokenizer-table build.  One
    explode + one map-side-combined count shuffle; the rank window runs
    over the K surviving rows.  Coverage (vocab tokens / all tokens) rides
    on every row so the OOV rate is driver-verified.
    """
    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # cut FIRST via TakeOrderedAndProject, derive vocab_id over the <= K
    # survivors — a global window over the full vocabulary would
    # single-partition-sort a relation that grows with the corpus
    # (Heaps' law; the r5 window audit)
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    vocab = (
        words.orderBy(F.desc("freq"), F.asc("word"))
        .limit(_VOCAB_K)
        .withColumn("vocab_id", F.row_number().over(w))
    )
    totals = words.agg(F.sum("freq").alias("n_total"))
    covered = vocab.agg(F.sum("freq").alias("n_covered"))
    cov = F.broadcast(totals).crossJoin(F.broadcast(covered))
    return vocab.crossJoin(cov).select(
        "word",
        "freq",
        "vocab_id",
        half_up(
            F.lit(1.0) - F.col("n_covered") / F.col("n_total").cast("double")
        ).alias("oov_rate"),
    )


_SAMPLE_N = 50  # systematic-sample target size


def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SYSTEMATIC sampling — n_chars-proportional selection with
    zero randomness: a document is selected iff its cumulative-weight
    interval [cum, cum+w) contains a multiple of step = total_weight div
    N.  Equivalent in expectation to weighted reservoir sampling but
    bit-deterministic (integer arithmetic only) — the property that makes
    the sample reproducible across engines, retries, and partitionings,
    where the classic -ln(u)/w exponential-key method depends on libm.

    Distributed shape: the cumulative weight is the same two-phase
    range-partitioned prefix sum as seq_pack/_pack_bins — no global-order
    window; selection is then a per-row integer predicate.
    """
    from .._util import two_phase_prefix

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("wgt")
    )
    pre, totals = two_phase_prefix(d, ["doc_id"], sum_cols=("wgt",))
    cum = (
        pre.withColumnRenamed("pre_wgt", "cum")
        .crossJoin(F.broadcast(totals))
        .withColumn("step", F.expr(f"tot_wgt DIV {_SAMPLE_N}"))
    )
    # [cum, cum+wgt) contains a multiple of step
    # <=> (cum + wgt - 1) div step > (cum - 1) div step  (cum >= 1 case)
    # handle cum = 0 (first row) explicitly: 0 is a multiple of step
    selected = cum.filter(
        (F.col("cum") == 0)
        | (
            F.expr("(cum + wgt - 1) DIV step") > F.expr("(cum - 1) DIV step")
        )
    )
    return selected.select("doc_id", "wgt", "cum")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a NEW batch (doc_id % 5 >= 3) checked
    against the historical corpus index (doc_id % 5 < 3) by exact text
    key — the daily-crawl shape where only the delta is fingerprinted and
    the history is a persisted index joined by hash key, never rescanned
    as text.  Left join against the index's min-doc_id representative;
    at scale the index side is bucketed on the text hash so the probe is
    shuffle-free (join_bucketed's layout).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 5 < 3)
    new = d.filter(F.col("doc_id") % 5 >= 3)
    index = old.groupBy("text").agg(F.min("doc_id").alias("dup_of"))
    return new.join(index, "text", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )


_LM_UNSEEN_PCT = 300  # low-quality when 1000*n_unseen >= 300*n_bigrams (30%)


def lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model quality gate — the perplexity-filter shape
    (score documents against a model trained on a DIFFERENT slice) with an
    integer-exact statistic: a scored doc's word bigram is "unseen" if the
    reference half of the corpus (even doc_ids) never produced it, and the
    doc is flagged low-quality when >= 30% of its bigrams are unseen.
    Counting unseen bigrams instead of summing log-probs keeps the gate
    bit-identical cross-engine (same discipline as text_ngram_lm's
    rational surprise: log() is not correctly-rounded libm).

    Scale shape: the reference bigram table is O(corpus vocabulary²-ish) —
    joined DISTRIBUTIVELY (left join on the bigram key, map-side combined
    distinct on both sides), never broadcast; at 100 TB the reference
    table is trained once and persisted bucketed on (w1, w2), making the
    nightly scoring join shuffle-free on the model side.  The threshold is
    an integer cross-multiplication, no float ratio.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = d.select("doc_id", F.split(ascii_lower("text"), " ").alias("w"))
    bi = w.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 1),
                    lambda i: F.struct(
                        F.element_at("w", i).alias("w1"),
                        F.element_at("w", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    ref = (
        bi.filter(F.col("doc_id") % 2 == 0).select("w1", "w2").distinct()
        .withColumn("seen", F.lit(1))
    )
    scored = (
        bi.filter(F.col("doc_id") % 2 == 1)
        .join(ref, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count(F.when(F.col("seen").isNull(), 1)).alias("n_unseen"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_unseen",
        (1000 * F.col("n_unseen") >= _LM_UNSEEN_PCT * F.col("n_bigrams")).alias(
            "low_quality"
        ),
    )


def drift_ks(spark: SparkSession, sf_dir: str, par: int | None = None) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the `view`
    and `click` event-value distributions — the data-quality monitor that
    gates a training pipeline on "did today's feed drift from yesterday's".
    The statistic is exact and integer-carried: D = max |F_a - F_b| is
    computed as max |cum_a·n_b - cum_b·n_a| (an integer), divided once at
    the end — no float CDF accumulation, so both engines agree bitwise.

    Scale shape: duplicate values collapse in one map-side-combined
    groupBy; the cumulative counts then use the two-phase range-partitioned
    prefix sum (same idiom as sample_systematic/seq_pack) — local window
    per range partition + an offsets window over #partitions rows — never
    a global single-partition ORDER BY window.  The final max is a plain
    aggregate.  (Carrier note: cum·n products stay < 2^63 up to ~3·10⁹
    rows per side; past that, rescale one side by sampling — the statistic
    is a fraction, not a count.)
    """
    from .._util import two_phase_prefix

    e = table(spark, sf_dir, "events").select("event_type", "value")
    # NULLs are excluded EXPLICITLY: Spark windows order NULL first while
    # DuckDB orders NULL last, so a null measurement would shift every
    # cumulative count differently per engine — and a CDF over "no
    # reading" is meaningless anyway (mirrored in the oracle's WHERE)
    u = e.filter(
        F.col("event_type").isin("view", "click")
        & F.col("value").isNotNull()
    ).select(
        "value",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ib"),
    )
    g = u.groupBy("value").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    # par injectable for the partition-count-invariance test
    pre, totals = two_phase_prefix(g, ["value"], sum_cols=("ca", "cb"), par=par)
    diffs = pre.crossJoin(F.broadcast(totals)).select(
        F.col("tot_ca").alias("na"),
        F.col("tot_cb").alias("nb"),
        F.abs(
            (F.col("pre_ca") + F.col("ca")) * F.col("tot_cb")
            - (F.col("pre_cb") + F.col("cb")) * F.col("tot_ca")
        ).alias("diff"),
    )
    return diffs.groupBy("na", "nb").agg(F.max("diff").alias("d")).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("d").cast("long").alias("d_num"),
        half_up(
            F.col("d") / (F.col("na") * F.col("nb")).cast("double"), 6
        ).alias("ks_stat"),
    )


_PSI_N_BUCKETS = 10
# frozen ln table, eval_ndcg's discipline: ln(k)·10⁶ for k = 1..100,
# computed ONCE at import and inlined into BOTH the Spark plan and the
# oracle SQL — the engines share the constants, so no runtime libm ever
# enters the hash contract (ln(p/q) = ln(pct_p) - ln(pct_q); the /100
# share scaling cancels in the difference)
_PSI_LN6 = [round(__import__("math").log(k) * 1_000_000) for k in range(1, 101)]


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the events timeline, per value bucket — the production-monitoring
    standard next to drift_ks's hypothesis statistic: PSI's per-bucket
    contributions TELL YOU WHERE the distribution moved, and the fixed
    0.1/0.25 thresholds make it an alerting primitive.

    Deterministic construction end to end: the window split is the
    integer midpoint of the event-time range; buckets are 10 fixed-width
    cells over the finite value range (one IEEE multiply+divide — exact
    cross-engine, unlike quantile buckets); shares quantize to integer
    PERCENT with a floor-of-+0.5 half-up and the standard epsilon clamp
    (0% → 1%, PSI's log(0) guard); and ln comes from the frozen
    _PSI_LN6 table, so each bucket's contribution
    (pct_ref - pct_cur)·(ln6[pct_ref] - ln6[pct_cur]) is INTEGER
    arithmetic.  psi_contrib rescales once at the end (half-up, 6dp).

    Scale shape: one bounds aggregate (broadcast back), one map-side-
    combined groupBy(bucket) over the fact scan, and a 10-row tail — the
    same two-pass profile as any min/max feature scan; nothing global,
    nothing quadratic.  Windows with no data on either side emit no rows
    (a half with zero observations has no distribution to compare —
    drift_timeline's empty-day NULL is the per-day variant of the same
    contract).
    """
    base = (
        table(spark, sf_dir, "events")
        .select(F.unix_micros("ts").alias("us"), finite("value").alias("v"))
        .filter(F.col("v").isNotNull() & F.col("us").isNotNull())
    )
    bounds = base.agg(
        F.min("us").alias("lo_us"),
        F.max("us").alias("hi_us"),
        F.min("v").alias("lo_v"),
        F.max("v").alias("hi_v"),
    )
    t = base.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("us") <= F.expr("(lo_us + hi_us) div 2"), 1)
        .otherwise(0)
        .alias("is_ref"),
        F.when(
            F.col("hi_v") > F.col("lo_v"),
            F.least(
                F.lit(_PSI_N_BUCKETS - 1),
                F.floor(
                    (F.col("v") - F.col("lo_v"))
                    * float(_PSI_N_BUCKETS)
                    / (F.col("hi_v") - F.col("lo_v"))
                ).cast("int"),
            ),
        )
        .otherwise(0)
        .alias("bucket"),
    )
    c = t.groupBy("bucket").agg(
        F.sum("is_ref").alias("a"), F.sum(1 - F.col("is_ref")).alias("b")
    )
    tot = c.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    ln6 = F.array(*[F.lit(int(x)) for x in _PSI_LN6])
    pct = lambda cnt, n: F.greatest(  # noqa: E731 — local twin of the SQL
        F.lit(1), F.floor(cnt * 100.0 / n + 0.5).cast("int")
    )
    scored = (
        c.crossJoin(F.broadcast(tot))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "bucket",
            F.col("a").cast("long").alias("n_ref"),
            F.col("b").cast("long").alias("n_cur"),
            pct(F.col("a"), F.col("na")).alias("pct_ref"),
            pct(F.col("b"), F.col("nb")).alias("pct_cur"),
        )
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            "pct_ref",
            "pct_cur",
            (
                (F.col("pct_ref") - F.col("pct_cur")).cast("long")
                * (
                    F.element_at(ln6, F.col("pct_ref"))
                    - F.element_at(ln6, F.col("pct_cur"))
                )
            ).alias("contrib_scaled"),
        )
    )
    return scored.withColumn(
        "psi_contrib", half_up(F.col("contrib_scaled") / F.lit(1e8), 6)
    )


def drift_timeline(
    spark: SparkSession, sf_dir: str, par: int | None = None
) -> DataFrame:
    """drift_ks unrolled over time: one independent two-sample KS
    statistic (view vs click value distributions) PER DAY — the drift
    monitor a pipeline actually dashboards, where a single day spiking
    flags the bad feed drop.  Same integer carrier as drift_ks
    (D = max |cum_a·n_b − cum_b·n_a|, one divide at the end), now with
    per-day cumulative counts.

    Shape: this is the group_cols= form of the shared two-phase prefix —
    the range key becomes (day, value) so no day ever needs a
    single-partition window even when one day holds billions of rows,
    and the offsets/totals relations stay O(#partitions + #days).  Days
    where either side is empty emit a NULL ks_stat (guarded: the session
    runs ANSI mode) rather than dropping the row — a day with zero
    clicks IS the alarm.
    """
    from .._util import half_up, two_phase_prefix

    e = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    u = e.filter(
        F.col("event_type").isin("view", "click")
        & F.col("value").isNotNull()
    ).select(
        "day",
        "value",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ib"),
    )
    g = u.groupBy("day", "value").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    pre, totals = two_phase_prefix(
        g, ["value"], sum_cols=("ca", "cb"), group_cols=("day",), par=par
    )
    diffs = pre.join(F.broadcast(totals), "day").select(
        "day",
        F.col("tot_ca").alias("na"),
        F.col("tot_cb").alias("nb"),
        F.abs(
            (F.col("pre_ca") + F.col("ca")) * F.col("tot_cb")
            - (F.col("pre_cb") + F.col("cb")) * F.col("tot_ca")
        ).alias("diff"),
    )
    return diffs.groupBy("day", "na", "nb").agg(
        F.max("diff").alias("d")
    ).select(
        "day",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("d").cast("long").alias("d_num"),
        F.when(
            F.col("na") * F.col("nb") > 0,
            half_up(
                F.col("d") / (F.col("na") * F.col("nb")).cast("double"), 6
            ),
        ).alias("ks_stat"),
    )


# text_repetition thresholds (Gopher App. A1.1 uses char fractions of the
# most frequent n-gram; carried here as word-count shares with integer
# cross-multiplications): top-2-gram share <= 20%, top-3-gram share <= 18%.
_REP2_NUM, _REP2_DEN = 1, 5   # 2*top2/n <= 1/5   <=> 10*top2 <= n... (x2 folded)
_REP3_NUM, _REP3_DEN = 9, 50  # 3*top3/n <= 9/50  <=> 150*top3 <= 9*n


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram repetition signals — the Gopher repetition
    filters text_quality_gopher does not cover: the share of words inside
    the most frequent word 2-gram / 3-gram.  A doc dominated by one
    repeated phrase fails.  Thresholds are integer cross-multiplications
    (2·2gram_cnt·5 <= n_words etc.) so the booleans are bit-exact.

    Plan: n-grams are built positionally (transform over sequence — NOT
    distinct'd, repetition is the signal), exploded, counted per (doc,
    gram) with map-side combine, maxed per doc.  Docs shorter than the
    gram width contribute zero counts via the left join + coalesce.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    base = d.select("doc_id", F.size("w").alias("n_words"), "w")

    def grams(n: int):
        return base.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("w") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - (n - 1)),
                        lambda i: F.concat_ws(
                            " ", *[F.element_at("w", i + k) for k in range(n)]
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )

    def top(n: int, alias: str):
        return (
            grams(n)
            .groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(F.max("c").alias(alias))
        )

    j = (
        base.select("doc_id", "n_words")
        .join(top(2, "top2_cnt"), "doc_id", "left")
        .join(top(3, "top3_cnt"), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("top2_cnt", F.lit(0)).alias("top2_cnt"),
            F.coalesce("top3_cnt", F.lit(0)).alias("top3_cnt"),
        )
    )
    ok2 = 2 * _REP2_DEN * F.col("top2_cnt") <= _REP2_NUM * F.col("n_words")
    ok3 = 3 * _REP3_DEN * F.col("top3_cnt") <= _REP3_NUM * F.col("n_words")
    return j.select(
        "doc_id",
        "n_words",
        "top2_cnt",
        "top3_cnt",
        ok2.alias("ok_2gram"),
        ok3.alias("ok_3gram"),
        (ok2 & ok3).alias("pass_repetition"),
    )


_KANON_K = 10  # minimum group size for a quasi-identifier release


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the corpus metadata — the aggregate-privacy
    gate next to text_pii_scrub's value-level scrubbing: any
    quasi-identifier group (lang, source) with fewer than k=10 documents
    is suppressed (generalized to '*') before release, so no small cohort
    is identifiable in published per-group statistics.

    One map-side-combined groupBy; the suppression predicate is row-local
    on the group relation (O(distinct QI tuples) rows).  At 100 TB the
    group relation is the tiny side: when a row-level release is
    materialized, the keep-list joins back as a broadcast and the
    suppressed rows either drop or generalize in the same map stage.
    """
    d = table(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    suppressed = F.col("n_docs") < _KANON_K
    return d.select(
        "lang",
        "source",
        "n_docs",
        suppressed.alias("suppressed"),
        # concat (not concat_ws): NULL must propagate exactly like the
        # oracle's `||`, never silently collapse to a colliding bare label
        F.when(
            ~suppressed, F.concat("lang", F.lit("/"), "source")
        ).otherwise("*").alias("released_as"),
    )


_LDIV_L = 3  # minimum distinct sensitive values per released QI group


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the refinement k-anonymity needs: a cohort can
    be large (k-anonymous) yet still leak if everyone in it shares the
    same sensitive value.  Here the quasi-identifier is `lang` and the
    sensitive attribute is `source` (which feed a document came from):
    a language cohort releases only if it spans ≥ l = 3 distinct sources
    AND no single source dominates more than half of it (the simple
    recursive-(c,l) guard with c = 2, stated as the integer
    cross-multiplication 2·top_source ≤ n_docs).

    One groupBy(lang, source) then a per-lang aggregate — the second
    level is O(|langs|) rows; everything map-side combines.
    """
    per = table(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    g = per.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.max("n").alias("top_source_n"),
    )
    diverse = (F.col("n_sources") >= _LDIV_L) & (
        2 * F.col("top_source_n") <= F.col("n_docs")
    )
    return g.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.col("top_source_n").cast("long").alias("top_source_n"),
        diverse.alias("released"),
    )


_PSEUDO_SALT = "dfts-release-2026"


def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization release — replace user identifiers
    with salted-hash pseudonyms while PRESERVING joinability (the
    GDPR-style 'pseudonymised data' release, the complement of
    text_pii_scrub's destructive redaction): every table keyed by the
    same salted md5 still joins, but the raw id never leaves the trusted
    zone.  Output is the released per-pseudonym activity summary plus a
    `no_collisions` audit bit proving the mapping stayed injective on
    this corpus (the release gate).

    Scale: the pseudonym is a map-side expression (no mapping table to
    ship or look up — the salt is the secret); the summary is one
    groupBy on the pseudonym, and the collision audit compares two
    count-distincts sharing the scan.  Rotating the salt per release
    epoch kills cross-release linkability — the standard practice the
    docstring contract encodes.
    """
    e = table(spark, sf_dir, "events")
    p = F.md5(F.concat(F.lit(_PSEUDO_SALT), F.col("user_id").cast("string")))
    t = e.select(p.alias("pseudonym"), "user_id", "event_type", finite("value").alias("value"))
    g = t.groupBy("pseudonym").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )
    audit = t.agg(
        (
            F.countDistinct("pseudonym") == F.countDistinct("user_id")
        ).alias("no_collisions")
    )
    return g.crossJoin(F.broadcast(audit)).select(
        "pseudonym",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        "total_value",
        "no_collisions",
    )


QUERIES = {
    "privacy_pseudonymize": privacy_pseudonymize,
    "privacy_k_anonymity": privacy_k_anonymity,
    "privacy_l_diversity": privacy_l_diversity,
    "drift_ks": drift_ks,
    "drift_psi": drift_psi,
    "drift_timeline": drift_timeline,
    "text_repetition": text_repetition,
    "lm_quality_filter": lm_quality_filter,
    "text_quality_gopher": text_quality_gopher,
    "split_train_holdout": split_train_holdout,
    "agg_heavy_hitters": agg_heavy_hitters,
    "text_chunk_overlap": text_chunk_overlap,
    "text_vocab_build": text_vocab_build,
    "dedup_incremental": dedup_incremental,
    "sample_systematic": sample_systematic,
}

_SQL_KS_RATIO = sql_half_up(
    "CAST(max(abs(cum_a * t.nb - cum_b * t.na)) AS DOUBLE) / (t.na * t.nb)",
    6,
)

_PSI_LN6_SQL = "[" + ", ".join(str(int(x)) for x in _PSI_LN6) + "]"

ORACLE = {
    "privacy_pseudonymize": f"""
        WITH t AS (
            SELECT md5('{_PSEUDO_SALT}' || CAST(user_id AS VARCHAR))
                       AS pseudonym,
                   user_id, event_type, value
            FROM {SQL_FINITE_EVENTS} events
        ),
        g AS (
            SELECT pseudonym,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   {sql_dsum("value")} AS total_value
            FROM t GROUP BY pseudonym
        ),
        audit AS (
            SELECT (count(DISTINCT pseudonym) = count(DISTINCT user_id))
                       AS no_collisions
            FROM t
        )
        SELECT pseudonym, n_events, n_types, total_value, no_collisions
        FROM g CROSS JOIN audit
    """,
    "privacy_k_anonymity": f"""
        SELECT lang, source, count(*) AS n_docs,
               (count(*) < {_KANON_K}) AS suppressed,
               CASE WHEN count(*) >= {_KANON_K}
                    THEN lang || '/' || source ELSE '*' END AS released_as
        FROM documents GROUP BY lang, source
    """,
    "privacy_l_diversity": f"""
        WITH per AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        )
        SELECT lang,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_sources,
               CAST(max(n) AS BIGINT) AS top_source_n,
               (count(*) >= {_LDIV_L} AND 2 * max(n) <= SUM(n)) AS released
        FROM per GROUP BY lang
    """,
    # same frozen-ln6 integer construction; the f-string inlines the
    # identical _PSI_LN6 constants the Spark plan carries
    "drift_psi": f"""
        WITH base AS (
            SELECT epoch_us(ts) AS us, value AS v
            FROM {SQL_FINITE_EVENTS} events
            WHERE value IS NOT NULL AND ts IS NOT NULL
        ),
        bounds AS (
            SELECT min(us) lo_us, max(us) hi_us, min(v) lo_v, max(v) hi_v
            FROM base
        ),
        t AS (
            SELECT CASE WHEN us <= (lo_us + hi_us) // 2 THEN 1 ELSE 0 END
                       AS is_ref,
                   CASE WHEN hi_v > lo_v
                        THEN least({_PSI_N_BUCKETS - 1}, CAST(floor(
                            (v - lo_v) * {_PSI_N_BUCKETS}.0 / (hi_v - lo_v)
                        ) AS INT))
                        ELSE 0 END AS bucket
            FROM base, bounds
        ),
        c AS (
            SELECT bucket, CAST(SUM(is_ref) AS BIGINT) a,
                   CAST(SUM(1 - is_ref) AS BIGINT) b
            FROM t GROUP BY bucket
        ),
        tot AS (SELECT CAST(SUM(a) AS BIGINT) na, CAST(SUM(b) AS BIGINT) nb
                FROM c),
        p AS (
            SELECT bucket, a AS n_ref, b AS n_cur,
                   greatest(1, CAST(floor(a * 100.0 / na + 0.5) AS INT))
                       AS pct_ref,
                   greatest(1, CAST(floor(b * 100.0 / nb + 0.5) AS INT))
                       AS pct_cur
            FROM c, tot WHERE na > 0 AND nb > 0
        )
        SELECT bucket, n_ref, n_cur, pct_ref, pct_cur,
               CAST((pct_ref - pct_cur) *
                    ({_PSI_LN6_SQL}[pct_ref] - {_PSI_LN6_SQL}[pct_cur])
                    AS BIGINT) AS contrib_scaled,
               {sql_half_up("((pct_ref - pct_cur) * " + f"({_PSI_LN6_SQL}[pct_ref] - {_PSI_LN6_SQL}[pct_cur])" + ") / 1e8", 6)}
                   AS psi_contrib
        FROM p
    """,
    "drift_ks": f"""
        WITH u AS (
            SELECT value,
                   CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                        AS BIGINT) AS ia,
                   CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                        AS BIGINT) AS ib
            FROM events
            WHERE event_type IN ('view', 'click') AND value IS NOT NULL
        ),
        g AS (
            SELECT value, CAST(SUM(ia) AS BIGINT) AS ca,
                   CAST(SUM(ib) AS BIGINT) AS cb
            FROM u GROUP BY value
        ),
        t AS (
            SELECT CAST(SUM(ia) AS BIGINT) AS na,
                   CAST(SUM(ib) AS BIGINT) AS nb FROM u
        ),
        c AS (
            SELECT CAST(SUM(ca) OVER (ORDER BY value) AS BIGINT) AS cum_a,
                   CAST(SUM(cb) OVER (ORDER BY value) AS BIGINT) AS cum_b
            FROM g
        )
        SELECT t.na AS n_a, t.nb AS n_b,
               CAST(max(abs(cum_a * t.nb - cum_b * t.na)) AS BIGINT) AS d_num,
               {_SQL_KS_RATIO} AS ks_stat
        FROM c, t GROUP BY t.na, t.nb
    """,
    "drift_timeline": f"""
        WITH u AS (
            SELECT CAST(ts AS DATE) AS day, value,
                   CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                        AS BIGINT) AS ia,
                   CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                        AS BIGINT) AS ib
            FROM events
            WHERE event_type IN ('view', 'click') AND value IS NOT NULL
        ),
        g AS (
            SELECT day, value, CAST(SUM(ia) AS BIGINT) AS ca,
                   CAST(SUM(ib) AS BIGINT) AS cb
            FROM u GROUP BY day, value
        ),
        t AS (
            SELECT day, CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb
            FROM g GROUP BY day
        ),
        c AS (
            SELECT day,
                   CAST(SUM(ca) OVER (
                       PARTITION BY day ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_a,
                   CAST(SUM(cb) OVER (
                       PARTITION BY day ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_b
            FROM g
        )
        SELECT c.day, t.na AS n_a, t.nb AS n_b,
               CAST(max(abs(cum_a * t.nb - cum_b * t.na)) AS BIGINT)
                   AS d_num,
               CASE WHEN t.na * t.nb > 0 THEN {_SQL_KS_RATIO} END
                   AS ks_stat
        FROM c JOIN t ON c.day = t.day
        GROUP BY c.day, t.na, t.nb
    """,
    "text_repetition": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        base AS (SELECT doc_id, len(w) AS n_words, w FROM d),
        g2 AS (
            SELECT doc_id, max(c) AS top2_cnt FROM (
                SELECT doc_id, u.w1 || ' ' || u.w2 AS gram, count(*) AS c
                FROM (SELECT doc_id, {sql_indexed_unnest("text", 2)} AS u FROM documents)
                GROUP BY doc_id, gram
            ) GROUP BY doc_id
        ),
        g3 AS (
            SELECT doc_id, max(c) AS top3_cnt FROM (
                SELECT doc_id, u.w1 || ' ' || u.w2 || ' ' || u.w3 AS gram,
                       count(*) AS c
                FROM (SELECT doc_id, {sql_indexed_unnest("text", 3)} AS u FROM documents)
                GROUP BY doc_id, gram
            ) GROUP BY doc_id
        )
        SELECT b.doc_id, CAST(n_words AS BIGINT) AS n_words,
               CAST(COALESCE(top2_cnt, 0) AS BIGINT) AS top2_cnt,
               CAST(COALESCE(top3_cnt, 0) AS BIGINT) AS top3_cnt,
               (2 * {_REP2_DEN} * COALESCE(top2_cnt, 0)
                    <= {_REP2_NUM} * n_words) AS ok_2gram,
               (3 * {_REP3_DEN} * COALESCE(top3_cnt, 0)
                    <= {_REP3_NUM} * n_words) AS ok_3gram,
               ((2 * {_REP2_DEN} * COALESCE(top2_cnt, 0)
                    <= {_REP2_NUM} * n_words)
                AND (3 * {_REP3_DEN} * COALESCE(top3_cnt, 0)
                    <= {_REP3_NUM} * n_words)) AS pass_repetition
        FROM base b
        LEFT JOIN g2 ON b.doc_id = g2.doc_id
        LEFT JOIN g3 ON b.doc_id = g3.doc_id
    """,
    "lm_quality_filter": f"""
        WITH wd AS (
            SELECT doc_id, string_split({sql_ascii_lower("text")}, ' ') AS w FROM documents
        ),
        bi AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2
            FROM (SELECT doc_id, {sql_indexed_unnest("text", 2, lower=True)} AS u FROM documents)
        ),
        ref AS (
            SELECT DISTINCT w1, w2 FROM bi WHERE doc_id % 2 = 0
        )
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(count(*) FILTER (WHERE r.w1 IS NULL) AS BIGINT) AS n_unseen,
               (1000 * count(*) FILTER (WHERE r.w1 IS NULL)
                    >= {_LM_UNSEEN_PCT} * count(*)) AS low_quality
        FROM bi b
        LEFT JOIN ref r ON b.w1 = r.w1 AND b.w2 = r.w2
        WHERE b.doc_id % 2 = 1
        GROUP BY b.doc_id
    """,
    "text_chunk_overlap": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        -- chunk-index domain derived from the longest document, never a
        -- literal cap: a fixed range would silently truncate long docs
        g AS (
            SELECT unnest(range(0,
                (SELECT max(len(w)) // {_STRIDE} + 1 FROM d))) AS g
        ),
        c AS (
            SELECT doc_id, len(w) AS n_words, w, g AS chunk_idx
            FROM d, g
            WHERE g * {_STRIDE} < len(w)
        )
        SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(len(list_slice(w, chunk_idx * {_STRIDE} + 1,
                    LEAST(chunk_idx * {_STRIDE} + {_CHUNK}, n_words)))
                    AS INTEGER) AS n_tokens,
               w[chunk_idx * {_STRIDE} + 1] AS first_tok,
               w[LEAST(chunk_idx * {_STRIDE} + {_CHUNK}, n_words)] AS last_tok
        FROM c
    """,
    "text_vocab_build": f"""
        WITH words AS (
            SELECT w AS word, count(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        ),
        v AS (
            SELECT word, freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, word ASC)
                        AS INTEGER) AS vocab_id
            FROM words QUALIFY vocab_id <= {_VOCAB_K}
        )
        SELECT word, freq, vocab_id,
               {sql_half_up(
                   "(1.0 - (SELECT SUM(freq) FROM v) "
                   "/ (SELECT CAST(SUM(freq) AS DOUBLE) FROM words))"
               )}
                   AS oov_rate
        FROM v
    """,
    "sample_systematic": f"""
        WITH c AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS wgt,
                   CAST(COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents)
                       // {_SAMPLE_N} AS step
            FROM documents
        )
        SELECT doc_id, wgt, cum
        FROM c
        WHERE cum = 0 OR (cum + wgt - 1) // step > (cum - 1) // step
    """,
    "dedup_incremental": """
        WITH idx AS (
            SELECT text, min(doc_id) AS dup_of
            FROM documents WHERE doc_id % 5 < 3 GROUP BY text
        )
        SELECT d.doc_id, (idx.dup_of IS NOT NULL) AS is_dup, idx.dup_of
        FROM documents d LEFT JOIN idx ON d.text = idx.text
        WHERE d.doc_id % 5 >= 3
    """,
    "text_quality_gopher": f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
                   length(replace(text, ' ', '')) AS n_alpha
            FROM documents
        ),
        tw AS (
            SELECT doc_id, max(c) AS top_word_cnt FROM (
                SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY doc_id, w
            ) GROUP BY doc_id
        )
        SELECT t.doc_id, n_words, n_distinct_words, n_alpha, top_word_cnt,
               (n_words >= {_MIN_WORDS}) AS ok_len,
               (20 * n_distinct_words >= {_DISTINCT_20X} * n_words) AS ok_repetition,
               (n_alpha >= {_MWL_LO} * n_words AND n_alpha <= {_MWL_HI} * n_words)
                   AS ok_word_len,
               (10 * top_word_cnt <= {_TOP_10X} * n_words) AS ok_top_word,
               ((n_words >= {_MIN_WORDS})
                AND (20 * n_distinct_words >= {_DISTINCT_20X} * n_words)
                AND (n_alpha >= {_MWL_LO} * n_words AND n_alpha <= {_MWL_HI} * n_words)
                AND (10 * top_word_cnt <= {_TOP_10X} * n_words)) AS pass_quality
        FROM t JOIN tw ON t.doc_id = tw.doc_id
    """,
    "split_train_holdout": f"""
        WITH s AS (
            SELECT doc_id,
                   CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             < '{_TRAIN_HEX}' THEN 'train'
                        WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             < '{_VAL_HEX}' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc,
               max(doc_id) AS max_doc,
               {sql_half_up("count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM documents)")} AS frac
        FROM s GROUP BY split
    """,
    "agg_heavy_hitters": """
        WITH c AS (
            SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST(row_number() OVER (ORDER BY n_events DESC, user_id ASC)
                    AS INTEGER) AS hh_rank
        FROM c
        WHERE 1000 * n_events >= 8 * (SELECT count(*) FROM events)
    """,
}
