"""Corpus-curation operators over `documents` (training-data tier,
BASELINE.json:6 — the steps between raw crawl and training shards).

- text_contamination  benchmark-contamination check: flag corpus documents
                      sharing a word-5-gram with a (small, broadcast) eval
                      set — the decontamination pass every LLM pipeline
                      runs before training (SQL oracle)
- seq_pack            sequence packing: assign documents, in doc_id order,
                      to fixed token-budget training bins via a
                      DISTRIBUTED prefix sum — no global-order window, so
                      no single-partition bottleneck (SQL oracle)

Scale design (100 TB):

* text_contamination — the eval side is always small (benchmarks are MBs;
  the corpus is TBs), so its n-gram set is broadcast and the probe is a
  map-side BroadcastHashJoin over the exploded corpus n-grams; the only
  shuffle is the final per-document aggregation.  The corpus n-gram
  explode never materializes: it feeds the join directly.
* seq_pack — a global running sum over `ORDER BY doc_id` is the textbook
  single-partition window trap (WindowExec moves ALL rows to one task).
  Instead: range-repartition by doc_id (ranges are ordered by partition
  id), local prefix sums within each range via a pid-partitioned window,
  per-partition totals (a ~#partitions-row aggregate) turned into partition
  offsets, broadcast back, global prefix = offset + local prefix.  Every
  stage is columnar and whole-stage-codegen; the one tiny global window
  runs over #partitions rows, not N.  (At 100 TB the same two-phase scan
  is how you pack shards per range bucket; a mapPartitions carry-over
  would fuse the local phase into the shuffle read but leaves codegen.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import ascii_lower, sql_ascii_lower, sql_half_up
from ..io import table
from ._expr import shingles_of_words, sql_shingles

# Documents leaked verbatim into the corpus under new ids — the planted
# contamination the checker must find (same fixture idiom as dedup._plant_dups).
_LEAK_OFFSET = 20_000_000
_N_EVAL = 20
_N_LEAK = 10

# seq_pack token budget per training bin.
_BIN_TOKENS = 512


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document eval-set contamination report.

    Eval set = the _N_EVAL lowest-doc_id documents (stand-in for a held-out
    benchmark).  _N_LEAK of them are re-planted verbatim under fresh ids —
    leaked eval examples the checker must flag.  A corpus document is
    contaminated iff it shares >= 1 word-5-gram with any eval document;
    output counts shared distinct 5-grams and distinct eval docs hit.
    Eval members themselves are excluded via a broadcast anti-join (they
    match trivially).  5-grams, not 13-grams, because the synthetic docs
    are short — the operator shape is n-independent.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = d.orderBy("doc_id").limit(_N_EVAL)
    leaked = (
        eval_docs.orderBy("doc_id")
        .limit(_N_LEAK)
        .select((F.col("doc_id") + F.lit(_LEAK_OFFSET)).alias("doc_id"), "text")
    )
    corpus = d.unionByName(leaked)

    def grams(df: DataFrame) -> DataFrame:
        w = df.select("doc_id", F.split("text", " ").alias("w"))
        return w.select(
            "doc_id", F.explode(shingles_of_words(F.col("w"), n=5)).alias("g")
        )

    eval_grams = grams(eval_docs).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    hits = (
        grams(corpus)
        .join(eval_docs.select("doc_id"), "doc_id", "left_anti")
        .join(F.broadcast(eval_grams), "g")
    )
    return hits.groupBy("doc_id").agg(
        F.countDistinct("g").alias("n_shared_grams"),
        F.countDistinct("eval_id").alias("n_eval_docs_hit"),
    )


def _pack_bins(
    spark: SparkSession,
    d: DataFrame,
    bin_col: str = "bin_id",
    par: int | None = None,
) -> DataFrame:
    """Two-phase DISTRIBUTED exclusive prefix sum over (doc_id, tok) ->
    token-budget bin assignment (shared by seq_pack and
    pipeline_training_shards so the packing semantics cannot drift).

    Range-repartition by doc_id (ranges ordered by partition id), local
    prefix sums via a pid-partitioned window, per-partition totals turned
    into offsets by a #partitions-row global window, broadcast back.  The
    bin id is a pure function of the logical doc_id order — independent
    of physical partitioning — and NO window ever sees more than a
    partition (the global-ORDER-BY single-partition trap, avoided).
    """
    from .._util import two_phase_prefix

    # the open-coded prefix sum is now the shared helper (it carries the
    # eval_auc range-boundary fix); pre_tok IS the exclusive global prefix
    pre, _totals = two_phase_prefix(d, ["doc_id"], sum_cols=("tok",), par=par)
    packed = pre.withColumn(bin_col, F.expr(f"pre_tok div {_BIN_TOKENS}"))
    return packed.groupBy(bin_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("tok_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents in doc_id order fill
    _BIN_TOKENS-token training bins; bin id = exclusive-prefix-sum(tokens)
    div budget.  Deterministic, and the bin assignment is independent of
    the physical partitioning (the prefix sum is over the logical doc_id
    order; see _pack_bins).  Returns per-bin packing stats.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    return _pack_bins(spark, d)


# Byte budget per export shard for pipeline_shard_binpack (bytes, not
# tokens: multimodal/export shards are IO-sized, not context-sized).
_SHARD_BYTES = 8_000


def pipeline_shard_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-balanced shard packing in size-DESCENDING order — the
    straggler-shard mitigation for size-skewed corpora: seq_pack's
    doc_id-order packing puts whatever sizes arrive together, so one run
    of large documents yields a shard 10× its neighbors and that shard's
    writer/reader straggles the whole stage at 100 TB.  Packing the
    size-sorted stream (next-fit-decreasing, the streaming half of FFD —
    a deterministic total order, unlike true FFD whose per-bin free-list
    is inherently sequential) bounds per-shard overshoot by ONE smallest-
    so-far document and makes shard byte-sums monotone-balanced.

    The prefix sum over (bytes DESC, doc_id) is the same two-phase
    range-partitioned idiom as _pack_bins — no global-order window, no
    single-partition stage.  fill_ratio audits the balance claim: every
    shard except the last lands within [1, 1 + max_doc/budget) of the
    byte budget.
    """
    from .._util import half_up, two_phase_prefix

    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.coalesce(F.octet_length("text"), F.lit(0))
            .cast("long")
            .alias("b"),
        )
        # ascending sort key = bytes DESC (two_phase_prefix ranges
        # ascending); doc_id tie-break keeps equal-size rows total-ordered
        # (dup corpus discipline: 4x clones are all equal-size)
        .withColumn("nb", -F.col("b"))
    )
    pre, _totals = two_phase_prefix(d, ["nb", "doc_id"], sum_cols=("b",))
    packed = pre.withColumn("shard_id", F.expr(f"pre_b div {_SHARD_BYTES}"))
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("b").alias("bytes_sum"),
        F.max("b").alias("max_doc_bytes"),
        half_up(
            F.sum("b").cast("double") / F.lit(float(_SHARD_BYTES))
        ).alias("fill_ratio"),
    )


# Target sampling rate per language for domain_mix: <1 downsamples,
# >1 upsamples (integer copies + a deterministic fractional draw).
_MIX_RATES = {"en": 0.5, "es": 1.0, "de": 2.0, "fr": 1.5, "zh": 0.25}


def _frac_threshold_hex(rate: float) -> str:
    """First-8-hex-chars threshold t such that P[md5_prefix < t] = frac(rate)
    for a uniform hex prefix — the cross-engine deterministic Bernoulli
    draw (md5 is algorithm-defined; both engines emit lowercase hex, and
    lexicographic comparison of fixed-width hex == numeric comparison)."""
    frac = rate - int(rate)
    return format(int(frac * 16**8), "08x")


def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture resampling — hit a target per-language
    rate with md5-draw Bernoulli thinning (rate < 1) and copy explosion
    (rate > 1, integer copies + fractional draw).  This is the mixture-
    weights step of training-data assembly (up-weight scarce domains,
    down-weight the crawl majority), made reproducible: the keep/copy
    decision is a pure function of doc_id, so any re-run (or failure
    retry on another executor) draws the same sample — the property
    rand()-based sampling does NOT give on an elastic cluster.

    Fully map-side until the per-language audit aggregate: no shuffle is
    spent on the resample itself at 100 TB.
    """
    from .._util import half_up

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    draw = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    whole = F.lit(None)
    extra = F.lit(None)
    for lg, r in _MIX_RATES.items():
        whole = F.when(F.col("lang") == lg, F.lit(int(r))).otherwise(whole)
        extra = F.when(
            (F.col("lang") == lg) & (draw < F.lit(_frac_threshold_hex(r))),
            F.lit(1),
        ).otherwise(extra)
    copies = (F.coalesce(whole, F.lit(0)) + F.coalesce(extra, F.lit(0))).alias(
        "copies"
    )
    resampled = (
        d.select("doc_id", "lang", copies)
        .filter(F.col("copies") >= 1)
        .select("doc_id", "lang", F.explode(F.sequence(F.lit(1), F.col("copies"))))
    )
    n_in = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_in"))
    n_out = resampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_out"))
    return n_in.join(n_out, "lang", "left").select(
        "lang",
        "n_in",
        F.coalesce("n_out", F.lit(0)).alias("n_out"),
        # half-up: integer ratio, ties exactly at .xxxx5
        half_up(
            F.coalesce("n_out", F.lit(0)) / F.col("n_in").cast("double")
        ).alias("achieved_rate"),
    )


def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-normalized deduplication — the cheapest, highest-yield dedup
    pass in a web corpus: the same resource crawled under tracking params,
    mixed-case hosts, and fragments collapses to one canonical key.

    Messy URLs are synthesized from document metadata (mixed-case host,
    utm_* tracking params in varying positions, fragments, and a mod-50
    id so true duplicate groups exist); normalization = lowercase scheme+host,
    keep only the meaningful `id` query param, drop fragments.  One hash
    shuffle on the canonical key — same shape as dedup_exact but on a
    normalized O(100-char) key instead of full text, which is why URL
    dedup runs first in production funnels.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".Example.COM/"),
        F.col("lang"),
        F.lit("/doc/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), (F.col("doc_id") % 50).cast("string")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("?id="), (F.col("doc_id") % 50).cast("string"), F.lit("&utm_campaign=x")))
        .otherwise(F.concat(F.lit("?id="), (F.col("doc_id") % 50).cast("string"))),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("#sec"), (F.col("doc_id") % 4).cast("string"))).otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    # ascii_lower, not F.lower: DNS case-insensitivity is ASCII-only by
    # spec (Unicode labels travel as punycode), and full-Unicode casing is
    # engine-lottery (İ/ß/Σ — see _util.ascii_lower; unicode corpus, r7)
    norm = F.concat(
        ascii_lower(F.regexp_extract("url", r"^([a-z]+)://", 1)),
        F.lit("://"),
        ascii_lower(F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1)),
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1),
        F.lit("?id="),
        F.regexp_extract("url", r"[?&]id=([0-9]+)", 1),
    )
    return (
        u.select("doc_id", norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def pipeline_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled training-shard funnel — quality gate -> exact dedup
    -> deterministic split -> token-budget bin packing, i.e. the
    composition of text_quality_gopher, dedup_exact's keep-list,
    split_train_holdout, and seq_pack into the one job a data team
    actually ships.  Each stage reuses the standalone operator's exact
    semantics, so the composite is SQL-oracle-checkable end to end.

    Scale shape: the quality flags and split are map-side; dedup is one
    text-key shuffle; packing is the two-phase distributed prefix sum
    (NO global-order window).  Stages fuse: Catalyst pipelines the gate
    and split into the dedup shuffle's map side.
    """
    from .quality import _TRAIN_HEX, text_quality_gopher

    passing = text_quality_gopher(spark, sf_dir).filter(
        F.col("pass_quality")
    ).select("doc_id", F.col("n_words").alias("tok"))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with_text = passing.join(docs, "doc_id")
    w = Window.partitionBy("text")
    deduped = (
        with_text.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("keeper") == F.col("doc_id"))
        .select("doc_id", "tok")
    )
    draw = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    train = deduped.filter(draw < _TRAIN_HEX)
    return _pack_bins(spark, train, bin_col="shard_id")


def pipeline_shuffle(
    spark: SparkSession, sf_dir: str, par: int | None = None
) -> DataFrame:
    """Deterministic global training-order shuffle — the epoch-0 example
    permutation every trainer needs, as a REPRODUCIBLE pseudorandom order:
    sort key = md5(doc_id) (algorithm-defined, so retries / engines / a
    different partitioning all reproduce it — rand() cannot), position =
    the exact global rank.

    The rank is the two-phase range-partitioned index (local row_number
    per range partition + an offsets window over #partitions rows — the
    seq_pack/sample_systematic idiom), never a single-partition global
    window.  At 100 TB the repartitionByRange on the draw IS the shuffled
    dataset: shard files land in position order and the training loader
    streams them sequentially; re-keying the draw with an epoch salt
    (md5(epoch || doc_id)) gives every epoch a fresh permutation at the
    same cost.
    """
    from .._util import two_phase_prefix

    d = table(spark, sf_dir, "documents").select("doc_id")
    drawn = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("draw")
    )
    # par injectable for the partition-count-invariance test
    ranked, _ = two_phase_prefix(
        drawn, ["draw", "doc_id"], rank_as="pos", par=par
    )
    return ranked.select("doc_id", "draw", "pos")


def pipeline_curriculum_order(
    spark: SparkSession, sf_dir: str, par: int | None = None
) -> DataFrame:
    """Deterministic difficulty-bucket curriculum interleave — the
    curriculum counterpart of :func:`pipeline_shuffle`: instead of one
    global pseudorandom permutation, the training order must (a) mix
    difficulty tiers evenly so every training window sees a balanced
    difficulty distribution (the bucketed-curriculum recipe: strict
    easy→hard sorting destroys i.i.d.-ness within a window and is known
    to destabilize LLM pretraining), and (b) stay REPRODUCIBLE —
    retries, engines, and partitionings must all emit the same order.

    Three integer-exact steps, each a range-partitioned two-phase rank
    (never a single-partition window):
      1. difficulty rank over (n_chars, doc_id) → quartile bucket
         ((rank-1)·4 DIV n — rank-based, so the buckets are balanced on
         ANY length distribution, unlike fixed thresholds);
      2. within-bucket order = the md5(doc_id) draw (pipeline_shuffle's
         algorithm-defined permutation), ranked per bucket
         (two_phase_prefix group_cols — 4 groups, bounded offsets);
      3. global position = rank over (within_rank, bucket): round r
         emits one example from each non-exhausted bucket, easiest tier
         first — the deterministic interleave.
    Documents without a length (NULL n_chars) have no difficulty and are
    excluded by an explicit observed-rows filter.

    Scale (100 TB): three repartitionByRange exchanges, each the
    two-phase prefix idiom (local window per range partition + an
    offsets window over #partitions rows); the bucket spine is a 1-row
    broadcast.  As with pipeline_shuffle, the LAST exchange IS the
    curriculum dataset: shard files land in position order and the
    trainer streams them sequentially; salting the draw with an epoch id
    re-mixes every epoch at the same cost.
    """
    from .._util import two_phase_prefix

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars").isNotNull())
    )
    ranked, totals = two_phase_prefix(
        d, ["n_chars", "doc_id"], rank_as="drank", par=par
    )
    b = (
        ranked.crossJoin(F.broadcast(totals.select("tot_rows")))
        .withColumn("bucket", F.expr("((drank - 1) * 4) div tot_rows"))
        .withColumn("draw", F.md5(F.col("doc_id").cast("string")))
        .select("doc_id", "bucket", "draw")
    )
    within, _ = two_phase_prefix(
        b, ["draw", "doc_id"], rank_as="within_rank",
        group_cols=("bucket",), par=par,
    )
    ordered, _ = two_phase_prefix(
        within.select("doc_id", "bucket", "draw", "within_rank"),
        ["within_rank", "bucket"],
        rank_as="pos",
        par=par,
    )
    return ordered.select("doc_id", "bucket", "draw", "within_rank", "pos")


_EXPORT_ROWS_PER_SHARD = 64


def export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded JSONL delivery — the standard LLM-data handoff format:
    documents in the reproducible md5 training order (pipeline_shuffle's
    permutation), cut into fixed-size shards (shard = rank DIV 64),
    WRITTEN as real JSONL files partitioned by shard, re-read, and
    summarized as the per-shard manifest the consumer checks in
    (shard id, row count, char mass, first/last position).

    The write-then-reread makes the export itself part of the verified
    surface (connectors.py's round-trip discipline): a shard that lost
    or duplicated rows breaks the manifest hash.  Scale: the ranked
    write IS one repartitionByRange pass; shards are directories, so a
    loader streams shard k without touching the rest, and the manifest
    is one groupBy over the re-read.
    """
    import os

    from .._util import scratch_dir, two_phase_prefix

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    drawn = d.withColumn("draw", F.md5(F.col("doc_id").cast("string")))
    ranked, _ = two_phase_prefix(drawn, ["draw", "doc_id"], rank_as="pos")
    sharded = ranked.withColumn(
        "shard", F.expr(f"(pos - 1) DIV {_EXPORT_ROWS_PER_SHARD}")
    )
    out = os.path.join(scratch_dir("dfts_jsonl_"), "export")
    sharded.select("shard", "doc_id", "pos", "n_chars", "text").write.mode(
        "overwrite"
    ).partitionBy("shard").json(out)
    rt = spark.read.schema(
        "doc_id bigint, pos bigint, n_chars bigint, text string, shard int"
    ).json(out)
    return (
        rt.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("chars"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("chars").cast("long").alias("chars"),
            F.col("first_pos").cast("long").alias("first_pos"),
            F.col("last_pos").cast("long").alias("last_pos"),
        )
    )


_FH_BUCKETS = 16  # feature_hashing: one bucket per leading md5 hex digit


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick, portable-exact: each word maps to one of 16
    buckets keyed by the FIRST HEX DIGIT of md5(word) — md5 is
    algorithm-defined, so the bucketing (unlike xxhash64, which only
    exists Spark-side) can be restated verbatim in any engine, and the
    per-(doc, bucket) term counts are plain integers.  This is the
    fixed-width bag-of-words featurization that needs no vocabulary
    build, no OOV handling, and no shuffle beyond one map-side-combined
    groupBy — the property that makes it THE featurizer for streaming or
    petabyte corpora (text_vocab_build is the dictionary alternative).
    Long format (doc_id, bucket, n_terms) rather than an array column —
    the layout a sparse trainer consumes, and exactly hash-checkable.

    At real width (2¹⁸ buckets) take 5 hex digits and mod — same
    portability argument; 16 keeps the demo's result set dense.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    return (
        d.select("doc_id", F.explode("w").alias("word"))
        .select(
            "doc_id", F.substring(F.md5("word"), 1, 1).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .select(
            "doc_id", "bucket", F.col("n_terms").cast("long").alias("n_terms")
        )
    )


QUERIES = {
    "export_jsonl_shards": export_jsonl_shards,
    "feature_hashing": feature_hashing,
    "pipeline_shuffle": pipeline_shuffle,
    "pipeline_curriculum_order": pipeline_curriculum_order,
    "text_contamination": text_contamination,
    "seq_pack": seq_pack,
    "pipeline_shard_binpack": pipeline_shard_binpack,
    "domain_mix": domain_mix,
    "dedup_url": dedup_url,
    "pipeline_training_shards": pipeline_training_shards,
}

_G5 = sql_shingles("text", n=5)


def _mix_copies_sql() -> str:
    """DuckDB twin of domain_mix's copies expression (CASE over _MIX_RATES)."""
    whens = []
    for lg, r in _MIX_RATES.items():
        whens.append(
            f"WHEN lang = '{lg}' THEN {int(r)} + "
            f"CASE WHEN draw < '{_frac_threshold_hex(r)}' THEN 1 ELSE 0 END"
        )
    return "CASE " + " ".join(whens) + " ELSE 0 END"

def _shards_oracle() -> str:
    from .quality import (
        _DISTINCT_20X,
        _MIN_WORDS,
        _MWL_HI,
        _MWL_LO,
        _TOP_10X,
        _TRAIN_HEX,
    )

    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct,
                   length(replace(text, ' ', '')) AS n_alpha
            FROM documents
        ),
        tw AS (
            SELECT doc_id, max(c) AS top_cnt FROM (
                SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY doc_id, w
            ) GROUP BY doc_id
        ),
        passing AS (
            SELECT t.doc_id, t.text, t.n_words AS tok
            FROM t JOIN tw ON t.doc_id = tw.doc_id
            WHERE t.n_words >= {_MIN_WORDS}
              AND 20 * t.n_distinct >= {_DISTINCT_20X} * t.n_words
              AND t.n_alpha >= {_MWL_LO} * t.n_words
              AND t.n_alpha <= {_MWL_HI} * t.n_words
              AND 10 * tw.top_cnt <= {_TOP_10X} * t.n_words
        ),
        deduped AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id, tok,
                       min(doc_id) OVER (PARTITION BY text) AS keeper
                FROM passing
            ) WHERE doc_id = keeper
        ),
        train AS (
            SELECT doc_id, tok FROM deduped
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_TRAIN_HEX}'
        ),
        packed AS (
            SELECT doc_id, tok,
                   COALESCE(SUM(tok) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {_BIN_TOKENS} AS shard_id
            FROM train
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS tok_sum,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM packed GROUP BY shard_id
    """


ORACLE = {
    # the manifest restated from the deterministic order — any row lost,
    # duplicated, or mis-sharded by the JSONL round-trip breaks the hash
    "export_jsonl_shards": f"""
        WITH ranked AS (
            SELECT doc_id, n_chars,
                   row_number() OVER (
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS pos
            FROM documents
        )
        SELECT CAST((pos - 1) // {_EXPORT_ROWS_PER_SHARD} AS BIGINT)
                   AS shard,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(min(pos) AS BIGINT) AS first_pos,
               CAST(max(pos) AS BIGINT) AS last_pos
        FROM ranked GROUP BY 1
    """,
    "feature_hashing": """
        SELECT doc_id,
               substring(md5(word), 1, 1) AS bucket,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        )
        GROUP BY doc_id, substring(md5(word), 1, 1)
    """,
    "pipeline_shuffle": """
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS draw,
               CAST(row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS pos
        FROM documents
    """,
    # same three integer-exact ranks as the Spark side: difficulty rank →
    # rank-based quartile bucket, per-bucket md5-draw rank, interleave
    # rank over (within_rank, bucket)
    "pipeline_curriculum_order": """
        WITH d AS (
            SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL
        ),
        r1 AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS drank,
                   count(*) OVER () AS tot
            FROM d
        ),
        b AS (
            SELECT doc_id,
                   CAST(((drank - 1) * 4) // tot AS BIGINT) AS bucket,
                   md5(CAST(doc_id AS VARCHAR)) AS draw
            FROM r1
        ),
        r2 AS (
            SELECT doc_id, bucket, draw,
                   CAST(row_number() OVER (
                       PARTITION BY bucket ORDER BY draw, doc_id
                   ) AS BIGINT) AS within_rank
            FROM b
        )
        SELECT doc_id, bucket, draw, within_rank,
               CAST(row_number() OVER (
                   ORDER BY within_rank, bucket
               ) AS BIGINT) AS pos
        FROM r2
    """,
    "text_contamination": f"""
        WITH ev AS (
            SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {_N_EVAL}
        ),
        leaked AS (
            SELECT doc_id + {_LEAK_OFFSET} AS doc_id, text
            FROM (SELECT doc_id, text FROM ev ORDER BY doc_id LIMIT {_N_LEAK})
        ),
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM leaked
        ),
        eg AS (
            SELECT doc_id AS eval_id, unnest({_G5}) AS g FROM ev
        ),
        cg AS (
            SELECT doc_id, unnest({_G5}) AS g FROM corpus
            WHERE doc_id NOT IN (SELECT doc_id FROM ev)
        )
        SELECT cg.doc_id,
               COUNT(DISTINCT cg.g) AS n_shared_grams,
               COUNT(DISTINCT eg.eval_id) AS n_eval_docs_hit
        FROM cg JOIN eg ON cg.g = eg.g
        GROUP BY cg.doc_id
    """,
    "pipeline_shard_binpack": f"""
        WITH t AS (
            SELECT doc_id, CAST(COALESCE(strlen(text), 0) AS BIGINT) AS b
            FROM documents
        ),
        p AS (
            SELECT doc_id, b,
                   CAST(COALESCE(SUM(b) OVER (
                       ORDER BY b DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prefix
            FROM t
        )
        SELECT prefix // {_SHARD_BYTES} AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(b) AS BIGINT) AS bytes_sum,
               CAST(MAX(b) AS BIGINT) AS max_doc_bytes,
               {sql_half_up(f"CAST(SUM(b) AS DOUBLE) / {_SHARD_BYTES}")} AS fill_ratio
        FROM p GROUP BY 1
    """,
    "seq_pack": f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS tok FROM documents
        ),
        p AS (
            SELECT doc_id, tok,
                   CAST(COALESCE(SUM(tok) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prefix
            FROM t
        )
        SELECT prefix // {_BIN_TOKENS} AS bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS tok_sum,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM p GROUP BY 1
    """,
    "domain_mix": f"""
        WITH d AS (
            SELECT doc_id, lang,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang,
                   {_mix_copies_sql()} AS copies
            FROM d
        ),
        resampled AS (
            SELECT doc_id, lang, unnest(generate_series(1, copies))
            FROM c WHERE copies >= 1
        ),
        n_in AS (SELECT lang, COUNT(*) AS n_in FROM documents GROUP BY lang),
        n_out AS (SELECT lang, COUNT(*) AS n_out FROM resampled GROUP BY lang)
        SELECT n_in.lang, n_in.n_in,
               COALESCE(n_out.n_out, 0) AS n_out,
               {sql_half_up("COALESCE(n_out.n_out, 0) / CAST(n_in.n_in AS DOUBLE)")} AS achieved_rate
        FROM n_in LEFT JOIN n_out ON n_in.lang = n_out.lang
    """,
    "dedup_url": f"""
        WITH u AS (
            SELECT doc_id,
                   'https://' || source || '.Example.COM/' || lang || '/doc/'
                   || CAST(doc_id % 50 AS VARCHAR)
                   || CASE
                        WHEN doc_id % 3 = 0 THEN
                          '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
                        WHEN doc_id % 3 = 1 THEN
                          '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
                        ELSE '?id=' || CAST(doc_id % 50 AS VARCHAR)
                      END
                   || CASE WHEN doc_id % 5 = 0
                           THEN '#sec' || CAST(doc_id % 4 AS VARCHAR)
                           ELSE '' END AS url
            FROM documents
        ),
        n AS (
            SELECT doc_id,
                   {sql_ascii_lower("regexp_extract(url, '^([a-z]+)://', 1)")} || '://'
                   || {sql_ascii_lower("regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)")}
                   || regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1)
                   || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1)
                       AS norm_url
            FROM u
        )
        SELECT norm_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        FROM n GROUP BY norm_url
    """,
    "pipeline_training_shards": _shards_oracle(),
}
