"""Text-analysis operators over `documents` (mandated tier, BASELINE.json:6).

- text_stats        per-language corpus stats (SQL oracle)
- text_tokens       token counting: whitespace + BPE-ish regex (SQL oracle)
- text_quality      heuristic quality score (SQL oracle)
- text_langid       stopword-overlap language ID (SQL oracle)
- text_fingerprint  polynomial rolling-hash fingerprint (SQL oracle)
- text_topterms     top-5 terms per language (SQL oracle)
- text_tfidf        top-3 TF-IDF terms per document, linear idf (SQL oracle)

All pure built-in expressions (split / explode / regexp / higher-order
folds) — no Python in the hot path, so at 100 TB these run inside
whole-stage codegen, shuffling only for the per-language aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import (
    ascii_lower,
    dsum,
    half_up,
    r4,
    sql_ascii_lower,
    sql_dsum,
    sql_half_up,
)
from ..io import parallel, table
from ._expr import sql_indexed_unnest

# BPE-ish word/number/punctuation tokenizer (shared by Spark and oracle).
_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language stopword lists for the n-gram/stopword langid heuristic.
_STOP = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    d = table(spark, sf_dir, "documents")
    toks = d.withColumn("n_tokens", F.size(F.split("text", " ")))
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        r4(F.avg("n_tokens"), "avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts: whitespace tokens vs regex (BPE-ish) tokens."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).alias("re_tokens"),
        F.length("text").alias("chars"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length, mean word length, alpha ratio.

    The score formula is arbitrary but fixed; what matters is that it is a
    deterministic columnar expression both engines evaluate identically.
    The n_chars > 0 guard keeps empty documents aligned across dialects
    (Spark's non-ANSI divide → NULL vs DuckDB's IEEE divide → nan/inf).
    """
    from .._util import half_up

    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    alpha_chars = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    mean_wlen = (F.col("n_chars") - (n_words - 1)).cast("double") / n_words
    # half-up: all three are integer ratios, the class that ties exactly
    # at .xxxx5 (dyadic denominators) where engine round() diverges
    return (
        d.select(
            "doc_id",
            "lang",
            n_words.alias("n_words"),
            half_up(mean_wlen).alias("mean_word_len"),
            half_up(alpha_chars / F.col("n_chars").cast("double")).alias(
                "alpha_ratio"
            ),
            half_up(
                F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.5
                + F.least(alpha_chars / F.col("n_chars").cast("double"), F.lit(1.0)) * 0.5
            ).alias("quality"),
        )
    )


def langid_exprs():
    """Shared stopword-langid expressions over the `text` column: per-
    language hit counts, best score, and predicted language (argmax,
    alphabetical tiebreak, 'und' when no hits).  Single source for
    text_langid AND pipeline_prep — the DuckDB twins (_HITS_SQL/_BEST_SQL/
    _PRED_SQL below) derive from the same _STOP lists, so an edit to the
    stopwords or the tiebreak rule lands in all four places at once."""
    lw = F.split(ascii_lower(F.col("text")), " ")
    hits = {
        lg: F.size(F.array_intersect(lw, F.array(*[F.lit(s) for s in stops])))
        for lg, stops in _STOP.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lg in sorted(_STOP):  # alphabetical tiebreak
        pred = pred.when(hits[lg] == best, F.lit(lg))
    return hits, best, pred


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID; argmax over per-language hit counts,
    alphabetical tiebreak, 'und' (undetermined) when no stopword hits."""
    d = table(spark, sf_dir, "documents")
    _, best, pred = langid_exprs()
    return d.select(
        "doc_id", "lang", pred.alias("pred_lang"), best.alias("best_hits")
    )


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card — the one-table datasheet a corpus release
    ships: document count, language spread, exact-duplicate rate,
    average length, and the share passing the minimum-length gate.
    Every statistic is an exact integer or a single guarded divide
    (dup_rate's denominator is n_docs ≥ 1 by construction of GROUP BY),
    so the card is engine-exact.

    Plan: ONE groupBy over the scan; the two COUNT DISTINCTs share the
    aggregation's expand, and everything else is a conditional count —
    map-side combined, no joins, no second scan.  At 100 TB this is the
    nightly freshness report that costs one pass.
    """
    d = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "text",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_words"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("text").alias("n_unique"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.when(F.col("n_words") >= 20, 1).otherwise(0)).alias(
            "n_minlen"
        ),
    )
    return g.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_dup_docs"),
        half_up(
            (F.col("n_docs") - F.col("n_unique"))
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
        half_up(F.col("sum_chars") / F.col("n_docs").cast("double")).alias(
            "avg_chars"
        ),
        half_up(F.col("n_minlen") / F.col("n_docs").cast("double")).alias(
            "minlen_pass_rate"
        ),
    )


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the langid heuristic against the corpus's
    ground-truth `lang` column — the classifier eval composed with the
    classifier itself (the eval tier's pattern applied to a text-tier
    model): one row per (truth, predicted) cell with its exact count.
    This is the table that decides whether 'und' fallbacks or a specific
    confusion pair (e.g. es→fr) is what needs stopword-list work.

    Plan: the per-document prediction is the same whole-stage-codegen
    expression as text_langid (no shuffle), then one map-side-combined
    groupBy over the O(|langs|²) cells.
    """
    d = table(spark, sf_dir, "documents")
    _, _, pred = langid_exprs()
    return (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "lang",
            "pred_lang",
            F.col("n").cast("long").alias("n"),
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
    )


# RFC 5321 length bounds ({1,64} local part, {1,253} domain) instead of
# unbounded `+`, for COST not semantics: Java's backtracking engine restarts
# the greedy local-part munch at every scan position, O(len²) on a 100 KB
# token with no '@' (measured 41.6 s per regexp pass on the long corpus's
# giant-token doc — the whole "pii_scrub 520 s" item was this, on the SPARK
# side; DuckDB's RE2 is linear-time and was never the cost).  With the bound
# each restart munches ≤64 chars → linear.  Identical pattern text on both
# engines (RE2 has no possessive quantifiers and diverges from Java on \b
# next to non-ASCII letters — both rejected alternatives); >64-char local
# parts match their 64-char suffix on BOTH engines (parity-checked incl.
# unicode-adjacent, >64/>253 overflow, and multi-match rows).
_EMAIL_RE = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"  # literal-prefixed: scan restarts are O(1)
# text_pii_scrub giant-doc segmentation (code points): docs past the
# threshold are chunked + repartitioned so one multi-MB doc spreads over
# many tasks instead of pinning one; both stated identically in the
# oracle.  The chunk size is 1000 because DuckDB's RE2 caps counted
# repetition at {{1,1000}} — Java would take far larger chunks, but the
# boundary-straddle contract requires IDENTICAL chunking in both engines
_PII_GIANT = 131072  # routing threshold: docs above this get chunked
_PII_CHUNK = 1000    # chunk size for the segmented regex pass


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub pass every training-data pipeline runs
    before anything else: emails and phone numbers replaced by typed
    placeholders, with per-document match counts and a post-scrub
    cleanliness check.

    The raw corpus contains no PII (verified: zero '@'/'555' rows), so 20
    planted rows (doc_id + offset) carry deterministic PII built by the
    same concat expression in both engines — the scrub is then fully
    exact-oracle-checked end to end (match counts, scrubbed length, and a
    no-residual-PII boolean per row).  Pure regexp expressions: at 100 TB
    this is a map-only pass inside whole-stage codegen, no shuffle.

    Redaction contract (r9 advisor): the email pattern carries RFC 5321
    length bounds ({1,64} local part), so an RFC-OVERLONG local part
    (>64 chars — not a valid address) is redacted only through its
    64-char suffix and leaves the leading characters as residue, on BOTH
    engines identically.  This is deliberate: the bound is what makes the
    Java-regex pass linear on giant tokens (see _EMAIL_RE note), valid
    addresses are always fully redacted, and the `clean` check states the
    same bounded pattern, so the contract is self-consistent.  Pipelines
    that must also mask invalid overlong locals should add a dedicated
    residue pass rather than unbounding this pattern.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        d.orderBy("doc_id")
        .limit(20)
        .select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-0100"),
            ).alias("text"),
        )
    )
    aug = d.unionByName(planted)
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    # Giant-doc segmentation (VERDICT r13 item 8): the regex pass is
    # linear per doc, but one multi-MB doc = one task = the straggler the
    # 10x sweep priced at 22 s.  Docs past _PII_GIANT code points are
    # split with the r13 linear chunker (ONE '(?s).{{1,n}}' regex scan —
    # never a per-index substring HOF), the chunks hash-repartitioned on
    # (doc_id, idx) so one doc's chunks land on MANY tasks, scrubbed
    # per chunk, and reassembled by a groupBy(doc_id) sum/bool_and —
    # order-free aggregates, so no ordered concat is needed.  The
    # boundary-straddle contract is STATED in both engines: a match
    # crossing a chunk boundary is not a match (the oracle chunks with
    # the identical regex, so both engines agree exactly); normal-sized
    # docs (and NULL texts) keep the untouched single-pass path, so the
    # shuffle moves only the rare giant docs' bytes.
    norm = aug.filter(
        F.col("text").isNull() | (F.length("text") <= _PII_GIANT)
    ).select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
        (~scrubbed.rlike(_EMAIL_RE) & ~scrubbed.rlike(_PHONE_RE)).alias("clean"),
    )
    chunk_sc = F.regexp_replace(
        F.regexp_replace("chunk", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    giant = (
        aug.filter(F.length("text") > _PII_GIANT)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"regexp_extract_all(text, '(?s).{{1,{_PII_CHUNK}}}', 0)"
                )
            ).alias("idx", "chunk"),
        )
        .repartition("doc_id", "idx")
        .select(
            "doc_id",
            F.regexp_count("chunk", F.lit(_EMAIL_RE)).alias("ne"),
            F.regexp_count("chunk", F.lit(_PHONE_RE)).alias("np"),
            F.length(chunk_sc).alias("sl"),
            (~chunk_sc.rlike(_EMAIL_RE) & ~chunk_sc.rlike(_PHONE_RE)).alias(
                "cl"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("ne").cast("int").alias("n_emails"),
            F.sum("np").cast("int").alias("n_phones"),
            F.sum("sl").cast("int").alias("scrubbed_len"),
            F.bool_and("cl").alias("clean"),
        )
    )
    return norm.unionByName(giant)


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint:
    h = fold(chars, 0, (acc, c) -> (acc*31 + ascii(c)) mod 1e9+7).

    Engine-portable (pure integer arithmetic), catches exact dups cheaply.
    The char array comes from one split('') pass: the naive per-index form
    ascii(substr(text, i, 1)) re-scans i UTF-8 bytes per character (substr
    must walk codepoints), making the fold O(len²) byte work per document —
    measured 1.6 s → 0.35 s at sf0.1 for the linear form.  Value is
    identical (empty text folds to 0 on both paths and both engines).
    """
    d = table(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate(transform(split(text, ''), ch -> ascii(ch)), 0L, "
        "(acc, c) -> (acc * 31 + c) % 1000000007)"
    )
    return d.select("doc_id", fp.alias("fingerprint"))


def text_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent terms per language (count desc, term asc)."""
    d = table(spark, sf_dir, "documents")
    terms = d.select("lang", F.explode(F.split(ascii_lower("text"), " ")).alias("term"))
    counts = terms.filter(F.col("term") != "").groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "term", "n", "rk")
    )


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus profile — the data-quality snapshot every ingestion
    run records before training: row/null/distinct counts and value ranges.
    All map-side-combinable aggregates; one reduce at any scale."""
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        r4(F.avg("n_chars"), "avg_chars"),
    )


def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: at most 50 documents per language, selected
    in md5-of-id order — a deterministic pseudorandom draw both engines
    compute identically (md5 is algorithm-defined, unlike each engine's
    internal hash).  This is the language-rebalancing step of a training
    pipeline; at 100 TB it is one window over a lang-partitioned shuffle,
    with WindowGroupLimit pruning each partition to k rows early."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 50)
        .select("lang", "doc_id", "rk")
    )


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    idf is the LINEAR form (N+1)/(df+1) rather than its logarithm: log() is
    not guaranteed correctly-rounded in either engine's libm, and a last-ulp
    disagreement could flip a rank at the top-3 boundary; the rational form
    is exact in IEEE double on both engines, so scores and ranks are
    bit-identical (ranking order is unchanged — log is monotone).

    Plan: explode tokens → per-(doc, term) counts [shuffle on (doc, term)] →
    document-frequency relation per term [shuffle on term] joined back with
    shuffle_hash (the vocabulary is O(corpus) — never broadcast) → corpus
    size as a 1-row broadcast → per-doc top-3 window [shuffle on doc_id].
    All built-in expressions, codegen end-to-end.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(ascii_lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_rel.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * ((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "rk",
            "term",
            "tf",
            "df",
            # half-up: tf·(n+1)/(df+1) is an integer ratio, tie-prone
            half_up(F.col("score")).alias("score"),
        )
    )


def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the model-based
    quality filter of a training pipeline (KenLM-style perplexity gate),
    with a rational surprise statistic instead of log-perplexity so both
    engines agree to the last bit (log() is not correctly-rounded libm;
    c(w1)/c(w1 w2) is one IEEE divide — same discipline as text_tfidf).

    Train: bigram counts c12 and preceding-unigram counts c1 over the
    whole corpus (two shuffles, map-side combined).  Score: each document's
    mean surprise c1/c12 (1.0 = the only continuation ever seen; large =
    rare continuation).  The model is a TABLE joined back distributively
    (shuffle_hash — vocabulary is O(corpus), never broadcast); at 100 TB
    train once, persist bucketed by (w1, w2), and the scoring join is
    shuffle-free.
    """
    d = table(spark, sf_dir, "documents")
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
    ).select("doc_id", "b.w1", "b.w2")
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    model = c12.join(c1, "w1")
    scored = bi.join(model.hint("shuffle_hash"), ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        r4(
            F.sum((F.col("c1") / F.col("c12")).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            "avg_surprise",
        ),
    )


# BM25 retrieval constants: fixed query term set; k1 = 1.2, b = 0.75 carried
# as exact rationals (22/10 saturation numerator, 3/10 + 9/10·dl/avgdl
# denominator after multiplying through by 10·total_words).
_BM25_TERMS = ("spark", "merge", "window")
_BM25_TOPK = 10


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 documents for a fixed 3-term query.

    Exactness discipline (same as text_tfidf): the idf uses the LINEAR
    rational surrogate (2N-2df+1)/(2df+1) instead of its log — log() is
    not correctly-rounded libm and a last-ulp flip could reorder the
    boundary rank; the tf saturation tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    is multiplied through by 10·total_words so numerator and denominator
    are exact int64 products, leaving exactly two IEEE divides and one
    multiply per (doc, term) — bit-identical on both engines.  Per-doc
    term scores sum through decimal(18,6) (order-independent exact
    addition, the text_ngram_lm idiom).

    Plan shape: the query-term filter pushes into the token explode before
    any shuffle, so tf is O(matching tokens) not O(corpus); df and the
    corpus totals are 3-row / 1-row broadcasts; the final top-10 is
    orderBy+limit = TakeOrderedAndProject (per-partition heaps, k rows to
    the driver) with a 10-row window for the rank column — never a global
    sort.  At 100 TB this is the inverted-index-free scoring baseline; the
    production variant persists the (term, doc, tf) relation bucketed by
    term and probes only the query terms' buckets.
    """
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(ascii_lower("text"), " ").alias("w"))
    base = w.select("doc_id", F.size("w").cast("long").alias("dl"), "w")
    tok = base.select(
        "doc_id", "dl", F.explode("w").alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfr = (
        tok.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    corpus = F.broadcast(
        base.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("t_words")
        )
    )
    idf = (2 * F.col("n_docs") - 2 * F.col("df") + 1) / (2 * F.col("df") + 1)
    sat = (22 * F.col("tf") * F.col("t_words")) / (
        10 * F.col("tf") * F.col("t_words")
        + 3 * F.col("t_words")
        + 9 * F.col("dl") * F.col("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfr), "term")
        .crossJoin(corpus)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum((idf * sat).cast("decimal(18,6)"))
            .cast("double")
            .alias("score_raw"),
        )
    )
    top = scored.orderBy(F.col("score_raw").desc(), "doc_id").limit(_BM25_TOPK)
    w10 = Window.orderBy(F.col("score_raw").desc(), "doc_id")
    return (
        top.withColumn("rk", F.row_number().over(w10).cast("int"))
        .select(
            "doc_id",
            "rk",
            "n_terms_hit",
            # half-up: decimal(18,6) sum of exact rationals, tie-prone
            half_up(F.col("score_raw")).alias("score"),
        )
    )


def corpus_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard similarity between SOURCES over their
    3-gram shingle vocabularies — the corpus-overlap matrix behind
    domain-mix decisions ("are src3 and src7 near-identical feeds?").
    Counts are integer-exact: |A∩B| from a shingle-keyed self-join of the
    distinct (source, shingle) relation, |A∪B| = |A|+|B|−|A∩B|; the ratio
    rounds once at the end.

    Scale shape: the relation is DISTINCT (source, shingle) — O(corpus
    vocabulary), not O(tokens); the self-join is keyed on shingle with
    the shared hot-shingle cap (a boilerplate shingle in every source
    contributes |sources|² pairs ONCE, but an uncapped hot key at 100 TB
    would still dominate the shuffle).  Output is |sources|² / 2 rows —
    tiny at any corpus size.
    """
    from ._expr import shingles_of_words
    from .dedup import _drop_hot

    # single-split testdata (cf. dedup._words_of)
    docs = parallel(spark, table(spark, sf_dir, "documents").select("source", "text"))
    w = docs.select("source", F.split("text", " ").alias("w"))
    sh = (
        w.select("source", F.explode(shingles_of_words(F.col("w"))).alias("sh"))
        .distinct()
    )
    from pyspark.storagelevel import StorageLevel

    # persisted: three consumers (sizes + both self-join sides) would
    # otherwise recompute the explode/distinct/cap chain per branch
    # (same policy as every other _drop_hot site with multiple readers)
    cool = _drop_hot(sh, ["sh"]).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = cool.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = cool.select(F.col("source").alias("src_a"), "sh")
    b = cool.select(F.col("source").alias("src_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # complete matrix: zero-overlap pairs ("are these feeds disjoint?")
    # must appear with jaccard 0, so the pair grid comes from sizes², not
    # from the inner join (sizes is |sources| rows — the grid is tiny)
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    grid = sa.crossJoin(F.broadcast(sb)).filter(F.col("src_a") < F.col("src_b"))
    return (
        grid.join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .select(
            "src_a",
            "src_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
            # half_up, not round: an exact-rational ratio CAN land on a
            # .xxxx5 tie, where engines' round() semantics split
            half_up(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


_BP_CHUNK = 40  # chunk width, aligned with dedup_chunk's granularity
_BP_MIN_DOCS = 3  # a chunk in >= 3 distinct docs is boilerplate


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global boilerplate removal — drop every 40-char aligned
    chunk that appears in ≥ 3 DISTINCT documents and reassemble each doc
    from its surviving chunks in order (the CCNet/RefinedWeb move of
    deleting repeated headers/footers/nav text across a crawl, at
    dedup_chunk's granularity but REWRITING the text instead of flagging
    the doc).  Chunks are the full 40-char slices plus the tail
    remainder, so reassembly of an untouched doc is byte-identical.

    Scale (100 TB): chunk frequency is one map-side-combined groupBy on
    the chunk string (count of distinct docs via a pre-distinct, the
    inverted-index discipline of dedup_chunk — add its _drop_hot cap when
    a crawl has mega-hot chunks); the keep/drop verdict joins back on the
    chunk key, and reassembly is a per-doc collect_list sorted by
    position — bounded by one document's chunk count, never corpus-wide.
    The doc text itself crosses the shuffle once, in chunk-sized pieces.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # one linear regex scan (r13 scale fix, the dedup_chunk O(len²)
    # disease): greedy '.{1,B}' = the full 40-char slices plus the tail
    # remainder, byte-identical to the old concat(full-blocks, tail)
    chunks = d.selectExpr(
        "doc_id",
        f"regexp_extract_all(text, '(?s).{{1,{_BP_CHUNK}}}', 0) AS cs",
    ).select("doc_id", F.posexplode("cs").alias("pos", "chunk"))
    freq = (
        chunks.select("doc_id", "chunk")
        .distinct()
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    j = chunks.join(freq, "chunk")
    keep = F.col("nd") < _BP_MIN_DOCS
    g = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(keep, 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("pos", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            "",
        ).alias("cleaned"),
    )
    return g.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.length("cleaned").cast("long").alias("cleaned_len"),
        "cleaned",
    )


_VG_BUCKET = 50  # docs per growth checkpoint


def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve — cumulative distinct words
    vs cumulative tokens at every 50-doc checkpoint of the corpus in
    doc_id order.  The saturation diagnostic a pretraining team reads
    before sizing a tokenizer vocab or judging whether more of the same
    crawl still adds novelty (complements text_vocab_build's static
    vocabulary with its GROWTH over ingest order).

    Distributed shape: each word's FIRST document is one
    map-side-combined min-aggregate over the exploded tokens (the
    inverted-index discipline); per-checkpoint token counts are a second
    groupBy on the derived bucket; the only window runs over the ~10
    checkpoint rows — O(corpus/50·docs) rows never meet a window.  The
    same shape at 100 TB: first-occurrence min() is exactly how
    vocabulary novelty is computed incrementally (new-crawl words =
    first_doc in the new range).
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(ascii_lower(F.col("text")), " ").alias("ws")
    )
    tok = d.select("doc_id", F.explode("ws").alias("w"))
    new_per = (
        tok.groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
        .withColumn("bucket", F.expr(f"fd DIV {_VG_BUCKET}"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_words"))
    )
    toks = (
        tok.withColumn("bucket", F.expr(f"doc_id DIV {_VG_BUCKET}"))
        .groupBy("bucket")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    j = toks.join(new_per, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce(F.col("n_new_words"), F.lit(0)).alias("n_new_words"),
    )
    # checkpoint rows only (corpus/50 of them) — the documented
    # small-frame global window class, never O(rows)
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        F.col("n_new_words").cast("long").alias("n_new_words"),
        F.sum("n_new_words").over(w).cast("long").alias("cum_vocab"),
    )


_BLOCK_TERMS = ("slow", "dup", "error")  # stand-in unsafe lexicon
_BLOCK_PCT = 20  # flagged when 1000·hits >= 20·tokens (2% density)


def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based safety gate — flag documents whose blocklist-term
    density crosses a threshold (the LDNOOBW-style unsafe-word filter
    every crawl pipeline runs; here a stand-in lexicon drawn from the
    synthetic vocabulary so the gate actually fires).  The verdict is an
    integer cross-multiplication (1000·hits ≥ 20·tokens), never a float
    density, and the matched terms are emitted as a sorted distinct list
    for audit.

    Scale: pure columnar higher-order functions (split → filter →
    size) — whole-stage codegen, no explode, no shuffle at all; the
    flagged fraction downstream is one map-side-combined aggregate.  A
    real lexicon of ~2k terms ships as a broadcast array literal or a
    broadcast join against an exploded token stream; the per-row lambda
    here is the array-literal variant.
    """
    terms = F.array(*[F.lit(t) for t in _BLOCK_TERMS])
    ws = F.split(ascii_lower(F.col("text")), " ")
    hits = F.filter(ws, lambda x: F.array_contains(terms, x))
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(hits).cast("long").alias("n_hits"),
        F.array_join(F.array_sort(F.array_distinct(hits)), " ").alias(
            "hit_terms"
        ),
    )
    return d.withColumn(
        "flagged",
        1000 * F.col("n_hits") >= _BLOCK_PCT * F.col("n_tokens"),
    )


_RAKE_TOPK = 3
_STOP_ALL = sorted({w for ws in _STOP.values() for w in ws})


def text_keywords_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword extraction — candidate phrases are the maximal
    stopword-free word runs (the gaps-and-islands idiom on token
    positions), each word scores degree/frequency over the document
    (degree = summed length of the phrases it appears in), and a
    phrase's score is the sum of its words' scores; top-3 phrases per
    doc.  Integer-exact throughout: each word ratio is the half-up
    integer (2·10⁴·deg + freq) DIV 2·freq, so phrase scores are exact
    integer sums with deterministic (score DESC, phrase ASC) ties.

    Scale: one posexplode, the island id from a per-doc window (bounded
    by document length), two groupBys keyed by doc — nothing corpus-
    global; the stopword set is a literal array (a real list ships as a
    broadcast lexicon, text_blocklist_filter's note).
    """
    stops = F.array(*[F.lit(w) for w in _STOP_ALL])
    tok = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(ascii_lower(F.col("text")), " ")).alias(
                "pos", "w"
            ),
        )
        .filter(~F.array_contains(stops, F.col("w")))
    )
    # island id: pos minus the rank among the doc's surviving tokens
    wi = Window.partitionBy("doc_id").orderBy("pos")
    isl = tok.withColumn(
        "grp", F.col("pos") - F.row_number().over(wi)
    )
    # phrase relation: (doc, grp) with its words in order and length
    phr = isl.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    # word stats: freq + degree (sum of containing-phrase lengths)
    wstat = (
        isl.join(phr.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
        .groupBy("doc_id", "w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
        .withColumn(
            "wscore_s",
            F.expr("(2 * 10000 * deg + freq) DIV (2 * freq)"),
        )
    )
    scored = (
        isl.join(wstat, ["doc_id", "w"])
        .groupBy("doc_id", "grp")
        .agg(F.sum("wscore_s").alias("score_s"))
        .join(phr, ["doc_id", "grp"])
    )
    wk = Window.partitionBy("doc_id").orderBy(
        F.desc("score_s"), F.asc("phrase"), F.asc("grp")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _RAKE_TOPK)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "phrase",
            F.col("plen").cast("long").alias("plen"),
            F.col("score_s").cast("long").alias("score_s"),
        )
    )


# DSIR hashed-feature space: md5-prefix bucketing (2 hex chars = 256
# buckets).  The public method (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling") hashes n-grams into a
# bounded feature space precisely so the target/background models stay
# broadcastable at any corpus size.
_DSIR_TARGET_LANG = "en"
_DSIR_BUCKETS = 256


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: per-document mean likelihood ratio
    of hashed-unigram features under a target model (lang='en' documents)
    vs the background model (the whole corpus), Laplace +1 smoothed.

    Same exactness discipline as text_ngram_lm: the per-token statistic
    is the RATIO ((c_t+1)·(T_b+V)) / ((c_b+1)·(T_t+V)) instead of its
    log — both products are exact integers (< 2^53, cast-to-double
    lossless), so each token's r is ONE IEEE divide and the engines agree
    to the last bit; the doc score is the decimal-carried mean.  A
    log-space score would order documents identically per token but
    drags in libm.

    Scale: both models are ≤ V=256 rows — broadcast; the two count
    aggregations are the only token-volume shuffles (map-side combined),
    and the scoring join is map-side.  At 100 TB this is DSIR's own
    architecture: the hashed feature space exists so the model never
    grows with the corpus.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(ascii_lower("text"), " ")).alias("term"),
    ).withColumn("bkt", F.substring(F.md5("term"), 1, 2))
    c_b = tok.groupBy("bkt").agg(F.count(F.lit(1)).alias("c_b"))
    c_t = (
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    model = c_b.join(c_t, "bkt", "left").select(
        "bkt", "c_b", F.coalesce("c_t", F.lit(0)).alias("c_t")
    )
    totals = tok.agg(
        F.count(F.lit(1)).alias("t_b"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("t_t"),
    )
    v = F.lit(_DSIR_BUCKETS)
    r = ((F.col("c_t") + 1) * (F.col("t_b") + v)).cast("double") / (
        (F.col("c_b") + 1) * (F.col("t_t") + v)
    ).cast("double")
    scored = tok.join(F.broadcast(model), "bkt").crossJoin(
        F.broadcast(totals)
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        half_up(
            F.sum(r.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("dsir_weight"),
    )


_BPE_ROUNDS = 6
_BPE_EOW = "</w>"


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE merge-table training (Sennrich et al. 2016,
    arXiv:1508.07909) — ``_BPE_ROUNDS`` fixed rounds of "count adjacent
    symbol pairs, merge the most frequent".  Completes the tokenizer
    story next to text_tokens' BPE-ish regex and text_vocab_build.

    Shape (the standard reduction): training runs on the VOCABULARY
    relation (distinct word, occurrence count), never on the corpus —
    at 100 TB the token explode collapses map-side into O(vocab) rows
    and every later round is vocabulary-sized.  Each word is a row-form
    symbol sequence (characters + a terminal '</w>'); each round is one
    pair-count aggregate (map-side combined, weighted by word count), a
    1-row top-pair collect (bounded-collect discipline), and a windowed
    merge partitioned by word.

    Merge semantics, stated identically in the oracle's unrolled
    MATERIALIZED CTEs (the eval_elo_bt pattern): candidates are positions
    where (sym, next sym) = (l, r); consecutive candidates only arise
    when l = r, where left-to-right non-overlapping application keeps the
    1st, 3rd, ... of each run (gaps-and-islands + row_number parity —
    'aaaa' merges to 'aa','aa', 'aaa' to 'aa','a').  Ties on pair count
    break lexicographically on (l, r) — binary string compare, identical
    in both engines.  Rounds after the pair supply is exhausted emit
    nothing on both sides.

    Returns the merge table: (merge_round, left_sym, right_sym, merged,
    pair_count).
    """
    from pyspark.storagelevel import StorageLevel

    d = table(spark, sf_dir, "documents").select("text")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    # the word itself never reaches the output — carry md5(word) as the
    # sequence key, NOT the word: a symbol row per character times the
    # full word string is O(len²) bytes per word (a single 100 KB token
    # OOMed the executor; 32 hex bytes per row is flat at any word length).
    # r13 scale fix (found by tools/scale10_sweep.py at a 1 M-char giant
    # token): the md5 must be projected BELOW the explode — selecting
    # md5(w) NEXT TO posexplode puts it in the Project ABOVE the
    # Generate, where it re-hashes the FULL word once per emitted symbol
    # row (O(len²) bytes hashed per word; the plan pin in
    # tests/test_plans.py::test_bpe_md5_projected_below_generate holds
    # the keyed shape).  As a pre-projected attribute it is computed
    # once per word and copied per row.
    keyed = vocab.select(
        F.md5(F.col("w").cast("binary")).alias("word"), "wcount", "w"
    )
    # LAZY checkpoints throughout the loop (r15): each round's FIRST
    # action is the top-pair collect, which materializes the previous
    # round's checkpoint blocks itself — eager ran a second near-identical
    # job per round, and the FINAL round's seq rewrite (which nothing
    # consumes: only the collected tops reach the output) executed for
    # nothing.  Lineage truncation is identical; within a round every
    # consumer (pc, cand, flagged) runs after the collect, so it always
    # reads cached blocks.
    seq = keyed.select(
        "word",
        "wcount",
        F.posexplode(
            F.concat(F.split("w", ""), F.array(F.lit(_BPE_EOW)))
        ).alias("pos", "sym"),
    ).localCheckpoint(eager=False)

    merges = []
    wnd = Window.partitionBy("word").orderBy("pos")
    for rnd in range(1, _BPE_ROUNDS + 1):
        pc = (
            seq.select(
                "word", "wcount", F.col("sym").alias("l"),
                F.lead("sym").over(wnd).alias("r"),
            )
            .filter(F.col("r").isNotNull())
            .groupBy("l", "r")
            .agg(F.sum("wcount").alias("c"))
        )
        top = pc.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(1).collect()
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], top[0]["c"]
        merges.append((rnd, l, r, l + r, int(c)))
        # Measured negative result (r14): folding the gaps-and-islands
        # into running-sum windows over the FULL relation (island =
        # pos − running cand-count, parity by a (word, island) running
        # sum) removes the join-back but drags every row through two
        # extra exchanges per round — 4.9 s → 9.0 s at sf0.1.  The
        # filter + row_number + left-join shape keeps the full relation
        # partitioned by (word) throughout; only the small candidate
        # side re-exchanges.  Keep it.
        cand = seq.select(
            "word", "wcount", "pos", "sym",
            (
                (F.col("sym") == F.lit(l))
                & (F.lead("sym").over(wnd) == F.lit(r))
            ).alias("cand"),
        )
        takes = (
            cand.filter("cand")
            .select(
                "word", "pos",
                (F.col("pos") - F.row_number().over(wnd)).alias("island"),
            )
            .select(
                "word", "pos",
                (
                    F.row_number().over(
                        Window.partitionBy("word", "island").orderBy("pos")
                    ) % 2 == 1
                ).alias("take"),
            )
        )
        flagged = cand.join(takes, ["word", "pos"], "left").select(
            "word", "wcount", "pos", "sym",
            F.coalesce("take", F.lit(False)).alias("take"),
        )
        seq = (
            flagged.withColumn(
                "absorbed",
                F.coalesce(F.lag("take").over(wnd), F.lit(False)),
            )
            .filter(~F.col("absorbed"))
            .select(
                "word", "wcount",
                (F.row_number().over(wnd) - 1).alias("pos"),
                F.when(F.col("take"), F.lit(l + r)).otherwise(F.col("sym")).alias("sym"),
            )
            # checkpoint: 6 rounds of stacked windows+joins otherwise
            # compound the lineage (the dedup_clusters star-contraction
            # lesson); each round restarts from a materialized relation.
            # Lazy (r15): the next round's top collect materializes it,
            # and the never-consumed final-round rewrite is skipped.
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


QUERIES = {
    "text_bpe_train": text_bpe_train,
    "text_dsir_weights": text_dsir_weights,
    "text_keywords_rake": text_keywords_rake,
    "text_blocklist_filter": text_blocklist_filter,
    "corpus_vocab_growth": corpus_vocab_growth,
    "text_boilerplate_strip": text_boilerplate_strip,
    "corpus_jaccard_sources": corpus_jaccard_sources,
    "text_bm25_topk": text_bm25_topk,
    "text_stats": text_stats,
    "text_tfidf": text_tfidf,
    "text_profile": text_profile,
    "text_sample_stratified": text_sample_stratified,
    "text_tokens": text_tokens,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_langid_confusion": text_langid_confusion,
    "corpus_datacard": corpus_datacard,
    "text_fingerprint": text_fingerprint,
    "text_topterms": text_topterms,
    "text_pii_scrub": text_pii_scrub,
    "text_ngram_lm": text_ngram_lm,
}

_STOP_SQL = {lg: "[" + ", ".join(f"'{s}'" for s in stops) + "]" for lg, stops in _STOP.items()}
_HITS_SQL = ",\n               ".join(
    f"len(list_intersect(string_split({sql_ascii_lower('text')}, ' '), {_STOP_SQL[lg]})) AS hits_{lg}"
    for lg in _STOP
)
_BEST_SQL = "greatest(" + ", ".join(f"hits_{lg}" for lg in _STOP) + ")"
_PRED_SQL = "CASE WHEN " + _BEST_SQL + " <= 0 THEN 'und' " + " ".join(
    f"WHEN hits_{lg} = {_BEST_SQL} THEN '{lg}'" for lg in sorted(_STOP)
) + " END"

# oracle twins of _EMAIL_RE/_PHONE_RE — keep the strings byte-identical
# (the RFC length bounds are a Java-cost fix; see the _EMAIL_RE comment)
_PII_EMAIL = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"

_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def _corpus_jaccard_oracle() -> str:
    from ._expr import sql_shingles
    from .dedup import _DF_CAP

    ratio = sql_half_up(
        "CAST(COALESCE(i.n_inter, 0) AS DOUBLE)"
        " / (g.n_a + g.n_b - COALESCE(i.n_inter, 0))"
    )
    return f"""
        WITH sh AS (
            SELECT DISTINCT source, unnest({sql_shingles("text")}) AS sh
            FROM documents
        ),
        cool AS (
            SELECT * FROM sh WHERE sh IN (
                SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_DF_CAP}
            )
        ),
        sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n
            FROM cool GROUP BY source
        ),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(count(*) AS BIGINT) AS n_inter
            FROM cool a JOIN cool b
              ON a.sh = b.sh AND a.source < b.source
            GROUP BY a.source, b.source
        ),
        grid AS (
            SELECT sa.source AS src_a, sa.n AS n_a,
                   sb.source AS src_b, sb.n AS n_b
            FROM sizes sa CROSS JOIN sizes sb
            WHERE sa.source < sb.source
        )
        SELECT g.src_a, g.src_b,
               CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
               (g.n_a + g.n_b - COALESCE(i.n_inter, 0)) AS n_union,
               {ratio} AS jaccard
        FROM grid g
        LEFT JOIN inter i ON g.src_a = i.src_a AND g.src_b = i.src_b
    """


_BLOCK_SQL = "[" + ", ".join(f"'{t}'" for t in _BLOCK_TERMS) + "]"
_STOP_ALL_SQL = "[" + ", ".join(f"'{w}'" for w in _STOP_ALL) + "]"

ORACLE = {
    "text_dsir_weights": f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   substring(md5(unnest(string_split(
                       {sql_ascii_lower("text")}, ' '))), 1, 2) AS bkt
            FROM documents
        ),
        cb AS (SELECT bkt, count(*) AS c_b FROM tok GROUP BY 1),
        ct AS (SELECT bkt, count(*) AS c_t FROM tok
               WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1),
        tot AS (
            SELECT count(*) AS t_b,
                   COALESCE(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                                     THEN 1 ELSE 0 END), 0) AS t_t
            FROM tok
        ),
        scored AS (
            SELECT doc_id, lang,
                   CAST((COALESCE(c_t, 0) + 1) * (t_b + {_DSIR_BUCKETS})
                        AS DOUBLE)
                   / CAST((c_b + 1) * (t_t + {_DSIR_BUCKETS}) AS DOUBLE)
                       AS r
            FROM tok
            JOIN cb USING (bkt)
            LEFT JOIN ct USING (bkt)
            CROSS JOIN tot
        )
        SELECT doc_id, lang, COUNT(*) AS n_tokens,
               {sql_half_up(f"{sql_dsum('r')} / COUNT(*)")} AS dsir_weight
        FROM scored GROUP BY doc_id, lang
    """,
    "text_keywords_rake": f"""
        WITH tok AS (
            SELECT doc_id, u.pos AS pos, u.w1 AS w FROM (
                SELECT doc_id,
                       {sql_indexed_unnest("text", 1, lower=True)} AS u
                FROM documents
            )
        ),
        flt AS (
            SELECT * FROM tok
            WHERE NOT list_contains({_STOP_ALL_SQL}, w)
        ),
        isl AS (
            SELECT *, pos - row_number() OVER (
                PARTITION BY doc_id ORDER BY pos
            ) AS grp
            FROM flt
        ),
        phr AS (
            SELECT doc_id, grp,
                   string_agg(w, ' ' ORDER BY pos) AS phrase,
                   CAST(count(*) AS BIGINT) AS plen
            FROM isl GROUP BY doc_id, grp
        ),
        wstat AS (
            SELECT i.doc_id, i.w,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(SUM(p.plen) AS BIGINT) AS deg
            FROM isl i JOIN phr p USING (doc_id, grp)
            GROUP BY i.doc_id, i.w
        ),
        ws2 AS (
            SELECT *, (2 * 10000 * deg + freq) // (2 * freq) AS wscore_s
            FROM wstat
        ),
        sc AS (
            SELECT i.doc_id, i.grp,
                   CAST(SUM(s.wscore_s) AS BIGINT) AS score_s
            FROM isl i
            JOIN ws2 s ON i.doc_id = s.doc_id AND i.w = s.w
            GROUP BY i.doc_id, i.grp
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_s DESC, phrase ASC, grp ASC
               ) AS INT) AS rk,
               phrase, plen, score_s
        FROM sc JOIN phr USING (doc_id, grp)
        QUALIFY rk <= {_RAKE_TOPK}
    """,
    "text_blocklist_filter": f"""
        WITH d AS (
            SELECT doc_id,
                   string_split({sql_ascii_lower("text")}, ' ') AS ws,
                   list_filter(string_split({sql_ascii_lower("text")}, ' '),
                               x -> list_contains({_BLOCK_SQL}, x)) AS hits
            FROM documents
        )
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(hits) AS BIGINT) AS n_hits,
               -- NULL text (ws NULL) has no audit list — NULL, matching
               -- Spark's array_join(NULL); the COALESCE keeps the empty
               -- list rendering '' (not NULL) for hit-free documents
               CASE WHEN ws IS NULL THEN NULL
                    ELSE COALESCE(array_to_string(list_sort(list_distinct(hits)),
                                                  ' '), '') END AS hit_terms,
               (1000 * len(hits) >= {_BLOCK_PCT} * len(ws)) AS flagged
        FROM d
    """,
    "corpus_vocab_growth": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({sql_ascii_lower("text")}, ' ')) AS w
            FROM documents
        ),
        np AS (
            SELECT CAST(min(doc_id) // {_VG_BUCKET} AS BIGINT) AS bucket,
                   w
            FROM tok GROUP BY w
        ),
        new_per AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_words
            FROM np GROUP BY bucket
        ),
        toks AS (
            SELECT CAST(doc_id // {_VG_BUCKET} AS BIGINT) AS bucket,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM tok GROUP BY 1
        )
        SELECT t.bucket, t.n_docs, t.n_tokens,
               CAST(SUM(t.n_tokens) OVER (
                   ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens,
               CAST(COALESCE(n.n_new_words, 0) AS BIGINT) AS n_new_words,
               CAST(SUM(COALESCE(n.n_new_words, 0)) OVER (
                   ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_vocab
        FROM toks t LEFT JOIN new_per n ON t.bucket = n.bucket
    """,
    "text_boilerplate_strip": f"""
        WITH d AS (
            SELECT doc_id, text,
                   CAST(length(text) // {_BP_CHUNK} AS BIGINT) AS m
            FROM documents
        ),
        fc AS (
            SELECT doc_id, k AS pos,
                   substring(text, CAST((k-1)*{_BP_CHUNK}+1 AS INT),
                             {_BP_CHUNK}) AS chunk
            FROM d, unnest(generate_series(1, m)) AS t(k)
        ),
        rc AS (
            SELECT doc_id, m + 1 AS pos,
                   substring(text, CAST(m*{_BP_CHUNK}+1 AS INT)) AS chunk
            FROM d WHERE length(text) % {_BP_CHUNK} <> 0
        ),
        a AS (SELECT * FROM fc UNION ALL SELECT * FROM rc),
        freq AS (
            SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
            FROM a GROUP BY chunk
        ),
        j AS (SELECT a.*, f.nd FROM a JOIN freq f USING (chunk))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN nd >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
               CAST(length(COALESCE(string_agg(
                   CASE WHEN nd < {_BP_MIN_DOCS} THEN chunk END, ''
                   ORDER BY pos), '')) AS BIGINT) AS cleaned_len,
               COALESCE(string_agg(
                   CASE WHEN nd < {_BP_MIN_DOCS} THEN chunk END, ''
                   ORDER BY pos), '') AS cleaned
        FROM j GROUP BY doc_id
    """,
    "corpus_jaccard_sources": _corpus_jaccard_oracle(),
    "text_bm25_topk": f"""
        WITH w AS (
            SELECT doc_id, string_split({sql_ascii_lower("text")}, ' ') AS w FROM documents
        ),
        base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM w),
        tok AS (
            SELECT doc_id, dl, unnest(w) AS term FROM base
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
            FROM tok WHERE term IN ({_BM25_IN})
            GROUP BY doc_id, dl, term
        ),
        dfr AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tok WHERE term IN ({_BM25_IN}) GROUP BY term
        ),
        c AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS t_words
            FROM base
        ),
        s AS (
            SELECT tf.doc_id,
                   CAST(count(*) AS BIGINT) AS n_terms_hit,
                   SUM(CAST(
                       ((2 * c.n_docs - 2 * dfr.df + 1) / (2 * dfr.df + 1))
                       * ((22 * tf.tf * c.t_words)
                          / (10 * tf.tf * c.t_words + 3 * c.t_words
                             + 9 * tf.dl * c.n_docs))
                       AS DECIMAL(18,6))) AS score_dec
            FROM tf JOIN dfr USING (term) CROSS JOIN c
            GROUP BY tf.doc_id
        )
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score_dec DESC, doc_id)
                    AS INTEGER) AS rk,
               n_terms_hit,
               {sql_half_up("CAST(score_dec AS DOUBLE)")} AS score
        FROM s ORDER BY score_dec DESC, doc_id LIMIT {_BM25_TOPK}
    """,
    "text_ngram_lm": f"""
        WITH bi AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
                SELECT doc_id,
                       {sql_indexed_unnest("text", 2, lower=True)} AS u
                FROM documents
            )
        ),
        c12 AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1
        )
        SELECT bi.doc_id,
               COUNT(*) AS n_bigrams,
               {sql_half_up(
                   f"{sql_dsum('CAST(c1.c1 AS DOUBLE) / CAST(c12.c12 AS DOUBLE)')}"
                   " / COUNT(*)"
               )}
                   AS avg_surprise
        FROM bi
        JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
        JOIN c1 ON bi.w1 = c1.w1
        GROUP BY bi.doc_id
    """,
    "text_tfidf": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({sql_ascii_lower("text")}, ' ')) AS term
            FROM documents
        ), tok_ne AS (
            SELECT doc_id, term FROM tok WHERE term <> ''
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok_ne GROUP BY doc_id, term
        ), dfrel AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM tok_ne GROUP BY term
        ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfrel.df,
                   CAST(tf.tf AS DOUBLE) * ((n_docs + 1.0) / (dfrel.df + 1.0))
                       AS score
            FROM tf JOIN dfrel ON tf.term = dfrel.term CROSS JOIN nd
        )
        SELECT doc_id, rk, term, tf, df,
               {sql_half_up("score")} AS score
        FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term
            ) AS INT) AS rk
            FROM scored
        )
        WHERE rk <= 3
    """,
    "text_pii_scrub": f"""
        WITH planted AS (
            SELECT doc_id + 10000000 AS doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-0100' AS text
            FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20)
        ),
        aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM planted
        ),
        s AS (
            SELECT doc_id, text,
                   regexp_replace(regexp_replace(text,
                       '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
            FROM aug
            WHERE text IS NULL OR length(text) <= {_PII_GIANT}
        ),
        gch AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(text,
                       '(?s).{{1,{_PII_CHUNK}}}')) AS chunk
            FROM aug WHERE length(text) > {_PII_GIANT}
        ),
        gs AS (
            SELECT doc_id, chunk,
                   regexp_replace(regexp_replace(chunk,
                       '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
            FROM gch
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones,
               CAST(length(scrubbed) AS INT) AS scrubbed_len,
               (NOT regexp_matches(scrubbed, '{_PII_EMAIL}')
                AND NOT regexp_matches(scrubbed, '{_PII_PHONE}')) AS clean
        FROM s
        UNION ALL
        SELECT doc_id,
               CAST(SUM(len(regexp_extract_all(chunk, '{_PII_EMAIL}'))) AS INT)
                   AS n_emails,
               CAST(SUM(len(regexp_extract_all(chunk, '{_PII_PHONE}'))) AS INT)
                   AS n_phones,
               CAST(SUM(length(scrubbed)) AS INT) AS scrubbed_len,
               bool_and(NOT regexp_matches(scrubbed, '{_PII_EMAIL}')
                        AND NOT regexp_matches(scrubbed, '{_PII_PHONE}'))
                   AS clean
        FROM gs GROUP BY doc_id
    """,
    "text_profile": f"""
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT doc_id) AS n_ids,
               CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS null_texts,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT source) AS n_sources,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars,
               {sql_half_up("AVG(n_chars)")} AS avg_chars
        FROM documents
    """,
    "text_sample_stratified": """
        SELECT lang, doc_id, rk FROM (
            SELECT lang, doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS INT) AS rk
            FROM documents
        ) WHERE rk <= 50
    """,
    "text_stats": f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               {sql_half_up("AVG(len(string_split(text, ' ')))")} AS avg_tokens,
               CAST(MAX(len(string_split(text, ' '))) AS INT) AS max_tokens,
               COUNT(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang
    """,
    "text_tokens": f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS INT) AS re_tokens,
               CAST(length(text) AS INT) AS chars
        FROM documents
    """,
    "text_quality": f"""
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS INT) AS n_words,
               {sql_half_up(
                   "CAST(n_chars - (len(string_split(text, ' ')) - 1) "
                   "AS DOUBLE) / len(string_split(text, ' '))"
               )} AS mean_word_len,
               {sql_half_up(
                   "length(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
                   "/ CAST(n_chars AS DOUBLE)"
               )} AS alpha_ratio,
               {sql_half_up(
                   "(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5 "
                   "+ least(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
                   "/ CAST(n_chars AS DOUBLE), 1.0) * 0.5)"
               )} AS quality
        FROM documents
        WHERE n_chars > 0
    """,
    "text_langid": f"""
        WITH scored AS (
            SELECT doc_id, lang,
               {_HITS_SQL}
            FROM documents
        )
        SELECT doc_id, lang, {_PRED_SQL} AS pred_lang, CAST({_BEST_SQL} AS INT) AS best_hits
        FROM scored
    """,
    "corpus_datacard": f"""
        WITH d AS (
            SELECT source, lang, text, n_chars,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
        ),
        g AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_minlen
            FROM d GROUP BY source
        )
        SELECT source, n_docs, n_langs,
               n_docs - n_unique AS n_dup_docs,
               {sql_half_up("CAST(n_docs - n_unique AS DOUBLE) / n_docs")} AS dup_rate,
               {sql_half_up("CAST(sum_chars AS DOUBLE) / n_docs")} AS avg_chars,
               {sql_half_up("CAST(n_minlen AS DOUBLE) / n_docs")} AS minlen_pass_rate
        FROM g
    """,
    "text_langid_confusion": f"""
        WITH scored AS (
            SELECT lang,
               {_HITS_SQL}
            FROM documents
        ),
        p AS (
            SELECT lang, {_PRED_SQL} AS pred_lang FROM scored
        )
        SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n,
               (lang = pred_lang) AS is_correct
        FROM p GROUP BY lang, pred_lang
    """,
    "text_fingerprint": """
        SELECT doc_id,
               -- NULL text has no fingerprint (Spark's fold over a NULL
               -- array is NULL; list_prepend(0, NULL) here folds to 0)
               -- char list bound once: substr(text, i, 1) by CHARACTER
               -- position is O(i) on UTF-8 (scan from the start), so the
               -- per-index form is O(len²) per doc — 27.9 s -> 0.61 s on a
               -- 250 KB document, identical values incl. unicode (round 9)
               CASE WHEN text IS NULL THEN NULL ELSE
               (SELECT list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(__c, ch -> CAST(ascii(ch) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007)
                FROM (SELECT string_split(text, '') AS __c) __s) END
               AS fingerprint
        FROM documents
    """,
    "text_topterms": f"""
        WITH counts AS (
            SELECT lang, term, COUNT(*) AS n FROM (
                SELECT lang, unnest(string_split({sql_ascii_lower("text")}, ' ')) AS term
                FROM documents
            ) WHERE term != ''
            GROUP BY lang, term
        )
        SELECT lang, term, n, rk FROM (
            SELECT lang, term, n,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS INT) AS rk
            FROM counts
        ) WHERE rk <= 5
    """,
}


def _bpe_sql() -> str:
    """Unrolled-CTE oracle for text_bpe_train: _BPE_ROUNDS round blocks,
    each MATERIALIZED (DuckDB inlines plain CTEs — a seq CTE referenced by
    both the pair count and the merge would otherwise recompute, and the
    round-state lesson from eval_elo_bt applies verbatim).  Each block is
    the exact SQL statement of the Spark round: windowed pair lead, top-1
    by (count DESC, l, r), gaps-and-islands parity take, absorb + renumber."""
    sym_list = (
        "unnest((SELECT list_transform(generate_series(1, len(__c) + 1), "
        "i -> {'pos': i - 1, 'w1': CASE WHEN i <= len(__c) THEN __c[i] "
        f"ELSE '{_BPE_EOW}' END}}) "
        "FROM (SELECT string_split(w, '') AS __c) __s)) AS u"
    )
    parts = [
        "WITH vocab AS MATERIALIZED (",
        "    SELECT u.w1 AS w, CAST(count(*) AS BIGINT) AS wcount FROM (",
        f"        SELECT {sql_indexed_unnest('text', 1)} AS u FROM documents",
        "    ) GROUP BY u.w1",
        "),",
        "seq1 AS MATERIALIZED (",
        # md5(w), not w, as the sequence key — the Spark twin's O(len²)
        # row-payload note applies to the CTE materialization too
        "    SELECT md5(w) AS word, wcount, u.pos AS pos, u.w1 AS sym FROM (",
        f"        SELECT w, wcount, {sym_list} FROM vocab",
        "    )",
        "),",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts += [
            f"pc{r} AS MATERIALIZED (",
            "    SELECT l, r, SUM(wcount) AS c FROM (",
            "        SELECT wcount, sym AS l,",
            "               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r",
            f"        FROM seq{r}",
            "    ) WHERE r IS NOT NULL GROUP BY l, r",
            "),",
            f"top{r} AS MATERIALIZED (",
            f"    SELECT l, r, c FROM pc{r} ORDER BY c DESC, l ASC, r ASC LIMIT 1",
            "),",
            f"cand{r} AS MATERIALIZED (",
            "    SELECT s.word, s.wcount, s.pos, s.sym,",
            "           (s.sym = t.l AND",
            "            lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = t.r)",
            "               AS cand",
            f"    FROM seq{r} s CROSS JOIN top{r} t",
            "),",
            f"takes{r} AS MATERIALIZED (",
            "    SELECT word, pos, (rn2 % 2 = 1) AS take FROM (",
            "        SELECT word, pos,",
            "               row_number() OVER (PARTITION BY word, island ORDER BY pos) AS rn2",
            "        FROM (",
            "            SELECT word, pos,",
            "                   pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS island",
            f"            FROM cand{r} WHERE cand",
            "        )",
            "    )",
            "),",
            f"seq{r + 1} AS MATERIALIZED (",
            "    SELECT word, wcount,",
            "           CAST(row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS BIGINT) AS pos,",
            f"           CASE WHEN take THEN (SELECT l || r FROM top{r}) ELSE sym END AS sym",
            "    FROM (",
            "        SELECT f.*,",
            "               COALESCE(lag(f.take) OVER (PARTITION BY f.word ORDER BY f.pos), FALSE) AS absorbed",
            "        FROM (",
            "            SELECT c.word, c.wcount, c.pos, c.sym,",
            "                   COALESCE(k.take, FALSE) AS take",
            f"            FROM cand{r} c LEFT JOIN takes{r} k USING (word, pos)",
            "        ) f",
            "    ) WHERE NOT absorbed",
            "),",
        ]
    unions = "\n        UNION ALL ".join(
        f"SELECT {r} AS merge_round, l, r AS rr, c FROM top{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    parts += [
        "merges AS (",
        f"        {unions}",
        ")",
        "SELECT CAST(merge_round AS INT) AS merge_round,",
        "       l AS left_sym, rr AS right_sym, l || rr AS merged,",
        "       CAST(c AS BIGINT) AS pair_count",
        "FROM merges",
    ]
    return "\n".join(parts)


ORACLE["text_bpe_train"] = _bpe_sql()
