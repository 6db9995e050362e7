"""Model-evaluation operators (training-pipeline tier) — the metrics a
data/eval team runs over scored examples, phrased so every statistic is
integer-carried or single-divide exact:

- eval_auc          ROC-AUC via the Mann-Whitney rank-sum, ties handled by
                    average ranks carried as INTEGERS (2·rank), cumulative
                    counts via the shared two-phase prefix sum (SQL oracle)
- eval_prf          confusion counts + precision/recall/F1 at a fixed
                    threshold; F1 as the single-divide 2tp/(2tp+fp+fn)
                    (SQL oracle)
- eval_calibration  reliability-diagram bins: per-bin mean score vs
                    positive rate (SQL oracle)
- eval_mrr          mean reciprocal rank over per-user ranked candidates;
                    each reciprocal carried as the INTEGER half-up of
                    10⁶/rank — (2·10⁶+r) DIV 2r — so the mean is an exact
                    integer sum with one final divide (SQL oracle)
- eval_ndcg         NDCG@10 with the 1/log₂(p+1) discount frozen to a
                    LITERAL integer table (scaled 10⁶) shared verbatim by
                    both engines — no runtime log anywhere, so the
                    statistic is bit-stable by construction (SQL oracle)

The binary task is modeled on the events stream: does `value` separate
purchases (positive) from clicks (negative)?  The AUC answers "how well",
PRF at a threshold answers "at this operating point", calibration answers
"are the scores honest probabilities-ish".

Scale design (100 TB):
* eval_auc — one groupBy collapses duplicate scores (map-side combined),
  the cumulative count uses the range-partitioned two-phase prefix sum
  (never a single-partition ORDER BY window), and the final rank-sum is a
  plain aggregate.  (Carrier note: 2·rank sums stay < 2^63 up to ~2·10⁹
  scored rows; past that, bucket scores first — AUC over quantile-bucketed
  scores is the standard streaming approximation.)
* eval_prf — one conditional aggregate over the scan; map-only until the
  4-cell reduce.
* eval_calibration — min/max as a 1-row broadcast, then one groupBy on
  the bin id; bins are O(10) rows at any scale.
* eval_mrr / eval_ndcg — the ranking window partitions by user_id, so its
  cost is bounded by one user's candidate count (the per-query result
  list), never the corpus; everything after is map-side-combined groupBys
  and one global 4-cell reduce.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import DEC, finite, half_up, sql_dsum, sql_half_up, two_phase_prefix
from ..io import SQL_FINITE_EVENTS, parallel, table
from .prep import _PP_MIN_MARGIN, preference_pairs

_POS, _NEG = "purchase", "click"
_PRF_THRESHOLD = 50.0
_CAL_BINS = 10
_RANK_SCALE = 1_000_000
_NDCG_K = 10
# NDCG@10 discount table, scaled 10^6 and frozen to integers at import:
# both the Spark plan and the oracle SQL embed the SAME literals, so no
# engine ever evaluates log2 at query time (cross-engine libm is the one
# primitive this repo's hash contract cannot trust).
_DISC = [round(_RANK_SCALE / math.log2(p + 1)) for p in range(1, _NDCG_K + 1)]
# _IDCG[k] = ideal DCG (scaled) for a user with k relevant docs, k=0..10
_IDCG = [0]
for _d in _DISC:
    _IDCG.append(_IDCG[-1] + _d)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, y): score + binary label, NULL scores excluded explicitly
    (same window-NULL-order rationale as quality.drift_ks)."""
    e = table(spark, sf_dir, "events")
    return e.filter(
        F.col("event_type").isin(_POS, _NEG) & F.col("value").isNotNull()
    ).withColumn("value", finite("value")).filter(
        F.col("value").isNotNull()
    ).select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == _POS, 1).otherwise(0).alias("y"),
    )


def eval_auc(spark: SparkSession, sf_dir: str, par: int | None = None) -> DataFrame:
    """Exact ROC-AUC by Mann-Whitney rank-sum, tie-correct and
    integer-carried: for each distinct score, 2·(average rank) =
    2·pre + n_at + 1 where pre = count of strictly-smaller rows — an
    integer, so the positive rank sum R2 = Σ np_at·(2·pre + n_at + 1) is
    exact, 2U = R2 − n_pos·(n_pos+1), and AUC = 2U / (2·n_pos·n_neg) is
    one IEEE divide.  No float accumulates anywhere.
    """
    j = _scored(spark, sf_dir)
    g = j.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_at"), F.sum("y").alias("np_at")
    )
    pre, _totals = two_phase_prefix(g, ["s"], sum_cols=("n_at",), par=par)
    t = pre.agg(
        F.sum(
            F.col("np_at") * (2 * F.col("pre_n_at") + F.col("n_at") + 1)
        ).alias("r2"),
        F.sum("np_at").alias("n_pos"),
        F.sum(F.col("n_at") - F.col("np_at")).alias("n_neg"),
    )
    u2 = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return t.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        u2.cast("long").alias("u2"),
        # single-class slice => undefined AUC as NULL (not an ANSI
        # DIVIDE_BY_ZERO crash; DuckDB's x/0-free CASE mirrors this)
        F.when(
            F.col("n_pos") * F.col("n_neg") > 0,
            half_up(
                u2 / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
            ),
        ).alias("auc"),
    )


def eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts and precision/recall/F1 at score >= 50: every
    ratio is a single divide of exact integers (F1 via 2tp/(2tp+fp+fn),
    never the p·r composition that would chain float error)."""
    j = _scored(spark, sf_dir).withColumn(
        "pred", (F.col("s") >= F.lit(_PRF_THRESHOLD)).cast("int")
    )
    t = j.agg(
        F.sum(F.col("y") * F.col("pred")).alias("tp"),
        F.sum((1 - F.col("y")) * F.col("pred")).alias("fp"),
        F.sum(F.col("y") * (1 - F.col("pred"))).alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("pred"))).alias("tn"),
    )
    return t.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        # empty denominators (no predicted / no actual positives) emit
        # NULL instead of raising under ANSI mode — mirrored in the oracle
        F.when(
            F.col("tp") + F.col("fp") > 0,
            half_up(F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            half_up(F.col("tp") / (F.col("tp") + F.col("fn")).cast("double")),
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            half_up(
                (2 * F.col("tp"))
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
            ),
        ).alias("f1"),
    )


def eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins: scores split into 10 equal-width bins over the
    observed [min, max]; per bin, the decimal-carried mean score and the
    exact positive rate.  A calibrated scorer shows mean_score ≈ pos_rate
    per bin (up to the score scale) — the drift signal for a quality or
    reward model."""
    j = _scored(spark, sf_dir)
    mm = F.broadcast(j.agg(F.min("s").alias("mn"), F.max("s").alias("mx")))
    binned = j.crossJoin(mm).select(
        "s",
        "y",
        # degenerate all-equal-score slice collapses to bin 0 explicitly
        # (ANSI would raise on the 0-width divide; DuckDB would NULL it)
        F.when(F.col("mx") > F.col("mn"),
            F.least(
                F.lit(_CAL_BINS - 1),
                F.floor(
                    (F.col("s") - F.col("mn"))
                    * _CAL_BINS
                    / (F.col("mx") - F.col("mn"))
                ).cast("int"),
            ),
        ).otherwise(F.lit(0)).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        half_up(
            F.sum(F.col("s").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("mean_score"),
        half_up(
            F.sum("y") / F.count(F.lit(1)).cast("double")
        ).alias("pos_rate"),
    )


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ranked candidate list: every scored event a user saw,
    ranked by score desc with the event_id tie-break that makes the
    ordering total (Spark row_number and DuckDB row_number then agree on
    ties by construction — same rationale as join_asof's tie-break)."""
    e = table(spark, sf_dir, "events")
    j = e.filter(
        F.col("event_type").isin(_POS, _NEG) & F.col("value").isNotNull()
    ).withColumn("value", finite("value")).filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.col("value").alias("s"),
        F.when(F.col("event_type") == _POS, 1).otherwise(0).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("s"), F.asc("event_id"))
    return j.withColumn("rk", F.row_number().over(w))


def eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank: each user is one retrieval query, purchases
    are the relevant results, and the per-user statistic is 1/rank of the
    first purchase (0 when the user never purchased — standard MRR).  The
    reciprocal is carried as the integer half-up of 10⁶/rank, i.e.
    (2·10⁶ + r) DIV 2r, so the cross-user mean is an exact integer sum
    with exactly one IEEE divide at the end."""
    r = _ranked(spark, sf_dir)
    pu = r.groupBy("user_id").agg(
        F.min(F.when(F.col("y") == 1, F.col("rk"))).alias("first_pos")
    )
    scaled = pu.withColumn(
        "rr_s",
        F.coalesce(
            F.expr(
                f"({2 * _RANK_SCALE} + first_pos) DIV (2 * first_pos)"
            ),
            F.lit(0),
        ),
    )
    t = scaled.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_pos").alias("n_hit"),
        # empty slice: SUM over zero rows is NULL in Spark but the oracle
        # coalesces to 0 — mirror it
        F.coalesce(F.sum("rr_s"), F.lit(0)).alias("sum_rr"),
    )
    return t.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("sum_rr").cast("long").alias("sum_rr"),
        F.when(
            F.col("n_users") > 0,
            half_up(
                F.col("sum_rr")
                / (F.col("n_users") * _RANK_SCALE).cast("double")
            ),
        ).alias("mrr"),
    )


def eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 with binary gains: DCG sums the frozen-literal discount at
    each relevant position ≤ 10, IDCG is the prefix-sum literal for
    min(n_relevant, 10), and the per-user ratio is carried as the integer
    half-up of 10⁶·dcg/idcg — so the mean over users is again an exact
    integer sum.  Users with zero relevant docs are excluded (NDCG is
    undefined for them; n_users_eval reports the denominator)."""
    r = _ranked(spark, sf_dir)
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _DISC]), F.col("rk").cast("int")
    )
    pu = r.groupBy("user_id").agg(
        F.sum(
            F.when((F.col("y") == 1) & (F.col("rk") <= _NDCG_K), disc)
            .otherwise(0)
        ).alias("dcg_s"),
        F.sum("y").alias("n_rel"),
    )
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in _IDCG[1:]]),
        F.least(F.col("n_rel"), F.lit(_NDCG_K)).cast("int"),
    )
    scored = (
        pu.filter(F.col("n_rel") > 0)
        .withColumn("idcg_s", idcg)
        .withColumn(
            "ndcg_s",
            F.expr(
                f"({2 * _RANK_SCALE} * dcg_s + idcg_s) DIV (2 * idcg_s)"
            ),
        )
    )
    t = scored.agg(
        F.count(F.lit(1)).alias("n_users_eval"),
        F.sum("ndcg_s").alias("sum_ndcg"),
    )
    return t.select(
        F.col("n_users_eval").cast("long").alias("n_users_eval"),
        F.col("sum_ndcg").cast("long").alias("sum_ndcg"),
        F.when(
            F.col("n_users_eval") > 0,
            half_up(
                F.col("sum_ndcg")
                / (F.col("n_users_eval") * _RANK_SCALE).cast("double")
            ),
        ).alias("mean_ndcg"),
    )


_PASS_N = 8  # attempts per problem (first N by arrival order)
_PASS_K_BIG = 4


def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (k = 1 and 4) with the standard unbiased estimator
    1 − C(n−c, k)/C(n, k), carried INTEGER-EXACTLY: each problem is a
    user, its attempts are that user's first 8 scored events in arrival
    (event_id) order, and an attempt is correct when it is a purchase.
    The binomial ratio collapses to falling factorials —
    perm(n−c, k)/perm(n, k) — whose operands never exceed 8, so the
    per-problem statistic is one integer half-up divide (scaled 10⁶) and
    the cross-problem mean is an exact integer sum with one final divide
    (the eval_mrr discipline).  k = 4 averages only problems with ≥ 4
    attempts (the estimator requires n ≥ k).

    Scale (100 TB): the only window partitions by user_id and is
    capped at the first 8 rows per user, so its cost is bounded per
    problem; everything after is a map-side-combined groupBy and one
    global reduce.  Carrier: p_scaled ≤ 10⁶ per problem, so the sum
    stays < 2^63 up to ~9·10¹² problems.
    """
    e = table(spark, sf_dir, "events")
    j = e.filter(
        F.col("event_type").isin(_POS, _NEG) & F.col("value").isNotNull()
    ).withColumn("value", finite("value")).filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == _POS, 1).otherwise(0).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("event_id"))
    capped = j.withColumn("att", F.row_number().over(w)).filter(
        F.col("att") <= _PASS_N
    )
    pu = capped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("c")
    )
    s = _RANK_SCALE
    # fail-fraction numerators/denominators as falling factorials
    pu = pu.selectExpr(
        "user_id",
        "n",
        "c",
        # k = 1: fail = (n-c)/n ; pass_scaled = 10^6 - half_up
        f"{s} - (2 * {s} * (n - c) + n) DIV (2 * n) AS p1_s",
        # k = 4: fail = perm(n-c,4)/perm(n,4), 0 numerator when n-c < 4;
        # NULL (excluded) when the problem has fewer than 4 attempts
        f"""CASE WHEN n >= {_PASS_K_BIG} THEN
                {s} - (2 * {s} * (CASE WHEN n - c >= {_PASS_K_BIG}
                       THEN (n-c)*(n-c-1)*(n-c-2)*(n-c-3) ELSE 0 END)
                      + n*(n-1)*(n-2)*(n-3))
                     DIV (2 * n*(n-1)*(n-2)*(n-3))
            END AS p4_s""",
    )
    t = pu.agg(
        F.count(F.lit(1)).alias("n_problems"),
        F.sum("p1_s").alias("sum_p1"),
        F.count("p4_s").alias("n_problems_k4"),
        F.coalesce(F.sum("p4_s"), F.lit(0)).alias("sum_p4"),
    )
    return t.select(
        F.col("n_problems").cast("long").alias("n_problems"),
        F.col("sum_p1").cast("long").alias("sum_p1"),
        F.col("n_problems_k4").cast("long").alias("n_problems_k4"),
        F.col("sum_p4").cast("long").alias("sum_p4"),
        F.when(
            F.col("n_problems") > 0,
            half_up(F.col("sum_p1") / (F.col("n_problems") * s).cast("double")),
        ).alias("pass_at_1"),
        F.when(
            F.col("n_problems_k4") > 0,
            half_up(
                F.col("sum_p4") / (F.col("n_problems_k4") * s).cast("double")
            ),
        ).alias("pass_at_4"),
    )


_AB_A, _AB_B = "view", "click"
_AB_Z2_CRIT = 3.8415  # chi^2(1) 95% == z^2 for a two-sided 5% test


def eval_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B z-test on the value metric — variant A = view
    events, variant B = click events (drift_ks's pair, answering "did
    the mean move" where KS answers "did the distribution move").
    Welch-style large-sample statistic: z² = (μ_A − μ_B)² /
    (s²_A/n_A + s²_B/n_B), compared against χ²₁'s 95% point so no
    square root is ever taken (libm discipline).

    Determinism: values are cents-scaled to int64 and each group reduces
    to the exact integers (n, Σv, Σv²); the statistic is then ONE double
    expression over those six integers, stated verbatim in the oracle —
    identical inputs, identical IEEE op tree, identical result.  (Σv²
    stays < 2⁶³ to ~9·10⁶ rows/group at |v| ≤ 100; past that carry Σv²
    as DECIMAL(38,0) — the formula is unchanged.)

    Scale: one conditional map-side-combined aggregate over the scan —
    the 6-integer sketch is mergeable, so this is a single reduce at any
    data size.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_AB_A, _AB_B) & F.col("value").isNotNull()
    ).withColumn(
        "value", finite("value")
    ).filter(F.col("value").isNotNull())
    v = F.expr("cast(floor(value * 10000 + 0.5) as bigint)")
    a = F.col("event_type") == _AB_A
    t = e.select(
        F.when(a, 1).otherwise(0).alias("ia"), v.alias("v_s")
    ).agg(
        F.sum("ia").alias("n_a"),
        F.sum(F.expr("1 - ia")).alias("n_b"),
        F.sum(F.col("ia") * F.col("v_s")).alias("s_a"),
        F.sum((1 - F.col("ia")) * F.col("v_s")).alias("s_b"),
        F.sum(F.col("ia") * F.col("v_s") * F.col("v_s")).alias("q_a"),
        F.sum((1 - F.col("ia")) * F.col("v_s") * F.col("v_s")).alias("q_b"),
    )
    # the one shared double expression tree (scaled back from cents)
    mean_a = F.col("s_a").cast("double") / (F.col("n_a") * 10000).cast("double")
    mean_b = F.col("s_b").cast("double") / (F.col("n_b") * 10000).cast("double")
    var_a = (
        F.col("n_a").cast("double") * F.col("q_a").cast("double")
        - F.col("s_a").cast("double") * F.col("s_a").cast("double")
    ) / (
        (F.col("n_a") * (F.col("n_a") - 1)).cast("double") * F.lit(1.0e8)
    )
    var_b = (
        F.col("n_b").cast("double") * F.col("q_b").cast("double")
        - F.col("s_b").cast("double") * F.col("s_b").cast("double")
    ) / (
        (F.col("n_b") * (F.col("n_b") - 1)).cast("double") * F.lit(1.0e8)
    )
    z2 = (
        (mean_a - mean_b)
        * (mean_a - mean_b)
        / (var_a / F.col("n_a").cast("double") + var_b / F.col("n_b").cast("double"))
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    return t.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        half_up(mean_a).alias("mean_a"),
        half_up(mean_b).alias("mean_b"),
        F.when(ok, half_up(z2)).alias("z2"),
        F.when(ok, z2 >= _AB_Z2_CRIT).alias("significant"),
    )


def eval_filter_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparate-impact audit of the corpus admission gate — does
    pipeline_quality_gate admit some languages at a materially lower
    rate?  The four-fifths (80%) rule from fair-selection practice,
    applied where it actually bites a data pipeline: a filter that
    silently under-admits one language skews the training mixture.

    Per ground-truth language: doc count, admitted count, admit rate,
    impact ratio vs the best-admitting language, and the 80%-rule flag
    as an integer cross-multiplication (10·adm_g·n_best ≥ 8·adm_best·n_g)
    — no float ever decides the verdict.  The gate relation is IMPORTED
    from pipeline_quality_gate, so the audit can never drift from the
    filter it audits.

    Scale: the gate's per-doc relation reduces to one |langs|-row
    aggregate; the best-group rate is a 1-row broadcast.
    """
    from ..io import table as _table
    from .prep import pipeline_quality_gate

    g = pipeline_quality_gate(spark, sf_dir).select("doc_id", "admitted")
    langs = _table(spark, sf_dir, "documents").select("doc_id", "lang")
    per = (
        g.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("admitted").cast("int")).alias("n_admitted"),
        )
    )
    # best-admitting group by rate (exact integer comparison via
    # cross-multiplication is overkill for picking the max; a rational
    # sort key (n_admitted/n_docs, lang) needs one divide — but to stay
    # float-free the argmax uses cross-multiplied pairwise max via a
    # 1-row reduce on (n_admitted, n_docs) ordered by the exact rational)
    best = per.orderBy(
        F.expr("n_admitted / n_docs").desc(), F.asc("lang")
    ).limit(1).select(
        F.col("n_admitted").alias("best_adm"),
        F.col("n_docs").alias("best_n"),
        F.col("lang").alias("best_lang"),
    )
    j = per.crossJoin(F.broadcast(best))
    return j.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_admitted").cast("long").alias("n_admitted"),
        half_up(F.col("n_admitted") / F.col("n_docs").cast("double")).alias(
            "admit_rate"
        ),
        "best_lang",
        F.when(
            F.col("best_adm") > 0,
            half_up(
                (F.col("n_admitted") * F.col("best_n")).cast("double")
                / (F.col("best_adm") * F.col("n_docs")).cast("double")
            ),
        ).alias("impact_ratio"),
        (
            10 * F.col("n_admitted") * F.col("best_n")
            >= 8 * F.col("best_adm") * F.col("n_docs")
        ).alias("passes_four_fifths"),
    )


_BOOT_B = 200
# Poisson(1) bootstrap weight thresholds: cumulative CDF at k=0..7 scaled
# to 32-bit hex (the md5-prefix draw both engines share — curation's
# domain_mix discipline).  Frozen at import; both plans embed the SAME
# string literals, so no runtime exp() enters the hash contract.
_BOOT_CDF_HEX = []
_cum = 0.0
for _k in range(8):
    _cum += math.exp(-1.0) / math.factorial(_k)
    _BOOT_CDF_HEX.append(format(min(16**8 - 1, int(_cum * 16**8)), "08x"))


def eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bootstrap 95% CI for an eval metric (mean purchase
    value) — the error bar every leaderboard delta needs before a ship
    decision.  The resampling is the POISSON bootstrap (each row enters
    resample b with weight ~ Poisson(1)) rather than index resampling:
    per-row weights are a pure map-side function of (event_id, b), so
    the plan is scan → B-fold weight expansion (a sequence(1,B) explode,
    no join, no shuffle) → one groupBy(b) with map-side combine — at 100 TB there
    is no global row-index to sample from, which is exactly why
    production bootstraps at scale are Poisson.

    Determinism end to end: weights come from an md5(event_id:b) hex
    draw against the frozen Poisson CDF thresholds; resample means are
    decimal-carried then half-up rounded; the percentile is exact rank
    selection (rank ceil(q·B') over valid resamples, tie-broken by b) —
    no runtime exp/rand anywhere, so both engines agree bitwise.
    Resamples whose total weight is 0 are invalid (no sampled rows → no
    mean) and excluded from the rank base on both sides; an empty metric
    base yields zero rows.
    """
    base = (
        table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == _POS)
            & F.col("value").isNotNull()
        )
        .withColumn("value", finite("value"))
        .filter(F.col("value").isNotNull())
        .select("event_id", F.col("value").alias("v"))
    )
    # the B-fold weight expansion evaluates an md5 per (row, b) — O(N·B)
    # digest work that a single-split local scan would run on ONE core
    # (r14 plan audit; guide §2.5 input skew).  Spread the 16-byte base
    # rows once when the scan is under-parallel (io.parallel policy: a
    # real lake's scan already has thousands of splits — no-op there).
    base = parallel(spark, base)
    # B-fold expansion as a sequence-explode (same rows as the old
    # broadcast-spine crossJoin, minus the BroadcastNestedLoopJoin
    # machinery), with the md5 draw MATERIALIZED in its own projection:
    # inside the CASE WHEN chain Spark's subexpression elimination does
    # not fire (branches are conditionally evaluated), so the pre-r14
    # shape recomputed the digest up to 8× per (row, b).  `h` is
    # referenced 8 times, which is exactly what stops CollapseProject
    # from re-inlining it (the _exploded_shingles discipline).
    # md5 input pieces are hoisted OUT of the O(N·B) expansion (r15):
    # `cast(event_id as string)` is computed once per BASE row (N casts,
    # not N·B), and the exploded array carries the pre-concatenated
    # ":{b}" suffix strings alongside b — the per-pair work is then ONE
    # concat + md5, where the pre-r15 shape paid two casts and a 3-part
    # concat per pair.  The md5 INPUT bytes are identical, so w and every
    # downstream value are bit-identical.
    h = F.substring(F.md5(F.concat(F.col("eid_s"), F.col("bp.bs"))), 1, 8)
    hc = F.col("h")
    w = F.when(hc < _BOOT_CDF_HEX[0], 0)
    for _i in range(1, 8):
        w = w.when(hc < _BOOT_CDF_HEX[_i], _i)
    w = w.otherwise(8)
    b_pairs = ", ".join(
        f"struct({b} AS b, ':{b}' AS bs)" for b in range(1, _BOOT_B + 1)
    )
    bs = (
        base.select(
            "v",
            F.col("event_id").cast("string").alias("eid_s"),
        )
        .select("v", "eid_s", F.expr(f"explode(array({b_pairs})) AS bp"))
        .select(F.col("bp.b").alias("b"), "v", h.alias("h"))
        .select("b", "v", w.alias("w"))
    )
    means = (
        bs.groupBy("b")
        .agg(
            F.sum((F.col("w") * F.col("v")).cast(DEC)).alias("sw"),
            F.sum("w").alias("nw"),
        )
        .filter(F.col("nw") > 0)
        .select(
            "b",
            half_up(F.col("sw").cast("double") / F.col("nw")).alias(
                "mean_b"
            ),
        )
    )
    # bounded global windows: exactly B <= 200 rows by construction.  bb
    # (the valid-resample count) comes from the SAME single-partition
    # window pass as rn — the pre-r14 shape computed it as a separate
    # aggregate over `means`, which re-executed the whole O(N·B)
    # weight-expansion subtree a second time (no reuse across the two
    # consumers; r14 plan audit showed the scan + BNLJ + groupBy twice).
    w_all = Window.orderBy("mean_b", "b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rn = F.row_number().over(Window.orderBy("mean_b", "b"))
    r = means.select(
        "mean_b",
        rn.alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("bb"),
    )
    full = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        half_up(
            F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("mean_value"),
    )
    lo_rank = F.expr("(bb * 25 + 999) div 1000")
    hi_rank = F.expr("(bb * 975 + 999) div 1000")
    return (
        r.crossJoin(F.broadcast(full))
        .groupBy("n", "bb", "mean_value")
        .agg(
            F.min(F.when(F.col("rn") == lo_rank, F.col("mean_b"))).alias(
                "ci_lo"
            ),
            F.min(F.when(F.col("rn") == hi_rank, F.col("mean_b"))).alias(
                "ci_hi"
            ),
        )
        .select(
            "n",
            F.col("bb").alias("b_resamples"),
            "mean_value",
            "ci_lo",
            "ci_hi",
        )
    )


# Bradley-Terry MM solver constants (eval_elo_bt): fixed iteration count
# so both engines state the SAME unrolled updates; per-term 10^6 floor
# scaling makes every denominator an exact integer sum; gammas are
# half-up-rounded to 9 decimals and clamped at 1e-6 (a type that loses
# every kept match legitimately sinks to the clamp, never to div-0).
_BT_ITERS = 8
_BT_CLAMP = 0.000001


def _bt_step(gam: dict, dirn: dict, wins: dict) -> dict:
    """One MM update (Hunter 2004), arithmetic chosen to be bit-identical
    to the unrolled SQL twin: integer term floors, exact integer sums,
    one double divide, half-up floor at 10^-9, clamp."""
    den = {}
    for (i, j), n in dirn.items():
        den[i] = den.get(i, 0) + math.floor(
            n * 1000000.0 / (gam[i] + gam[j]) + 0.5
        )
    out = {}
    for i, d in den.items():
        g = (
            math.floor(
                wins.get(i, 0) / (d / 1000000.0) * 1000000000.0 + 0.5
            )
            / 1000000000.0
        )
        out[i] = max(g, _BT_CLAMP)
    return out


def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) — THE inter-annotator agreement
    statistic for human-labeled SFT/preference data (handles missing
    ratings, unlike Cohen's kappa).  Ratings are synthesized
    deterministically from documents: 3 annotators, each present per doc
    with ~15/16 probability (md5 draw), rating a base category
    (md5(doc_id) mod 4) that each annotator independently flips to the
    next category with ~1/8 probability — so agreement is high but
    imperfect and alpha lands strictly inside (0, 1).

    Exactness: the whole computation is integer until ONE final divide.
    Per pairable unit (m_u >= 2 ratings), the off-diagonal coincidence
    mass is m_u² − Σ_c n_uc² (no category self-join needed), weighted by
    2/(m_u−1) ∈ {1, 2} — integers, no ratio per unit.  Margins reduce to
    raw per-category counts over pairable units (Σ_u n_uc(m_u−1)/(m_u−1)).
    α = [2·(N²−Σn_c²) − Do₂·(N−1)] / [2·(N²−Σn_c²)], one half-up round.
    Properties pinned in tests/test_properties.py: perfect agreement ⇒
    α = 1; category relabeling leaves α unchanged.

    Scale (100 TB): two map-side-combined aggregates (by unit, then by
    category) — the coincidence MATRIX never materializes, only its
    diagonal mass and margins; no collect, no window.
    """
    # distinct: a unit is rated once per annotator even on corpora that
    # repeat doc_id rows (const/dup axes) — this also pins m_u <= 3, which
    # is what keeps the 2/(m_u-1) weight an exact integer below
    d = table(spark, sf_dir, "documents").select("doc_id").distinct()
    base = (
        F.expr(
            "instr('0123456789abcdef', "
            "substring(md5(concat(cast(doc_id as string), ':c')), 1, 1)) - 1"
        )
        % 4
    )
    r = (
        d.select("doc_id", base.alias("base"), F.explode(F.expr("array(1,2,3)")).alias("k"))
        .filter(
            F.expr(
                "substring(md5(concat(cast(doc_id as string), ':', "
                "cast(k as string), ':p')), 1, 1)"
            )
            != F.lit("f")
        )
        .select(
            "doc_id",
            "k",
            F.when(
                F.expr(
                    "substring(md5(concat(cast(doc_id as string), ':', "
                    "cast(k as string), ':f')), 1, 1)"
                ).isin("0", "1"),
                (F.col("base") + 1) % 4,
            )
            .otherwise(F.col("base"))
            .alias("c"),
        )
    )
    return _alpha_of_ratings(r)


def _alpha_of_ratings(r: DataFrame) -> DataFrame:
    """Nominal Krippendorff alpha over a (doc_id, k, c) rating relation —
    the integer-exact coincidence computation (see eval_krippendorff_alpha
    docstring).  Domain: m_u <= 3 ratings per unit (the ×2 scaling makes
    2/(m_u−1) exact only for m ∈ {2,3}; callers guarantee it by distinct
    doc_id × 3 annotators).  Factored out so tests/test_properties.py can
    pin the mathematical properties (perfect agreement ⇒ α = 1; category
    relabeling invariance) on constructed rating fixtures."""
    nuc = r.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n_uc"))
    per_u = nuc.groupBy("doc_id").agg(
        F.sum("n_uc").alias("m_u"),
        F.sum(F.col("n_uc") * F.col("n_uc")).alias("ss"),
    ).filter(F.col("m_u") >= 2)
    # Do2 = sum over pairable units of (m² − Σn²)·2/(m−1); margins = raw
    # per-category counts restricted to pairable units (left_semi keeps
    # the aggregate map-side combinable)
    do2_row = per_u.agg(
        F.coalesce(
            F.sum(
                (F.col("m_u") * F.col("m_u") - F.col("ss"))
                * F.when(F.col("m_u") == 2, F.lit(2)).otherwise(F.lit(1))
            ),
            F.lit(0),
        ).alias("do2"),
        F.coalesce(F.sum("m_u"), F.lit(0)).alias("n_ratings"),
        F.count(F.lit(1)).alias("n_units"),
    )
    marg = (
        nuc.join(per_u.select("doc_id"), "doc_id", "left_semi")
        .groupBy("c")
        .agg(F.sum("n_uc").alias("n_c"))
        .agg(F.coalesce(F.sum(F.col("n_c") * F.col("n_c")), F.lit(0)).alias("ssm"))
    )
    de_den = 2 * (F.col("n_ratings") * F.col("n_ratings") - F.col("ssm"))
    return do2_row.crossJoin(marg).select(
        "n_units",
        "n_ratings",
        F.col("do2").cast("bigint").alias("do_s2"),
        de_den.cast("bigint").alias("de_den2"),
        F.when(
            de_den > 0,
            half_up(
                (de_den - F.col("do2") * (F.col("n_ratings") - 1))
                / de_den.cast("double")
            ),
        ).alias("alpha"),
    )


def eval_elo_bt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength scores from pairwise preference outcomes —
    the arena-style aggregate ranking (how LLM leaderboards turn pairwise
    votes into a scale).  A "duel" is a user who engaged with two event
    types unequally: the type with the higher event count wins (ties are
    no-contest).  Types are kept only if they have >= 1 win AND >= 1 loss
    (the standard BT identifiability condition); strengths come from
    _BT_ITERS fixed MM iterations.

    Determinism across engines: the duel/win/match aggregation is exact
    integer SQL; the MM iteration's denominators are sums of
    floor(n·10^6 / (γ_i+γ_j)) — exact integers — and each new γ is one
    double divide, half-up floored at 10^-9, clamped at 1e-6.  The
    oracle states the SAME 8 updates as unrolled CTEs (graph_kcore's
    fixed-round discipline), so every intermediate is bit-equal.

    Scale (100 TB): the duel expansion is per-user (≤ types² rows per
    user, the join_basket_lift bound) and collapses map-side-combined
    into a ≤ types² comparison graph — the solver then runs on
    SUFFICIENT STATISTICS, a bounded O(types²) relation (collected:
    ≤ 210 rows at 15 types; the d×d-gramian-partials discipline —
    model fitting happens on aggregates, never on events)."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = c.alias("a"), c.alias("b")
    duel = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .filter(F.col("a.n") != F.col("b.n"))
        .select(
            F.when(
                F.col("a.n") > F.col("b.n"), F.col("a.event_type")
            )
            .otherwise(F.col("b.event_type"))
            .alias("w"),
            F.when(
                F.col("a.n") > F.col("b.n"), F.col("b.event_type")
            )
            .otherwise(F.col("a.event_type"))
            .alias("l"),
        )
    )
    wl = duel.groupBy("w", "l").agg(F.count(F.lit(1)).alias("n"))
    rows = wl.collect()  # bounded: <= |event types|^2 rows

    winners = {r["w"] for r in rows}
    losers = {r["l"] for r in rows}
    kept = winners & losers
    dirn: dict = {}
    wins: dict = {}
    for r in rows:
        if r["w"] in kept and r["l"] in kept:
            dirn[(r["w"], r["l"])] = dirn.get((r["w"], r["l"]), 0) + r["n"]
            dirn[(r["l"], r["w"])] = dirn.get((r["l"], r["w"]), 0) + r["n"]
            wins[r["w"]] = wins.get(r["w"], 0) + r["n"]
    nodes = sorted({i for (i, _j) in dirn})
    gam = {i: 1.0 for i in nodes}
    for _ in range(_BT_ITERS):
        gam = _bt_step(gam, dirn, wins)
    matches = {}
    for (i, _j), n in dirn.items():
        matches[i] = matches.get(i, 0) + n
    out = [
        (t, wins.get(t, 0), matches[t], gam[t]) for t in nodes
    ]
    return spark.createDataFrame(
        out,
        "event_type string, n_wins bigint, n_matches bigint, bt_gamma double",
    )


_LB_MIN_MARGIN = _PP_MIN_MARGIN  # the oracles' copy of the pair recipe


def _gap_audit(
    pairs: DataFrame, col: str, winner: str, bucket: Column
) -> DataFrame:
    """The steps eval_length_bias and eval_format_bias share, over pairs
    carrying ``<col>_chosen`` / ``<col>_rejected``: the observed-pairs
    filter (a NULL payload has nothing to audit), the signed ``delta``
    (chosen minus rejected) and its absolute ``gap``, then per ``bucket``
    of the gap the pair count, ``<winner>_wins`` (pairs whose chosen side
    scores higher), integer sums, and the rates as one double divide each.
    """
    chosen, rejected = f"{col}_chosen", f"{col}_rejected"
    observed = (
        pairs.filter(F.col(chosen).isNotNull() & F.col(rejected).isNotNull())
        .withColumn("delta", F.col(chosen) - F.col(rejected))
        .withColumn("gap", F.abs(F.col("delta")))
    )
    agg = observed.groupBy(bucket.alias("gap_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.col("delta") > 0, 1).otherwise(0)
        ).cast("bigint").alias(f"{winner}_wins"),
        F.sum("delta").cast("bigint").alias("sum_delta"),
        F.sum(chosen).cast("bigint").alias(f"sum_{chosen}"),
        F.sum(rejected).cast("bigint").alias(f"sum_{rejected}"),
    )
    return agg.select(
        "gap_bucket",
        "n_pairs",
        f"{winner}_wins",
        (F.col(f"{winner}_wins").cast("double") / F.col("n_pairs")).alias(
            f"win_rate_{winner}"
        ),
        (F.col("sum_delta").cast("double") / F.col("n_pairs")).alias(
            "mean_delta"
        ),
        f"sum_{chosen}",
        f"sum_{rejected}",
    )


def eval_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-data length-confound audit — the check a team runs
    right after building DPO pairs (pipeline_preference_pairs): is
    "chosen" just "longer"?  Reward models are known to prefer verbose
    responses (the RLHF length-bias literature, e.g.
    Singhal et al. 2023 "A Long Way to Go: Investigating Length
    Correlations in RLHF"), and a pair set whose winners are
    systematically the longer response trains a verbosity policy, not a
    quality one.

    Pairs are built with EXACTLY the pipeline_preference_pairs recipe
    (prep.preference_pairs — per prompt/user: chosen = first by value
    DESC, rejected = first by value ASC, row_number tie-breaks, >= 2
    completions, reward margin >= 10) so the audit covers the same data
    the pair builder ships.  Response length is the completion payload
    size (length(props), codepoints — identical semantics both engines);
    pairs where either payload is NULL are excluded by an explicit
    observed-pairs filter (the r6 nulls-gate discipline).

    Per |length-gap| bucket (tie / 1-9 / 10-49 / 50-199 / 200+,
    integer CASE thresholds shared verbatim with the oracle) the audit
    reports n_pairs, how often the LONGER response won, the win rate
    (one single-divide double over integer counts — bit-stable), and the
    mean signed delta (chosen minus rejected, integer sum, one divide).
    An unconfounded pair set sits near 0.5 in every gap bucket; a
    length-biased one drifts toward 1.0 as the gap grows.

    Scale (100 TB): both row_number windows partition by the prompt key
    and plan over ONE hash exchange (the prep.preference_pairs shape);
    the pair join keys on the prompt; the final aggregate is a
    map-side-combined groupBy onto <= 5 bucket rows.  No corpus-wide
    state anywhere.
    """
    gap = F.col("gap")
    return _gap_audit(
        preference_pairs(spark, sf_dir, len=F.length("props")),
        "len",
        "longer",
        F.when(gap == 0, "tie")
        .when(gap < 10, "gap_1_9")
        .when(gap < 50, "gap_10_49")
        .when(gap < 200, "gap_50_199")
        .otherwise("gap_200_plus"),
    )


def eval_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-data position-confound audit — the second of the three
    documented preference-collection confounds next to eval_length_bias
    (length / position / format): annotators and LLM judges measurably
    favor the FIRST-presented response (the position-bias literature,
    e.g. Zheng et al. 2023 "Judging LLM-as-a-Judge", which swaps
    presentation order to detect it), so a pair set whose winners are
    systematically the earlier-listed completion encodes presentation
    order, not quality.

    Pairs are built with EXACTLY the pipeline_preference_pairs recipe
    (prep.preference_pairs — per prompt/user: chosen = first by value
    DESC, rejected = first by value ASC, row_number tie-breaks, ≥ 2
    completions, reward margin ≥ 10).  Position is the completion's
    presentation rank inside its prompt group — row_number over
    (user_id ORDER BY event_id), the generation/display order both
    engines state identically (event ids are unique, so the rank is
    total-order deterministic).

    Per reward-MARGIN bucket — margin is a DOUBLE, so the buckets are
    half-open double intervals [10,200) / [200,240) / [240,300) /
    [300,inf), NOT the integer ranges the labels m_10_199 / m_200_239 /
    m_240_299 / m_300_plus might suggest (ADVICE r12: a margin of 199.5
    lands in m_10_199); shared double CASE thresholds sized to the
    corpus margin quartiles so every bucket is populated — bucketing by
    preference strength shows whether position dominates exactly where
    the signal should be strongest — the
    audit reports the pair count, how often the EARLIER-POSITIONED
    response won, the win rate (one single-divide double over integer
    counts), and integer position-sum anchors.  An unconfounded pair set
    sits near 0.5 in every margin bucket.

    Scale (100 TB): all three row_number windows partition by the prompt
    key and plan over ONE hash exchange (the prep.preference_pairs
    shape); the pair join keys on the prompt; the final aggregate is a
    map-side-combined groupBy onto ≤ 4 bucket rows.  No corpus-wide
    state anywhere.
    """
    pairs = preference_pairs(spark, sf_dir, position=True)
    bucket = (
        F.when(F.col("margin") < 200, "m_10_199")
        .when(F.col("margin") < 240, "m_200_239")
        .when(F.col("margin") < 300, "m_240_299")
        .otherwise("m_300_plus")
    )
    agg = pairs.groupBy(bucket.alias("margin_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.col("pos_chosen") < F.col("pos_rejected"), 1).otherwise(0)
        ).cast("bigint").alias("first_wins"),
        F.sum("pos_chosen").cast("bigint").alias("sum_pos_chosen"),
        F.sum("pos_rejected").cast("bigint").alias("sum_pos_rejected"),
    )
    return agg.select(
        "margin_bucket",
        "n_pairs",
        "first_wins",
        (F.col("first_wins").cast("double") / F.col("n_pairs")).alias(
            "win_rate_first"
        ),
        "sum_pos_chosen",
        "sum_pos_rejected",
    )


def _format_score():
    """The format score of a completion payload: how many of three
    structural markers it shows (opens '{'/'[', contains '":', matches
    [0-9][0-9]); NULL for a NULL payload.  eval_format_bias and
    _confound_pair_signals score with it; their oracles state it in SQL."""
    score = (
        F.when(F.substring("props", 1, 1).isin("{", "["), 1).otherwise(0)
        + F.when(F.instr("props", '":') > 0, 1).otherwise(0)
        + F.when(F.col("props").rlike("[0-9][0-9]"), 1).otherwise(0)
    )
    return F.when(F.col("props").isNotNull(), score)


def eval_format_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-data format-confound audit — the third documented
    preference confound (length / position / format): reward models and
    LLM judges favor visibly STRUCTURED responses (markdown lists,
    key-value notation, numbers) independent of content quality, so a
    pair set whose winners are systematically the more-formatted
    response trains a formatting policy (the style-vs-substance failure
    the RLHF format-bias analyses document).

    Pairs are built with EXACTLY the pipeline_preference_pairs recipe
    (prep.preference_pairs).  The format score of a completion payload
    is the count of three structural markers, each a deterministic expression
    both engines state identically:
      * opens structured — first character is '{' or '[' (JSON/list
        notation);
      * key-value notation — contains the '":' key separator;
      * numeric content — matches the multi-digit regex [0-9][0-9].
    On this synthetic corpus the payloads are uniformly JSON-shaped, so
    the discriminating marker is the numeric one; the marker SET is
    nonetheless evaluated in full because the degenerate/unicode
    corpora (and any real corpus) vary all three.  Pairs where either
    payload is NULL are excluded by an explicit observed-pairs filter
    (the r6 nulls-gate discipline — a missing payload has no format to
    audit, and silently scoring it 0 would count absence as plainness).

    Per |format-gap| bucket (tie / 1 / 2 / 3 — the score domain is
    0..3, integer CASE shared verbatim with the oracle) the audit
    reports n_pairs, how often the MORE-FORMATTED response won, the win
    rate (single divide over integer counts), the mean signed score
    delta (chosen minus rejected), and integer score-sum anchors.

    Scale (100 TB): marker scoring is a whole-stage-codegen projection;
    both row_number windows partition by the prompt key over ONE hash
    exchange; the final aggregate is a map-side-combined groupBy onto
    ≤ 4 bucket rows.  No corpus-wide state anywhere.
    """
    gap = F.col("gap")
    return _gap_audit(
        preference_pairs(spark, sf_dir, fmt=_format_score()),
        "fmt",
        "fmt",
        F.when(gap == 0, "tie")
        .when(gap == 1, "gap_1")
        .when(gap == 2, "gap_2")
        .otherwise("gap_3"),
    )


def eval_confound_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-audit confound composite — the three preference-confound
    audits (eval_length_bias / eval_position_bias / eval_format_bias)
    each report whether the pair set LOOKS biased along one axis, but a
    curator's next question is about the PROMPTS: do the audits indict
    the same pairs, and do they point the same way?  A pair that is
    flagged by all three is a near-certain collection artifact to drop;
    one flagged by a single axis may be a genuine quality difference
    that happens to correlate.  (VERDICT r12 item 3 / ROUND12.md queue.)

    Pairs are built ONCE with EXACTLY the pipeline_preference_pairs
    recipe (prep.preference_pairs — per prompt/user: chosen = first by
    value DESC, rejected = first by value ASC, row_number tie-breaks,
    ≥ 2 completions, reward margin ≥ 10) and ALL THREE per-pair signals are
    computed from the same scan — the composite audits the same base
    the three single-axis audits audit (reconciliation pinned in
    tests/test_operators.py):
      * L — length: 'W' if the chosen payload is LONGER (the
        length-bias direction), 'L' if shorter, 'T' on ties, 'N' when
        either payload is NULL (not auditable — the observed-pairs
        discipline, here kept as an explicit outcome instead of a
        filter so the three audits' different bases stay visible);
      * P — position: 'W' if the chosen completion was presented
        EARLIER (row_number over event_id inside the prompt group);
        never ties — chosen and rejected are distinct events;
      * F — format: 'W' if the chosen payload scores higher on the
        three structural markers (opens '{'/'[', contains '":',
        matches [0-9][0-9] — the _format_score eval_format_bias uses),
        'L'/'T'/'N' as for length.

    Output: one row per consensus PATTERN (the 3-char L‖P‖F string,
    ≤ 32 distinct values — bounded regardless of corpus size) with
    n_confounds (how many audits flag the pattern, i.e. its 'W' count),
    the prompt count, and integer delta/rank anchors.  Direction
    consistency is read directly off the pattern ('WWW'/'LLL' = the
    axes agree; mixed letters = they disagree), and "flagged by exactly
    k of 3" is the n_confounds histogram.

    Scale (100 TB): one scan; all four windows partition by the prompt
    key over ONE hash exchange; the pair join keys on the prompt; the
    final aggregate is a map-side-combined groupBy onto ≤ 32 pattern
    rows.  No corpus-wide state anywhere.
    """
    return _confound_pair_signals(spark, sf_dir).select(
        F.concat("lf", "pf", "ff").alias("pattern"),
        (
            F.when(F.col("lf") == "W", 1).otherwise(0)
            + F.when(F.col("pf") == "W", 1).otherwise(0)
            + F.when(F.col("ff") == "W", 1).otherwise(0)
        ).cast("int").alias("n_confounds"),
        "len_delta",
        "pos_c",
        "pos_r",
        "fmt_delta",
    ).groupBy("pattern", "n_confounds").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prompts"),
        F.sum("len_delta").cast("bigint").alias("sum_len_delta"),
        F.sum("pos_c").cast("bigint").alias("sum_pos_chosen"),
        F.sum("pos_r").cast("bigint").alias("sum_pos_rejected"),
        F.sum("fmt_delta").cast("bigint").alias("sum_fmt_delta"),
    )


def _confound_pair_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base of eval_confound_consensus and eval_confound_drilldown:
    the pipeline_preference_pairs recipe executed ONCE with all three
    per-pair confound letters (lf/pf/ff), the integer delta/rank anchors,
    the prompt key, and the reward margin — the consensus entry folds it
    onto the ≤ 32 pattern rows, the drill-down filters it to the WWW
    cohort and top-k's it.  Semantics are verbatim the r13 consensus body
    (that docstring carries the contract); only the final projection
    moved into the callers."""
    pairs = preference_pairs(
        spark, sf_dir, position=True, len=F.length("props"), fmt=_format_score()
    )

    def flag(c, r):
        return (
            F.when(F.col(c).isNull() | F.col(r).isNull(), "N")
            .when(F.col(c) > F.col(r), "W")
            .when(F.col(c) < F.col(r), "L")
            .otherwise("T")
        )

    return pairs.select(
        "user_id",
        flag("len_chosen", "len_rejected").alias("lf"),
        F.when(F.col("pos_chosen") < F.col("pos_rejected"), "W")
        .otherwise("L")
        .alias("pf"),
        flag("fmt_chosen", "fmt_rejected").alias("ff"),
        (F.col("len_chosen") - F.col("len_rejected")).alias("len_delta"),
        F.col("pos_chosen").alias("pos_c"),
        F.col("pos_rejected").alias("pos_r"),
        (F.col("fmt_chosen") - F.col("fmt_rejected")).alias("fmt_delta"),
        "margin",
    )


_DRILL_TOPK = 20  # bounded curator artifact regardless of corpus size


def eval_confound_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curator's actionable artifact on top of eval_confound_consensus
    (VERDICT r13 item 4 / ROUND13.md handoff): WHICH prompts are flagged
    by ALL THREE confound audits?  The consensus entry answers "do the
    audits agree" as a ≤ 32-row pattern histogram; this drill-down emits
    the n_confounds = 3 cohort itself — the near-certain collection
    artifacts a curator drops first — as a BOUNDED top-k list ordered by
    reward margin (the most confident preferences that are still fully
    confounded are the worst training signal), tie-broken by prompt id.

    Same single-scan pair recipe as the consensus (shared
    _confound_pair_signals base, reconciliation pinned in
    tests/test_operators.py): a prompt appears here exactly when its
    pair's pattern is 'WWW' — chosen is longer AND presented earlier AND
    more structured than rejected.

    Columns: the prompt key, the reward margin (cv − rv, the exact
    double both engines compute from the stored values), and the three
    integer anchors the consensus sums (len_delta / positions /
    fmt_delta), so each flagged row carries its own evidence.

    Scale (100 TB): the top-k is orderBy + limit — Spark plans
    TakeOrderedAndProject (per-partition heap + single bounded merge),
    never a global sort or an unpartitioned window; everything below it
    is the consensus' one-exchange window stack.  Output ≤ 20 rows
    regardless of corpus size.
    """
    sig = _confound_pair_signals(spark, sf_dir)
    return (
        sig.filter(
            (F.col("lf") == "W") & (F.col("pf") == "W") & (F.col("ff") == "W")
        )
        .select(
            "user_id",
            "margin",
            F.col("len_delta").cast("bigint").alias("len_delta"),
            F.col("pos_c").cast("bigint").alias("pos_chosen"),
            F.col("pos_r").cast("bigint").alias("pos_rejected"),
            F.col("fmt_delta").cast("bigint").alias("fmt_delta"),
        )
        .orderBy(F.desc("margin"), F.asc("user_id"))
        .limit(_DRILL_TOPK)
    )


QUERIES = {
    "eval_length_bias": eval_length_bias,
    "eval_position_bias": eval_position_bias,
    "eval_format_bias": eval_format_bias,
    "eval_confound_consensus": eval_confound_consensus,
    "eval_confound_drilldown": eval_confound_drilldown,
    "eval_krippendorff_alpha": eval_krippendorff_alpha,
    "eval_elo_bt": eval_elo_bt,
    "eval_bootstrap_ci": eval_bootstrap_ci,
    "eval_filter_parity": eval_filter_parity,
    "eval_ab_ztest": eval_ab_ztest,
    "eval_auc": eval_auc,
    "eval_prf": eval_prf,
    "eval_calibration": eval_calibration,
    "eval_mrr": eval_mrr,
    "eval_ndcg": eval_ndcg,
    "eval_pass_at_k": eval_pass_at_k,
}

_J = f"""
            SELECT value AS s,
                   CAST(CASE WHEN event_type = '{_POS}' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type IN ('{_POS}', '{_NEG}') AND value IS NOT NULL
"""

_AUC_RATIO = sql_half_up(
    "CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) / (2 * n_pos * n_neg)"
)

_RANKED = f"""
            SELECT user_id, value AS s,
                   CAST(CASE WHEN event_type = '{_POS}' THEN 1 ELSE 0 END
                        AS BIGINT) AS y,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS rk
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type IN ('{_POS}', '{_NEG}') AND value IS NOT NULL
"""

# the SAME import-time literal tables the Spark plan embeds
_DISC_SQL = "[" + ", ".join(str(d) for d in _DISC) + "]"
_IDCG_SQL = "[" + ", ".join(str(v) for v in _IDCG[1:]) + "]"

_AB_MEAN_A = "(CAST(s_a AS DOUBLE) / CAST(n_a * 10000 AS DOUBLE))"
_AB_MEAN_B = "(CAST(s_b AS DOUBLE) / CAST(n_b * 10000 AS DOUBLE))"
_AB_VAR_A = (
    "((CAST(n_a AS DOUBLE) * CAST(q_a AS DOUBLE)"
    " - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))"
    " / (CAST(n_a * (n_a - 1) AS DOUBLE) * 1.0e8))"
)
_AB_VAR_B = (
    "((CAST(n_b AS DOUBLE) * CAST(q_b AS DOUBLE)"
    " - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))"
    " / (CAST(n_b * (n_b - 1) AS DOUBLE) * 1.0e8))"
)
_AB_Z2 = (
    f"(({_AB_MEAN_A} - {_AB_MEAN_B}) * ({_AB_MEAN_A} - {_AB_MEAN_B})"
    f" / ({_AB_VAR_A} / CAST(n_a AS DOUBLE)"
    f" + {_AB_VAR_B} / CAST(n_b AS DOUBLE)))"
)

def _filter_parity_oracle() -> str:
    """Composes pipeline_quality_gate's own oracle as the gate CTE —
    the audit and the audited filter share one definition per engine."""
    from .prep import ORACLE as _PO

    ratio = sql_half_up(
        "CAST(p.n_admitted * b.best_n AS DOUBLE)"
        " / CAST(b.best_adm * p.n_docs AS DOUBLE)"
    )
    rate = sql_half_up("CAST(p.n_admitted AS DOUBLE) / p.n_docs")
    return f"""
        WITH gate AS ({_PO["pipeline_quality_gate"]}),
        per AS (
            SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN g.admitted THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_admitted
            FROM gate g JOIN documents d USING (doc_id)
            GROUP BY d.lang
        ),
        best AS (
            SELECT n_admitted AS best_adm, n_docs AS best_n,
                   lang AS best_lang
            FROM per
            ORDER BY n_admitted / n_docs DESC, lang
            LIMIT 1
        )
        SELECT p.lang, p.n_docs, p.n_admitted,
               {rate} AS admit_rate,
               b.best_lang,
               CASE WHEN b.best_adm > 0 THEN {ratio} END AS impact_ratio,
               (10 * p.n_admitted * b.best_n >= 8 * b.best_adm * p.n_docs)
                   AS passes_four_fifths
        FROM per p CROSS JOIN best b
    """


ORACLE = {
    # the pipeline_preference_pairs recipe verbatim (prep.py oracle),
    # lengths joined in, then the shared integer CASE buckets; win rate
    # and mean delta are single divides over integer counts
    "eval_length_bias": f"""
        WITH r AS (
            SELECT user_id, event_id, value, length(props) AS len,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS r_top,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value ASC, event_id
                   ) AS r_bot,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events WHERE value IS NOT NULL
        ),
        chosen AS (
            SELECT user_id, value AS cv, len AS len_chosen
            FROM r WHERE r_top = 1 AND n >= 2
        ),
        rejected AS (
            SELECT user_id, value AS rv, len AS len_rejected
            FROM r WHERE r_bot = 1
        ),
        pairs AS (
            SELECT len_chosen, len_rejected,
                   len_chosen - len_rejected AS delta,
                   abs(len_chosen - len_rejected) AS gap
            FROM chosen c JOIN rejected j USING (user_id)
            WHERE c.cv - j.rv >= {_LB_MIN_MARGIN}
              AND len_chosen IS NOT NULL AND len_rejected IS NOT NULL
        )
        SELECT CASE WHEN gap = 0 THEN 'tie'
                    WHEN gap < 10 THEN 'gap_1_9'
                    WHEN gap < 50 THEN 'gap_10_49'
                    WHEN gap < 200 THEN 'gap_50_199'
                    ELSE 'gap_200_plus' END AS gap_bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS longer_wins,
               CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS win_rate_longer,
               CAST(SUM(delta) AS DOUBLE) / count(*) AS mean_delta,
               CAST(SUM(len_chosen) AS BIGINT) AS sum_len_chosen,
               CAST(SUM(len_rejected) AS BIGINT) AS sum_len_rejected
        FROM pairs
        GROUP BY 1
    """,
    # the pair recipe verbatim, presentation rank = row_number over
    # (user_id, event_id), margin buckets as shared double CASE
    "eval_position_bias": f"""
        WITH r AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS r_top,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value ASC, event_id
                   ) AS r_bot,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY event_id
                   ) AS pos,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events WHERE value IS NOT NULL
        ),
        chosen AS (
            SELECT user_id, value AS cv, pos AS pos_chosen
            FROM r WHERE r_top = 1 AND n >= 2
        ),
        rejected AS (
            SELECT user_id, value AS rv, pos AS pos_rejected
            FROM r WHERE r_bot = 1
        ),
        pairs AS (
            SELECT c.cv - j.rv AS margin, pos_chosen, pos_rejected
            FROM chosen c JOIN rejected j USING (user_id)
            WHERE c.cv - j.rv >= {_LB_MIN_MARGIN}
        )
        SELECT CASE WHEN margin < 200 THEN 'm_10_199'
                    WHEN margin < 240 THEN 'm_200_239'
                    WHEN margin < 300 THEN 'm_240_299'
                    ELSE 'm_300_plus' END AS margin_bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN pos_chosen < pos_rejected
                             THEN 1 ELSE 0 END) AS BIGINT) AS first_wins,
               CAST(SUM(CASE WHEN pos_chosen < pos_rejected
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS win_rate_first,
               CAST(SUM(pos_chosen) AS BIGINT) AS sum_pos_chosen,
               CAST(SUM(pos_rejected) AS BIGINT) AS sum_pos_rejected
        FROM pairs
        GROUP BY 1
    """,
    # the pair recipe verbatim, the three structural markers restated as
    # the same CASE/substring/strpos/regexp expressions, NULL payloads
    # excluded by the observed-pairs filter
    "eval_format_bias": f"""
        WITH r AS (
            SELECT user_id, event_id, value,
                   CASE WHEN props IS NULL THEN NULL ELSE
                       (CASE WHEN substring(props, 1, 1) IN ('{{', '[')
                             THEN 1 ELSE 0 END)
                       + (CASE WHEN strpos(props, '":') > 0
                               THEN 1 ELSE 0 END)
                       + (CASE WHEN regexp_matches(props, '[0-9][0-9]')
                               THEN 1 ELSE 0 END)
                   END AS fmt,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS r_top,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value ASC, event_id
                   ) AS r_bot,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events WHERE value IS NOT NULL
        ),
        chosen AS (
            SELECT user_id, value AS cv, fmt AS fmt_chosen
            FROM r WHERE r_top = 1 AND n >= 2
        ),
        rejected AS (
            SELECT user_id, value AS rv, fmt AS fmt_rejected
            FROM r WHERE r_bot = 1
        ),
        pairs AS (
            SELECT fmt_chosen, fmt_rejected,
                   fmt_chosen - fmt_rejected AS delta,
                   abs(fmt_chosen - fmt_rejected) AS gap
            FROM chosen c JOIN rejected j USING (user_id)
            WHERE c.cv - j.rv >= {_LB_MIN_MARGIN}
              AND fmt_chosen IS NOT NULL AND fmt_rejected IS NOT NULL
        )
        SELECT CASE WHEN gap = 0 THEN 'tie'
                    WHEN gap = 1 THEN 'gap_1'
                    WHEN gap = 2 THEN 'gap_2'
                    ELSE 'gap_3' END AS gap_bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS fmt_wins,
               CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS win_rate_fmt,
               CAST(SUM(delta) AS DOUBLE) / count(*) AS mean_delta,
               CAST(SUM(fmt_chosen) AS BIGINT) AS sum_fmt_chosen,
               CAST(SUM(fmt_rejected) AS BIGINT) AS sum_fmt_rejected
        FROM pairs
        GROUP BY 1
    """,
    # the pair recipe verbatim ONCE, all three per-pair signals from the
    # same scan; the pattern letters and n_confounds are the identical
    # CASE ladders, sums skip the 'N' (NULL payload) rows in both engines
    "eval_confound_consensus": f"""
        WITH r AS (
            SELECT user_id, event_id, value, length(props) AS len,
                   CASE WHEN props IS NULL THEN NULL ELSE
                       (CASE WHEN substring(props, 1, 1) IN ('{{', '[')
                             THEN 1 ELSE 0 END)
                       + (CASE WHEN strpos(props, '":') > 0
                               THEN 1 ELSE 0 END)
                       + (CASE WHEN regexp_matches(props, '[0-9][0-9]')
                               THEN 1 ELSE 0 END)
                   END AS fmt,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS r_top,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value ASC, event_id
                   ) AS r_bot,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY event_id
                   ) AS pos,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events WHERE value IS NOT NULL
        ),
        chosen AS (
            SELECT user_id, value AS cv, len AS len_c, fmt AS fmt_c,
                   pos AS pos_c
            FROM r WHERE r_top = 1 AND n >= 2
        ),
        rejected AS (
            SELECT user_id, value AS rv, len AS len_r, fmt AS fmt_r,
                   pos AS pos_r
            FROM r WHERE r_bot = 1
        ),
        pairs AS (
            SELECT len_c, len_r, fmt_c, fmt_r, pos_c, pos_r,
                   CASE WHEN len_c IS NULL OR len_r IS NULL THEN 'N'
                        WHEN len_c > len_r THEN 'W'
                        WHEN len_c < len_r THEN 'L' ELSE 'T' END AS lf,
                   CASE WHEN pos_c < pos_r THEN 'W' ELSE 'L' END AS pf,
                   CASE WHEN fmt_c IS NULL OR fmt_r IS NULL THEN 'N'
                        WHEN fmt_c > fmt_r THEN 'W'
                        WHEN fmt_c < fmt_r THEN 'L' ELSE 'T' END AS ff
            FROM chosen c JOIN rejected j USING (user_id)
            WHERE c.cv - j.rv >= {_LB_MIN_MARGIN}
        )
        SELECT lf || pf || ff AS pattern,
               CAST((CASE WHEN lf = 'W' THEN 1 ELSE 0 END)
                    + (CASE WHEN pf = 'W' THEN 1 ELSE 0 END)
                    + (CASE WHEN ff = 'W' THEN 1 ELSE 0 END) AS INT)
                   AS n_confounds,
               CAST(count(*) AS BIGINT) AS n_prompts,
               CAST(SUM(len_c - len_r) AS BIGINT) AS sum_len_delta,
               CAST(SUM(pos_c) AS BIGINT) AS sum_pos_chosen,
               CAST(SUM(pos_r) AS BIGINT) AS sum_pos_rejected,
               CAST(SUM(fmt_c - fmt_r) AS BIGINT) AS sum_fmt_delta
        FROM pairs
        GROUP BY 1, 2
    """,
    # the WWW cohort from the identical pair recipe, top-k by margin with
    # the user_id tie-break — margin is the exact double cv − rv both
    # engines compute from the same stored values, so ordering and the
    # k-boundary agree bit-for-bit
    "eval_confound_drilldown": f"""
        WITH r AS (
            SELECT user_id, event_id, value, length(props) AS len,
                   CASE WHEN props IS NULL THEN NULL ELSE
                       (CASE WHEN substring(props, 1, 1) IN ('{{', '[')
                             THEN 1 ELSE 0 END)
                       + (CASE WHEN strpos(props, '":') > 0
                               THEN 1 ELSE 0 END)
                       + (CASE WHEN regexp_matches(props, '[0-9][0-9]')
                               THEN 1 ELSE 0 END)
                   END AS fmt,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                   ) AS r_top,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY value ASC, event_id
                   ) AS r_bot,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY event_id
                   ) AS pos,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events WHERE value IS NOT NULL
        ),
        chosen AS (
            SELECT user_id, value AS cv, len AS len_c, fmt AS fmt_c,
                   pos AS pos_c
            FROM r WHERE r_top = 1 AND n >= 2
        ),
        rejected AS (
            SELECT user_id, value AS rv, len AS len_r, fmt AS fmt_r,
                   pos AS pos_r
            FROM r WHERE r_bot = 1
        ),
        pairs AS (
            SELECT user_id, cv - rv AS margin,
                   len_c - len_r AS len_delta, pos_c, pos_r,
                   fmt_c - fmt_r AS fmt_delta,
                   CASE WHEN len_c IS NULL OR len_r IS NULL THEN 'N'
                        WHEN len_c > len_r THEN 'W'
                        WHEN len_c < len_r THEN 'L' ELSE 'T' END AS lf,
                   CASE WHEN pos_c < pos_r THEN 'W' ELSE 'L' END AS pf,
                   CASE WHEN fmt_c IS NULL OR fmt_r IS NULL THEN 'N'
                        WHEN fmt_c > fmt_r THEN 'W'
                        WHEN fmt_c < fmt_r THEN 'L' ELSE 'T' END AS ff
            FROM chosen c JOIN rejected j USING (user_id)
            WHERE c.cv - j.rv >= {_LB_MIN_MARGIN}
        )
        SELECT user_id, margin,
               CAST(len_delta AS BIGINT) AS len_delta,
               CAST(pos_c AS BIGINT) AS pos_chosen,
               CAST(pos_r AS BIGINT) AS pos_rejected,
               CAST(fmt_delta AS BIGINT) AS fmt_delta
        FROM pairs
        WHERE lf = 'W' AND pf = 'W' AND ff = 'W'
        ORDER BY margin DESC, user_id
        LIMIT {_DRILL_TOPK}
    """,
    # same md5 draws (presence/flip), same integer coincidence identities
    # (m² − Σn² off-diagonal mass, 2/(m−1) ∈ {1,2} weights), one half-up
    # divide at the end — see eval_krippendorff_alpha's docstring
    "eval_krippendorff_alpha": f"""
        WITH d AS (SELECT DISTINCT doc_id FROM documents),
        b AS (
            SELECT doc_id,
                   (strpos('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR) || ':c'), 1, 1))
                    - 1) % 4 AS base
            FROM d
        ),
        r AS (
            SELECT doc_id, k,
                   CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':'
                            || CAST(k AS VARCHAR) || ':f'), 1, 1)
                            IN ('0', '1')
                        THEN (base + 1) % 4 ELSE base END AS c
            FROM b CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) ks
            WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(k AS VARCHAR) || ':p'), 1, 1) <> 'f'
        ),
        nuc AS (SELECT doc_id, c, COUNT(*) AS n_uc FROM r GROUP BY doc_id, c),
        per_u AS (
            SELECT doc_id, SUM(n_uc) AS m_u, SUM(n_uc * n_uc) AS ss
            FROM nuc GROUP BY doc_id HAVING SUM(n_uc) >= 2
        ),
        do2 AS (
            SELECT COALESCE(SUM((m_u * m_u - ss)
                       * (CASE WHEN m_u = 2 THEN 2 ELSE 1 END)), 0) AS do2,
                   COALESCE(SUM(m_u), 0) AS n_ratings,
                   COUNT(*) AS n_units
            FROM per_u
        ),
        marg AS (
            SELECT COALESCE(SUM(n_c * n_c), 0) AS ssm FROM (
                SELECT c, SUM(n_uc) AS n_c
                FROM nuc SEMI JOIN per_u USING (doc_id)
                GROUP BY c
            )
        )
        SELECT CAST(n_units AS BIGINT) AS n_units,
               CAST(n_ratings AS BIGINT) AS n_ratings,
               CAST(do2 AS BIGINT) AS do_s2,
               CAST(2 * (n_ratings * n_ratings - ssm) AS BIGINT) AS de_den2,
               CASE WHEN 2 * (n_ratings * n_ratings - ssm) > 0 THEN
                   {sql_half_up("(2 * (n_ratings * n_ratings - ssm) - do2 * (n_ratings - 1)) / CAST(2 * (n_ratings * n_ratings - ssm) AS DOUBLE)")}
               END AS alpha
        FROM do2 CROSS JOIN marg
    """,
    # identical md5-draw Poisson weights, decimal-carried half-up means,
    # exact rank selection; frozen CDF hex thresholds inlined from
    # _BOOT_CDF_HEX so both engines share the constants
    "eval_bootstrap_ci": f"""
        WITH base AS (
            SELECT event_id, value AS v
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type = '{_POS}' AND value IS NOT NULL
        ),
        bs AS (
            SELECT b, v,
                   CASE
                       {"".join(f"WHEN substring(md5(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8) < '{h}' THEN {k} " for k, h in enumerate(_BOOT_CDF_HEX))}
                       ELSE 8 END AS w
            FROM base, (SELECT unnest(generate_series(1, {_BOOT_B})) AS b)
        ),
        means AS (
            SELECT b,
                   {sql_half_up(f"{sql_dsum('w * v')} / SUM(w)")} AS mean_b
            FROM bs GROUP BY b HAVING SUM(w) > 0
        ),
        r AS (
            SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn
            FROM means
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM r),
        f AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   {sql_half_up(f"{sql_dsum('v')} / count(*)")} AS mean_value
            FROM base
        )
        SELECT n, bb AS b_resamples, mean_value,
               MIN(CASE WHEN rn = (bb * 25 + 999) // 1000 THEN mean_b END)
                   AS ci_lo,
               MIN(CASE WHEN rn = (bb * 975 + 999) // 1000 THEN mean_b END)
                   AS ci_hi
        FROM r, tot, f
        GROUP BY n, bb, mean_value
    """,

    "eval_ab_ztest": f"""
        WITH t AS (
            SELECT
                CAST(SUM(CASE WHEN event_type = '{_AB_A}' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN event_type = '{_AB_B}' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN event_type = '{_AB_A}'
                     THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS s_a,
                CAST(SUM(CASE WHEN event_type = '{_AB_B}'
                     THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS s_b,
                CAST(SUM(CASE WHEN event_type = '{_AB_A}'
                     THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                          * CAST(floor(value * 10000 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS q_a,
                CAST(SUM(CASE WHEN event_type = '{_AB_B}'
                     THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                          * CAST(floor(value * 10000 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS q_b
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type IN ('{_AB_A}', '{_AB_B}')
              AND value IS NOT NULL
        )
        SELECT n_a, n_b,
               {sql_half_up(_AB_MEAN_A)} AS mean_a,
               {sql_half_up(_AB_MEAN_B)} AS mean_b,
               CASE WHEN n_a > 1 AND n_b > 1
                    THEN {sql_half_up(_AB_Z2)} END AS z2,
               CASE WHEN n_a > 1 AND n_b > 1
                    THEN {_AB_Z2} >= {_AB_Z2_CRIT} END AS significant
        FROM t
    """,
    "eval_auc": f"""
        WITH j AS ({_J}),
        g AS (
            SELECT s, CAST(count(*) AS BIGINT) AS n_at,
                   CAST(SUM(y) AS BIGINT) AS np_at
            FROM j GROUP BY s
        ),
        c AS (
            SELECT *,
                   CAST(COALESCE(SUM(n_at) OVER (
                       ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS pre
            FROM g
        ),
        t AS (
            SELECT CAST(SUM(np_at * (2 * pre + n_at + 1)) AS BIGINT) AS r2,
                   CAST(SUM(np_at) AS BIGINT) AS n_pos,
                   CAST(SUM(n_at - np_at) AS BIGINT) AS n_neg
            FROM c
        )
        SELECT n_pos, n_neg,
               CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
               CASE WHEN n_pos * n_neg > 0 THEN {_AUC_RATIO} END AS auc
        FROM t
    """,
    "eval_prf": f"""
        WITH j AS ({_J}),
        t AS (
            SELECT
                CAST(SUM(y * (CASE WHEN s >= {_PRF_THRESHOLD!r}
                              THEN 1 ELSE 0 END)) AS BIGINT) AS tp,
                CAST(SUM((1 - y) * (CASE WHEN s >= {_PRF_THRESHOLD!r}
                              THEN 1 ELSE 0 END)) AS BIGINT) AS fp,
                CAST(SUM(y * (CASE WHEN s >= {_PRF_THRESHOLD!r}
                              THEN 0 ELSE 1 END)) AS BIGINT) AS fn,
                CAST(SUM((1 - y) * (CASE WHEN s >= {_PRF_THRESHOLD!r}
                              THEN 0 ELSE 1 END)) AS BIGINT) AS tn
            FROM j
        )
        SELECT tp, fp, fn, tn,
               CASE WHEN tp + fp > 0 THEN
                   {sql_half_up("CAST(tp AS DOUBLE) / (tp + fp)")}
               END AS precision,
               CASE WHEN tp + fn > 0 THEN
                   {sql_half_up("CAST(tp AS DOUBLE) / (tp + fn)")}
               END AS recall,
               CASE WHEN 2 * tp + fp + fn > 0 THEN
                   {sql_half_up("CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)")}
               END AS f1
        FROM t
    """,
    "eval_calibration": f"""
        WITH j AS ({_J}),
        mm AS (SELECT min(s) AS mn, max(s) AS mx FROM j),
        b AS (
            SELECT s, y,
                   CASE WHEN mm.mx > mm.mn THEN
                       LEAST({_CAL_BINS - 1},
                             CAST(floor((s - mm.mn) * {_CAL_BINS}
                                        / (mm.mx - mm.mn)) AS INTEGER))
                   ELSE 0 END AS bin
            FROM j, mm
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               {sql_half_up(f"{sql_dsum('s')} / count(*)")} AS mean_score,
               {sql_half_up("CAST(SUM(y) AS DOUBLE) / count(*)")} AS pos_rate
        FROM b GROUP BY bin
    """,
    "eval_mrr": f"""
        WITH r AS ({_RANKED}),
        pu AS (
            SELECT user_id,
                   min(CASE WHEN y = 1 THEN rk END) AS first_pos
            FROM r GROUP BY user_id
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(count(first_pos) AS BIGINT) AS n_hit,
                   CAST(COALESCE(SUM(
                       ({2 * _RANK_SCALE} + first_pos) // (2 * first_pos)
                   ), 0) AS BIGINT) AS sum_rr
            FROM pu
        )
        SELECT n_users, n_hit, sum_rr,
               CASE WHEN n_users > 0 THEN {sql_half_up(
                   f"CAST(sum_rr AS DOUBLE) / (n_users * {_RANK_SCALE})"
               )} END AS mrr
        FROM t
    """,
    "eval_ndcg": f"""
        WITH r AS ({_RANKED}),
        pu AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN y = 1 AND rk <= {_NDCG_K}
                            THEN ({_DISC_SQL})[rk] ELSE 0 END)
                        AS BIGINT) AS dcg_s,
                   CAST(SUM(y) AS BIGINT) AS n_rel
            FROM r GROUP BY user_id
        ),
        sc AS (
            SELECT dcg_s,
                   ({_IDCG_SQL})[LEAST(n_rel, {_NDCG_K})] AS idcg_s
            FROM pu WHERE n_rel > 0
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n_users_eval,
                   CAST(SUM(({2 * _RANK_SCALE} * dcg_s + idcg_s)
                            // (2 * idcg_s)) AS BIGINT) AS sum_ndcg
            FROM sc
        )
        SELECT n_users_eval, sum_ndcg,
               CASE WHEN n_users_eval > 0 THEN {sql_half_up(
                   f"CAST(sum_ndcg AS DOUBLE) / (n_users_eval * {_RANK_SCALE})"
               )} END AS mean_ndcg
        FROM t
    """,
    "eval_pass_at_k": f"""
        WITH j AS (
            SELECT user_id, event_id,
                   CAST(CASE WHEN event_type = '{_POS}' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {SQL_FINITE_EVENTS} events
            WHERE event_type IN ('{_POS}', '{_NEG}') AND value IS NOT NULL
        ),
        capped AS (
            SELECT * FROM (
                SELECT user_id, y,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY event_id
                       ) AS att
                FROM j
            ) WHERE att <= {_PASS_N}
        ),
        pu AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS c
            FROM capped GROUP BY user_id
        ),
        sc AS (
            SELECT user_id, n, c,
                   {_RANK_SCALE} - (2 * {_RANK_SCALE} * (n - c) + n)
                                   // (2 * n) AS p1_s,
                   CASE WHEN n >= {_PASS_K_BIG} THEN
                       {_RANK_SCALE} -
                       (2 * {_RANK_SCALE} * (CASE WHEN n - c >= {_PASS_K_BIG}
                            THEN (n-c)*(n-c-1)*(n-c-2)*(n-c-3) ELSE 0 END)
                        + n*(n-1)*(n-2)*(n-3))
                       // (2 * n*(n-1)*(n-2)*(n-3))
                   END AS p4_s
            FROM pu
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n_problems,
                   CAST(SUM(p1_s) AS BIGINT) AS sum_p1,
                   CAST(count(p4_s) AS BIGINT) AS n_problems_k4,
                   CAST(COALESCE(SUM(p4_s), 0) AS BIGINT) AS sum_p4
            FROM sc
        )
        SELECT n_problems, sum_p1, n_problems_k4, sum_p4,
               CASE WHEN n_problems > 0 THEN {sql_half_up(
                   f"CAST(sum_p1 AS DOUBLE) / (n_problems * {_RANK_SCALE})"
               )} END AS pass_at_1,
               CASE WHEN n_problems_k4 > 0 THEN {sql_half_up(
                   f"CAST(sum_p4 AS DOUBLE) / (n_problems_k4 * {_RANK_SCALE})"
               )} END AS pass_at_4
        FROM t
    """,
}

ORACLE["eval_filter_parity"] = _filter_parity_oracle()


def _bt_sql() -> str:
    """Unrolled Bradley-Terry MM — the SAME _BT_ITERS updates and the
    SAME scaled-floor arithmetic as _bt_step, stated as chained CTEs."""
    upd = (
        "greatest(floor(MIN(w.w)"
        " / (SUM(CAST(floor(d.n * 1000000.0 / (gi.gamma + gj.gamma) + 0.5)"
        " AS BIGINT)) / 1000000.0)"
        " * 1000000000.0 + 0.5) / 1000000000.0, {clamp})"
    ).format(clamp=_BT_CLAMP)
    its = []
    for k in range(1, _BT_ITERS + 1):
        its.append(
            f"""
        it{k} AS MATERIALIZED (
            SELECT d.i AS type, {upd} AS gamma
            FROM dirn d
            JOIN it{k - 1} gi ON gi.type = d.i
            JOIN it{k - 1} gj ON gj.type = d.j
            JOIN wins w ON w.t = d.i
            GROUP BY d.i
        )"""
        )
    return f"""
        WITH c AS (
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        duel AS (
            SELECT CASE WHEN a.n > b.n THEN a.event_type
                        ELSE b.event_type END AS w,
                   CASE WHEN a.n > b.n THEN b.event_type
                        ELSE a.event_type END AS l
            FROM c a
            JOIN c b ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
            WHERE a.n <> b.n
        ),
        wl AS MATERIALIZED (SELECT w, l, count(*) AS n FROM duel GROUP BY 1, 2),
        kept AS (SELECT w AS t FROM wl INTERSECT SELECT l FROM wl),
        kwl AS (
            SELECT w, l, n FROM wl
            WHERE w IN (SELECT t FROM kept) AND l IN (SELECT t FROM kept)
        ),
        wins AS MATERIALIZED (
            SELECT k.t, CAST(COALESCE(SUM(kwl.n), 0) AS BIGINT) AS w
            FROM kept k LEFT JOIN kwl ON kwl.w = k.t GROUP BY k.t
        ),
        dirn AS MATERIALIZED (
            SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM (
                SELECT w AS i, l AS j, n FROM kwl
                UNION ALL SELECT l AS i, w AS j, n FROM kwl
            ) GROUP BY 1, 2
        ),
        it0 AS (
            SELECT DISTINCT i AS type, CAST(1.0 AS DOUBLE) AS gamma
            FROM dirn
        ),{",".join(its)}
        SELECT g.type AS event_type,
               w.w AS n_wins,
               m.n_matches,
               g.gamma AS bt_gamma
        FROM it{_BT_ITERS} g
        JOIN wins w ON w.t = g.type
        JOIN (
            SELECT i, CAST(SUM(n) AS BIGINT) AS n_matches
            FROM dirn GROUP BY i
        ) m ON m.i = g.type
    """


ORACLE["eval_elo_bt"] = _bt_sql()
