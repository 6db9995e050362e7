"""End-to-end training-data preparation pipeline over `documents` — the
composite that chains the LLM-data tier's primitives the way a production
corpus-prep job would (mandated tier, BASELINE.json:6):

    exact dedup  →  quality filter  →  language ID  →  per-language summary

One declared entry (`pipeline_prep`) with an exact SQL oracle: every stage
is a deterministic columnar expression shared with the stage operators
(dedup_exact's min-doc_id keeper, text_quality's score formula,
text_langid's stopword argmax), so the DuckDB twin states the whole funnel.

Scale design (100 TB): two shuffles total — the dedup window partitions by
the full `text` (identical texts co-locate; group size = duplicate count,
bounded), and the final per-language aggregate is a ~5-group map-side
combine.  Quality scoring and language ID are pure whole-stage-codegen
projections between them; nothing Python, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._util import sql_half_up
from ..io import table
from ._expr import sql_indexed_unnest
from .text import _HITS_SQL, _PRED_SQL, langid_exprs

_MIN_QUALITY = 0.5


def pipeline_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel summary per detected language: documents surviving
    dedup + quality gate, with corpus token totals."""
    from .._util import half_up

    d = table(spark, sf_dir, "documents")

    # 1. exact dedup — deterministic keeper: the min doc_id per text
    rn = F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
    kept = d.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")

    # 2. quality gate — text_quality's fixed formula, same threshold both
    # engines.  The explicit n_chars > 0 pre-filter keeps the engines
    # aligned on empty documents: Spark's non-ANSI divide yields NULL
    # (row silently dropped) while DuckDB's IEEE division yields nan/inf
    # (row kept) — the guard makes the drop explicit in BOTH dialects.
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    quality = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(alpha / F.col("n_chars").cast("double"), F.lit(1.0)) * 0.5
    )
    scored = (
        kept.filter(F.col("n_chars") > 0)
        .withColumn("n_words", n_words)
        .filter(half_up(quality) >= F.lit(_MIN_QUALITY))
    )

    # 3. language ID — text.langid_exprs, the same expressions text_langid
    # declares (single source; see its docstring).  pred is 'und' exactly
    # when best <= 0, so the gate tests best: the optimizer pushes this
    # text-only filter below the dedup window, where the whole pred CASE
    # compiled to a 9,349-byte method, past HotSpot's 8,000-byte JIT limit.
    _, best, pred = langid_exprs()
    tagged = scored.filter(best > 0).withColumn("pred_lang", pred)

    # 4. funnel summary per (detected, labeled) language — the labeled lang
    # keeps the output discriminating even though the stopword heuristic
    # tags the synthetic corpus mostly 'en'
    return (
        tagged.groupBy("pred_lang", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("pred_lang", "lang")
    )


_PP_MIN_MARGIN = 10.0  # drop ambiguous pairs (reward gap below this)


def preference_pairs(spark: SparkSession, sf_dir: str, position: bool = False,
                     **carry) -> DataFrame:
    """The DPO pair recipe every preference entry shares.  A user is a
    prompt, their scored events are the completions, `value` is the
    reward.  Per prompt with ≥ 2 completions, chosen = first by (value
    DESC, event_id) and rejected = first by (value ASC, event_id) —
    row_number tie-breaks make both picks total-order deterministic in
    either engine — and a pair is kept when its margin (chosen −
    rejected, one IEEE subtract of parquet-carried doubles, so it hashes
    bit-equal) is ≥ _PP_MIN_MARGIN.

    Each keyword names a per-completion Column (over `events`) to carry;
    ``position`` carries ``pos``, the completion's presentation rank in
    its prompt (row_number over event_id).  Returns user_id, margin and,
    for event_id, value and every carried name, one column per side:
    ``<name>_chosen`` and ``<name>_rejected``.

    Scale (100 TB): every window partitions by the prompt key and Spark
    plans them over ONE hash exchange (same partitioning); the pair join
    keys on the prompt — everything is bounded by one prompt's
    completion count, and no corpus-wide state exists."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    prompt = Window.partitionBy("user_id")
    pos = F.row_number().over(prompt.orderBy(F.asc("event_id"))).alias("pos")
    ranked = e.select(
        "user_id",
        "event_id",
        "value",
        *(c.alias(name) for name, c in carry.items()),
        F.row_number()
        .over(prompt.orderBy(F.desc("value"), F.asc("event_id")))
        .alias("r_top"),
        F.row_number()
        .over(prompt.orderBy(F.asc("value"), F.asc("event_id")))
        .alias("r_bot"),
        *([pos] if position else []),
        F.count(F.lit(1)).over(prompt).alias("n"),
    )
    cols = ["event_id", "value", *carry, *(["pos"] if position else [])]

    def side(keep, suffix):
        return ranked.filter(keep).select(
            "user_id", *(F.col(c).alias(c + suffix) for c in cols)
        )

    return (
        side((F.col("r_top") == 1) & (F.col("n") >= 2), "_chosen")
        .join(side(F.col("r_bot") == 1, "_rejected"), "user_id")
        .withColumn("margin", F.col("value_chosen") - F.col("value_rejected"))
        .filter(F.col("margin") >= _PP_MIN_MARGIN)
    )


def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF training — per prompt,
    pick the highest- and lowest-reward completions as (chosen, rejected)
    and keep only pairs whose reward margin clears a threshold (ambiguous
    pairs teach nothing and ties are label noise — the standard pairing
    recipe over scored generations, :func:`preference_pairs`)."""
    return preference_pairs(spark, sf_dir).select(
        "user_id",
        F.col("event_id_chosen").alias("chosen_event_id"),
        F.col("value_chosen").alias("chosen_score"),
        F.col("event_id_rejected").alias("rejected_event_id"),
        F.col("value_rejected").alias("rejected_score"),
        "margin",
    )


_SFT_ROLE = {
    "view": "user",
    "click": "user",
    "purchase": "assistant",
    "signup": "assistant",
    "error": "system",
}


def pipeline_sft_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation assembly — turn streams become role-tagged
    training transcripts: each user is a conversation, their events in
    (ts, event_id) order are the turns, the role comes from a fixed
    event-type map, and the content is the event type plus a field parsed
    out of the JSON props (the format-normalization step every chat
    dataset goes through).  `valid_for_training` marks conversations
    whose LAST turn is an assistant turn — the usual requirement for a
    supervised target.

    Scale (100 TB): one shuffle on the conversation key; assembly is a
    per-key ordered collect_list → array_join, bounded by one
    conversation's turn count (the same reassembly idiom as
    text_boilerplate_strip).  JSON parsing is get_json_object — JVM-side
    codegen, no Python.
    """
    role = F.create_map(
        *[F.lit(x) for kv in _SFT_ROLE.items() for x in kv]
    )[F.col("event_type")]
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.concat(
            role,
            F.lit(": "),
            F.col("event_type"),
            F.lit("#"),
            F.get_json_object("props", "$.k"),
        ).alias("turn"),
        role.alias("role"),
    )
    g = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias(
            "n_user_turns"
        ),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
            "n_assistant_turns"
        ),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "turn", "role"))
        ).alias("ordered"),
    )
    return g.select(
        "user_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_user_turns").cast("long").alias("n_user_turns"),
        F.col("n_assistant_turns").cast("long").alias("n_assistant_turns"),
        F.array_join(
            F.transform(F.col("ordered"), lambda s: s["turn"]), " | "
        ).alias("transcript"),
        (
            F.element_at(F.col("ordered"), -1)["role"] == "assistant"
        ).alias("valid_for_training"),
    )


_SPAN_PERIOD = 7  # a 2-token span masked at the start of every 7 tokens


def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption training-pair generation (the T5 denoising
    objective): mask spans of 2 consecutive tokens at a fixed period,
    replace each span with a per-document sentinel <Xi> in the corrupted
    input, and emit the target sequence "<Xi> tok tok ..." that the model
    must reconstruct.  The mask rule is positional (pos mod 7 ∈ {0,1} →
    span pos div 7) instead of sampled, so the pair set is bit-reproducible
    across engines, retries, and partitionings — the property a cached
    pretraining mixture needs (~29% corruption rate vs T5's 15%; the
    rate is the period, not the machinery).

    Scale: posexplode → two conditional ordered reassemblies per doc
    (the text_boilerplate_strip idiom) — one shuffle on doc_id, cost
    bounded by a document's token count.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    tok = d.select("doc_id", F.posexplode("ws").alias("pos", "tok"))
    p = _SPAN_PERIOD
    m = tok.select(
        "doc_id",
        "pos",
        "tok",
        (F.col("pos") % p <= 1).alias("masked"),
        F.expr(f"pos DIV {p}").alias("span"),
    )
    corrupted_tok = F.when(
        ~F.col("masked"), F.col("tok")
    ).when(
        F.col("pos") % p == 0,
        F.concat(F.lit("<X"), F.col("span"), F.lit(">")),
    )
    target_tok = F.when(
        F.col("masked") & (F.col("pos") % p == 0),
        F.concat(F.lit("<X"), F.col("span"), F.lit("> "), F.col("tok")),
    ).when(F.col("masked"), F.col("tok"))
    g = m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("masked").cast("int")).cast("long").alias("n_masked"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            corrupted_tok.isNotNull(),
                            F.struct(F.col("pos"), corrupted_tok.alias("t")),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("corrupted"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            target_tok.isNotNull(),
                            F.struct(F.col("pos"), target_tok.alias("t")),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("target"),
    )
    return g


def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reason-coded admission gate — the production corpus filter that
    AND-composes independent quality rules and records WHY each document
    failed (reason codes are what let a data team tune one rule without
    re-running the others): Gopher heuristics (text_quality_gopher's
    pass bit), language identified (text_langid ≠ 'und'), blocklist
    density (text_blocklist_filter), and exact-duplicate keeper status
    (dedup_exact's min-doc_id convention).  Each rule is THE operator's
    own relation, imported — not re-stated — so the gate can never
    drift from its components (the langid_exprs single-source
    discipline, and the oracle composes the same components' SQL).

    Scale: each rule is an independent map-heavy relation joined back on
    doc_id; a production deployment fuses them into one scan (the rules
    are all projections + bounded aggregates), at the cost of exactly
    the modularity this operator exists to demonstrate.
    """
    from .quality import text_quality_gopher
    from .text import text_blocklist_filter, text_langid

    g = text_quality_gopher(spark, sf_dir).select("doc_id", "pass_quality")
    b = text_blocklist_filter(spark, sf_dir).select("doc_id", "flagged")
    l = text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    keeper = d.withColumn(
        "is_keeper",
        F.row_number().over(
            Window.partitionBy("text").orderBy("doc_id")
        )
        == 1,
    ).select("doc_id", "is_keeper")
    j = (
        g.join(b, "doc_id").join(l, "doc_id").join(keeper, "doc_id")
    )
    fails = F.array_sort(
        F.filter(
            F.array(
                F.when(~F.col("pass_quality"), F.lit("gopher")),
                F.when(F.col("pred_lang") == "und", F.lit("langid")),
                F.when(F.col("flagged"), F.lit("blocklist")),
                F.when(~F.col("is_keeper"), F.lit("duplicate")),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return j.select(
        "doc_id",
        F.col("pass_quality").alias("ok_gopher"),
        (F.col("pred_lang") != "und").alias("ok_langid"),
        (~F.col("flagged")).alias("ok_blocklist"),
        F.col("is_keeper").alias("ok_unique"),
        F.array_join(fails, ",").alias("reasons"),
        (F.size(fails) == 0).alias("admitted"),
    )


QUERIES = {
    "pipeline_prep": pipeline_prep,
    "pipeline_preference_pairs": pipeline_preference_pairs,
    "pipeline_sft_transcripts": pipeline_sft_transcripts,
    "pipeline_span_corruption": pipeline_span_corruption,
    "pipeline_quality_gate": pipeline_quality_gate,
}

ORACLE = {
    "pipeline_prep": f"""
        WITH deduped AS (
            SELECT doc_id, text, lang, n_chars
            FROM documents
            QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        ),
        gated AS (
            SELECT doc_id, text, lang,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_words
            FROM deduped
            WHERE n_chars > 0
              AND {sql_half_up(
                      "(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5 "
                      "+ least(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
                      "/ CAST(n_chars AS DOUBLE), 1.0) * 0.5)"
                  )}
                  >= {_MIN_QUALITY}
        ),
        scored AS (
            SELECT doc_id, lang, n_words,
                   {_HITS_SQL}
            FROM gated
        ),
        tagged AS (
            SELECT doc_id, lang, n_words, {_PRED_SQL} AS pred_lang FROM scored
        )
        SELECT pred_lang, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc
        FROM tagged
        WHERE pred_lang <> 'und'
        GROUP BY pred_lang, lang
        ORDER BY pred_lang, lang
    """,
    "pipeline_preference_pairs": f"""
        WITH r AS (
            SELECT user_id, event_id, value,
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
            SELECT user_id, event_id AS chosen_event_id,
                   value AS chosen_score
            FROM r WHERE r_top = 1 AND n >= 2
        ),
        rejected AS (
            SELECT user_id, event_id AS rejected_event_id,
                   value AS rejected_score
            FROM r WHERE r_bot = 1
        )
        SELECT c.user_id, c.chosen_event_id, c.chosen_score,
               j.rejected_event_id, j.rejected_score,
               c.chosen_score - j.rejected_score AS margin
        FROM chosen c JOIN rejected j USING (user_id)
        WHERE c.chosen_score - j.rejected_score >= {_PP_MIN_MARGIN}
    """,
    "pipeline_sft_transcripts": """
        WITH e AS (
            SELECT user_id, ts, event_id,
                   CASE event_type
                       WHEN 'view' THEN 'user'
                       WHEN 'click' THEN 'user'
                       WHEN 'purchase' THEN 'assistant'
                       WHEN 'signup' THEN 'assistant'
                       WHEN 'error' THEN 'system'
                   END AS role,
                   event_type, props->>'$.k' AS k
            FROM events
        ),
        t AS (
            SELECT user_id, ts, event_id, role,
                   role || ': ' || event_type || '#' || k AS turn
            FROM e
        ),
        last_turn AS (
            SELECT user_id, role AS last_role
            FROM t
            QUALIFY row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) = 1
        )
        SELECT t.user_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(SUM(CASE WHEN t.role = 'user' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_user_turns,
               CAST(SUM(CASE WHEN t.role = 'assistant' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_assistant_turns,
               string_agg(t.turn, ' | ' ORDER BY t.ts, t.event_id)
                   AS transcript,
               (any_value(l.last_role) = 'assistant') AS valid_for_training
        FROM t JOIN last_turn l USING (user_id)
        GROUP BY t.user_id
    """,
    "pipeline_span_corruption": f"""
        WITH tok AS (
            SELECT doc_id, u.pos AS pos, u.w1 AS tok FROM (
                SELECT doc_id, {sql_indexed_unnest("text", 1)} AS u
                FROM documents
            )
        ),
        m AS (
            SELECT doc_id, pos, tok,
                   (pos % {_SPAN_PERIOD} <= 1) AS masked,
                   pos // {_SPAN_PERIOD} AS span
            FROM tok
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked,
               string_agg(
                   CASE WHEN NOT masked THEN tok
                        WHEN pos % {_SPAN_PERIOD} = 0
                            THEN '<X' || span || '>' END,
                   ' ' ORDER BY pos) AS corrupted,
               string_agg(
                   CASE WHEN masked AND pos % {_SPAN_PERIOD} = 0
                            THEN '<X' || span || '> ' || tok
                        WHEN masked THEN tok END,
                   ' ' ORDER BY pos) AS target
        FROM m GROUP BY doc_id
    """,
}


def _quality_gate_oracle() -> str:
    """Composes the COMPONENT operators' own oracle SQL as CTE bodies —
    the oracle-side twin of the gate importing the operators' relations,
    so rule drift breaks both sides together."""
    from .quality import ORACLE as _QO
    from .text import ORACLE as _TO

    return f"""
        WITH gq AS ({_QO["text_quality_gopher"]}),
        bq AS ({_TO["text_blocklist_filter"]}),
        lq AS ({_TO["text_langid"]}),
        kq AS (
            SELECT doc_id,
                   (row_number() OVER (PARTITION BY text ORDER BY doc_id)
                    = 1) AS is_keeper
            FROM documents
        ),
        j AS (
            SELECT gq.doc_id, gq.pass_quality, bq.flagged, lq.pred_lang,
                   kq.is_keeper,
                   list_sort(list_filter([
                       CASE WHEN NOT gq.pass_quality THEN 'gopher' END,
                       CASE WHEN lq.pred_lang = 'und' THEN 'langid' END,
                       CASE WHEN bq.flagged THEN 'blocklist' END,
                       CASE WHEN NOT kq.is_keeper THEN 'duplicate' END],
                       x -> x IS NOT NULL)) AS fails
            FROM gq
            JOIN bq USING (doc_id)
            JOIN lq USING (doc_id)
            JOIN kq USING (doc_id)
        )
        SELECT doc_id,
               pass_quality AS ok_gopher,
               (pred_lang <> 'und') AS ok_langid,
               (NOT flagged) AS ok_blocklist,
               is_keeper AS ok_unique,
               COALESCE(array_to_string(fails, ','), '') AS reasons,
               (len(fails) = 0) AS admitted
        FROM j
    """


ORACLE["pipeline_quality_gate"] = _quality_gate_oracle()
