"""Operator shape/edge unit tests at sf0.001 (SURVEY §5): empty inputs,
null handling, duplicate keys, determinism — the cases the oracle
differential can't isolate."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_test_spark.io import TABLES, table
from datafusion_test_spark.operators import aggregates, joins, setops, windows
from datafusion_test_spark.pipeline import dedup, similarity, text


def test_all_tables_load(spark, sf_dir):
    for name in TABLES:
        df = table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_events_ts_is_timestamp(spark, sf_dir):
    assert dict(table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"


def test_agg_groupby_totals_consistent(spark, sf_dir):
    rows = aggregates.agg_groupby(spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    assert sum(r["count_order"] for r in rows) == li.count()
    assert all(r["sum_disc_price"] <= r["sum_base_price"] for r in rows)


def test_agg_on_empty_input(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(F.lit(False))
    out = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    assert out == []
    glob = li.agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s")).collect()
    assert glob[0]["n"] == 0 and glob[0]["s"] is None


def test_outer_join_null_extension(spark, sf_dir):
    out = joins.join_full(spark, sf_dir)
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000.0)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000.0)
    # orders of non-qualifying customers are null-extended on the left side
    assert out.filter(F.col("c_custkey").isNull()).count() > 0
    # full join covers both inputs entirely
    assert out.count() >= c.count() and out.count() >= o.count()


def test_semi_plus_anti_partition_customers(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    n_semi = joins.join_semi(spark, sf_dir).count()
    n_anti = joins.join_anti(spark, sf_dir).count()
    assert n_semi + n_anti == c.count()


def test_asof_values_at_or_before(spark, sf_dir):
    out = joins.join_asof(spark, sf_dir).filter(F.col("asof_ts").isNotNull())
    assert out.filter(F.col("asof_ts") > F.col("ts")).count() == 0


def test_union_setop_algebra(spark, sf_dir):
    ua = setops.union_all(spark, sf_dir).count()
    _, hi, urgent = setops._split(spark, sf_dir)
    assert ua == hi.count() + urgent.count()
    inter = setops.intersect(spark, sf_dir)
    exc = setops.except_(spark, sf_dir)
    urgent_keys = urgent.select().count()  # touch
    assert inter.intersect(exc).count() == 0  # disjoint by definition


def test_window_ranking_determinism(spark, sf_dir):
    a = windows.win_ranking(spark, sf_dir).collect()
    b = windows.win_ranking(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_running_sum_monotone_per_customer(spark, sf_dir):
    out = windows.win_running_sum(spark, sf_dir)
    w_bad = out.groupBy("o_custkey").agg(
        (F.max("running_total") - F.sum(F.lit(0.0))).alias("mx")
    )
    # max running total equals the customer's total (prefix-sum invariant)
    joined = (
        out.groupBy("o_custkey").agg(F.max("running_total").alias("mx"))
        .join(
            table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("tot")
            ),
            "o_custkey",
        )
    )
    assert joined.filter(F.abs(F.col("mx") - F.col("tot")) > 1e-6).count() == 0


def test_dedup_exact_partitions_docs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    out = dedup.dedup_exact(spark, sf_dir)
    assert out.agg(F.sum("n_copies")).collect()[0][0] == d.count()


def test_minhash_candidates_have_high_jaccard_recall(spark, sf_dir):
    """LSH candidates should cover the high-similarity pairs the exact
    3-gram Jaccard finds (recall check at 0.6 threshold)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.9
    }
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_pairs(spark, docs).collect()
    }
    if exact:
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.8, (recall, len(exact), len(cand))


def test_simhash_deterministic(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted(map(tuple, dedup.simhash_pairs(spark, docs).collect()))
    b = sorted(map(tuple, dedup.simhash_pairs(spark, docs).collect()))
    assert a == b


def test_df_cap_drops_hot_buckets(spark, sf_dir, monkeypatch):
    """The hot-bucket guard: with the cap forced to 1, a corpus of three
    identical docs (every shingle/bucket has frequency 3 > 1) must yield
    ZERO candidate pairs; with the default cap the pairs appear."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(3)],
        "doc_id long, text string",
    )
    assert dedup.minhash_pairs(spark, docs).count() == 3  # all pairs found
    monkeypatch.setattr(dedup, "_DF_CAP", 1)
    assert dedup.minhash_pairs(spark, docs).count() == 0
    assert dedup.simhash_pairs(spark, docs).count() == 0


def test_planted_duplicate_harnesses_all_found(spark, sf_dir):
    """The declared dedup_minhash / dedup_simhash / dedup_embed_lsh entries
    are planted-duplicate containment harnesses: every planted identical
    pair must be rediscovered."""
    for fn in (dedup.dedup_minhash, dedup.dedup_simhash, dedup.dedup_embed_lsh):
        row = fn(spark, sf_dir).collect()[0]
        assert row["n_planted_pairs"] > 0, fn.__name__
        assert row["found_all_planted"] is True, fn.__name__


def test_lsh_bits_scales_with_corpus():
    """Signature width: floor of 8 bits at test scale, grows ~log2(N) so
    expected bucket population stays ~128, capped at 24."""
    from datafusion_test_spark.pipeline._expr import lsh_bits

    assert lsh_bits(0) == 8
    assert lsh_bits(2_000) == 8  # testdata scale: identical to round 1
    assert lsh_bits(128 * (2**10)) == 10
    assert lsh_bits(10**9) == 23
    assert lsh_bits(10**12) == 24  # hi clamp


def test_sim_pairwise_lsh_top10_is_planted(spark, sf_dir):
    """sim_pairwise_lsh: the 10 planted cos-1.0 pairs must be the exact
    top-10 (real max pair cosine ~0.6)."""
    rows = similarity.sim_pairwise_lsh(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["cos_sim"] == 1.0 for r in rows)
    assert all(r["vec_b"] == r["vec_a"] + 10_000_000 for r in rows)


def test_sim_pairwise_lsh_degenerate_corpus_emits_vacuity_rows(spark, sf_dir, tmp_path):
    """VERDICT r10 item 5: a corpus with duplicated base vectors must not
    be a verification SKIP — the query detects it and emits the vacuity
    decision itself (10 lowest base vec_ids, NULL pair columns,
    degenerate=TRUE), which the oracle states exactly.  Built here by
    cloning two base vectors under fresh vec_ids."""
    from pyspark.sql import functions as F

    from datafusion_test_spark.io import table

    e = table(spark, sf_dir, "embeddings")
    clones = (
        e.orderBy("vec_id")
        .limit(2)
        .withColumn("vec_id", F.col("vec_id") + F.lit(90_000_000))
    )
    out = str(tmp_path / "deg")
    e.unionByName(clones).write.mode("overwrite").parquet(
        out + "/embeddings.parquet"
    )
    rows = similarity.sim_pairwise_lsh(spark, out).collect()
    assert len(rows) == 10
    assert all(r["degenerate"] for r in rows)
    assert all(r["vec_b"] is None and r["cos_sim"] is None for r in rows)
    base_low = [r["vec_id"] for r in e.orderBy("vec_id").limit(10).collect()]
    assert sorted(r["vec_a"] for r in rows) == base_low


def test_sim_topk_self_is_top(spark, sf_dir):
    rows = similarity.sim_topk(spark, sf_dir).collect()
    # The query vector is vec_id=min; its self-similarity must rank first.
    assert rows[0]["cos_sim"] == 1.0


def test_sim_ann_subset_of_bruteforce_bucket(spark, sf_dir):
    ann = similarity.ann_topk(spark, sf_dir).collect()
    assert len(ann) >= 1  # query's own bucket contains at least itself
    assert ann[0]["cos_sim"] == 1.0
    # approximate results must be a subset of the candidate space scored
    # identically to the exact operator: every (vec_id, cos) pair in the ANN
    # output must appear with the same score in the brute-force ranking
    exact = {
        r["vec_id"]: r["cos_sim"] for r in similarity.sim_topk(spark, sf_dir).collect()
    }
    for r in ann:
        if r["vec_id"] in exact:
            assert exact[r["vec_id"]] == r["cos_sim"]


def test_text_langid_schema_and_domain(spark, sf_dir):
    out = text.text_langid(spark, sf_dir)
    langs = {r["pred_lang"] for r in out.collect()}
    assert langs <= {"de", "en", "es", "fr", "zh", "und"}


def test_fingerprint_equal_for_equal_text(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    fp = text.text_fingerprint(spark, sf_dir)
    joined = d.select("doc_id", "text").join(fp, "doc_id")
    groups = joined.groupBy("text").agg(
        F.countDistinct("fingerprint").alias("nfp")
    )
    assert groups.filter(F.col("nfp") > 1).count() == 0


def test_hll_merge_within_tolerance(spark, sf_dir):
    """Partial per-nation sketches union-merged must estimate within the
    3-sigma tolerance, same for the direct sketch."""
    row = aggregates.agg_hll_merge(spark, sf_dir).collect()[0]
    assert row["exact_custs"] > 0 and row["n_partials"] > 1
    assert row["merged_within_tol"] is True
    assert row["direct_within_tol"] is True


def test_bucketed_join_no_shuffle_invariant(spark, sf_dir):
    """join_bucketed's emitted plan invariant: the bucket layout removed the
    join-key Exchanges (the declared-operator twin of test_layout's plan
    assertion), and totals match the plain join."""
    from datafusion_test_spark.operators.joins import join_bucketed

    rows = join_bucketed(spark, sf_dir).collect()
    assert all(r["bucketed_no_shuffle"] is True for r in rows)
    li = table(spark, sf_dir, "lineitem")
    assert sum(r["n_items"] for r in rows) == li.count()


def test_editdist_refines_jaccard_pairs(spark, sf_dir):
    """Every edit-distance pair is a jaccard candidate pair, and the 20%
    threshold holds row-wise."""
    ed = dedup.dedup_editdist(spark, sf_dir).collect()
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    for r in ed:
        assert (r["doc_a"], r["doc_b"]) in cand
        assert 5 * r["lev"] <= r["max_len"]


def test_sim_ivf_self_match_and_pruning(spark, sf_dir):
    """IVF harness: query finds itself at cos 1.0 and the probe scanned a
    strict subset of the corpus."""
    row = similarity.sim_ivf(spark, sf_dir).collect()[0]
    assert row["self_is_top"] is True
    assert row["top_cos"] == 1.0
    assert row["probed_subset"] is True


def test_udtf_python_api_matches_builtin_tokenize(spark, sf_dir):
    """The Python UDTF's word rows must equal the builtin split+posexplode
    expansion, and re-invocation (re-registration) is idempotent."""
    from datafusion_test_spark.operators.udf import udtf_python_api

    got = udtf_python_api(spark, sf_dir)
    want = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .select("doc_id", "word", F.col("pos").cast("int").alias("pos"))
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert udtf_python_api(spark, sf_dir).count() == want.count()


def test_contamination_finds_planted_leaks(spark, sf_dir):
    """Every planted leaked eval doc (id >= _LEAK_OFFSET) must be flagged,
    with at least one shared 5-gram and one eval doc hit."""
    from datafusion_test_spark.pipeline import curation

    rows = curation.text_contamination(spark, sf_dir).collect()
    leaked = [r for r in rows if r["doc_id"] >= curation._LEAK_OFFSET]
    assert len(leaked) == curation._N_LEAK
    for r in rows:
        assert r["n_shared_grams"] >= 1 and r["n_eval_docs_hit"] >= 1


def test_seq_pack_partitions_all_docs_within_budget(spark, sf_dir):
    """Packing is a partition of the corpus: doc counts and token totals
    tie out, bins are contiguous in doc_id, and every bin except possibly
    the last holds >= the budget only via its final overflow doc."""
    from datafusion_test_spark.pipeline import curation

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    n_docs, tok_total = d.count(), d.agg(F.sum("tok")).collect()[0][0]
    bins = sorted(
        curation.seq_pack(spark, sf_dir).collect(), key=lambda r: r["bin_id"]
    )
    assert sum(r["n_docs"] for r in bins) == n_docs
    assert sum(r["tok_sum"] for r in bins) == tok_total
    for a, b in zip(bins, bins[1:]):
        assert a["last_doc"] < b["first_doc"]  # contiguous doc_id ranges


def test_layout_zonemap_invariants(spark, sf_dir):
    from datafusion_test_spark.sources.connectors import layout_zonemap

    row = layout_zonemap(spark, sf_dir).collect()[0]
    assert row["ranges_disjoint"] is True
    assert row["files_ok"] is True
    assert row["pruning_effective"] is True
    assert row["n_rows"] == table(spark, sf_dir, "documents").count()


def test_mode_median_deterministic_tiebreak(spark, sf_dir):
    """Re-running mode/median yields identical rows (the builtin mode()
    guarantee Spark does NOT make is exactly what the window form adds)."""
    r1 = sorted(map(tuple, aggregates.agg_mode_median(spark, sf_dir).collect()))
    r2 = sorted(map(tuple, aggregates.agg_mode_median(spark, sf_dir).collect()))
    assert r1 == r2 and len(r1) > 0


def test_observe_metrics_match_direct_agg(spark, sf_dir):
    from datafusion_test_spark.operators.relational import observe_metrics

    row = observe_metrics(spark, sf_dir).collect()[0]
    li = table(spark, sf_dir, "lineitem")
    assert row["n_rows"] == li.count()
    assert row["min_orderkey"] == li.agg(F.min("l_orderkey")).collect()[0][0]


def test_fn_url_hosts_cover_sources(spark, sf_dir):
    from datafusion_test_spark.functions.scalar import fn_url

    rows = fn_url(spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents")
    assert len(rows) == d.select("source").distinct().count()
    assert all(r["proto"] == "https" and r["host"].endswith(".example.com") for r in rows)


def test_domain_mix_rates_achieved(spark, sf_dir):
    """Exact-rate langs hit their rate exactly; fractional rates land in
    [floor(r), ceil(r)] bounds per doc, so n_out/n_in is bounded too."""
    from datafusion_test_spark.pipeline import curation

    rows = {r["lang"]: r for r in curation.domain_mix(spark, sf_dir).collect()}
    for lg, rate in curation._MIX_RATES.items():
        if lg not in rows:
            continue
        r = rows[lg]
        import math

        assert math.floor(rate) * r["n_in"] <= r["n_out"] <= math.ceil(rate) * r["n_in"]
        if rate == int(rate):  # exact multiplier: no randomness at all
            assert r["n_out"] == int(rate) * r["n_in"]


def test_domain_mix_deterministic(spark, sf_dir):
    from datafusion_test_spark.pipeline import curation

    a = sorted(map(tuple, curation.domain_mix(spark, sf_dir).collect()))
    b = sorted(map(tuple, curation.domain_mix(spark, sf_dir).collect()))
    assert a == b


def test_dedup_url_collapses_tracking_variants(spark, sf_dir):
    """Groups must merge docs differing only in tracking params/fragments:
    group count equals distinct (source, lang, doc_id % 50) combos, and
    every group keeps its minimum doc_id."""
    from datafusion_test_spark.pipeline import curation

    rows = curation.dedup_url(spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents")
    want = d.select("source", "lang", (F.col("doc_id") % 50).alias("m")).distinct().count()
    assert len(rows) == want
    assert sum(r["n_dups"] for r in rows) == d.count()


def test_ngram_lm_surprise_bounds(spark, sf_dir):
    """Surprise is >= 1 by construction (c1 >= c12); a doc whose every
    bigram is unique in the corpus would score its own c1 ratios."""
    from datafusion_test_spark.pipeline.text import text_ngram_lm

    rows = text_ngram_lm(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["avg_surprise"] >= 1.0 for r in rows)


def test_cdc_apply_tombstones_and_lww(spark, sf_dir):
    """Keys whose LAST op is a delete are absent; surviving rows carry the
    key's maximal (ts, event_id) upsert."""
    from datafusion_test_spark.sources.connectors import stream_cdc_apply

    ev = table(spark, sf_dir, "events")
    rows = {r["user_id"]: r for r in stream_cdc_apply(spark, sf_dir).collect()}
    import operator

    per_key = {}
    for e in ev.collect():
        k = (e["ts"], e["event_id"])
        if e["user_id"] not in per_key or k > per_key[e["user_id"]][0]:
            per_key[e["user_id"]] = (k, e["event_type"], e["event_id"])
    for uid, (_, etype, eid) in per_key.items():
        if etype == "error":
            assert uid not in rows
        else:
            assert rows[uid]["last_event"] == eid


def test_quality_gopher_flags_consistent(spark, sf_dir):
    from datafusion_test_spark.pipeline import quality

    rows = quality.text_quality_gopher(spark, sf_dir).collect()
    assert rows, "non-empty corpus"
    for r in rows:
        assert r["n_distinct_words"] <= r["n_words"]
        assert r["top_word_cnt"] >= 1
        assert r["pass_quality"] == (
            r["ok_len"] and r["ok_repetition"] and r["ok_word_len"] and r["ok_top_word"]
        )
    # thresholds must discriminate: both outcomes present on the corpus
    outcomes = {r["pass_quality"] for r in rows}
    assert outcomes == {True, False}


def test_split_covers_corpus_and_is_deterministic(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.pipeline import quality

    rows = {r["split"]: r for r in quality.split_train_holdout(spark, sf_dir).collect()}
    total = t(spark, sf_dir, "documents").count()
    assert set(rows) == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows.values()) == total
    assert rows["train"]["n_docs"] > rows["val"]["n_docs"]
    again = {r["split"]: r["n_docs"] for r in quality.split_train_holdout(spark, sf_dir).collect()}
    assert again == {k: v["n_docs"] for k, v in rows.items()}


def test_heavy_hitters_ranked_and_thresholded(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.pipeline import quality

    rows = quality.agg_heavy_hitters(spark, sf_dir).collect()
    total = t(spark, sf_dir, "events").count()
    assert rows, "threshold should admit at least one user at sf0.001"
    ranks = [r["hh_rank"] for r in sorted(rows, key=lambda r: r["hh_rank"])]
    assert ranks == list(range(1, len(rows) + 1))
    counts = [r["n_events"] for r in sorted(rows, key=lambda r: r["hh_rank"])]
    assert counts == sorted(counts, reverse=True)
    assert all(1000 * r["n_events"] >= 8 * total for r in rows)


def test_scd2_intervals_chain_per_user(spark, sf_dir):
    from datafusion_test_spark.operators import maintenance

    rows = maintenance.scd2_build(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        for a, b in zip(ivs, ivs[1:]):
            assert a["effective_to"] == b["effective_from"], "intervals must chain"
            assert a["state"] != b["state"], "consecutive states must differ"
        assert ivs[-1]["is_current"] and ivs[-1]["effective_to"] is None
        assert all(not r["is_current"] for r in ivs[:-1])


def test_agg_incremental_merge_is_lossless(spark, sf_dir):
    from datafusion_test_spark.operators import maintenance

    rows = maintenance.agg_incremental(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["count_matches"] and r["sum_matches"] and r["bounds_match"], r


def test_join_bloom_prefilter_supersets_join(spark, sf_dir):
    from datafusion_test_spark.operators import maintenance

    r = maintenance.join_bloom(spark, sf_dir).collect()[0]
    assert r["n_joined"] <= r["n_candidates"] <= r["n_fact"]
    assert r["no_false_negatives"]
    # the bucket filter must actually prune (4096 buckets, small dim)
    assert r["n_candidates"] < r["n_fact"] // 2


def test_fn_bitmap_counts_exact(spark, sf_dir):
    from datafusion_test_spark.operators import maintenance

    rows = maintenance.fn_bitmap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["bitmap_exact"], r
        assert r["n_words"] <= r["n_users_exact"], "words never outnumber members"


def test_layout_compaction_preserves_content(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import maintenance

    r = maintenance.layout_compaction(spark, sf_dir).collect()[0]
    src = t(spark, sf_dir, "documents")
    assert r["n_rows"] == src.count()
    assert r["n_files_small"] == min(64, r["n_rows"])
    assert r["compacted_le_4"] and r["files_reduced"]


def test_rollup_gapfill_grid_dense_and_locf(spark, sf_dir):
    from datafusion_test_spark.streaming import batch_windows

    rows = batch_windows.rollup_gapfill(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["bucket"])
        # dense hourly grid between the type's min and max bucket
        for a, b in zip(rs, rs[1:]):
            assert (b["bucket"] - a["bucket"]).total_seconds() == 3600
        # gaps have n_events 0 and inherit the previous sum (locf)
        for i, r in enumerate(rs):
            if r["is_gap"]:
                assert r["n_events"] == 0
                assert r["sum_value_locf"] == rs[i - 1]["sum_value_locf"]


def test_count_min_overestimates_only(spark, sf_dir):
    from datafusion_test_spark.operators import aggregates

    rows = aggregates.agg_count_min(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["est_ge_exact"] and r["n_est"] >= r["n_exact"] >= 1 for r in rows)


def test_schema_evolution_nulls_track_batches(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.sources import connectors

    rows = connectors.scan_schema_evolution(spark, sf_dir).collect()
    src = t(spark, sf_dir, "documents")
    assert sum(r["n_rows"] for r in rows) == src.count()
    for r in rows:
        assert r["n_rows"] == r["n_with_chars"] + r["n_old_schema"]


def test_embed_pca_invariants(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.pipeline import similarity

    r = similarity.embed_pca(spark, sf_dir).collect()[0]
    assert r["n_vecs"] == t(spark, sf_dir, "embeddings").count()
    assert r["dim"] == 64 and r["k"] == 4
    assert r["components_orthonormal"] and r["eigs_nonincreasing"]
    assert r["proj_var_le_total"]


def test_fn_collation_case_insensitive_halves_groups(spark, sf_dir):
    from datafusion_test_spark.functions import scalar

    rows = scalar.fn_collation(spark, sf_dir).collect()
    assert rows
    r = rows[0]
    # mixed-casing doubles binary-distinct keys; collation folds them back
    assert r["n_distinct_ci"] < r["n_distinct_binary"] <= 2 * r["n_distinct_ci"]
    assert len(rows) == r["n_distinct_ci"]


def test_source_python_api_partition_planning(spark, sf_dir):
    from datafusion_test_spark.sources import generate

    rows = generate.source_python_api(spark, sf_dir).collect()
    assert len(rows) == 10
    assert sum(r["n_rows"] for r in rows) == 1000
    assert sum(r["id_sum"] for r in rows) == 1000 * 999 // 2


def test_agg_percentiles_ordered(spark, sf_dir):
    from datafusion_test_spark.operators import aggregates

    for r in aggregates.agg_percentiles(spark, sf_dir).collect():
        assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]


def test_funnel_stages_monotone(spark, sf_dir):
    from datafusion_test_spark.operators import analytics

    r = analytics.funnel_conversion(spark, sf_dir).collect()[0]
    assert r["n_users"] >= r["n_viewed"] >= r["n_clicked"] >= r["n_purchased"]
    assert r["n_purchased"] >= 0 and r["n_viewed"] > 0


def test_retention_cohort_shape(spark, sf_dir):
    from datafusion_test_spark.operators import analytics

    rows = analytics.agg_retention_cohort(spark, sf_dir).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert 0 <= r["day_offset"] <= 7
        by_cohort.setdefault(r["cohort_day"], {})[r["day_offset"]] = r["n_active"]
    for cohort, offs in by_cohort.items():
        assert 0 in offs, "cohort must include its own first day"
        assert all(n <= offs[0] for n in offs.values()), "retention <= cohort size"


def test_bag_setops_multiplicity(spark, sf_dir):
    from datafusion_test_spark.operators import setops

    ia = setops.intersect_all(spark, sf_dir).count()
    i = setops.intersect(spark, sf_dir).count()
    ea = setops.except_all(spark, sf_dir).count()
    e = setops.except_(spark, sf_dir).count()
    assert ia >= i and ea >= e  # bag semantics keep multiplicity


def test_join_null_safe_matches_null_member(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import joins
    from pyspark.sql import functions as F

    rows = {r["status_name"]: r for r in joins.join_null_safe(spark, sf_dir).collect()}
    o = t(spark, sf_dir, "orders")
    n_open = o.filter(F.col("o_orderstatus") == "O").count()
    assert rows["open-or-unknown"]["n_orders"] == n_open
    assert sum(r["n_orders"] for r in rows.values()) == o.count()


def test_udf_cogrouped_covers_both_sides(spark, sf_dir):
    from datafusion_test_spark.operators import udf as udfmod

    rows = udfmod.udf_cogrouped(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_clicks"] > 0 or r["n_purchases"] > 0
        if r["n_clicks"] == 0:
            assert r["first_click"] is None
        if r["n_purchases"] == 0:
            assert r["last_purchase"] is None


def test_vector_centroid_shape(spark, sf_dir):
    from datafusion_test_spark.pipeline import similarity

    rows = similarity.agg_vector_centroid(spark, sf_dir).collect()
    labels = {r["label"] for r in rows}
    assert all(len([r for r in rows if r["label"] == lb]) == 64 for lb in labels)
    assert all(-1.0 <= r["centroid_val"] <= 1.0 for r in rows)


def test_asof_forward_mirrors_backward(spark, sf_dir):
    from datafusion_test_spark.operators import joins

    fwd = {r["event_id"]: r for r in joins.join_asof_forward(spark, sf_dir).collect()}
    bwd = {r["event_id"]: r for r in joins.join_asof(spark, sf_dir).collect()}
    assert set(fwd) == set(bwd)
    for eid, f in fwd.items():
        if f["next_ts"] is not None:
            assert f["next_ts"] >= f["ts"]
        b = bwd[eid]
        if b["asof_ts"] is not None:
            assert b["asof_ts"] <= b["ts"]


def test_win_time_range_bounds(spark, sf_dir):
    from datafusion_test_spark.operators import windows

    rows = windows.win_time_range(spark, sf_dir).collect()
    assert all(r["n_trailing_1h"] >= 1 for r in rows)  # frame includes self


def test_seq_pattern_hits_subset_of_clicks(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import analytics
    from pyspark.sql import functions as F

    rows = analytics.seq_pattern_detect(spark, sf_dir).collect()
    clicks = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .count()
    )
    nc = {r["user_id"]: r["count"] for r in clicks.collect()}
    for r in rows:
        assert r["n_matches"] <= nc.get(r["user_id"], 0)
        if r["n_matches"] > 0:
            assert r["first_match_ts"] is not None


def test_histogram_covers_all_rows(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import aggregates

    rows = aggregates.agg_histogram(spark, sf_dir).collect()
    assert sum(r["n_rows"] for r in rows) == t(spark, sf_dir, "lineitem").count()
    assert all(0 <= r["bucket"] <= 19 for r in rows)


def test_dpp_plan_applied(spark, sf_dir):
    from datafusion_test_spark.operators import joins

    r = joins.join_partition_pruned(spark, sf_dir).collect()[0]
    assert r["dpp_applied"], "dynamic partition pruning must appear in the plan"
    assert r["n_orders"] > 0


def test_skyline_no_dominated_member(spark, sf_dir):
    from datafusion_test_spark.operators import analytics

    rows = analytics.skyline_pareto(spark, sf_dir).collect()
    assert rows
    # pairwise: no member strictly dominated (earlier day AND <= price)
    for a in rows:
        for b in rows:
            if b["day"] < a["day"]:
                assert b["o_totalprice"] > a["o_totalprice"]


def test_interval_union_bounds(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import analytics

    rows = analytics.interval_union(spark, sf_dir).collect()
    per_user = (
        t(spark, sf_dir, "events").groupBy("user_id").count().collect()
    )
    nev = {r["user_id"]: r["count"] for r in per_user}
    for r in rows:
        assert 1 <= r["n_islands"] <= nev[r["user_id"]]
        # coverage within [one interval, n * interval]
        assert 600_000_000 <= r["covered_us"] <= nev[r["user_id"]] * 600_000_000
        assert r["longest_us"] >= 600_000_000


def test_hll_intersect_within_band(spark, sf_dir):
    from datafusion_test_spark.operators import aggregates

    r = aggregates.agg_hll_intersect(spark, sf_dir).collect()[0]
    assert r["within_10pct"] and r["exact_overlap"] >= 0


def test_chunking_covers_every_token(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.pipeline import quality
    from pyspark.sql import functions as F

    chunks = quality.text_chunk_overlap(spark, sf_dir).collect()
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c["doc_id"], []).append(c)
    n_words = {
        r["doc_id"]: r["n"]
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for doc, cs in by_doc.items():
        cs.sort(key=lambda c: c["chunk_idx"])
        assert cs[0]["chunk_idx"] == 0
        # stride coverage: chunk i starts at i*24; last chunk reaches the end
        covered = (len(cs) - 1) * 24 + cs[-1]["n_tokens"]
        assert covered == n_words[doc]
        assert all(c["n_tokens"] <= 32 for c in cs)


def test_vocab_ids_contiguous_and_oov_consistent(spark, sf_dir):
    from datafusion_test_spark.pipeline import quality

    rows = sorted(
        quality.text_vocab_build(spark, sf_dir).collect(),
        key=lambda r: r["vocab_id"],
    )
    assert [r["vocab_id"] for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert len({r["oov_rate"] for r in rows}) == 1 and rows[0]["oov_rate"] >= 0


def test_incremental_dedup_flags_cross_batch_dups(spark, sf_dir):
    from datafusion_test_spark.pipeline import quality

    rows = quality.dedup_incremental(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["is_dup"]:
            assert r["dup_of"] is not None and r["dup_of"] % 5 < 3
        else:
            assert r["dup_of"] is None


def test_training_shards_budget_and_order(spark, sf_dir):
    from datafusion_test_spark.pipeline import curation

    rows = sorted(
        curation.pipeline_training_shards(spark, sf_dir).collect(),
        key=lambda r: r["shard_id"],
    )
    assert rows
    # contiguous shard ids; doc ranges strictly increasing across shards
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]
    # every full shard's token sum stays within [budget, budget + max doc)
    for r in rows[:-1]:
        assert r["tok_sum"] >= 1


def test_corr_matrix_bounds(spark, sf_dir):
    from datafusion_test_spark.operators import aggregates

    rows = aggregates.agg_corr_matrix(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(-1.0 <= r["pearson_r"] <= 1.0 for r in rows)


def test_generator_outer_keeps_empty_docs(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.functions import scalar

    rows = scalar.fn_generator_outer(spark, sf_dir).collect()
    docs_in = t(spark, sf_dir, "documents").count()
    assert len({r["doc_id"] for r in rows}) == docs_in, "no parent dropped"
    assert any(r["word"] is None for r in rows), "empty lists surface as NULL"


def test_skew_diagnose_consistent(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import aggregates

    r = aggregates.agg_skew_diagnose(spark, sf_dir).collect()[0]
    li = t(spark, sf_dir, "lineitem")
    assert r["n_rows"] == li.count()
    assert r["max_group"] >= r["median_group"] >= 1


def test_pack_bins_partitioning_invariant(spark, sf_dir):
    """The distributed prefix sum's bin assignment is a pure function of
    the LOGICAL doc_id order — re-running with different physical
    partition counts must produce identical bins (the property that lets
    the same job run on 4 or 4000 executors)."""
    from pyspark.sql import functions as F

    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.pipeline.curation import _pack_bins

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    a = {tuple(r) for r in _pack_bins(spark, d, par=3).collect()}
    b = {tuple(r) for r in _pack_bins(spark, d, par=7).collect()}
    assert a == b


def test_systematic_sample_size_and_determinism(spark, sf_dir):
    from datafusion_test_spark.pipeline import quality

    a = sorted(r["doc_id"] for r in quality.sample_systematic(spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in quality.sample_systematic(spark, sf_dir).collect())
    assert a == b, "zero-randomness sampling must be identical across runs"
    # near the target size: one selection per step interval (+ the cum=0 row)
    assert 45 <= len(a) <= 55


def test_triangle_census_bounds(spark, sf_dir):
    from datafusion_test_spark.pipeline import dedup

    r = dedup.graph_triangles(spark, sf_dir).collect()[0]
    assert r["n_nodes"] >= 0 and r["n_edges"] >= 0
    assert 3 * r["n_triangles"] <= max(r["n_wedges"] or 0, 0) or r["n_triangles"] == 0
    if r["closure"] is not None:
        assert 0.0 <= r["closure"] <= 1.0


def test_seq_string_mine_consistent_with_events(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import analytics

    rows = analytics.seq_string_mine(spark, sf_dir).collect()
    per_user = {
        r["user_id"]: r["count"]
        for r in t(spark, sf_dir, "events").groupBy("user_id").count().collect()
    }
    for r in rows:
        assert r["seq_len"] == per_user[r["user_id"]]
        # adjacency motifs are bounded by floor(len/2) occurrences
        for m in ("n_view_click", "n_click_purchase", "n_error_pair"):
            assert 0 <= r[m] <= r["seq_len"] // 2


def test_streaks_partition_runs(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.operators import windows

    rows = windows.win_streaks(spark, sf_dir).collect()
    per_user = {
        r["user_id"]: r["count"]
        for r in t(spark, sf_dir, "events").groupBy("user_id").count().collect()
    }
    for r in rows:
        assert 1 <= r["longest_streak"] <= per_user[r["user_id"]]
        assert 1 <= r["n_runs"] <= per_user[r["user_id"]]
        # runs cover all events; longest run fits in the event budget
        assert r["n_runs"] - 1 + r["longest_streak"] <= per_user[r["user_id"]]


def test_entropy_bounds(spark, sf_dir):
    import math

    from datafusion_test_spark.operators import aggregates

    rows = aggregates.agg_entropy(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r["lang_entropy"] <= round(math.log(r["n_langs"]), 4) + 1e-9


def test_star_contraction_chain_log_rounds(spark):
    """Worst-case connectivity for label propagation is a long path: plain
    min-label propagation needs O(diameter) rounds, the large-star/small-star
    contraction needs O(log n).  A 64-node path (diameter 63) must resolve to
    ONE component rooted at node 0 within ceil(log2(64)) + 3 = 9 rounds."""
    import math

    from datafusion_test_spark.pipeline import dedup

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stars = dedup._star_contract(chain, par=2).collect()
    assert dedup._LAST_CC_ROUNDS <= math.ceil(math.log2(n)) + 3
    # one star: every non-root node points straight at the component min
    assert {(r["u"], r["v"]) for r in stars} == {(i, 0) for i in range(1, n)}


def test_star_contraction_multi_component(spark):
    from datafusion_test_spark.pipeline import dedup

    # two components: a triangle {1,2,3} (+ chord) and a pair {10, 11}
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (3, 1), (10, 11)], "src long, dst long"
    )
    stars = dedup._star_contract(edges, par=2).collect()
    assert {(r["u"], r["v"]) for r in stars} == {(2, 1), (3, 1), (11, 10)}


def test_dedup_clusters_rounds_logbound(spark, sf_dir):
    import math

    from datafusion_test_spark.pipeline import dedup

    rows = dedup.dedup_clusters(spark, sf_dir).collect()
    assert rows, "expected at least one multi-member duplicate cluster"
    n_nodes = sum(r["n_members"] for r in rows)
    assert dedup._LAST_CC_ROUNDS <= math.ceil(math.log2(max(2, n_nodes))) + 3


def test_embed_cosine_hot_label_cap(spark, sf_dir, monkeypatch):
    """dedup_embed_cosine rides the same hot-bucket guard as the other
    blocked dedup paths: with the cap forced to 1 every label (all have
    >= 2 members) is dropped and the pair set is empty; with the default
    cap the testdata labels are all under the cap and pairs appear."""
    from datafusion_test_spark.pipeline import dedup

    e = table(spark, sf_dir, "embeddings")
    # testdata labels are all under the default cap -> guard passes all rows
    assert dedup._drop_hot(e, ["label"]).count() == e.count()
    monkeypatch.setattr(dedup, "_DF_CAP", 1)
    assert dedup._drop_hot(e, ["label"]).count() == 0
    assert dedup.dedup_embed_cosine(spark, sf_dir).count() == 0


def test_dedup_chunk_finds_exact_duplicates(spark, sf_dir):
    """Exact-duplicate texts (>= 2 chunks long) share ALL their chunks, so
    every exact-dup pair must appear in the chunk-dedup relation with
    n_shared >= 2."""
    from datafusion_test_spark.pipeline.dedup import _CHUNK_LEN, dedup_chunk

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in dedup_chunk(spark, sf_dir).collect()}
    assert pairs, "expected chunk-sharing pairs in the corpus"
    dup_groups = (
        docs.filter(F.length("text") >= 2 * _CHUNK_LEN)
        .groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
    )
    for g in dup_groups:
        ids = sorted(g["ids"])
        for i in ids[1:]:
            assert (ids[0], i) in pairs, (ids[0], i)
    assert all(a < b for (a, b) in pairs)


def test_join_asof_tolerance_staleness(spark, sf_dir):
    """Tolerance variant == unbounded as-of with stale matches nulled."""
    from datafusion_test_spark.operators.joins import join_asof, join_asof_tolerance

    base = {r["event_id"]: (r["asof_ts"], r["asof_value"]) for r in join_asof(spark, sf_dir).collect()}
    tol = join_asof_tolerance(spark, sf_dir).collect()
    assert len(tol) == len(base)
    for r in tol:
        b_ts, b_val = base[r["event_id"]]
        if r["asof_ts"] is not None:
            assert (r["asof_ts"], r["asof_value"]) == (b_ts, b_val)
            assert (r["ts"] - r["asof_ts"]).total_seconds() <= 3600
        else:
            assert b_ts is None or (r["ts"] - b_ts).total_seconds() > 3600


def test_feature_bucketize_equal_frequency(spark, sf_dir):
    from datafusion_test_spark.operators.analytics import feature_bucketize

    rows = feature_bucketize(spark, sf_dir).collect()
    n_orders = table(spark, sf_dir, "orders").count()
    assert [r["bucket"] for r in rows] == list(range(10))
    assert sum(r["n"] for r in rows) == n_orders
    # equal frequency: bucket sizes differ by at most 1
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # value ranges are ordered and non-overlapping
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]


def test_embed_pq_invariants(spark, sf_dir):
    from datafusion_test_spark.pipeline.similarity import embed_pq

    r = embed_pq(spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    assert row["planted_adc_equals_self"] is True
    assert row["codebook_bounded"] is True
    assert row["compression_x"] == 64


def test_lm_quality_filter_counts(spark, sf_dir):
    from datafusion_test_spark.pipeline.quality import lm_quality_filter

    rows = lm_quality_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 2 == 1          # only held-out docs scored
        assert 0 <= r["n_unseen"] <= r["n_bigrams"]
        expect = 1000 * r["n_unseen"] >= 300 * r["n_bigrams"]
        assert r["low_quality"] == expect


def test_star_contraction_random_graphs_vs_union_find(spark):
    """Differential test: 30 seeded random graphs (Erdős–Rényi-ish, varying
    density) packed into ONE edge relation via disjoint id ranges; the star
    contraction's components must equal a Python union-find reference on
    every graph.  One Spark run covers all 30 graphs."""
    import random

    from datafusion_test_spark.pipeline import dedup

    rng = random.Random(20260814)
    edges, expected = [], {}
    for g in range(30):
        base = g * 1000
        n = rng.randint(2, 40)
        m = rng.randint(1, 2 * n)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for _ in range(m):
            a, b = rng.randrange(n), rng.randrange(n)
            if a == b:
                continue
            edges.append((base + a, base + b))
            parent[find(a)] = find(b)
        comps = {}
        for v in range(n):
            comps.setdefault(find(v), []).append(base + v)
        for members in comps.values():
            if len(members) > 1:
                root = min(members)
                for v in members:
                    if v != root:
                        expected[v] = root
    df = spark.createDataFrame(edges, "src long, dst long")
    stars = {r["u"]: r["v"] for r in dedup._star_contract(df, par=4).collect()}
    assert stars == expected


def test_join_dim_snapshot_state_matches_interval(spark, sf_dir):
    """Every purchase's point-in-time state must be the scd2 interval
    containing its ts (containment recomputed driver-side)."""
    from datafusion_test_spark.operators.maintenance import (
        join_dim_snapshot,
        scd2_build,
    )

    dim = {}
    for r in scd2_build(spark, sf_dir).collect():
        dim.setdefault(r["user_id"], []).append(r)
    out = join_dim_snapshot(spark, sf_dir).collect()
    assert out
    for f in out:
        match = [
            d
            for d in dim.get(f["user_id"], [])
            if d["effective_from"] <= f["ts"]
            and (d["effective_to"] is None or f["ts"] < d["effective_to"])
        ]
        assert len(match) == 1, (f["event_id"], match)
        assert (f["state_at"], f["version_at"]) == (
            match[0]["state"],
            match[0]["version"],
        )


def test_dedup_chunk_short_doc_guard(spark, sf_dir, monkeypatch):
    """Docs shorter than one chunk must produce NO chunks (Spark's
    sequence(1, 0) is descending — the length filter is load-bearing).
    Forcing the chunk length above every document length must yield an
    empty pair set, not an explode over a descending sequence."""
    from datafusion_test_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "_CHUNK_LEN", 10**6)
    assert dedup.dedup_chunk(spark, sf_dir).count() == 0


def test_drift_ks_matches_bruteforce(spark, sf_dir):
    """The two-phase prefix-sum KS must equal a driver-side brute force
    (sorted merge of collected samples) — guards the partition-offset
    arithmetic against off-by-one regressions."""
    from datafusion_test_spark.pipeline.quality import drift_ks

    e = table(spark, sf_dir, "events").select("event_type", "value").collect()
    # mirror the operator's explicit NULL exclusion
    a = sorted(
        r["value"] for r in e if r["event_type"] == "view" and r["value"] is not None
    )
    b = sorted(
        r["value"] for r in e if r["event_type"] == "click" and r["value"] is not None
    )
    import bisect

    d_num = max(
        abs(bisect.bisect_right(a, v) * len(b) - bisect.bisect_right(b, v) * len(a))
        for v in set(a) | set(b)
    )
    row = drift_ks(spark, sf_dir).collect()[0]
    assert (row["n_a"], row["n_b"], row["d_num"]) == (len(a), len(b), d_num)
    assert 0.0 <= row["ks_stat"] <= 1.0


def test_text_repetition_trigram_bounded_by_bigram(spark, sf_dir):
    """Every trigram occurrence contains its prefix bigram, so the top
    trigram count can never exceed the top bigram count; one row per doc."""
    from datafusion_test_spark.pipeline.quality import text_repetition

    rows = text_repetition(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["top3_cnt"] <= r["top2_cnt"] <= r["n_words"]
        assert r["pass_repetition"] == (r["ok_2gram"] and r["ok_3gram"])


def test_bm25_ranks_contiguous_and_sorted(spark, sf_dir):
    from datafusion_test_spark.pipeline.text import text_bm25_topk

    rows = text_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == list(
        range(1, len(rows) + 1)
    )
    by_rank = sorted(rows, key=lambda r: r["rk"])
    for hi, lo in zip(by_rank, by_rank[1:]):
        assert hi["score"] >= lo["score"]
        assert 1 <= hi["n_terms_hit"] <= 3


def test_er_fuzzy_blocked_finds_variant_pairs(spark, sf_dir):
    """The noun-block key must catch the corpus's real variant families
    (cold/old at lev 1); all pairs respect the lev cap and the canonical
    a<b ordering."""
    from datafusion_test_spark.pipeline.dedup import er_fuzzy_blocked

    rows = er_fuzzy_blocked(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert 1 <= r["lev"] <= 2
        assert r["name_a"].rsplit(" ", 1)[-1] == r["name_b"].rsplit(" ", 1)[-1]
    assert any(
        r["name_a"].startswith("cold ") and r["name_b"].startswith("old ")
        for r in rows
    )


def test_privacy_l_diversity_semantics(spark, sf_dir):
    """Release rule must equal the stated predicate computed driver-side;
    totals reconcile with the corpus."""
    import collections

    from datafusion_test_spark.pipeline.quality import (
        _LDIV_L,
        privacy_l_diversity,
    )

    per = collections.defaultdict(collections.Counter)
    for r in (
        table(spark, sf_dir, "documents").select("lang", "source").collect()
    ):
        per[r["lang"]][r["source"]] += 1
    rows = privacy_l_diversity(spark, sf_dir).collect()
    assert {r["lang"] for r in rows} == set(per)
    for r in rows:
        c = per[r["lang"]]
        assert r["n_docs"] == sum(c.values())
        assert r["n_sources"] == len(c)
        assert r["top_source_n"] == max(c.values())
        assert r["released"] == (
            len(c) >= _LDIV_L and 2 * max(c.values()) <= sum(c.values())
        )


def test_dedup_containment_superset_of_jaccard_pairs(spark, sf_dir):
    """Containment >= 0.9 must include every Jaccard >= 0.6 full-copy
    pair (a full copy has containment 1.0), flags must be consistent,
    and the gate must be the stated integer cross-multiplication."""
    from datafusion_test_spark.pipeline.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.9  # full-copy region: containment must hit
    }
    rows = dedup_containment(spark, sf_dir).collect()
    cont = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert jac <= set(cont)
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.9 - 1e-4 <= r["containment"] <= 1.0 + 1e-4
        assert r["n_common"] >= 1


def test_graph_common_neighbors_matches_bruteforce(spark, sf_dir):
    """Top-100 co-purchase pairs must equal a driver-side counter over
    per-order baskets with the same tie-break."""
    import collections
    import itertools

    from datafusion_test_spark.operators.analytics import (
        _CN_TOPK,
        graph_common_neighbors,
    )

    baskets = collections.defaultdict(set)
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    ):
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    common = collections.Counter()
    deg = collections.Counter()
    for parts in baskets.values():
        for p in parts:
            deg[p] += 1
        for x, y in itertools.combinations(sorted(parts), 2):
            common[(x, y)] += 1
    qual = [(c, a, b) for (a, b), c in common.items() if c >= 2]
    qual.sort(key=lambda t: (-t[0], t[1], t[2]))
    expected = [(a, b, c) for c, a, b in qual[:_CN_TOPK]]
    rows = graph_common_neighbors(spark, sf_dir).collect()
    assert [(r["part_a"], r["part_b"], r["common"]) for r in rows] == expected
    for r in rows:
        assert r["deg_a"] == deg[r["part_a"]]
        assert r["deg_b"] == deg[r["part_b"]]
        assert 0.0 < r["jaccard"] <= 1.0


def test_basket_pairs_null_part_semantics(spark):
    """collect_set drops a NULL part key: its order keeps a basket (empty
    when every part is NULL), and the NULL part yields no pair and no degree
    entry.  A NULL order keeps one basket of its own and pairs nothing."""
    from datafusion_test_spark.operators.analytics import _basket_pairs

    li = spark.createDataFrame(
        [(1, 10), (1, None), (1, 20), (2, None), (None, 30), (None, 40)],
        "l_orderkey bigint, l_partkey bigint",
    )
    baskets, pairs = _basket_pairs(li)
    assert {r["o"]: r["ps"] for r in baskets.collect()} == {
        1: [10, 20], 2: [], None: [30, 40],
    }
    assert [(r["a"], r["b"]) for r in pairs.collect()] == [(10, 20)]
    deg = baskets.select(F.explode("ps").alias("p")).groupBy("p").count()
    assert {r["p"] for r in deg.collect()} == {10, 20, 30, 40}


def test_dq_audit_clean_testdata(spark, sf_dir):
    """The synthetic warehouse must audit clean: no orphans, no range
    violations; null-rate equals a direct count."""
    from datafusion_test_spark.operators.maintenance import dq_audit

    r = dq_audit(spark, sf_dir).collect()[0]
    assert r["ref_integrity_ok"] is True and r["ranges_ok"] is True
    assert r["n_orphan_lineitem"] == 0 and r["n_orphan_orders"] == 0
    n_null = (
        table(spark, sf_dir, "events").filter("value IS NULL").count()
    )
    assert r["n_null_value"] == n_null


def test_corpus_datacard_consistency(spark, sf_dir):
    """Card rows must cover every source once; rates bounded; dup count
    equals docs minus distinct texts per source."""
    from datafusion_test_spark.pipeline.text import corpus_datacard

    docs = table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    rows = corpus_datacard(spark, sf_dir).collect()
    assert len(rows) == n_sources
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 1 <= r["n_langs"]
        assert 0 <= r["n_dup_docs"] < r["n_docs"]
        assert 0.0 <= r["dup_rate"] <= 1.0
        assert 0.0 <= r["minlen_pass_rate"] <= 1.0
        assert r["avg_chars"] > 0


def test_text_langid_confusion_consistent_with_langid(spark, sf_dir):
    """Matrix cells must sum to the corpus and agree with per-doc langid
    predictions aggregated driver-side."""
    import collections

    from datafusion_test_spark.pipeline.text import (
        text_langid,
        text_langid_confusion,
    )

    per_doc = collections.Counter(
        (r["lang"], r["pred_lang"])
        for r in text_langid(spark, sf_dir).collect()
    )
    rows = text_langid_confusion(spark, sf_dir).collect()
    got = {(r["lang"], r["pred_lang"]): r["n"] for r in rows}
    assert got == dict(per_doc)
    for r in rows:
        assert r["is_correct"] == (r["lang"] == r["pred_lang"])


def test_feature_hashing_conserves_tokens(spark, sf_dir):
    """Bucket counts must partition each doc's token count exactly, with
    buckets drawn from the 16 hex digits."""
    import collections

    from datafusion_test_spark.pipeline.curation import feature_hashing

    rows = feature_hashing(spark, sf_dir).collect()
    per_doc = collections.Counter()
    for r in rows:
        assert r["bucket"] in set("0123456789abcdef")
        assert r["n_terms"] >= 1
        per_doc[r["doc_id"]] += r["n_terms"]
    n_words = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "size(split(text, ' ')) AS n")
        .collect()
    }
    assert per_doc == collections.Counter(n_words)


def test_ts_autocorr_matches_bruteforce(spark, sf_dir):
    """r_k must equal a driver-side replica with the same decimal-
    truncated products (lag-1 of a smooth series should also correlate
    strongly, sanity-bounding the statistic)."""
    import collections
    from decimal import Decimal

    from datafusion_test_spark.operators.analytics import _ACF_LAGS, ts_autocorr

    series = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    ):
        series[r["event_type"]].append((r["ts"], r["event_id"], r["value"]))

    def dec6(x: float) -> Decimal:
        # mirror the DECIMAL(18,6) cast (round-half-up on the double)
        return Decimal(x).quantize(
            Decimal("0.000001"), rounding="ROUND_HALF_UP"
        )

    got = {r["event_type"]: r for r in ts_autocorr(spark, sf_dir).collect()}
    for et, xs in series.items():
        xs.sort(key=lambda t: (t[0], t[1]))
        v = [x[2] for x in xs]
        den = sum((dec6(a * a) for a in v), Decimal(0))
        assert got[et]["n"] == len(v)
        for k in range(1, _ACF_LAGS + 1):
            num = sum(
                (dec6(v[i] * v[i - k]) for i in range(k, len(v))), Decimal(0)
            )
            expect = float(num) / float(den)
            assert abs(got[et][f"r{k}"] - expect) <= 1e-4 + 1e-9, (et, k)
            assert -1.0001 <= got[et][f"r{k}"] <= 1.0001


def test_fn_try_safety_semantics(spark, sf_dir):
    """Each error class maps to NULL; each happy path is untouched."""
    from datafusion_test_spark.functions.scalar import fn_try_safety

    rows = fn_try_safety(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["div0_null"] is None
        assert r["bad_cast_null"] is None
        assert r["overflow_null"] is None
        assert r["oob_null"] is None
        assert r["good_cast"] == r["o_orderkey"]
        assert r["plus_one"] == r["o_orderkey"] + 1
        assert r["half"] is not None


def test_udf_pandas_iter_equals_scalar_variant(spark, sf_dir):
    """The SCALAR_ITER protocol must be bit-identical to the plain scalar
    pandas UDF — same function, same Arrow transfer."""
    from datafusion_test_spark.operators.udf import udf_pandas, udf_pandas_iter

    a = {
        (r["l_orderkey"], r["l_linenumber"]): r["disc_price"]
        for r in udf_pandas(spark, sf_dir).collect()
    }
    b = {
        (r["l_orderkey"], r["l_linenumber"]): r["disc_price"]
        for r in udf_pandas_iter(spark, sf_dir).collect()
    }
    assert a == b


def test_win_median_sliding_matches_bruteforce(spark, sf_dir):
    """Per-row sliding lower median must equal a driver-side replay of
    the same 5-row frame."""
    import collections

    from datafusion_test_spark.operators.windows import win_median_sliding

    hist = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .collect()
    ):
        hist[r["o_custkey"]].append(
            (r["o_orderdate"], r["o_orderkey"], r["o_totalprice"])
        )
    expected = {}
    for cust, rows in hist.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        for i, (_, okey, _) in enumerate(rows):
            frame = sorted(p for _, _, p in rows[max(0, i - 4) : i + 1])
            expected[okey] = (len(frame), frame[(len(frame) + 1) // 2 - 1])
    got = {
        r["o_orderkey"]: (r["n_win"], r["sliding_median"])
        for r in win_median_sliding(spark, sf_dir).collect()
    }
    assert got == expected


def test_win_rolling_slope_matches_bruteforce(spark, sf_dir):
    """Per-row OLS slope must equal a driver-side replay with identical
    integer arithmetic; single-order frames must be NULL."""
    import collections
    import math

    from datafusion_test_spark.operators.windows import win_rolling_slope

    hist = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .collect()
    ):
        hist[r["o_custkey"]].append(
            (
                r["o_orderdate"],
                r["o_orderkey"],
                math.floor(r["o_totalprice"] * 100 + 0.5),
            )
        )
    expected = {}
    for cust, rows in hist.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        for i, (_, okey, _) in enumerate(rows):
            ys = [v for _, _, v in rows[max(0, i - 4) : i + 1]]
            n = len(ys)
            sxy = sum((j + 1) * y for j, y in enumerate(ys))
            sy = sum(ys)
            sx = n * (n + 1) // 2
            sxx = n * (n + 1) * (2 * n + 1) // 6
            den = n * sxx - sx * sx
            slope = (
                math.floor((n * sxy - sx * sy) / (den * 100) * 10000 + 0.5)
                / 10000
                if den > 0
                else None
            )
            expected[okey] = (n, slope)
    got = {
        r["o_orderkey"]: (r["n_win"], r["slope"])
        for r in win_rolling_slope(spark, sf_dir).collect()
    }
    assert got == expected


def test_agg_weighted_median_matches_bruteforce(spark, sf_dir):
    """The distributed crossing pick must equal a driver-side weighted
    median with identical integer arithmetic, at two partition counts."""
    import collections

    from datafusion_test_spark.operators.aggregates import agg_weighted_median

    acc = collections.defaultdict(lambda: collections.defaultdict(int))
    n_rows = collections.Counter()
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    ):
        acc[r["l_returnflag"]][r["l_extendedprice"]] += int(r["l_quantity"])
        n_rows[r["l_returnflag"]] += 1
    expected = {}
    for flag, wmap in acc.items():
        tot = sum(wmap.values())
        cum = 0
        for v in sorted(wmap):
            cum += wmap[v]
            if 2 * cum >= tot:
                expected[flag] = (n_rows[flag], tot, v)
                break
    for par in (None, 7):
        got = {
            r["flag"]: (r["n_rows"], r["total_weight"], r["weighted_median"])
            for r in agg_weighted_median(spark, sf_dir, par=par).collect()
        }
        assert got == expected, par


def test_embed_matryoshka_recall_matches_bruteforce(spark, sf_dir):
    """recall@10 per query must equal a numpy brute force over the same
    md5-drawn queries with the same tie-breaks."""
    import hashlib

    import numpy as np

    from datafusion_test_spark.pipeline.similarity import (
        _MAT_DIM,
        _MAT_K,
        _MAT_Q,
        embed_matryoshka_recall,
    )

    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    qids = sorted(
        vecs, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:_MAT_Q]

    def fold_dot(a, b):
        # replicate the operator's LEFT-TO-RIGHT double fold exactly —
        # np.dot's pairwise summation can differ in the last ulp, which
        # near a rank boundary would flip the top-10 cut
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def topk(qid, dim):
        q = vecs[qid][:dim]
        qn = np.sqrt(fold_dot(q, q))
        scored = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            c = fold_dot(v[:dim], q) / (np.sqrt(fold_dot(v[:dim], v[:dim])) * qn)
            scored.append((-c, vid))
        scored.sort()
        return {vid for _, vid in scored[:_MAT_K]}

    expected = {
        qid: len(topk(qid, 64) & topk(qid, _MAT_DIM)) for qid in qids
    }
    got = {
        r["query_id"]: r["n_overlap"]
        for r in embed_matryoshka_recall(spark, sf_dir).collect()
    }
    assert got == expected
    # truncation must actually change the ranking somewhere (else the
    # metric measures nothing) while keeping most neighbors
    assert any(v < _MAT_K for v in got.values())


def test_embed_pq_residual_invariants(spark, sf_dir):
    """All four planted-twin/cell invariants must hold, and the count must
    be the base corpus (twin excluded)."""
    from datafusion_test_spark.pipeline.similarity import embed_pq_residual

    r = embed_pq_residual(spark, sf_dir).collect()[0]
    assert r["n_vectors"] == table(spark, sf_dir, "embeddings").count()
    for flag in (
        "twin_same_cell",
        "twin_codes_match",
        "self_is_top_in_cell",
        "twin_ties_self_adc",
    ):
        assert r[flag] is True, flag


def test_ts_changepoint_matches_bruteforce(spark, sf_dir):
    """The distributed CUSUM argmax must equal a driver-side replica with
    the identical int64 arithmetic and smallest-i tie-break, at two
    partition counts."""
    import collections
    import math

    from datafusion_test_spark.operators.analytics import ts_changepoint

    rows = (
        table(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series = collections.defaultdict(list)
    for r in rows:
        series[r["event_type"]].append(
            (r["ts"], r["event_id"], math.floor(r["value"] * 10000 + 0.5))
        )
    expected = {}
    for et, xs in series.items():
        xs.sort(key=lambda t: (t[0], t[1]))
        n = len(xs)
        s_n = sum(v for _, _, v in xs)
        best, s = None, 0
        for i, (_, _, v) in enumerate(xs, start=1):
            s += v
            diff = abs(n * s - i * s_n)
            if best is None or diff > best[0]:
                best = (diff, i)
        expected[et] = (n, best[1], best[0])
    for par in (None, 7):
        got = {
            r["event_type"]: (r["n"], r["cp_index"], r["max_dev"])
            for r in ts_changepoint(spark, sf_dir, par=par).collect()
        }
        assert got == expected, par


def test_agg_rolling_wau_matches_bruteforce(spark, sf_dir):
    """WAU per day must equal the driver-side trailing-7-day distinct
    union, DAU <= WAU always, and stickiness = DAU/WAU half-up."""
    import collections
    import datetime
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import agg_rolling_wau
    from pyspark.sql import functions as F

    by_day = collections.defaultdict(set)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .collect()
    ):
        by_day[r["day"]].add(r["user_id"])
    got = {r["day"]: r for r in agg_rolling_wau(spark, sf_dir).collect()}
    assert set(got) == set(by_day)
    for day, users in by_day.items():
        window = set()
        for k in range(7):
            window |= by_day.get(day - datetime.timedelta(days=k), set())
        g = got[day]
        assert g["dau"] == len(users)
        assert g["wau"] == len(window)
        assert g["dau"] <= g["wau"]
        assert g["stickiness"] == math.floor(
            len(users) / len(window) * 10000 + 0.5
        ) / 10000


def test_dedup_soft_weights_mass_conservation(spark, sf_dir):
    """Every document appears once; singletons weigh exactly 1.0; each
    multi-member cluster's summed weight is within rounding of 1.0, and
    clusters agree with dedup_resolve's membership."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.dedup import (
        dedup_resolve,
        dedup_soft_weights,
    )

    n_docs = table(spark, sf_dir, "documents").count()
    rows = dedup_soft_weights(spark, sf_dir).collect()
    assert len(rows) == n_docs
    clusters = collections.defaultdict(list)
    for r in rows:
        if r["cluster_id"] is None:
            assert r["cluster_size"] == 1 and r["weight_s"] == 10000
        else:
            clusters[r["cluster_id"]].append(r)
    res_members = collections.defaultdict(set)
    for r in dedup_resolve(spark, sf_dir).collect():
        res_members[r["cluster_id"]].add(r["doc_id"])
    assert {c: {r["doc_id"] for r in v} for c, v in clusters.items()} == dict(
        res_members
    )
    for cid, v in clusters.items():
        k = len(v)
        assert all(r["cluster_size"] == k for r in v)
        total = sum(r["weight_s"] for r in v)
        assert abs(total - 10000) <= k  # half-up rounding slack


def test_win_drawdown_matches_bruteforce(spark, sf_dir):
    """Per-series max drawdown replayed driver-side on the same
    cents-scaled running sums must match exactly."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.windows import win_drawdown
    from pyspark.sql import functions as F

    series = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
        .collect()
    ):
        series[r["event_type"]].append(
            (r["ts"], r["event_id"], math.floor(r["value"] * 10000 + 0.5))
        )
    exp = {}
    for et, rows in series.items():
        rows.sort()
        cum = 0
        peak = None
        best = None  # (sort_key, dd, eid, peak, cum)
        for ts, eid, v in rows:
            cum += v
            peak = cum if peak is None else max(peak, cum)
            dd = peak - cum
            key = (-dd, ts, eid)
            if best is None or key < best[0]:
                best = (key, dd, eid, peak, cum)
        exp[et] = (best[1], best[2], best[3], best[4])
    got = {
        r["event_type"]: (
            r["max_drawdown_s"],
            r["trough_event_id"],
            r["peak_s"],
            r["trough_cum_s"],
        )
        for r in win_drawdown(spark, sf_dir).collect()
    }
    assert got == exp


def test_win_control_chart_matches_bruteforce(spark, sf_dir):
    """Alarm verdicts replayed driver-side with the same cross-multiplied
    integers must match; warm-up rows (< 20 trailing) must be NULL, and
    carriers must stay inside int64."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.windows import (
        _SPC_N,
        win_control_chart,
    )
    from pyspark.sql import functions as F

    series = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
        .collect()
    ):
        series[r["event_type"]].append(
            (r["ts"], r["event_id"], math.floor(r["value"] * 10000 + 0.5))
        )
    exp = {}
    for et, rows in series.items():
        rows.sort()
        for i, (_, eid, v) in enumerate(rows):
            win = [x[2] for x in rows[max(0, i - _SPC_N) : i]]
            n = len(win)
            if n < _SPC_N:
                exp[eid] = (n, None)
                continue
            S, Q = sum(win), sum(x * x for x in win)
            lhs = (n * v - S) ** 2 * (n - 1)
            rhs = 9 * n * (n * Q - S * S)
            assert abs(lhs) < 2**63 and abs(rhs) < 2**63
            exp[eid] = (n, lhs > rhs)
    got = {
        r["event_id"]: (r["n_window"], r["out_of_control"])
        for r in win_control_chart(spark, sf_dir).collect()
    }
    assert got == exp
    assert any(v[1] for v in got.values() if v[1] is not None)


def test_join_asof_aggregate_strictly_preceding(spark, sf_dir):
    """Per-click features replayed driver-side: only views in
    [click−1h, click) count — never the click instant itself or later."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.joins import join_asof_aggregate
    from pyspark.sql import functions as F

    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("us"),
        )
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    got = {
        r["event_id"]: (r["n_views_1h"], r["view_value_1h"])
        for r in join_asof_aggregate(spark, sf_dir).collect()
    }
    n_clicks = sum(
        1 for rs in by_user.values() for r in rs if r["event_type"] == "click"
    )
    assert len(got) == n_clicks
    checked_nonzero = 0
    for uid, rs in by_user.items():
        views = [r for r in rs if r["event_type"] == "view"]
        for c in rs:
            if c["event_type"] != "click":
                continue
            inwin = [
                v
                for v in views
                if c["us"] - 3_600_000_000 <= v["us"] <= c["us"] - 1
            ]
            n, vv = got[c["event_id"]]
            assert n == len(inwin)
            exp = sum(
                round(v["value"] * 1e6) for v in inwin if v["value"] is not None
            )
            assert round(vv * 1e6) == exp
            checked_nonzero += n > 0
    assert checked_nonzero > 0


def test_text_keywords_rake_matches_bruteforce(spark, sf_dir):
    """Phrase segmentation, word degree/freq scoring and top-3 selection
    replayed driver-side must match exactly."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.text import (
        _RAKE_TOPK,
        _STOP_ALL,
        text_keywords_rake,
    )

    docs = {
        r["doc_id"]: r["text"].lower().split(" ")
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    exp = {}
    for did, ws in docs.items():
        phrases = []  # (grp, [words])
        cur, start = [], None
        rank_nonstop = 0
        for pos, w in enumerate(ws):
            if w in _STOP_ALL:
                if cur:
                    phrases.append((start, cur))
                    cur, start = [], None
                continue
            rank_nonstop += 1
            grp = pos - rank_nonstop  # pos - row_number (1-based)
            if not cur:
                start = grp
            cur.append(w)
        if cur:
            phrases.append((start, cur))
        freq, deg = collections.Counter(), collections.Counter()
        for g, p in phrases:
            for w in p:
                freq[w] += 1
                deg[w] += len(p)
        wscore = {
            w: (2 * 10000 * deg[w] + freq[w]) // (2 * freq[w]) for w in freq
        }
        scored = [
            (-sum(wscore[w] for w in p), " ".join(p), g, len(p))
            for g, p in phrases
        ]
        scored.sort()
        exp[did] = [
            (i + 1, ph, ln, -ns)
            for i, (ns, ph, g, ln) in enumerate(scored[:_RAKE_TOPK])
        ]
    got = collections.defaultdict(list)
    for r in text_keywords_rake(spark, sf_dir).collect():
        got[r["doc_id"]].append(
            (r["rk"], r["phrase"], r["plen"], r["score_s"])
        )
    for did in exp:
        assert sorted(got[did]) == exp[did], did


def test_ts_forecast_backtest_matches_bruteforce(spark, sf_dir):
    """Per-cell error sums replayed driver-side with the same integer
    cross-multiplication must match; cold cells emit NULL mae."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import ts_forecast_backtest
    from pyspark.sql import functions as F

    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.hour("ts").alias("hr"),
            "value",
        )
        .collect()
    )
    last_day = max(r["day"] for r in rows)
    tr_n, tr_s = collections.Counter(), collections.Counter()
    test = collections.defaultdict(list)
    for r in rows:
        vs = math.floor(r["value"] * 10000 + 0.5)
        key = (r["event_type"], r["hr"])
        if r["day"] < last_day:
            tr_n[key] += 1
            tr_s[key] += vs
        elif r["day"] == last_day:
            test[key].append(vs)
    got = {
        (r["event_type"], r["hr"]): r
        for r in ts_forecast_backtest(spark, sf_dir).collect()
    }
    assert set(got) == set(test)
    for key, vals in test.items():
        g = got[key]
        assert g["n_test"] == len(vals)
        assert g["n_train"] == tr_n.get(key, 0)
        if key not in tr_n:
            assert g["mae"] is None
            continue
        err = sum(abs(v * tr_n[key] - tr_s[key]) for v in vals)
        exp = math.floor(
            err / (tr_n[key] * 10000 * len(vals)) * 10000 + 0.5
        ) / 10000
        assert g["mae"] == exp


def test_scd2_correction_equals_rebuild(spark, sf_dir):
    """The incremental late-data splice must equal the full rebuild row
    set exactly, and the incremental path must actually split the work
    (some users untouched, some recomputed)."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.maintenance import (
        scd2_build,
        scd2_correction,
    )
    from pyspark.sql import functions as F

    full = {tuple(r) for r in scd2_build(spark, sf_dir).collect()}
    corr = {tuple(r) for r in scd2_correction(spark, sf_dir).collect()}
    assert corr == full
    e = table(spark, sf_dir, "events")
    n_affected = (
        e.filter(F.col("event_id") % 17 == 0).select("user_id").distinct().count()
    )
    n_users = e.select("user_id").distinct().count()
    assert 0 < n_affected  # the late batch exists …
    # … and on a corpus with more users than late-batch users, the
    # anti-join keep-side is non-empty too (true for all testdata scales)
    if n_users > n_affected:
        assert n_users - n_affected > 0


def test_export_jsonl_shards_manifest(spark, sf_dir):
    """Shards must partition the position space into contiguous 64-row
    runs covering 1..N exactly once, with char mass totaling the corpus."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.curation import (
        _EXPORT_ROWS_PER_SHARD,
        export_jsonl_shards,
    )
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    total_chars = docs.agg(F.sum("n_chars")).collect()[0][0]
    rows = sorted(export_jsonl_shards(spark, sf_dir).collect(), key=lambda r: r["shard"])
    k = _EXPORT_ROWS_PER_SHARD
    assert [r["shard"] for r in rows] == list(range((n + k - 1) // k))
    assert sum(r["n_rows"] for r in rows) == n
    assert sum(r["chars"] for r in rows) == total_chars
    for r in rows:
        assert r["first_pos"] == r["shard"] * k + 1
        assert r["last_pos"] == min((r["shard"] + 1) * k, n)
        assert r["n_rows"] == r["last_pos"] - r["first_pos"] + 1


def test_eval_filter_parity_consistent_with_gate(spark, sf_dir):
    """Per-language admit counts must equal a driver-side recount over
    the gate's output; the best group must pass the 80% rule by
    definition, and every flag must agree with the cross-multiplication."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.evals import eval_filter_parity
    from datafusion_test_spark.pipeline.prep import pipeline_quality_gate

    langs = {
        r["doc_id"]: r["lang"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    n = collections.Counter()
    adm = collections.Counter()
    for r in pipeline_quality_gate(spark, sf_dir).collect():
        n[langs[r["doc_id"]]] += 1
        adm[langs[r["doc_id"]]] += r["admitted"]
    rows = eval_filter_parity(spark, sf_dir).collect()
    assert {r["lang"] for r in rows} == set(n)
    best = sorted(n, key=lambda g: (-adm[g] / n[g], g))[0]
    for r in rows:
        g = r["lang"]
        assert r["n_docs"] == n[g] and r["n_admitted"] == adm[g]
        assert r["best_lang"] == best
        assert r["passes_four_fifths"] == (
            10 * adm[g] * n[best] >= 8 * adm[best] * n[g]
        )
        if g == best:
            assert r["passes_four_fifths"] and r["impact_ratio"] == 1.0


def test_table_checksum_detects_any_change(spark, sf_dir):
    """The fingerprint must match a driver-side md5 replica, be order-
    independent by construction, and move when any single row changes."""
    import hashlib

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.maintenance import table_checksum

    def row_hash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    nat = table(spark, sf_dir, "nation").collect()
    exp = sum(
        row_hash(f"{r['n_nationkey']}|{r['n_name']}|{r['n_regionkey']}")
        for r in nat
    )
    got = {r["table_name"]: r for r in table_checksum(spark, sf_dir).collect()}
    assert got["nation"]["checksum"] == exp
    assert got["nation"]["n_rows"] == len(nat)
    # a one-row perturbation moves the sum
    r0 = nat[0]
    perturbed = exp - row_hash(
        f"{r0['n_nationkey']}|{r0['n_name']}|{r0['n_regionkey']}"
    ) + row_hash(f"{r0['n_nationkey']}|XX|{r0['n_regionkey']}")
    assert perturbed != exp


def test_feature_standardize_group_moments(spark, sf_dir):
    """Standardized values must have ~0 mean and ~1 sample std within
    each group (rounding slack only), preserve rank order, and match a
    driver-side replica on a few rows."""
    import collections
    import math

    from datafusion_test_spark.operators.analytics import feature_standardize

    per = collections.defaultdict(list)
    for r in feature_standardize(spark, sf_dir).collect():
        if r["z"] is not None:
            per[r["event_type"]].append((r["value"], r["z"]))
    assert per
    for et, vz in per.items():
        n = len(vz)
        mean_z = sum(z for _, z in vz) / n
        var_z = sum(z * z for _, z in vz) / (n - 1)
        assert abs(mean_z) < 1e-3
        assert abs(math.sqrt(var_z) - 1.0) < 1e-2
        vz.sort()
        zs = [z for _, z in vz]
        assert zs == sorted(zs)  # monotone in the raw value


def test_mm_dataset_manifest_completeness_rules(spark, sf_dir):
    """Flags must follow the modality rules exactly, complete ==
    text AND vector, shard only for complete samples and in 0..7."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.multimodal import mm_dataset_manifest

    doc_ids = {
        r["doc_id"]
        for r in table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    vec_ids = {
        r["vec_id"]
        for r in table(spark, sf_dir, "embeddings").select("vec_id").collect()
    }
    rows = mm_dataset_manifest(spark, sf_dir).collect()
    assert {r["sample_id"] for r in rows} == doc_ids | vec_ids
    for r in rows:
        sid = r["sample_id"]
        assert r["has_text"] == (sid in doc_ids and sid % 9 != 0)
        assert r["has_embedding"] == (sid in vec_ids and sid % 11 != 0)
        assert r["has_blob"] == (sid % 13 == 0)
        assert r["complete"] == (r["has_text"] and r["has_embedding"])
        if r["complete"]:
            assert 0 <= r["shard"] <= 7
        else:
            assert r["shard"] is None


def test_pipeline_quality_gate_composes_components(spark, sf_dir):
    """The gate's per-rule bits must equal the component operators'
    verdicts, reasons must list exactly the failed rules sorted, and
    admitted must be the AND of all four."""
    from datafusion_test_spark.pipeline.prep import pipeline_quality_gate
    from datafusion_test_spark.pipeline.quality import text_quality_gopher
    from datafusion_test_spark.pipeline.text import (
        text_blocklist_filter,
        text_langid,
    )

    gop = {
        r["doc_id"]: r["pass_quality"]
        for r in text_quality_gopher(spark, sf_dir).collect()
    }
    blk = {
        r["doc_id"]: r["flagged"]
        for r in text_blocklist_filter(spark, sf_dir).collect()
    }
    lid = {
        r["doc_id"]: r["pred_lang"]
        for r in text_langid(spark, sf_dir).collect()
    }
    rows = pipeline_quality_gate(spark, sf_dir).collect()
    assert len(rows) == len(gop)
    n_admitted = 0
    for r in rows:
        d = r["doc_id"]
        assert r["ok_gopher"] == gop[d]
        assert r["ok_blocklist"] == (not blk[d])
        assert r["ok_langid"] == (lid[d] != "und")
        exp_fail = sorted(
            name
            for name, ok in [
                ("gopher", r["ok_gopher"]),
                ("langid", r["ok_langid"]),
                ("blocklist", r["ok_blocklist"]),
                ("duplicate", r["ok_unique"]),
            ]
            if not ok
        )
        assert r["reasons"] == ",".join(exp_fail)
        assert r["admitted"] == (not exp_fail)
        n_admitted += r["admitted"]
    assert 0 < n_admitted < len(rows)


def test_join_interval_relations_definitions(spark, sf_dir):
    """Each emitted relation must satisfy Allen's definition on the
    replayed microsecond intervals, and each user must contribute
    exactly C(n_types, 2) ordered pairs."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        join_interval_relations,
    )
    from pyspark.sql import functions as F

    iv = {}
    for r in (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
        .collect()
    ):
        iv[(r["user_id"], r["event_type"])] = (r["s"], r["e"])
    n_types = collections.Counter(u for u, _ in iv)
    rows = join_interval_relations(spark, sf_dir).collect()
    per_user = collections.Counter(r["user_id"] for r in rows)
    for u, n in n_types.items():
        assert per_user[u] == n * (n - 1) // 2
    defs = {
        "equal": lambda sa, ea, sb, eb: sa == sb and ea == eb,
        "before": lambda sa, ea, sb, eb: ea < sb,
        "meets": lambda sa, ea, sb, eb: ea == sb,
        "starts": lambda sa, ea, sb, eb: sa == sb and ea < eb,
        "finishes": lambda sa, ea, sb, eb: sa < sb and ea == eb,
        "contains": lambda sa, ea, sb, eb: sa < sb and ea > eb,
        "overlaps": lambda sa, ea, sb, eb: sa < sb < ea < eb,
    }
    for r in rows:
        sa, ea = iv[(r["user_id"], r["type_a"])]
        sb, eb = iv[(r["user_id"], r["type_b"])]
        assert r["relation"] in defs
        assert defs[r["relation"]](sa, ea, sb, eb), (r, sa, ea, sb, eb)


def test_er_survivorship_consistent_with_resolve(spark, sf_dir):
    """Golden records must cover exactly dedup_resolve's clusters, with
    max_chars equal to the keeper's length (completeness rule) and the
    modal lang actually being a member's lang with maximal vote count."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.dedup import (
        dedup_resolve,
        er_survivorship,
    )

    res = dedup_resolve(spark, sf_dir).collect()
    members = collections.defaultdict(list)
    keeper_chars = {}
    for r in res:
        members[r["cluster_id"]].append(r["doc_id"])
        if r["keep"]:
            keeper_chars[r["cluster_id"]] = r["n_chars"]
    langs = {
        r["doc_id"]: r["lang"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    gold = {r["cluster_id"]: r for r in er_survivorship(spark, sf_dir).collect()}
    assert set(gold) == set(members)
    for cid, g in gold.items():
        ms = members[cid]
        assert g["n_members"] == len(ms)
        assert g["first_seen"] == min(ms)
        assert g["max_chars"] == keeper_chars[cid]
        votes = collections.Counter(langs[d] for d in ms)
        best = max(votes.values())
        assert votes[g["modal_lang"]] == best
        assert g["modal_lang"] == min(
            l for l, v in votes.items() if v == best
        )


def test_privacy_pseudonymize_joinable_and_injective(spark, sf_dir):
    """The salted mapping must be injective on this corpus (audit bit
    true, one row per user), deterministic (re-run gives identical
    pseudonyms), and the released summary must match per-user activity."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.quality import privacy_pseudonymize
    from pyspark.sql import functions as F

    users = collections.Counter()
    for r in table(spark, sf_dir, "events").select("user_id").collect():
        users[r["user_id"]] += 1
    r1 = privacy_pseudonymize(spark, sf_dir).collect()
    r2 = privacy_pseudonymize(spark, sf_dir).collect()
    assert {x["pseudonym"] for x in r1} == {x["pseudonym"] for x in r2}
    assert len(r1) == len(users)
    assert all(x["no_collisions"] for x in r1)
    assert sorted(x["n_events"] for x in r1) == sorted(users.values())
    # no raw id appears in any released column
    for x in r1:
        assert set(x.asDict()) == {
            "pseudonym",
            "n_events",
            "n_types",
            "total_value",
            "no_collisions",
        }


def test_sim_index_persist_probe_claims(spark, sf_dir):
    """The persisted-index probe must retrieve the query itself at cos
    1.0 through a partition-pruned scan of a strict index subset."""
    from datafusion_test_spark.pipeline.similarity import sim_index_persist

    r = sim_index_persist(spark, sf_dir).collect()[0]
    assert r["self_is_top"] and r["top_cos"] == 1.0
    assert r["partition_pruned"] and r["probed_subset"]


def test_win_ratio_to_report_sums_to_one(spark, sf_dir):
    """Per customer: shares are in (0, 1], sum to ~1 (rounding slack),
    cum_share is non-decreasing and ends at 1.0."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.windows import win_ratio_to_report
    from pyspark.sql import functions as F

    order_keys = {
        r["o_orderkey"]: (r["o_orderdate"], r["o_orderkey"])
        for r in table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .collect()
    }
    per_cust = collections.defaultdict(list)
    for r in win_ratio_to_report(spark, sf_dir).collect():
        per_cust[r["o_custkey"]].append(r)
    for rows in per_cust.values():
        rows.sort(key=lambda r: order_keys[r["o_orderkey"]])
        tot = sum(r["share"] for r in rows)
        assert abs(tot - 1.0) <= 0.0001 * len(rows)
        prev = 0.0
        for r in rows:
            assert 0.0 < r["share"] <= 1.0
            assert r["cum_share"] >= prev - 1e-12
            prev = r["cum_share"]
        assert rows[-1]["cum_share"] == 1.0


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    """Raising the threshold can only shrink the flagged set; theta=0.30
    must flag at least the pairs theta=0.60 (the production gate) does,
    and counts must be consistent (docs <= pairs, both >= 0)."""
    from datafusion_test_spark.pipeline.dedup import (
        _SWEEP_PCTS,
        dedup_threshold_sweep,
        dedup_ngram_jaccard,
    )

    rows = {
        r["theta_pct"]: (r["n_pairs"], r["n_docs_removable"])
        for r in dedup_threshold_sweep(spark, sf_dir).collect()
    }
    assert set(rows) == set(_SWEEP_PCTS)
    prev_pairs = prev_docs = None
    for t in sorted(rows):
        np_, nd = rows[t]
        assert 0 <= nd <= np_
        if prev_pairs is not None:
            assert np_ <= prev_pairs and nd <= prev_docs
        prev_pairs, prev_docs = np_, nd
    # the 0.5 sweep point must dominate the production 0.6 gate's count
    n_gate = dedup_ngram_jaccard(spark, sf_dir).count()
    assert rows[50][0] >= n_gate >= rows[70][0]


def test_ts_debounce_matches_bruteforce(spark, sf_dir):
    """Burst segmentation replayed driver-side: ids dense per user,
    anchors are the burst's first event, gaps within a burst <= 5 min,
    gaps between consecutive bursts > 5 min."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        _DEBOUNCE_US,
        ts_debounce,
    )

    ev = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    ):
        us = int(r["ts"].timestamp() * 1_000_000)
        ev[r["user_id"]].append((r["ts"], r["event_id"], us))
    exp = {}
    for uid, rows in ev.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        bid = 0
        prev_us = None
        bursts = collections.defaultdict(list)
        for ts, eid, us in rows:
            if prev_us is None or us - prev_us > _DEBOUNCE_US:
                bid += 1
            bursts[bid].append((ts, eid))
            prev_us = us
        for b, items in bursts.items():
            exp[(uid, b)] = (items[0][0], items[0][1], len(items))
    got = {
        (r["user_id"], r["burst_id"]): (
            r["anchor_ts"],
            r["anchor_event_id"],
            r["n_events"],
        )
        for r in ts_debounce(spark, sf_dir).collect()
    }
    assert got == exp


def test_sim_rerank_two_stage_matches_bruteforce(spark, sf_dir):
    """Stage-1 candidate cut and stage-2 rerank replayed driver-side with
    the same quantization must give the identical final top-10; the query
    must retrieve itself at rank 1 with cos 1.0."""
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.similarity import (
        _RERANK_C,
        _RERANK_K,
        sim_rerank_two_stage,
    )

    vecs = {
        r["vec_id"]: (r["embedding"], r["label"])
        for r in table(spark, sf_dir, "embeddings").collect()
    }

    def quant(v):
        am = max(abs(float(x)) for x in v)
        if am == 0:
            return None
        s = 127.0 / am  # same op order as the Spark scale expression
        # Spark/DuckDB ROUND(x, 0) is half-away-from-zero; Python round()
        # is half-even, so emulate explicitly
        return [math.floor(float(x) * s + 0.5) if x >= 0
                else -math.floor(-float(x) * s + 0.5) for x in v]

    qid = min(vecs)
    qv, _ = vecs[qid]
    qq = quant(qv)
    s1 = []
    for vid, (v, lab) in vecs.items():
        qz = quant(v)
        if qz is None:
            continue
        s1.append((-sum(a * b for a, b in zip(qz, qq)), vid))
    s1.sort()
    cand = [vid for _, vid in s1[:_RERANK_C]]

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        den = math.sqrt(sum(float(x) ** 2 for x in a)) * math.sqrt(
            sum(float(y) ** 2 for y in b)
        )
        return num / den

    reranked = sorted(
        cand, key=lambda vid: (-round(cos(vecs[vid][0], qv), 4), vid)
    )[:_RERANK_K]
    got = sim_rerank_two_stage(spark, sf_dir).collect()
    assert [r["vec_id"] for r in got] == reranked
    assert got[0]["vec_id"] == qid and got[0]["cos_sim"] == 1.0


def test_pipeline_span_corruption_roundtrip(spark, sf_dir):
    """Denoising-pair contract: interleaving the corrupted input's
    unmasked tokens with each sentinel's target span must reconstruct
    the original document exactly."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.prep import pipeline_span_corruption

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = pipeline_span_corruption(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        # parse target into span_id -> tokens
        spans = {}
        cur = None
        for t in r["target"].split(" ") if r["target"] else []:
            if t.startswith("<X") and t.endswith(">"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in r["corrupted"].split(" "):
            if t.startswith("<X") and t.endswith(">"):
                rebuilt.extend(spans[t])
            else:
                rebuilt.append(t)
        assert " ".join(rebuilt) == docs[r["doc_id"]]
        assert r["n_masked"] == sum(len(v) for v in spans.values())
        assert r["n_tokens"] == len(docs[r["doc_id"]].split(" "))


def test_graph_kcore_matches_bruteforce(spark, sf_dir):
    """Three pruning rounds replayed driver-side over the same basket
    expansion must give identical surviving nodes and degrees."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        _KCORE_K,
        _KCORE_ROUNDS,
        graph_kcore,
    )

    li = {
        (r["l_orderkey"], r["l_partkey"])
        for r in table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    }
    by_order = collections.defaultdict(set)
    for o, p in li:
        by_order[o].add(p)
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                edges.add((u, v))
    for _ in range(_KCORE_ROUNDS):
        deg = collections.Counter()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= _KCORE_K}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
    deg = collections.Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    got = {r["part"]: (r["deg"], r["stable"]) for r in graph_kcore(spark, sf_dir).collect()}
    assert got == {n: (d, d >= _KCORE_K) for n, d in deg.items()}


def test_eval_ab_ztest_matches_bruteforce(spark, sf_dir):
    """The 6-integer sketch statistic must match a numpy-free driver-side
    replica computed with the same cents-scaled integers and the same
    double formula."""
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.evals import (
        _AB_A,
        _AB_B,
        _AB_Z2_CRIT,
        eval_ab_ztest,
    )
    from pyspark.sql import functions as F

    rows = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin(_AB_A, _AB_B)
            & F.col("value").isNotNull()
        )
        .select("event_type", "value")
        .collect()
    )
    n = {_AB_A: 0, _AB_B: 0}
    s = {_AB_A: 0, _AB_B: 0}
    q = {_AB_A: 0, _AB_B: 0}
    for r in rows:
        vs = math.floor(r["value"] * 10000 + 0.5)
        n[r["event_type"]] += 1
        s[r["event_type"]] += vs
        q[r["event_type"]] += vs * vs
    ma = s[_AB_A] / (n[_AB_A] * 10000)
    mb = s[_AB_B] / (n[_AB_B] * 10000)
    va = (n[_AB_A] * q[_AB_A] - s[_AB_A] * s[_AB_A]) / (
        n[_AB_A] * (n[_AB_A] - 1) * 1.0e8
    )
    vb = (n[_AB_B] * q[_AB_B] - s[_AB_B] * s[_AB_B]) / (
        n[_AB_B] * (n[_AB_B] - 1) * 1.0e8
    )
    z2 = (ma - mb) ** 2 / (va / n[_AB_A] + vb / n[_AB_B])
    got = eval_ab_ztest(spark, sf_dir).collect()[0]
    assert (got["n_a"], got["n_b"]) == (n[_AB_A], n[_AB_B])
    assert got["mean_a"] == math.floor(ma * 10000 + 0.5) / 10000
    assert got["mean_b"] == math.floor(mb * 10000 + 0.5) / 10000
    assert got["z2"] == math.floor(z2 * 10000 + 0.5) / 10000
    assert got["significant"] == (z2 >= _AB_Z2_CRIT)


def test_rollup_ohlc_bar_invariants(spark, sf_dir):
    """Each bar must satisfy low <= open,close <= high, volume equal the
    bar's tick count, and open/close equal the (ts, event_id)-extreme
    ticks replayed driver-side."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.streaming.batch_windows import rollup_ohlc
    from pyspark.sql import functions as F

    ticks = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "ts",
            "event_id",
            "value",
        )
        .collect()
    ):
        ticks[(r["event_type"], r["bucket"])].append(
            (r["ts"], r["event_id"], r["value"])
        )
    rows = rollup_ohlc(spark, sf_dir).collect()
    assert len(rows) == len(ticks)
    for r in rows:
        bar = sorted(ticks[(r["event_type"], r["bucket"])])
        vals = [t[2] for t in bar]
        assert r["volume"] == len(bar)
        assert r["open"] == bar[0][2] and r["close"] == bar[-1][2]
        assert r["high"] == max(vals) and r["low"] == min(vals)
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]


def test_text_blocklist_filter_matches_bruteforce(spark, sf_dir):
    """Hit counts, matched-term audit strings, and the integer density
    verdict must equal a driver-side recount; the gate must fire on at
    least one document of this corpus."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.text import (
        _BLOCK_PCT,
        _BLOCK_TERMS,
        text_blocklist_filter,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = text_blocklist_filter(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    n_flagged = 0
    for r in rows:
        ws = docs[r["doc_id"]].lower().split(" ")
        hits = [w for w in ws if w in _BLOCK_TERMS]
        assert r["n_tokens"] == len(ws)
        assert r["n_hits"] == len(hits)
        assert r["hit_terms"] == " ".join(sorted(set(hits)))
        assert r["flagged"] == (1000 * len(hits) >= _BLOCK_PCT * len(ws))
        n_flagged += r["flagged"]
    assert n_flagged > 0


def test_ts_seasonal_index_weighted_mean_one(spark, sf_dir):
    """The n-weighted mean of a type's seasonal indices must be ~1 (the
    index is mean_h/mean_type), every hour 0-23 of every type must
    appear at most once, and counts must total the type's scored rows."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import ts_seasonal_index
    from pyspark.sql import functions as F

    rows = ts_seasonal_index(spark, sf_dir).collect()
    per_type = collections.defaultdict(list)
    for r in rows:
        assert 0 <= r["hr"] <= 23
        per_type[r["event_type"]].append(r)
    totals = {
        r["event_type"]: r["cnt"]
        for r in table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for et, rs in per_type.items():
        assert len({r["hr"] for r in rs}) == len(rs)
        assert sum(r["n"] for r in rs) == totals[et]
        wsum = sum(r["n"] * r["seasonal_index"] for r in rs)
        assert abs(wsum / totals[et] - 1.0) < 1e-3  # rounding slack only


def test_pipeline_sft_transcripts_assembly(spark, sf_dir):
    """Transcripts must replay the per-user turn stream in (ts, event_id)
    order with the fixed role map, and valid_for_training must equal
    'last turn is an assistant turn'."""
    import collections
    import json

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.prep import (
        _SFT_ROLE,
        pipeline_sft_transcripts,
    )

    turns = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "props")
        .collect()
    ):
        role = _SFT_ROLE[r["event_type"]]
        k = json.loads(r["props"])["k"]
        turns[r["user_id"]].append(
            (r["ts"], r["event_id"], f"{role}: {r['event_type']}#{k}", role)
        )
    got = {r["user_id"]: r for r in pipeline_sft_transcripts(spark, sf_dir).collect()}
    assert set(got) == set(turns)
    for uid, ts in turns.items():
        ts.sort(key=lambda t: (t[0], t[1]))
        g = got[uid]
        assert g["n_turns"] == len(ts)
        assert g["n_user_turns"] == sum(1 for t in ts if t[3] == "user")
        assert g["n_assistant_turns"] == sum(
            1 for t in ts if t[3] == "assistant"
        )
        assert g["transcript"] == " | ".join(t[2] for t in ts)
        assert g["valid_for_training"] == (ts[-1][3] == "assistant")


def test_pipeline_preference_pairs_argmax_argmin(spark, sf_dir):
    """Each pair must be the true per-user extreme completions with the
    declared tie-breaks, margins must clear the threshold, and no user
    with < 2 scored events or a sub-threshold gap may appear."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.prep import (
        _PP_MIN_MARGIN,
        pipeline_preference_pairs,
    )
    from pyspark.sql import functions as F

    ev = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
        .collect()
    ):
        ev[r["user_id"]].append((r["value"], r["event_id"]))
    exp = {}
    for uid, rows in ev.items():
        if len(rows) < 2:
            continue
        chosen = max(rows, key=lambda t: (t[0], -t[1]))
        rejected = min(rows, key=lambda t: (t[0], t[1]))
        if chosen[0] - rejected[0] >= _PP_MIN_MARGIN:
            exp[uid] = (chosen[1], rejected[1], chosen[0] - rejected[0])
    got = {
        r["user_id"]: (
            r["chosen_event_id"],
            r["rejected_event_id"],
            r["margin"],
        )
        for r in pipeline_preference_pairs(spark, sf_dir).collect()
    }
    assert got == exp and got


def test_corpus_vocab_growth_invariants(spark, sf_dir):
    """The growth curve must be internally consistent: cum columns are
    exact prefix sums, the final cum_vocab equals the corpus's true
    distinct-word count, the final cum_tokens the true token count, and
    novelty per checkpoint can never exceed its token count."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.text import corpus_vocab_growth
    from pyspark.sql import functions as F

    rows = sorted(
        corpus_vocab_growth(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert rows
    ct = cv = 0
    for r in rows:
        ct += r["n_tokens"]
        cv += r["n_new_words"]
        assert r["cum_tokens"] == ct and r["cum_vocab"] == cv
        assert 0 <= r["n_new_words"] <= r["n_tokens"]
    tok = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    assert ct == tok.count()
    assert cv == tok.distinct().count()


def test_win_running_distinct_monotone_and_exact(spark, sf_dir):
    """Per user, the running distinct count must be non-decreasing, step
    by at most 1, start at 1, end at the user's true distinct-type count,
    and equal a driver-side set-accumulation replay."""
    import collections

    from datafusion_test_spark.operators.windows import win_running_distinct

    rows = win_running_distinct(spark, sf_dir).collect()
    # replay needs the (ts, event_id) order; n_types_seen rows arrive
    # unordered, so re-sort by the event_id tie-broken order implied by
    # the per-user sequence of counts
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    from datafusion_test_spark.io import table

    order = {
        r["event_id"]: (r["ts"], r["event_id"])
        for r in table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .collect()
    }
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: order[r["event_id"]])
        seen = set()
        prev = 0
        for r in rs:
            seen.add(r["event_type"])
            assert r["n_types_seen"] == len(seen)
            assert prev <= r["n_types_seen"] <= prev + 1
            prev = r["n_types_seen"]


def test_sub_quantified_matches_extremes(spark, sf_dir):
    """The min/max rewrite must equal the quantifier definitions computed
    driver-side over the full supplier balance set; exactly one customer
    region of each flag structure must be internally consistent."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.subqueries import sub_quantified

    bals = [
        r["s_acctbal"]
        for r in table(spark, sf_dir, "supplier").select("s_acctbal").collect()
    ]
    mx, mn, vals = max(bals), min(bals), set(bals)
    rows = sub_quantified(spark, sf_dir).collect()
    assert rows
    for r in rows:
        b = r["c_acctbal"]
        assert r["ge_all"] == all(b >= x for x in bals) == (b >= mx)
        assert r["gt_any"] == any(b > x for x in bals) == (b > mn)
        assert r["lt_all"] == all(b < x for x in bals) == (b < mn)
        assert r["eq_any"] == (b in vals)
        # ge_all implies gt_any whenever the set has >= 2 distinct values
        if r["ge_all"] and len(vals) > 1:
            assert r["gt_any"]


def test_text_boilerplate_strip_matches_bruteforce(spark, sf_dir):
    """Reassembly must equal a driver-side replica: chunk every doc the
    same way, count cross-doc chunk frequencies, drop hot chunks, rejoin
    in order.  Also asserts the operator actually removes something on
    this corpus (planted near-duplicates share aligned chunks)."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.text import (
        _BP_CHUNK,
        _BP_MIN_DOCS,
        text_boilerplate_strip,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }

    def split(t):
        full = [
            t[i : i + _BP_CHUNK]
            for i in range(0, len(t) - _BP_CHUNK + 1, _BP_CHUNK)
        ]
        rem = t[len(full) * _BP_CHUNK :]
        return full + ([rem] if rem else [])

    freq = collections.Counter()
    for t in docs.values():
        for c in set(split(t)):
            freq[c] += 1
    got = {r["doc_id"]: r for r in text_boilerplate_strip(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    total_removed = 0
    for did, t in docs.items():
        cs = split(t)
        kept = [c for c in cs if freq[c] < _BP_MIN_DOCS]
        g = got[did]
        assert g["n_chunks"] == len(cs)
        assert g["n_removed"] == len(cs) - len(kept)
        assert g["cleaned"] == "".join(kept)
        assert g["cleaned_len"] == len("".join(kept))
        if g["n_removed"] == 0:
            assert g["cleaned"] == t
        total_removed += g["n_removed"]
    assert total_removed > 0


def test_feature_target_encode_leakage_free(spark, sf_dir):
    """LOO property: a positive row's encoding must be strictly below its
    category's raw mean and a negative row's strictly above (whenever the
    category is mixed) — i.e. the row's own label is truly excluded; and
    the encoding must equal the driver-side Fraction computation."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        _TE_M,
        feature_target_encode,
    )
    from pyspark.sql import functions as F

    o = (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .collect()
    )
    n_cat, sum_cat = collections.Counter(), collections.Counter()
    for r in o:
        n_cat[r["o_orderpriority"]] += 1
        sum_cat[r["o_orderpriority"]] += r["y"]
    n_tot = len(o)
    s_tot = sum(r["y"] for r in o)

    def hu(num, den):
        # the same double pathway as _util.half_up: one IEEE divide of
        # exact int64 operands, then floor(x*1e4 + 0.5)
        return math.floor(num / den * 10_000 + 0.5) / 10_000

    got = {r["o_orderkey"]: r for r in feature_target_encode(spark, sf_dir).collect()}
    assert len(got) == n_tot
    for r in o:
        g = got[r["o_orderkey"]]
        c, y = r["o_orderpriority"], r["y"]
        n, s = n_cat[c], sum_cat[c]
        assert g["n_cat"] == n and g["y"] == y
        if n > 1:
            exp = hu(s - y, n - 1)
            assert g["loo_enc"] == exp
            if 0 < s < n:  # mixed category: self-exclusion shifts the mean
                mean = s / n
                assert (g["loo_enc"] < mean) if y == 1 else (
                    g["loo_enc"] > mean
                )
        else:
            assert g["loo_enc"] is None
        exp_s = hu(
            (s - y) * n_tot + _TE_M * s_tot, (n - 1 + _TE_M) * n_tot
        )
        assert g["smooth_enc"] == exp_s


def test_table_diff_matches_set_arithmetic(spark, sf_dir):
    """The change set must equal the modular set arithmetic that defines
    the two snapshots: added = keys ≡0 (7) present in B, removed =
    keys ≡0 (11) present in A, changed = keys ≡0 (5) present in both."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.maintenance import table_diff

    keys = [
        r["o_orderkey"]
        for r in table(spark, sf_dir, "orders").select("o_orderkey").collect()
    ]
    exp_added = {k for k in keys if k % 7 == 0 and k % 11 != 0}
    exp_removed = {k for k in keys if k % 7 != 0 and k % 11 == 0}
    exp_changed = {
        k for k in keys if k % 7 != 0 and k % 11 != 0 and k % 5 == 0
    }
    got = {"added": set(), "removed": set(), "changed": set()}
    for r in table_diff(spark, sf_dir).collect():
        got[r["change"]].add(r["o_orderkey"])
        if r["change"] == "changed":
            assert r["new_status"] == "U"
            assert r["new_price"] == r["old_price"] * 1.1
    assert got["added"] == exp_added
    assert got["removed"] == exp_removed
    assert got["changed"] == exp_changed


def test_join_positional_zipper_invariants(spark, sf_dir):
    """Positional join must pair the i-th smallest custkey with the i-th
    smallest suppkey, be exactly max(|A|,|B|) rows with a dense 1..max
    rank, and NULL-pad the shorter (supplier) side."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.joins import join_positional

    rows = join_positional(spark, sf_dir).collect()
    n_c = table(spark, sf_dir, "customer").count()
    n_s = table(spark, sf_dir, "supplier").count()
    assert len(rows) == max(n_c, n_s)
    assert sorted(r["rn"] for r in rows) == list(range(1, max(n_c, n_s) + 1))
    custs = sorted(
        r["c_custkey"] for r in rows if r["c_custkey"] is not None
    )
    supps = [
        (r["rn"], r["s_suppkey"]) for r in rows if r["s_suppkey"] is not None
    ]
    assert len(custs) == n_c and len(supps) == n_s
    # i-th rank carries the i-th smallest key on each populated side
    by_rn = {r["rn"]: r for r in rows}
    for i, ck in enumerate(custs, start=1):
        assert by_rn[i]["c_custkey"] == ck
    for rn, sk in supps:
        assert sorted(s for _, s in supps)[rn - 1] == sk
    # padding: every rank past the shorter side is NULL there
    for r in rows:
        if r["rn"] > n_s:
            assert r["s_suppkey"] is None and r["s_name"] is None


def test_join_spatial_grid_matches_bruteforce(spark, sf_dir):
    """Grid blocking must produce exactly the brute-force ε-pair set —
    each qualifying pair once, no near-boundary misses from cell
    assignment."""
    from datafusion_test_spark.operators.joins import (
        _SPATIAL_EPS,
        join_spatial_grid,
    )

    pts = {
        r["vec_id"]: (float(r["embedding"][0]), float(r["embedding"][1]))
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    eps2 = _SPATIAL_EPS * _SPATIAL_EPS
    ids = sorted(pts)
    expected = {
        (u, v)
        for i, u in enumerate(ids)
        for v in ids[i + 1 :]
        if (pts[u][0] - pts[v][0]) ** 2 + (pts[u][1] - pts[v][1]) ** 2
        <= eps2
    }
    rows = join_spatial_grid(spark, sf_dir).collect()
    got = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(got) == len(set(got))  # exactly-once
    assert set(got) == expected
    for r in rows:
        assert 0.0 <= r["d2"] <= eps2


def test_join_spatial_grid_plans_as_equi_join(spark, sf_dir):
    """The blocking must plan as a hash equi-join on cell ids — never a
    cartesian/nested-loop product (that is the entire point)."""
    from datafusion_test_spark.operators.joins import join_spatial_grid

    plan = (
        join_spatial_grid(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_pagerank_matches_bruteforce_fixed_point(spark, sf_dir):
    """The distributed 3-iteration fixed-point PageRank must equal a
    driver-side replica using the identical integer arithmetic, including
    the top-20 cut with its (pr desc, node) tie-break."""
    import collections

    from datafusion_test_spark.operators.analytics import (
        _PR_BASE,
        _PR_ITERS,
        _PR_SCALE,
        _PR_TOPK,
        graph_pagerank,
    )

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    adj = collections.defaultdict(set)
    for r in li:
        o, p = r["l_orderkey"] * 2, r["l_partkey"] * 2 + 1
        adj[o].add(p)
        adj[p].add(o)
    pr = {n: _PR_SCALE for n in adj}
    for _ in range(_PR_ITERS):
        inc = collections.defaultdict(int)
        for n, nbrs in adj.items():
            c = pr[n] // len(nbrs)
            for m in nbrs:
                inc[m] += c
        pr = {n: _PR_BASE + (85 * inc[n]) // 100 for n in adj}
    expected = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:_PR_TOPK]
    got = graph_pagerank(spark, sf_dir).collect()
    assert [(r["node"], r["pr_scaled"]) for r in got] == expected
    for r in got:
        assert r["kind"] == ("order" if r["node"] % 2 == 0 else "part")


def test_er_multipass_superset_with_provenance(spark, sf_dir):
    """The two-pass union must contain every single-pass (noun-block)
    match with via_noun set, every row must carry at least one pass flag,
    and via_noun must be EXACTLY membership in the noun pass."""
    from datafusion_test_spark.pipeline.dedup import (
        er_fuzzy_blocked,
        er_multipass,
    )

    single = {
        (r["name_a"], r["name_b"])
        for r in er_fuzzy_blocked(spark, sf_dir).collect()
    }
    rows = er_multipass(spark, sf_dir).collect()
    multi = {(r["name_a"], r["name_b"]): r for r in rows}
    assert single <= set(multi)
    for pair, r in multi.items():
        assert r["via_noun"] or r["via_first"]
        assert 1 <= r["lev"] <= 2
        assert r["via_noun"] == (pair in single)
        # a pair flagged via_first must actually share its first token
        if r["via_first"]:
            assert (
                r["name_a"].split(" ", 1)[0] == r["name_b"].split(" ", 1)[0]
            )
    # on this corpus every lev<=2 variant keeps the noun, so pass 2 finds
    # a SUBSET of pass 1 — the accounting must say so (zero marginal
    # recall is a valid, informative answer, not a bug)
    assert all(r["via_noun"] for r in rows)


def test_mm_clip_filter_covers_all_pairs(spark, sf_dir):
    from datafusion_test_spark.pipeline.multimodal import mm_clip_filter

    n_vecs = table(spark, sf_dir, "embeddings").count()
    rows = mm_clip_filter(spark, sf_dir).collect()
    assert len(rows) == n_vecs // 2
    for r in rows:
        assert r["img_id"] == 2 * r["pair_id"]
        assert r["txt_id"] == 2 * r["pair_id"] + 1
        assert -1.0001 <= r["clip_sim"] <= 1.0001
        if abs(r["clip_sim"]) > 1e-3:  # away from the gate boundary
            assert r["kept"] == (r["clip_sim"] > 0)


def test_pipeline_shuffle_is_permutation(spark, sf_dir):
    """Positions must be exactly 1..N with no gaps or dups, and ordering
    by position must equal ordering by (draw, doc_id) — the two-phase
    offset arithmetic reproduces the global rank."""
    from datafusion_test_spark.pipeline.curation import pipeline_shuffle

    rows = pipeline_shuffle(spark, sf_dir).collect()
    n = table(spark, sf_dir, "documents").count()
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    by_pos = [r["doc_id"] for r in sorted(rows, key=lambda r: r["pos"])]
    by_draw = [
        r["doc_id"] for r in sorted(rows, key=lambda r: (r["draw"], r["doc_id"]))
    ]
    assert by_pos == by_draw


def test_pipeline_curriculum_order_interleaves_buckets(spark, sf_dir):
    """Positions must be exactly 1..N; rank-based quartile buckets must be
    balanced (sizes differ by at most 1); position order must equal
    (within_rank, bucket) order — i.e. round r emits one example per
    non-exhausted bucket, easiest tier first; and within a bucket the
    order is the reproducible md5 draw."""
    from datafusion_test_spark.pipeline.curation import (
        pipeline_curriculum_order,
    )

    rows = pipeline_curriculum_order(spark, sf_dir).collect()
    n = (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .count()
    )
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    sizes = {}
    for r in rows:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    by_pos = [r["doc_id"] for r in sorted(rows, key=lambda r: r["pos"])]
    by_key = [
        r["doc_id"]
        for r in sorted(rows, key=lambda r: (r["within_rank"], r["bucket"]))
    ]
    assert by_pos == by_key
    # while every bucket still has items, consecutive positions cycle the
    # buckets in ascending order — the deterministic interleave
    full_rounds = min(sizes.values())
    seq = [
        r["bucket"] for r in sorted(rows, key=lambda r: r["pos"])
    ][: full_rounds * len(sizes)]
    expect = sorted(sizes) * full_rounds
    assert seq == [b for i in range(full_rounds) for b in sorted(sizes)]
    assert seq == expect
    # within-bucket order is the md5 draw
    for b in sizes:
        br = sorted(
            (r for r in rows if r["bucket"] == b),
            key=lambda r: r["within_rank"],
        )
        assert [r["doc_id"] for r in br] == [
            r["doc_id"]
            for r in sorted(br, key=lambda r: (r["draw"], r["doc_id"]))
        ]


def test_sim_ivfpq_invariants(spark, sf_dir):
    from datafusion_test_spark.pipeline.similarity import sim_ivfpq

    row = sim_ivfpq(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r["self_is_top"] and r["twin_survives_with_equal_adc"]
    assert r["probed_subset"]


def test_agg_regression_r2_bounds(spark, sf_dir):
    from datafusion_test_spark.operators.analytics import agg_regression

    rows = agg_regression(spark, sf_dir).collect()
    assert len(rows) == 5  # one per event type
    for r in rows:
        assert r["n_points"] > 0
        assert -0.0001 <= r["r2"] <= 1.0001


def test_anomaly_mad_counts_consistent(spark, sf_dir):
    """Outliers are a strict subset; med/mad non-negative; per-type counts
    sum to the full events table."""
    from datafusion_test_spark.operators.analytics import anomaly_mad

    rows = anomaly_mad(spark, sf_dir).collect()
    total = table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == total
    for r in rows:
        assert 0 <= r["n_outliers"] < r["n_events"]
        assert r["mad"] >= 0


def test_ts_resample_interp_bounds_and_coverage(spark, sf_dir):
    """Interpolated values lie within [prev, next] (hence within the
    per-type observed min/max band); known buckets pass through their own
    mean; the grid is dense per type."""
    from datafusion_test_spark.streaming.batch_windows import ts_resample_interp

    rows = ts_resample_interp(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["bucket"])
        known = [r["v_interp"] for r in rs if not r["is_interpolated"]]
        lo, hi = min(known), max(known)
        for r in rs:
            assert lo - 1e-9 <= r["v_interp"] <= hi + 1e-9, (et, r)
        # dense hourly grid: bucket deltas are exactly one hour
        deltas = {
            int((b.timestamp() - a.timestamp()))
            for a, b in zip(
                [r["bucket"] for r in rs], [r["bucket"] for r in rs][1:]
            )
        }
        assert deltas <= {3600}


def test_privacy_k_anonymity_partitions_groups(spark, sf_dir):
    from datafusion_test_spark.pipeline.quality import _KANON_K, privacy_k_anonymity

    rows = privacy_k_anonymity(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["suppressed"] == (r["n_docs"] < _KANON_K)
        assert r["released_as"] == (
            "*" if r["suppressed"] else f"{r['lang']}/{r['source']}"
        )


def test_dedup_resolve_one_keeper_per_cluster(spark, sf_dir):
    """Exactly one keep per cluster; the keeper is the longest member
    (ties to min doc_id); cluster census agrees with dedup_clusters."""
    from datafusion_test_spark.pipeline.dedup import dedup_clusters, dedup_resolve

    rows = dedup_resolve(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    census = {
        r["cluster_id"]: r["n_members"]
        for r in dedup_clusters(spark, sf_dir).collect()
    }
    assert {c: len(m) for c, m in by_cluster.items()} == census
    for c, ms in by_cluster.items():
        keeps = [r for r in ms if r["keep"]]
        assert len(keeps) == 1
        best = min(ms, key=lambda r: (-r["n_chars"], r["doc_id"]))
        assert keeps[0]["doc_id"] == best["doc_id"]
        assert all(r["keeper"] == best["doc_id"] for r in ms)


def test_er_fuzzy_blocked_cap_drops_hot_blocks(spark, sf_dir, monkeypatch):
    """Forcing the hot-block cap to 1 must suppress every block (each noun
    block holds several entities), yielding zero pairs — the guard that
    stops a skewed block going quadratic at scale."""
    from datafusion_test_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "_DF_CAP", 1)
    assert dedup.er_fuzzy_blocked(spark, sf_dir).count() == 0


def test_asof_nearest_dominates_backward(spark, sf_dir):
    """The nearest match's gap can never exceed the plain backward as-of
    gap; direction must agree with which side actually won."""
    from datafusion_test_spark.operators.joins import join_asof, join_asof_nearest

    back = {
        r["event_id"]: r["asof_ts"]
        for r in join_asof(spark, sf_dir).collect()
    }
    rows = join_asof_nearest(spark, sf_dir).collect()
    assert rows
    for r in rows:
        b = back.get(r["event_id"])
        if r["near_ts"] is None:
            assert b is None
            continue
        assert r["gap_us"] >= 0
        if r["direction"] == "back":
            assert r["near_ts"] == b
            assert r["near_ts"] <= r["ts"]
        else:
            assert r["direction"] == "fwd"
            assert r["near_ts"] > r["ts"]
            if b is not None:
                back_gap = (r["ts"] - b).total_seconds() * 1e6
                assert r["gap_us"] < back_gap


def test_win_ewma_bounds_and_warmup(spark, sf_dir):
    """EWMA is a convex combination of the last <=10 values, so it lies in
    the per-user min/max band; n_terms ramps 1,2,... at series start."""
    from datafusion_test_spark.operators.windows import win_ewma

    rows = win_ewma(spark, sf_dir).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    ev = {}
    for r in table(spark, sf_dir, "events").collect():
        ev.setdefault(r["user_id"], []).append(r["value"])
    for uid, rs in per_user.items():
        # operator semantics treat a NULL value like a missing lag; the
        # fixture has none — pin that precondition explicitly instead of
        # crashing in min() if the data ever changes
        assert all(v is not None for v in ev[uid]), uid
        lo, hi = min(ev[uid]), max(ev[uid])
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        for i, r in enumerate(rs):
            assert lo - 1e-4 <= r["ewma"] <= hi + 1e-4
            assert r["n_terms"] == min(i + 1, 10)


def test_corpus_jaccard_sources_matrix_complete(spark, sf_dir):
    """All source pairs present exactly once (a<b), counts consistent
    (inter <= union, jaccard in [0,1])."""
    from datafusion_test_spark.pipeline.text import corpus_jaccard_sources

    rows = corpus_jaccard_sources(spark, sf_dir).collect()
    n_src = table(spark, sf_dir, "documents").select("source").distinct().count()
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 0 <= r["n_inter"] <= r["n_union"]
        assert 0.0 <= r["jaccard"] <= 1.0


def test_eval_auc_matches_bruteforce(spark, sf_dir):
    """The distributed rank-sum AUC must equal a driver-side tie-correct
    Mann-Whitney computation on the same rows."""
    import collections

    from datafusion_test_spark.pipeline.evals import _scored, eval_auc

    rows = _scored(spark, sf_dir).collect()
    n_at, np_at = collections.Counter(), collections.Counter()
    for r in rows:
        n_at[r["s"]] += 1
        np_at[r["s"]] += r["y"]
    pre, r2 = 0, 0
    for s in sorted(n_at):
        r2 += np_at[s] * (2 * pre + n_at[s] + 1)
        pre += n_at[s]
    n_pos = sum(np_at.values())
    n_neg = len(rows) - n_pos
    got = eval_auc(spark, sf_dir).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (n_pos, n_neg)
    assert got["u2"] == r2 - n_pos * (n_pos + 1)
    assert 0.0 <= got["auc"] <= 1.0


def test_eval_length_bias_matches_bruteforce(spark, sf_dir):
    """The bucketed length-confound audit must equal a driver-side
    recomputation over the same preference pairs (chosen = max by
    (value DESC, event_id), rejected = min by (value ASC, event_id),
    margin >= 10, non-NULL payloads), and every win rate must be a
    probability."""
    import collections

    from datafusion_test_spark.pipeline.evals import (
        _LB_MIN_MARGIN,
        eval_length_bias,
    )

    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value", F.length("props").alias("len"))
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    want = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    for evs in by_user.values():
        if len(evs) < 2:
            continue
        chosen = min(evs, key=lambda r: (-r["value"], r["event_id"]))
        rejected = min(evs, key=lambda r: (r["value"], r["event_id"]))
        if not (chosen["value"] - rejected["value"] >= _LB_MIN_MARGIN):
            continue
        lc, lr = chosen["len"], rejected["len"]
        if lc is None or lr is None:
            continue
        delta, gap = lc - lr, abs(lc - lr)
        b = ("tie" if gap == 0 else "gap_1_9" if gap < 10
             else "gap_10_49" if gap < 50 else "gap_50_199" if gap < 200
             else "gap_200_plus")
        acc = want[b]
        acc[0] += 1
        acc[1] += 1 if delta > 0 else 0
        acc[2] += delta
        acc[3] += lc
        acc[4] += lr
    got = {r["gap_bucket"]: r for r in eval_length_bias(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for b, (n, w, d, sc, sr) in want.items():
        g = got[b]
        assert (g["n_pairs"], g["longer_wins"]) == (n, w), b
        assert (g["sum_len_chosen"], g["sum_len_rejected"]) == (sc, sr), b
        assert g["win_rate_longer"] == w / n and 0.0 <= g["win_rate_longer"] <= 1.0
        assert g["mean_delta"] == d / n


def test_eval_prf_partition_and_f1(spark, sf_dir):
    from datafusion_test_spark.pipeline.evals import _scored, eval_prf

    n = _scored(spark, sf_dir).count()
    r = eval_prf(spark, sf_dir).collect()[0]
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n
    for m in ("precision", "recall", "f1"):
        assert 0.0 <= r[m] <= 1.0


def test_eval_mrr_matches_bruteforce(spark, sf_dir):
    """Distributed MRR must equal the driver-side computation: rank each
    user's candidates by (score desc, event_id), reciprocal of the first
    purchase rank, zero for never-purchased users."""
    import collections

    from datafusion_test_spark.pipeline.evals import _RANK_SCALE, _ranked, eval_mrr

    by_user = collections.defaultdict(list)
    for r in _ranked(spark, sf_dir).collect():
        by_user[r["user_id"]].append(r)
    sum_rr, n_hit = 0, 0
    for rows in by_user.values():
        pos = [r["rk"] for r in rows if r["y"] == 1]
        if pos:
            n_hit += 1
            fp = min(pos)
            sum_rr += (2 * _RANK_SCALE + fp) // (2 * fp)
    got = eval_mrr(spark, sf_dir).collect()[0]
    assert got["n_users"] == len(by_user)
    assert got["n_hit"] == n_hit
    assert got["sum_rr"] == sum_rr
    assert 0.0 <= got["mrr"] <= 1.0


def test_eval_ndcg_matches_bruteforce(spark, sf_dir):
    """Distributed NDCG@10 must equal the driver-side computation built
    from the same frozen literal discount table."""
    import collections

    from datafusion_test_spark.pipeline.evals import (
        _DISC,
        _IDCG,
        _NDCG_K,
        _RANK_SCALE,
        _ranked,
        eval_ndcg,
    )

    by_user = collections.defaultdict(list)
    for r in _ranked(spark, sf_dir).collect():
        by_user[r["user_id"]].append(r)
    sum_ndcg, n_eval = 0, 0
    for rows in by_user.values():
        n_rel = sum(r["y"] for r in rows)
        if n_rel == 0:
            continue
        n_eval += 1
        dcg = sum(
            _DISC[r["rk"] - 1]
            for r in rows
            if r["y"] == 1 and r["rk"] <= _NDCG_K
        )
        idcg = _IDCG[min(n_rel, _NDCG_K)]
        sum_ndcg += (2 * _RANK_SCALE * dcg + idcg) // (2 * idcg)
    got = eval_ndcg(spark, sf_dir).collect()[0]
    assert got["n_users_eval"] == n_eval
    assert got["sum_ndcg"] == sum_ndcg
    assert 0.0 <= got["mean_ndcg"] <= 1.0


def test_eval_calibration_covers_all_rows(spark, sf_dir):
    from datafusion_test_spark.pipeline.evals import _scored, eval_calibration

    n = _scored(spark, sf_dir).count()
    rows = eval_calibration(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == n
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["pos_rate"] <= 1.0
        assert 0 <= r["n_pos"] <= r["n"]


def test_eval_pass_at_k_matches_bruteforce(spark, sf_dir):
    """The falling-factorial integer carrier must equal an independent
    Fraction-exact 1 − C(n−c,k)/C(n,k) computed driver-side from the same
    capped attempt lists (binomial ratio == falling-factorial ratio)."""
    import collections
    from fractions import Fraction
    from math import comb

    from datafusion_test_spark.pipeline.evals import (
        _PASS_K_BIG,
        _PASS_N,
        _RANK_SCALE,
        _scored,
        eval_pass_at_k,
    )
    from datafusion_test_spark.io import table
    from pyspark.sql import functions as F

    e = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .select("user_id", "event_id", "event_type")
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in e:
        by_user[r["user_id"]].append((r["event_id"], r["event_type"]))

    def p_scaled(n, c, k):
        fr = Fraction(comb(n - c, k) if n - c >= k else 0, comb(n, k))
        nu, de = fr.numerator, fr.denominator
        return _RANK_SCALE - (2 * _RANK_SCALE * nu + de) // (2 * de)

    sum_p1 = sum_p4 = n4 = 0
    for atts in by_user.values():
        capped = sorted(atts)[:_PASS_N]
        n = len(capped)
        c = sum(1 for _, t in capped if t == "purchase")
        sum_p1 += p_scaled(n, c, 1)
        if n >= _PASS_K_BIG:
            n4 += 1
            sum_p4 += p_scaled(n, c, _PASS_K_BIG)
    got = eval_pass_at_k(spark, sf_dir).collect()[0]
    assert got["n_problems"] == len(by_user)
    assert got["sum_p1"] == sum_p1
    assert got["n_problems_k4"] == n4
    assert got["sum_p4"] == sum_p4
    assert 0.0 <= got["pass_at_1"] <= 1.0
    # pass@4 >= pass@1 always (more draws can only help)
    if n4 == got["n_problems"] and n4 > 0:
        assert got["pass_at_4"] >= got["pass_at_1"]


def test_agg_gini_matches_bruteforce(spark, sf_dir):
    """Gini replayed driver-side with the same sorted-rank closed form
    must match; the statistic must sit in [0, 1)."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import agg_gini
    from pyspark.sql import functions as F

    spend = collections.Counter()
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        spend[r["o_custkey"]] += math.floor(r["o_totalprice"] * 100 + 0.5)
    xs = [spend[k] for k in sorted(spend, key=lambda k: (spend[k], k))]
    n, sx = len(xs), sum(xs)
    srx = sum((i + 1) * x for i, x in enumerate(xs))
    g = (2.0 * srx - (n + 1) * sx) / (n * sx)
    got = agg_gini(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n and got["total_cents"] == sx
    assert got["gini"] == math.floor(g * 1_000_000 + 0.5) / 1_000_000
    assert 0.0 <= got["gini"] < 1.0


def test_agg_benford_digit_census(spark, sf_dir):
    """Observed digit counts must match a driver-side census of the
    cents-scaled totals; expected counts sum to ~n and use the frozen
    Benford literals."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import (
        _BENFORD_S,
        agg_benford,
    )

    digits = collections.Counter()
    for r in table(spark, sf_dir, "orders").select("o_totalprice").collect():
        cents = math.floor(r["o_totalprice"] * 100 + 0.5)
        if cents > 0:
            digits[int(str(cents)[0])] += 1
    n = sum(digits.values())
    rows = {r["digit"]: r for r in agg_benford(spark, sf_dir).collect()}
    assert set(rows) <= set(range(1, 10))
    for d, g in rows.items():
        assert g["n_obs"] == digits[d]
        p = _BENFORD_S[d - 1]
        assert g["n_expected"] == (2 * n * p + 1_000_000) // 2_000_000
    assert sum(g["n_obs"] for g in rows.values()) == n
    exp_total = sum(g["n_expected"] for g in rows.values())
    assert abs(exp_total - n) <= 9  # per-digit rounding slack


def test_fn_mask_partial_redaction(spark, sf_dir):
    """No full name may survive; the suffix must match the original's
    last 4 chars and the magnitude digit count the true balance."""
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.functions.scalar import fn_mask_partial

    src = {
        r["c_custkey"]: (r["c_name"], r["c_acctbal"])
        for r in table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .collect()
    }
    rows = fn_mask_partial(spark, sf_dir).collect()
    assert len(rows) == len(src)
    for r in rows:
        name, bal = src[r["c_custkey"]]
        assert r["name_masked"] == "****" + name[-4:]
        assert r["was_masked"] == (len(name) > 4)
        if len(name) > 4:
            assert name not in r["name_masked"]
        assert r["balance_magnitude_digits"] == len(
            str(int(math.floor(abs(bal))))
        )


def test_agg_pareto_crossing(spark, sf_dir):
    """The crossing rank replayed driver-side must match: top-k spend
    reaches 80% of revenue and top-(k-1) does not."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import agg_pareto

    spend = collections.Counter()
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        spend[r["o_custkey"]] += math.floor(r["o_totalprice"] * 100 + 0.5)
    xs = sorted(spend.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(v for _, v in xs)
    cum = 0
    k = None
    for i, (_, v) in enumerate(xs, start=1):
        cum += v
        if 5 * cum >= 4 * tot:
            k = i
            break
    got = agg_pareto(spark, sf_dir).collect()[0]
    assert got["n_customers"] == len(xs)
    assert got["k_top_customers"] == k
    assert got["pct_customers_for_80pct"] == math.floor(
        k / len(xs) * 10000 + 0.5
    ) / 10000
    top_k = sum(v for _, v in xs[:k])
    top_k1 = sum(v for _, v in xs[: k - 1])
    assert 5 * top_k >= 4 * tot and 5 * top_k1 < 4 * tot


def test_ts_period_growth_matches_bruteforce(spark, sf_dir):
    """Daily counts, lags and growth replayed driver-side must match;
    first observed day per type carries NULLs."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import ts_period_growth
    from pyspark.sql import functions as F

    counts = collections.Counter()
    for r in (
        table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .collect()
    ):
        counts[(r["event_type"], r["day"])] += 1
    series = collections.defaultdict(list)
    for (et, day), n in counts.items():
        series[et].append((day, n))
    exp = {}
    for et, rows in series.items():
        rows.sort()
        prev = None
        for day, n in rows:
            if prev is None:
                exp[(et, day)] = (n, None, None, None)
            else:
                growth = (
                    math.floor((n - prev) / prev * 10000 + 0.5) / 10000
                    if prev > 0
                    else None
                )
                exp[(et, day)] = (n, prev, n - prev, growth)
            prev = n
    got = {
        (r["event_type"], r["day"]): (
            r["n"],
            r["prev_n"],
            r["delta"],
            r["growth"],
        )
        for r in ts_period_growth(spark, sf_dir).collect()
    }
    assert got == exp


def test_sub_not_in_nulls_landmine(spark, sf_dir):
    """NOT IN over a list containing NULL must return zero rows while
    NOT EXISTS returns the true anti-set (non-empty on this data)."""
    from datafusion_test_spark.operators.subqueries import sub_not_in_nulls

    r = sub_not_in_nulls(spark, sf_dir).collect()[0]
    assert r["n_not_in"] == 0
    assert 0 < r["n_not_exists"] <= r["n_customers"]
    assert r["null_landmine_demonstrated"]


def test_seq_markov_transitions_stochastic_rows(spark, sf_dir):
    """Counts replayed driver-side must match; each from-state's
    probabilities sum to ~1 and transitions total events minus users."""
    import collections

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        seq_markov_transitions,
    )

    per_user = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        per_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    pairs = collections.Counter()
    n_events = 0
    for rows in per_user.values():
        rows.sort()
        n_events += len(rows)
        for a, b in zip(rows, rows[1:]):
            pairs[(a[2], b[2])] += 1
    got = {
        (r["from_state"], r["to_state"]): r
        for r in seq_markov_transitions(spark, sf_dir).collect()
    }
    assert {k: v["n"] for k, v in got.items()} == dict(pairs)
    assert sum(pairs.values()) == n_events - len(per_user)
    by_from = collections.defaultdict(float)
    for (f, _), r in got.items():
        by_from[f] += r["p"]
        assert r["row_total"] == sum(
            n for (ff, _), n in pairs.items() if ff == f
        )
    for f, tot in by_from.items():
        assert abs(tot - 1.0) < 0.001


def test_feature_winsorize_matches_bruteforce(spark, sf_dir):
    """Caps must be the exact ceil-rank order statistics and tail counts
    must match a driver-side census."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import feature_winsorize
    from pyspark.sql import functions as F

    per = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
        .collect()
    ):
        per[r["event_type"]].append(
            (math.floor(r["value"] * 10000 + 0.5), r["event_id"])
        )
    got = {r["event_type"]: r for r in feature_winsorize(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for et, vs in per.items():
        vs.sort()
        n = len(vs)
        lo = vs[(5 * n + 99) // 100 - 1][0]
        hi = vs[(95 * n + 99) // 100 - 1][0]
        g = got[et]
        assert g["n"] == n
        assert g["p05_s"] == lo and g["p95_s"] == hi
        assert g["n_below"] == sum(1 for v, _ in vs if v < lo)
        assert g["n_above"] == sum(1 for v, _ in vs if v > hi)
        assert g["p05_s"] <= g["p95_s"]
        clip = sum(v - hi for v, _ in vs if v > hi)
        tot = sum(v for v, _ in vs)
        assert g["clipped_share"] == math.floor(
            clip / tot * 1_000_000 + 0.5
        ) / 1_000_000


def test_ts_absence_alarm_frontier(spark, sf_dir):
    """Silence must be measured against the true stream frontier; the
    most recent user has silence 0; alarms match the 2-day rule."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        _ABSENCE_US,
        ts_absence_alarm,
    )
    from pyspark.sql import functions as F

    per = {
        r["user_id"]: r["last"]
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max(F.unix_micros("ts")).alias("last"))
        .collect()
    }
    frontier = max(per.values())
    rows = ts_absence_alarm(spark, sf_dir).collect()
    assert len(rows) == len(per)
    assert any(r["silent_us"] == 0 for r in rows)
    for r in rows:
        exp = frontier - per[r["user_id"]]
        assert r["silent_us"] == exp
        assert r["alarm"] == (exp > _ABSENCE_US)


def test_agg_life_table_consistency(spark, sf_dir):
    """Risk sets must telescope (n_at_risk(k) = n_at_risk(k+1) + d + c at
    k), the largest k's risk set equals its own d+c, and the smallest
    k's risk set equals the total user count."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import agg_life_table

    rows = sorted(
        agg_life_table(spark, sf_dir).collect(),
        key=lambda r: r["lifetime_day"],
    )
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows[0]["n_at_risk"] == n_users
    for a, b in zip(rows, rows[1:]):
        assert a["n_at_risk"] == b["n_at_risk"] + a["n_churned"] + a["n_censored"]
    last = rows[-1]
    assert last["n_at_risk"] == last["n_churned"] + last["n_censored"]
    for r in rows:
        assert 0.0 <= r["hazard"] <= 1.0


def test_agg_hhi_bounds_and_bruteforce(spark, sf_dir):
    """HHI replayed driver-side must match and respect its analytic
    bounds 1/n <= HHI <= top_share at rounding precision."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import agg_hhi
    from pyspark.sql import functions as F

    seg_of = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    spend = collections.defaultdict(lambda: collections.Counter())
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        seg = seg_of.get(r["o_custkey"])
        if seg is not None:
            spend[seg][r["o_custkey"]] += math.floor(r["o_totalprice"])
    got = {r["c_mktsegment"]: r for r in agg_hhi(spark, sf_dir).collect()}
    assert set(got) == set(spend)
    for seg, cc in spend.items():
        tot = sum(cc.values())
        hhi = sum(v * v for v in cc.values()) / (tot * tot)
        g = got[seg]
        assert g["n_custs"] == len(cc) and g["total_dollars"] == tot
        assert g["hhi"] == math.floor(hhi * 1_000_000 + 0.5) / 1_000_000
        assert g["hhi"] >= 1 / len(cc) - 1e-6
        assert g["hhi"] <= g["top_share"] + 1e-6


def test_mm_aspect_bucket_nearest_ratio(spark, sf_dir):
    """Each sample's bucket must be the true integer-argmin over the five
    standard aspects (common-denominator scores, first-listed tie win)."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.multimodal import (
        _ASPECTS,
        mm_aspect_bucket,
    )

    chars = {
        r["doc_id"]: r["n_chars"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    rows = mm_aspect_bucket(spark, sf_dir).collect()
    assert len(rows) == len(chars)
    for r in rows:
        w = 16 + (chars[r["doc_id"]] * 131) % 240
        h = 16 + (r["doc_id"] * 37) % 240
        assert (r["w"], r["h"]) == (w, h)
        scored = sorted(
            (abs(w * rh - h * rw) * scale, order, name)
            for name, rw, rh, order, scale in _ASPECTS
        )
        assert r["aspect_bucket"] == scored[0][2]
        assert r["score_144"] == scored[0][0]


def test_agg_new_vs_returning_conservation(spark, sf_dir):
    """New-user totals across days must equal the user count, events must
    total the stream, and the first observed day must be 100% new."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import (
        agg_new_vs_returning,
    )

    e = table(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    rows = sorted(
        agg_new_vs_returning(spark, sf_dir).collect(), key=lambda r: r["day"]
    )
    assert sum(r["n_events"] for r in rows) == n_events
    assert sum(r["n_new_users"] for r in rows) == n_users
    first = rows[0]
    assert first["new_share"] == 1.0
    assert first["n_new_user_events"] == first["n_events"]
    for r in rows:
        assert 0.0 <= r["new_share"] <= 1.0
        assert r["n_new_users"] <= r["n_users"]


def test_join_attribution_linear_credit_conservation(spark, sf_dir):
    """Total credit (attributed + unattributed) must equal 10^4 times the
    purchase count, within per-purchase half-up rounding slack."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        join_attribution_linear,
    )
    from pyspark.sql import functions as F

    n_purchases = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    rows = join_attribution_linear(spark, sf_dir).collect()
    total = sum(r["credit_s"] for r in rows)
    # each attributed purchase contributes n_views half-up reciprocals
    # summing to 10^4 ± n_views/2; bound loosely by total assists
    assists = sum(r["n_assists"] for r in rows if r["view_id"] is not None)
    assert abs(total - n_purchases * 10_000) <= assists
    unattr = [r for r in rows if r["view_id"] is None]
    assert len(unattr) == 1


def test_agg_cohort_ltv_monotone_cumulative(spark, sf_dir):
    """Per cohort the cumulative must be the exact prefix sum of value
    mass, and total mass must equal the purchase value census."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import agg_cohort_ltv
    from pyspark.sql import functions as F

    total = sum(
        math.floor(r["value"] * 10000 + 0.5)
        for r in table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select("value")
        .collect()
    )
    per_cohort = collections.defaultdict(list)
    for r in agg_cohort_ltv(spark, sf_dir).collect():
        per_cohort[r["cohort_day"]].append(r)
    grand = 0
    for rows in per_cohort.values():
        rows.sort(key=lambda r: r["age_days"])
        cum = 0
        for r in rows:
            assert r["age_days"] >= 0
            cum += r["value_s"]
            assert r["cum_value_s"] == cum
        grand += cum
    assert grand == total


def test_agg_abc_class_partition(spark, sf_dir):
    """Classes must partition parts by the inclusive cumulative rule
    replayed driver-side; A-class revenue share is <= 80% + one item."""
    from datafusion_test_spark.operators.aggregates import agg_abc_class

    rows = sorted(
        agg_abc_class(spark, sf_dir).collect(),
        key=lambda r: r["revenue_rank"],
    )
    tot = sum(r["revenue_cents"] for r in rows)
    cum = 0
    for r in rows:
        cum += r["revenue_cents"]
        if 20 * cum <= 16 * tot:
            exp = "A"
        elif 20 * cum <= 19 * tot:
            exp = "B"
        else:
            exp = "C"
        assert r["abc_class"] == exp
    classes = [r["abc_class"] for r in rows]
    assert classes == sorted(classes)  # A* then B* then C* in rank order
    assert "C" in classes


def test_feature_rfm_score_quintiles(spark, sf_dir):
    """Each dimension's quintiles must be balanced (sizes differ by at
    most 1 under the integer formula), scores lie in 1..5, and the best
    frequency user scores f=5."""
    import collections

    from datafusion_test_spark.operators.analytics import feature_rfm_score

    rows = feature_rfm_score(spark, sf_dir).collect()
    n = len(rows)
    for dim in ("r_score", "f_score", "m_score"):
        c = collections.Counter(r[dim] for r in rows)
        assert set(c) <= {1, 2, 3, 4, 5}
        assert max(c.values()) - min(c.values()) <= 1 + (n % 5 > 0)
    best_freq = max(rows, key=lambda r: (r["frequency"], r["user_id"]))
    assert best_freq["f_score"] == 5
    freshest = min(rows, key=lambda r: (r["recency_us"], r["user_id"]))
    assert freshest["r_score"] == 5
    for r in rows:
        assert r["rfm"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"


def test_agg_anova_eta_bounds_and_bruteforce(spark, sf_dir):
    """Eta-squared must sit in [0, 1] and match a driver-side replica
    built from the same integer carriers."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.aggregates import agg_anova_eta
    from pyspark.sql import functions as F

    cells = collections.defaultdict(
        lambda: collections.defaultdict(lambda: [0, 0, 0])
    )
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.hour("ts").alias("hr"), "value")
        .collect()
    ):
        v = math.floor(r["value"] * 10000 + 0.5)
        c = cells[r["event_type"]][r["hr"]]
        c[0] += 1
        c[1] += v
        c[2] += v * v
    got = {r["event_type"]: r for r in agg_anova_eta(spark, sf_dir).collect()}
    for et, hrs in cells.items():
        n = sum(c[0] for c in hrs.values())
        s = sum(c[1] for c in hrs.values())
        q = sum(c[2] for c in hrs.values())
        b = sum((c[1] * c[1]) // c[0] for c in hrs.values())
        cc = sum(
            (2 * 1_000_000 * ((c[1] * c[1]) % c[0]) + c[0]) // (2 * c[0])
            for c in hrs.values()
        )
        ss_tot = q - s * s / n
        ss_btw = (b + cc / 1e6) - s * s / n
        g = got[et]
        assert g["n_groups"] == len(hrs) and g["n_rows"] == n
        exp = math.floor(ss_btw / ss_tot * 1_000_000 + 0.5) / 1_000_000
        assert g["eta_sq"] == exp
        assert -1e-6 <= g["eta_sq"] <= 1.0


def test_ts_peaks_matches_bruteforce(spark, sf_dir):
    """Peaks replayed driver-side must match exactly; every reported
    peak must be strictly above both neighbors by the prominence floor."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import (
        _PEAK_PROM_S,
        ts_peaks,
    )
    from pyspark.sql import functions as F

    series = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
        .collect()
    ):
        series[r["event_type"]].append(
            (r["ts"], r["event_id"], math.floor(r["value"] * 10000 + 0.5))
        )
    exp = {}
    for et, rows in series.items():
        rows.sort()
        for i in range(1, len(rows) - 1):
            prom = min(
                rows[i][2] - rows[i - 1][2], rows[i][2] - rows[i + 1][2]
            )
            if prom >= _PEAK_PROM_S:
                exp[rows[i][1]] = prom
    got = {
        r["event_id"]: r["prominence_s"]
        for r in ts_peaks(spark, sf_dir).collect()
    }
    assert got == exp and got


def test_seq_path_census_matches_bruteforce(spark, sf_dir):
    """Top-20 paths replayed driver-side must match with the declared
    tie-breaks; shares derive from the total triple count."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import seq_path_census

    per = collections.defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        per[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    triples = collections.Counter()
    for rows in per.values():
        rows.sort()
        types = [t for _, _, t in rows]
        for i in range(len(types) - 2):
            triples[(types[i], types[i + 1], types[i + 2])] += 1
    total = sum(triples.values())
    exp = sorted(
        ((-n, a, b, c) for (a, b, c), n in triples.items())
    )[:20]
    got = sorted(
        seq_path_census(spark, sf_dir).collect(), key=lambda r: r["rk"]
    )
    assert len(got) == 20
    for g, (negn, a, b, c) in zip(got, exp):
        assert (g["step1"], g["step2"], g["step3"], g["n"]) == (a, b, c, -negn)
        assert g["share"] == math.floor(-negn / total * 10000 + 0.5) / 10000


def test_join_basket_lift_metrics(spark, sf_dir):
    """Support/confidence/lift replayed driver-side for every reported
    pair; confidence >= support always; ranks follow the integer key."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.analytics import join_basket_lift

    li = {
        (r["l_orderkey"], r["l_partkey"])
        for r in table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    }
    baskets = collections.defaultdict(set)
    for o, p in li:
        baskets[o].add(p)
    n = len(baskets)
    supp = collections.Counter(p for _, p in li)
    pair_n = collections.Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pair_n[(a, b)] += 1
    rows = join_basket_lift(spark, sf_dir).collect()
    for r in rows:
        key = (r["pa"], r["pb"])
        assert r["n_ab"] == pair_n[key] >= 2
        assert r["n_a"] == supp[r["pa"]] and r["n_b"] == supp[r["pb"]]
        assert r["support"] == math.floor(r["n_ab"] / n * 10000 + 0.5) / 10000
        assert r["confidence"] == math.floor(
            r["n_ab"] / r["n_a"] * 10000 + 0.5
        ) / 10000
        assert r["lift"] == math.floor(
            r["n_ab"] * n / (r["n_a"] * r["n_b"]) * 10000 + 0.5
        ) / 10000
        assert r["confidence"] >= r["support"] - 1e-9


def test_udf_grouped_train_matches_regr(spark, sf_dir):
    """The grouped-pandas OLS must agree with the ANSI regr_* aggregates
    on the same slice (shared formula, round-4 tolerance)."""
    from datafusion_test_spark.io import table
    from datafusion_test_spark.operators.udf import udf_grouped_train
    from pyspark.sql import functions as F

    regr = {
        r["event_type"]: (r["n"], r["slope"], r["intercept"])
        for r in table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("double").alias("x"),
            F.col("value").alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.expr("regr_count(y, x)").cast("long").alias("n"),
            F.round(F.expr("regr_slope(y, x)"), 4).alias("slope"),
            F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
        )
        .collect()
    }
    got = {r["event_type"]: r for r in udf_grouped_train(spark, sf_dir).collect()}
    assert set(got) == set(regr)
    for et, (n, slope, intercept) in regr.items():
        g = got[et]
        assert g["n_points"] == n
        assert abs(g["slope"] - slope) <= 1e-4
        assert abs(g["intercept"] - intercept) <= 1e-4


def test_fn_allocate_proportional_conserves_pennies(spark, sf_dir):
    """Per order the allocations must sum EXACTLY to the order's cents,
    and each allocation differs from the unrounded share by < 1 cent."""
    import collections
    import math

    from datafusion_test_spark.io import table
    from datafusion_test_spark.functions.scalar import (
        fn_allocate_proportional,
    )

    totals = {
        r["o_orderkey"]: math.floor(r["o_totalprice"] * 100 + 0.5)
        for r in table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    per = collections.defaultdict(list)
    for r in fn_allocate_proportional(spark, sf_dir).collect():
        per[r["l_orderkey"]].append(r)
    for ok_, rows in per.items():
        total = totals[ok_]
        assert sum(r["alloc_cents"] for r in rows) == total
        q_tot = sum(r["qty"] for r in rows)
        for r in rows:
            ideal = total * r["qty"] / q_tot
            assert abs(r["alloc_cents"] - ideal) < 1.0


def test_agg_wilson_rank_ordering_properties(spark, sf_dir):
    """The Wilson bound must be below the raw rate, shrink with small n
    (an all-return 3-liner must rank below a mostly-return 20-liner with
    the same raw rate), and match a driver-side replica."""
    import math

    from datafusion_test_spark.operators.aggregates import (
        _WILSON_Z2_E6,
        agg_wilson_rank,
    )

    z2 = _WILSON_Z2_E6 / 1.0e6

    def wilson(k, n):
        p = k / n
        raw = (
            p + z2 / (2 * n) - math.sqrt(z2) * math.sqrt(
                (p * (1 - p) + z2 / (4 * n)) / n
            )
        ) / (1 + z2 / n)
        return math.floor(raw * 1_000_000 + 0.5) / 1_000_000

    rows = agg_wilson_rank(spark, sf_dir).collect()
    assert rows
    prev = None
    for r in rows:
        assert r["wilson_low"] == wilson(r["k_returns"], r["n"])
        assert r["wilson_low"] <= r["k_returns"] / r["n"] + 1e-9
        if prev is not None:
            assert (prev["wilson_low"], ) >= (r["wilson_low"], )
        prev = r
    # small-sample shrinkage sanity on the formula itself
    assert wilson(3, 3) < wilson(19, 20)


def test_eval_position_bias_matches_bruteforce(spark, sf_dir):
    """The margin-bucketed position-confound audit must equal a
    driver-side recomputation over the same preference pairs (the
    pipeline_preference_pairs recipe), with position = 1-based rank of
    event_id inside the prompt group, and every win rate a probability."""
    import collections

    from datafusion_test_spark.pipeline.evals import (
        _LB_MIN_MARGIN,
        eval_position_bias,
    )

    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    want = collections.defaultdict(lambda: [0, 0, 0, 0])
    for evs in by_user.values():
        if len(evs) < 2:
            continue
        pos = {
            r["event_id"]: i + 1
            for i, r in enumerate(sorted(evs, key=lambda r: r["event_id"]))
        }
        chosen = min(evs, key=lambda r: (-r["value"], r["event_id"]))
        rejected = min(evs, key=lambda r: (r["value"], r["event_id"]))
        margin = chosen["value"] - rejected["value"]
        if not (margin >= _LB_MIN_MARGIN):
            continue
        pc, pr = pos[chosen["event_id"]], pos[rejected["event_id"]]
        b = ("m_10_199" if margin < 200 else "m_200_239" if margin < 240
             else "m_240_299" if margin < 300 else "m_300_plus")
        acc = want[b]
        acc[0] += 1
        acc[1] += 1 if pc < pr else 0
        acc[2] += pc
        acc[3] += pr
    got = {r["margin_bucket"]: r for r in eval_position_bias(spark, sf_dir).collect()}
    assert set(got) == set(want)
    assert len(want) >= 2, "margin buckets degenerate on the real corpus"
    for b, (n, w, sc, sr) in want.items():
        g = got[b]
        assert (g["n_pairs"], g["first_wins"]) == (n, w), b
        assert (g["sum_pos_chosen"], g["sum_pos_rejected"]) == (sc, sr), b
        assert g["win_rate_first"] == w / n and 0.0 <= g["win_rate_first"] <= 1.0


def test_eval_format_bias_matches_bruteforce(spark, sf_dir):
    """The gap-bucketed format-confound audit must equal a driver-side
    recomputation: format score = (opens '{'/'[') + (contains '\":') +
    (matches [0-9][0-9]), NULL payloads excluded by the observed-pairs
    filter, and every win rate a probability.  Also pins that the score
    DISCRIMINATES on the real corpus (at least one non-tie pair)."""
    import collections
    import re

    from datafusion_test_spark.pipeline.evals import (
        _LB_MIN_MARGIN,
        eval_format_bias,
    )

    two_digits = re.compile(r"[0-9][0-9]")

    def fmt(props):
        if props is None:
            return None
        return (
            (1 if props[:1] in ("{", "[") else 0)
            + (1 if '":' in props else 0)
            + (1 if two_digits.search(props) else 0)
        )

    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value", "props")
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    want = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    for evs in by_user.values():
        if len(evs) < 2:
            continue
        chosen = min(evs, key=lambda r: (-r["value"], r["event_id"]))
        rejected = min(evs, key=lambda r: (r["value"], r["event_id"]))
        if not (chosen["value"] - rejected["value"] >= _LB_MIN_MARGIN):
            continue
        fc, fr = fmt(chosen["props"]), fmt(rejected["props"])
        if fc is None or fr is None:
            continue
        delta, gap = fc - fr, abs(fc - fr)
        b = ("tie" if gap == 0 else "gap_1" if gap == 1
             else "gap_2" if gap == 2 else "gap_3")
        acc = want[b]
        acc[0] += 1
        acc[1] += 1 if delta > 0 else 0
        acc[2] += delta
        acc[3] += fc
        acc[4] += fr
    got = {r["gap_bucket"]: r for r in eval_format_bias(spark, sf_dir).collect()}
    assert set(got) == set(want)
    assert set(want) - {"tie"}, "format score never discriminated a pair"
    for b, (n, w, d, sc, sr) in want.items():
        g = got[b]
        assert (g["n_pairs"], g["fmt_wins"]) == (n, w), b
        assert (g["sum_fmt_chosen"], g["sum_fmt_rejected"]) == (sc, sr), b
        assert g["win_rate_fmt"] == w / n and 0.0 <= g["win_rate_fmt"] <= 1.0
        assert g["mean_delta"] == d / n


def test_confound_audits_direction_on_planted_bias(spark, tmp_path):
    """Sign-convention pin for the three preference-confound audits: the
    engine-vs-oracle differential and the bruteforce pins share the same
    formulas, so a FLIPPED win definition would pass both.  This corpus
    PLANTS the bias: per prompt, the higher-reward (chosen) completion
    is always the earlier-presented (smaller event_id), the longer, and
    the more-formatted one — so every audit must report win rate 1.0 in
    every populated bucket, and a flipped convention would read 0.0."""
    import datetime

    from datafusion_test_spark.pipeline.evals import (
        eval_format_bias,
        eval_length_bias,
        eval_position_bias,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(10):
        # chosen: earlier id, reward +50 + u, structured long payload
        rows.append((2 * u, t0, u, "view", 100.0 + 50 + u,
                     '{"answer": 42, "detail": "' + "x" * (30 + u) + '"}'))
        # rejected: later id, base reward, plain short payload
        rows.append((2 * u + 1, t0, u, "view", 100.0, "plain"))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    pos = eval_position_bias(spark, sf).collect()
    assert pos and all(r["win_rate_first"] == 1.0 for r in pos), pos
    assert sum(r["n_pairs"] for r in pos) == 10

    ln = eval_length_bias(spark, sf).collect()
    assert ln and all(r["win_rate_longer"] == 1.0 for r in ln), ln
    assert all(r["mean_delta"] > 0 for r in ln)

    fmt = eval_format_bias(spark, sf).collect()
    # chosen scores 3 ({ opener, '":', multi-digit), rejected scores 0
    assert [r["gap_bucket"] for r in fmt] == ["gap_3"], fmt
    assert fmt[0]["win_rate_fmt"] == 1.0 and fmt[0]["mean_delta"] == 3.0
    assert fmt[0]["n_pairs"] == 10


def test_eval_confound_consensus_matches_bruteforce(spark, sf_dir):
    """The inter-audit composite must equal a driver-side recomputation
    over the same preference pairs: per pair the L/P/F letters (length /
    position / format, 'W' = the confound direction won, 'N' = payload
    not auditable), n_confounds = the pattern's 'W' count, and the
    integer delta/rank anchors.  Also reconciles the composite's total
    prompt count with pipeline_preference_pairs — the composite audits
    EXACTLY the pairs the builder ships (no observed-pairs filter: the
    'N' letter keeps unauditable axes visible instead of dropping the
    pair)."""
    import collections
    import re

    from datafusion_test_spark.pipeline.evals import (
        _LB_MIN_MARGIN,
        eval_confound_consensus,
    )
    from datafusion_test_spark.pipeline.prep import pipeline_preference_pairs

    two_digits = re.compile(r"[0-9][0-9]")

    def fmt(props):
        if props is None:
            return None
        return (
            (1 if props[:1] in ("{", "[") else 0)
            + (1 if '":' in props else 0)
            + (1 if two_digits.search(props) else 0)
        )

    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value", "props")
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    want = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    n_pairs_bf = 0
    for evs in by_user.values():
        if len(evs) < 2:
            continue
        pos = {
            r["event_id"]: i + 1
            for i, r in enumerate(sorted(evs, key=lambda r: r["event_id"]))
        }
        chosen = min(evs, key=lambda r: (-r["value"], r["event_id"]))
        rejected = min(evs, key=lambda r: (r["value"], r["event_id"]))
        if not (chosen["value"] - rejected["value"] >= _LB_MIN_MARGIN):
            continue
        n_pairs_bf += 1
        lc = len(chosen["props"]) if chosen["props"] is not None else None
        lr = len(rejected["props"]) if rejected["props"] is not None else None
        fc, fr = fmt(chosen["props"]), fmt(rejected["props"])

        def letter(c, r):
            if c is None or r is None:
                return "N"
            return "W" if c > r else "L" if c < r else "T"

        pc, pr = pos[chosen["event_id"]], pos[rejected["event_id"]]
        pat = (
            letter(lc, lr)
            + ("W" if pc < pr else "L")
            + letter(fc, fr)
        )
        acc = want[pat]
        acc[0] += 1
        if lc is not None and lr is not None:
            acc[1] += lc - lr
        acc[2] += pc
        acc[3] += pr
        if fc is not None and fr is not None:
            acc[4] += fc - fr
    got = {
        r["pattern"]: r
        for r in eval_confound_consensus(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    assert len(want) >= 2, "consensus patterns degenerate on the real corpus"
    for pat, (n, ld, sc, sr, fd) in want.items():
        g = got[pat]
        assert g["n_confounds"] == pat.count("W"), pat
        assert g["n_prompts"] == n, pat
        assert (g["sum_pos_chosen"], g["sum_pos_rejected"]) == (sc, sr), pat
        if "N" not in (pat[0],):
            assert g["sum_len_delta"] == ld, pat
        if "N" not in (pat[2],):
            assert g["sum_fmt_delta"] == fd, pat
    # recipe coverage: the composite's base IS the pair builder's output
    assert sum(r["n_prompts"] for r in got.values()) == n_pairs_bf
    assert n_pairs_bf == pipeline_preference_pairs(spark, sf_dir).count()


def test_eval_confound_consensus_planted_two_of_three(spark, tmp_path):
    """VERDICT r12 item 3's done-criterion: on a planted corpus where a
    known prompt's chosen completion is the earlier-presented AND longer
    but LESS-formatted one, the composite must flag it by exactly 2 of
    the 3 audits — pattern 'WWL', n_confounds 2 — and a contrast cohort
    planted with all three confounds must land at 'WWW', n_confounds 3.
    A flipped letter convention (or a miscounted histogram) cannot pass:
    the planted directions are asymmetric across the axes."""
    import datetime

    from datafusion_test_spark.pipeline.evals import eval_confound_consensus

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(6):  # WWL cohort: earlier + longer + plain text
        rows.append((2 * u, t0, u, "view", 200.0,
                     "plain verbose answer " + "x" * 40))
        rows.append((2 * u + 1, t0, u, "view", 100.0, '{"a": 42}'))
    for u in range(6, 10):  # WWW cohort: earlier + longer + structured
        rows.append((2 * u, t0, u, "view", 200.0,
                     '{"answer": 42, "detail": "' + "y" * 40 + '"}'))
        rows.append((2 * u + 1, t0, u, "view", 100.0, "no"))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    out = {
        r["pattern"]: r for r in eval_confound_consensus(spark, sf).collect()
    }
    assert set(out) == {"WWL", "WWW"}, out
    assert out["WWL"]["n_confounds"] == 2 and out["WWL"]["n_prompts"] == 6
    assert out["WWW"]["n_confounds"] == 3 and out["WWW"]["n_prompts"] == 4
    # direction anchors: the planted deltas are positive for length on
    # both cohorts, negative for format on the WWL cohort
    assert out["WWL"]["sum_len_delta"] > 0 and out["WWL"]["sum_fmt_delta"] < 0
    assert out["WWW"]["sum_len_delta"] > 0 and out["WWW"]["sum_fmt_delta"] > 0


def test_eval_confound_consensus_null_payload_stays_visible(spark, tmp_path):
    """The composite's 'N' letter contract: a NULL payload makes the
    length and format axes UNAUDITABLE for that pair, and the composite
    must keep the pair visible under 'N' letters instead of silently
    dropping it (the single-axis audits filter such pairs out — the
    composite is where their differing bases are reconciled, so the 'N'
    outcome is load-bearing).  Plants 3 prompts whose CHOSEN payload is
    NULL (earlier-presented winner): pattern must be exactly 'NWN',
    n_confounds 1 (only position flags), with NULL delta anchors."""
    import datetime

    from datafusion_test_spark.pipeline.evals import eval_confound_consensus

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(3):
        rows.append((2 * u, t0, u, "view", 200.0, None))  # chosen: NULL props
        rows.append((2 * u + 1, t0, u, "view", 100.0, '{"a": 42}'))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = eval_confound_consensus(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["pattern"] == "NWN", out
    assert out[0]["n_confounds"] == 1 and out[0]["n_prompts"] == 3
    assert out[0]["sum_len_delta"] is None  # no auditable length pair
    assert out[0]["sum_fmt_delta"] is None
    assert out[0]["sum_pos_chosen"] == 3  # the earlier slot, 3 prompts


def test_confound_audits_cover_the_pair_recipe_exactly(spark, sf_dir):
    """Recipe-drift ratchet: the three confound audits claim to audit
    EXACTLY the pairs pipeline_preference_pairs ships.  Pin that the
    bucket totals reconcile with the pair builder's row count — position
    audits every pair; length/format audit the observed-payload subset
    (equal to all pairs on this corpus, asserted via the no-NULL-props
    precondition so a future corpus change surfaces here instead of
    silently shrinking the audit base)."""
    from datafusion_test_spark.pipeline.evals import (
        eval_format_bias,
        eval_length_bias,
        eval_position_bias,
    )
    from datafusion_test_spark.pipeline.prep import pipeline_preference_pairs

    n_pairs = pipeline_preference_pairs(spark, sf_dir).count()
    assert n_pairs > 0
    pos_total = sum(
        r["n_pairs"] for r in eval_position_bias(spark, sf_dir).collect()
    )
    assert pos_total == n_pairs
    # the corpus precondition that makes the observed-pairs filter a no-op
    null_props = (
        table(spark, sf_dir, "events").filter(F.col("props").isNull()).count()
    )
    assert null_props == 0, "precondition moved: reconcile the totals below"
    for fn, col in (
        (eval_length_bias, "longer_wins"),
        (eval_format_bias, "fmt_wins"),
    ):
        out = fn(spark, sf_dir).collect()
        assert sum(r["n_pairs"] for r in out) == n_pairs
        assert all(0 <= r[col] <= r["n_pairs"] for r in out)


def test_mm_frame_sample_empty_and_null_payloads(spark, tmp_path):
    """Empty-payload guard pin (ADVICE r13): a zero-length text used to
    drive sequence(0, ceil(0/256)-1 = -1, 4) into 'Illegal sequence
    boundaries' at runtime.  An empty doc must now yield ZERO frames
    (matching the oracle's empty generate_series) and a NULL doc must
    keep dropping out of the explode, while a real doc's strided frames
    are untouched."""
    from datafusion_test_spark.pipeline.multimodal import mm_frame_sample

    spark.createDataFrame(
        [
            (1, "", "en", "s", 0),
            (2, None, "en", "s", None),
            (3, "x" * 1200, "en", "s", 1200),
        ],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = mm_frame_sample(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc, "empty payload must yield zero frames"
    assert 2 not in by_doc, "NULL payload must yield zero frames"
    # 1200 bytes -> ceil(1200/256) = 5 frames, stride 4 keeps idx 0 and 4;
    # frame 4 covers bytes [1024, 1200) = 176 bytes
    got = sorted((r["frame_idx"], r["frame_bytes"]) for r in by_doc[3])
    assert got == [(0, 256), (4, 176)], got


def test_eval_confound_drilldown_planted_www_prompts(spark, tmp_path):
    """VERDICT r13 item 4's done-criterion: on the planted WWL/WWW corpus
    a KNOWN prompt id flagged by all three audits must appear in the
    drill-down list — and ONLY the WWW cohort appears (the 2-of-3 cohort
    must not).  Margin-ties resolve by prompt id, so the full output
    order is pinned, and the per-row anchors must carry the planted
    directions (longer, earlier, more structured)."""
    import datetime

    from datafusion_test_spark.pipeline.evals import eval_confound_drilldown

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(6):  # WWL cohort: must NOT be flagged
        rows.append((2 * u, t0, u, "view", 200.0,
                     "plain verbose answer " + "x" * 40))
        rows.append((2 * u + 1, t0, u, "view", 100.0, '{"a": 42}'))
    for u in range(6, 10):  # WWW cohort: the curator's drop list
        rows.append((2 * u, t0, u, "view", 200.0 + u,
                     '{"answer": 42, "detail": "' + "y" * 40 + '"}'))
        rows.append((2 * u + 1, t0, u, "view", 100.0, "no"))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = eval_confound_drilldown(spark, str(tmp_path)).collect()
    # margins 106+u descend with u, so the planted order is 9, 8, 7, 6
    assert [r["user_id"] for r in out] == [9, 8, 7, 6], out
    for r in out:
        assert r["margin"] == 100.0 + r["user_id"]
        assert r["len_delta"] > 0, r  # chosen longer
        assert r["pos_chosen"] == 1 and r["pos_rejected"] == 2, r  # earlier
        assert r["fmt_delta"] > 0, r  # chosen more structured


def test_eval_confound_drilldown_topk_bound(spark, tmp_path):
    """The drill-down's 100 TB contract is its BOUND: 25 planted WWW
    prompts with distinct margins must yield exactly the top 20 by
    margin — the 5 smallest-margin prompts fall off the list, and the
    plan is a TakeOrderedAndProject (per-partition heap + bounded
    merge), never a global Sort or an unpartitioned window."""
    import datetime

    from datafusion_test_spark.pipeline.evals import (
        _DRILL_TOPK,
        eval_confound_drilldown,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(25):
        rows.append((2 * u, t0, u, "view", 200.0 + u,
                     '{"answer": 42, "detail": "' + "y" * 40 + '"}'))
        rows.append((2 * u + 1, t0, u, "view", 100.0, "no"))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    df = eval_confound_drilldown(spark, str(tmp_path))
    out = df.collect()
    assert len(out) == _DRILL_TOPK == 20
    # top 20 margins = users 24..5 descending; users 0..4 fall off
    assert [r["user_id"] for r in out] == list(range(24, 4, -1)), out
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_sim_pairwise_topk_hot_block_cap_is_deterministic(spark, tmp_path):
    """Hot-block bound pin (VERDICT r13 item 5): sim_pairwise_topk's
    label blocks degrade to a deterministic md5(vec_id)-ordered sample
    of _SIM_BLOCK_CAP vectors when over-dense.  Plant a 600-vector
    single-label block with TWO exact-duplicate pairs: one whose ids
    hold the two LOWEST md5 ranks (inside any cap), one whose ids hold
    the two HIGHEST (outside the 512 cap).  The inside pair must be the
    top hit at cos 1.0; the outside pair must not appear anywhere in
    the top-10 — the cap's sampling, not similarity, excluded it, and
    the oracle states the identical rank so both engines agree."""
    import hashlib
    import random

    from datafusion_test_spark.pipeline.similarity import (
        _SIM_BLOCK_CAP,
        sim_pairwise_topk,
    )

    assert _SIM_BLOCK_CAP == 512
    ids = list(range(600))
    ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    inside = sorted(ranked[:2])     # md5 ranks 1, 2
    outside = sorted(ranked[-2:])   # md5 ranks 599, 600 — beyond the cap
    rng = random.Random(7)
    twin_x = [1.0] + [0.0] * 63
    twin_y = [0.0, 1.0] + [0.0] * 62
    rows = []
    for i in ids:
        if i in inside:
            vec = twin_x
        elif i in outside:
            vec = twin_y
        else:
            vec = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, 0, vec))
    spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    out = sim_pairwise_topk(spark, str(tmp_path)).collect()
    assert (out[0]["vec_a"], out[0]["vec_b"]) == tuple(inside), out[0]
    assert out[0]["cos_sim"] == 1.0
    assert tuple(outside) not in {(r["vec_a"], r["vec_b"]) for r in out}
    # and the capped base is what the join saw: no other 1.0 pair
    assert all(r["cos_sim"] < 1.0 for r in out[1:]), out


def test_text_pii_scrub_giant_doc_segmentation(spark, tmp_path):
    """Giant-doc segmentation pin (VERDICT r13 item 8): a doc past
    _PII_GIANT code points is scrubbed through 1000-char chunks spread
    over many tasks, with the boundary-straddle contract stated: a match
    crossing a chunk boundary is NOT a match (in both engines — the
    oracle chunks identically).  Plants one giant doc carrying an email
    fully inside a chunk AND an email straddling a 1000-char boundary:
    the unchunked text holds 2 matches, the chunked pass must count
    exactly the python bruteforce twin's per-chunk total (1), and the
    planted +10M row (suffix appended by the query itself) must still
    count its appended PII — the suffix lands inside the final chunks."""
    import re

    from datafusion_test_spark.pipeline.text import (
        _EMAIL_RE,
        _PII_CHUNK,
        _PII_GIANT,
        text_pii_scrub,
    )

    text = "x" * 3000 + " a1@example.com "       # contained in chunk 3
    text += "x" * (6994 - len(text)) + " b2@example.com "  # straddles 7000
    text += "x" * (140000 - len(text))
    assert len(text) == 140000 > _PII_GIANT
    # python bruteforce twin of the chunked pass
    chunks = [text[i:i + _PII_CHUNK] for i in range(0, len(text), _PII_CHUNK)]
    n_full = len(re.findall(_EMAIL_RE, text))
    n_chunked = sum(len(re.findall(_EMAIL_RE, c)) for c in chunks)
    assert n_full == 2 and n_chunked == 1, (n_full, n_chunked)
    exp_len = sum(len(re.sub(_EMAIL_RE, "<EMAIL>", c)) for c in chunks)

    spark.createDataFrame(
        [(5, text, "en", "s", len(text))],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {r["doc_id"]: r for r in text_pii_scrub(spark, str(tmp_path)).collect()}
    assert set(out) == {5, 10000005}
    base = out[5]
    assert base["n_emails"] == n_chunked == 1
    assert base["n_phones"] == 0
    assert base["scrubbed_len"] == exp_len
    assert base["clean"] is True  # straddle residue is not a full match
    # the planted row: same giant text + the appended suffix, re-derived
    # through the same chunked twin
    ptext = text + " contact user5@example.com or +1-555-0100"
    pchunks = [
        ptext[i:i + _PII_CHUNK] for i in range(0, len(ptext), _PII_CHUNK)
    ]
    planted = out[10000005]
    assert planted["n_emails"] == sum(
        len(re.findall(_EMAIL_RE, c)) for c in pchunks
    ) == 2
    assert planted["n_phones"] == 1
