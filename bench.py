"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints one JSON line:
    {"metric": "headline_wall_sec", "value": <total>, "unit": "sec",
     "queries": {name: sec, ...}, "layout_queries": {...},
     "layout_wall_sec": <sec>, "sf": <sf>, "machine": {...}}
The headline total prices QUERIES; pay-once layout builds are timed in the
separate layout group.  "machine" records cpu count and load1 before/after
so cross-round offsets are attributable in-data.

Queries are materialized with the noop sink (full execution, no driver-side
result transfer), after a warm-up pass at sf0.001.  The warm-up keeps codegen
compilation out of the timed runs because ``get_session`` sizes the JVM-wide
cache of compiled classes above the ~3,400 distinct classes of the whole run
(session module docstring, "Codegen cache"); at Spark's default of 100 the
timed runs recompiled nearly all of them.  Classes that only the sf0.1 plans
need are compiled in a query's first timed run, which best-of-2 drops.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_test_spark import registry
from datafusion_test_spark.io import table
from datafusion_test_spark.session import get_session

# Headline set: one per operator family, weighted toward shuffle/join/window
# heavy shapes (the 100-TB-relevant ones).
HEADLINE = [
    "distinct",            # the reference's own query shape
    "agg_groupby",         # TPC-H Q1
    "agg_count_distinct",
    "join_inner",
    "join_asof",
    "join_range",
    "join_skew_salted",
    "sub_correlated_scalar",
    "tpch_q1_shape",
    "tpch_q4_shape",
    "tpch_q6_shape",
    "tpch_q19_shape",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "tpch_q10_shape",
    "tpch_q18_shape",
    "win_ranking",
    "topk_per_group",
    "fn_math",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embed_cosine",
    "dedup_embed_lsh",
    "sim_topk",
    "sim_pairwise_topk",
    "sim_pairwise_lsh",
    "text_topterms",
    "pipeline_prep",
    "text_fingerprint",
    "stream_session",
    "stream_tumbling",
    "rollup_timeseries",
    "stream_stateful_count",
    "udf_pandas",
    "write_partitioned",
    "scan_orc_roundtrip",
    "mm_frame_sample",
    # round-3 additions
    "join_bucketed",       # bucketed layout write + no-shuffle SMJ (pay-once cost)
    "agg_hll_merge",
    "dedup_editdist",
    "dedup_clusters",
    "sim_ivf",
    "text_tfidf",
    "embed_quantize",
    "stream_join_interval",
    "text_contamination",
    "seq_pack",
    "dedup_url",
    "text_ngram_lm",
    "domain_mix",
    "stream_cdc_apply",
    # round-3 (cont.) additions
    "text_quality_gopher",
    "scd2_build",
    "join_bloom",
    "fn_bitmap",
    "stream_join_outer",
    "rollup_gapfill",
    "agg_count_min",
    "funnel_conversion",
    "interval_union",
    "text_chunk_overlap",
    # round-4: previously-unbenched shuffle-heavy entries (VERDICT r3 item 4)
    "merge_upsert",
    "embed_pca",
    "pipeline_training_shards",
    "graph_triangles",
    "dedup_incremental",
    # round-4 new operators
    "dedup_chunk",
    "join_asof_tolerance",
    "feature_bucketize",
    "embed_pq",
    "lm_quality_filter",
    "join_dim_snapshot",
    # round-4 (cont.): this session's additions
    "drift_ks",
    "text_repetition",
    "text_bm25_topk",
    "er_fuzzy_blocked",
    "mm_clip_filter",
    "pipeline_shuffle",
    "sim_ivfpq",
    "agg_regression",
    "anomaly_mad",
    "stream_topk_windowed",
    "ts_resample_interp",
    "sub_in_disjunct",
    "privacy_k_anonymity",
    "dedup_resolve",
    "join_asof_nearest",
    "win_ewma",
    "corpus_jaccard_sources",
    "eval_auc",
    "eval_prf",
    "eval_calibration",
    "eval_mrr",
    "eval_ndcg",
    "drift_timeline",
    "er_multipass",
    "graph_pagerank",
    "join_spatial_grid",
    "ts_changepoint",
    "embed_pq_residual",
    "embed_matryoshka_recall",
    "agg_weighted_median",
    "win_median_sliding",
    "feature_hashing",
    "ts_autocorr",
    "text_langid_confusion",
    "corpus_datacard",
    "graph_common_neighbors",
    "dq_audit",
    "dedup_containment",
    "win_rolling_slope",
    "privacy_l_diversity",
    "eval_pass_at_k",
    "join_positional",
    "table_diff",
    "feature_target_encode",
    "scan_binary_files",
    "text_boilerplate_strip",
    "sub_quantified",
    "win_running_distinct",
    "corpus_vocab_growth",
    "pipeline_preference_pairs",
    "pipeline_sft_transcripts",
    "ts_seasonal_index",
    "text_blocklist_filter",
    "rollup_ohlc",
    "eval_ab_ztest",
    "graph_kcore",
    "pipeline_span_corruption",
    "sim_rerank_two_stage",
    "ts_debounce",
    "dedup_threshold_sweep",
    "win_ratio_to_report",
    "privacy_pseudonymize",
    "er_survivorship",
    "join_interval_relations",
    "pipeline_quality_gate",
    "mm_dataset_manifest",
    "feature_standardize",
    "table_checksum",
    "eval_filter_parity",
    "export_jsonl_shards",
    "scd2_correction",
    "ts_forecast_backtest",
    "text_keywords_rake",
    "join_asof_aggregate",
    "win_control_chart",
    "win_drawdown",
    "dedup_soft_weights",
    "agg_rolling_wau",
    "agg_gini",
    "agg_benford",
    "fn_mask_partial",
    "agg_pareto",
    "ts_period_growth",
    "sub_not_in_nulls",
    "seq_markov_transitions",
    "feature_winsorize",
    "ts_absence_alarm",
    "agg_life_table",
    "agg_hhi",
    "catalog_stats_sampled",
    "mm_aspect_bucket",
    "agg_new_vs_returning",
    "join_attribution_linear",
    "agg_cohort_ltv",
    "agg_abc_class",
    "feature_rfm_score",
    "agg_anova_eta",
    "ts_peaks",
    "scan_csv_multiline",
    "seq_path_census",
    "join_basket_lift",
    "udf_grouped_train",
    "fn_allocate_proportional",
    "agg_wilson_rank",
    # round-8 growth slate (VERDICT r8 item 3: every new entry joins the
    # bench groups the round it lands; these ten missed r8's close)
    "plan_aqe_skew_join",
    "scan_manifest_prune",
    "dedup_paragraph",
    "stream_transactional_sink",
    "drift_psi",
    "eval_bootstrap_ci",
    "graph_connected_components",
    "pipeline_shard_binpack",
    "text_dsir_weights",
    "eval_elo_bt",
    # round-9 slate
    "scan_row_lineage",
    "eval_krippendorff_alpha",
    "text_bpe_train",
    "stream_session_gap_stats",
    "agg_tdigest_quantiles_bucketed",
    # round-10 slate
    "scan_parquet_bloom",
    # round-11 slate
    "scan_parquet_pageindex",
    "eval_length_bias",
    "pipeline_curriculum_order",
    # round-12 slate
    "scan_parquet_pageindex_string",
    "eval_position_bias",
    "eval_format_bias",
    # round-13 slate
    "scan_parquet_pageindex_nulls",
    "eval_confound_consensus",
    # round-14 slate
    "scan_parquet_pageindex_reader",
    "eval_confound_drilldown",
]

# Pay-once LAYOUT builders (bucketBy/partitionBy/zorder warehouse writes):
# in production these costs amortize over every later query, so pricing them
# inside the per-query headline number double-charges the layout.  They are
# timed identically but reported as a separate group and excluded from the
# headline total (VERDICT r3 item 4).
LAYOUT = [
    "sim_index_persist",
    "join_bucketed",
    "layout_bucket_agg",
    "join_partition_pruned",
    "layout_zorder",
    "layout_compaction",
]


def materialize(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


def _bench_group(spark, qs, names, sf_dir) -> dict[str, float]:
    # Best-of-2 per query: single-shot numbers at this scale carry 2-3x
    # run-to-run noise from tmp-dir IO and first-touch JIT (scan_orc_roundtrip
    # measured 0.48s vs 1.67s across r01 runs); min-of-2 reports steady-state
    # throughput, which is the quantity comparable across rounds.
    times: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
    return times


def _run_pair_baseline(rev: str) -> dict:
    """Run this same benchmark on another git rev in a disposable worktree
    and return its JSON record (VERDICT r10 item 4: cross-round bench
    numbers carry no signal without a SAME-BOX SAME-SESSION pair — r9's
    box state alone produced a 1.57x spread on identical code).  The
    baseline record is also saved to tools/bench_pair_baseline_<rev>.json
    so the round ledger can point at it."""
    import subprocess
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))
    rev = subprocess.run(
        ["git", "-C", root, "rev-parse", rev],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    wt = tempfile.mkdtemp(prefix="dfts_benchpair_")
    subprocess.run(
        ["git", "-C", root, "worktree", "add", "--detach", wt, rev],
        check=True, capture_output=True,
    )
    try:
        # PREPEND the worktree (ADVICE r11): replacing PYTHONPATH outright
        # would run the baseline leg without any session-provided deps,
        # breaking the same-session-pair premise of identical environments
        prior = os.environ.get("PYTHONPATH", "")
        pypath = wt + (os.pathsep + prior if prior else "")
        proc = subprocess.run(
            [sys.executable, os.path.join(wt, "bench.py")],
            check=True, capture_output=True, text=True,
            env={**os.environ, "PYTHONPATH": pypath},
            cwd=wt,
        )
        baseline = _full_record_from_stdout(proc.stdout)
        if baseline is None:
            raise RuntimeError(
                f"baseline rev {rev[:9]} printed no full JSON record line; "
                f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr}"
            )
    finally:
        subprocess.run(
            ["git", "-C", root, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
    baseline["rev"] = rev
    path = os.path.join(root, "tools", f"bench_pair_baseline_{rev[:9]}.json")
    with open(path, "w") as f:
        f.write(json.dumps(baseline) + "\n")
    return {
        "rev": rev,
        "headline_wall_sec": baseline["value"],
        "load1_start": baseline["machine"]["load1_start"],
        "json": os.path.relpath(path, root),
    }


def _full_record_from_stdout(stdout: str) -> dict | None:
    """Locate the FULL per-query bench record among stdout's JSON lines by
    CONTENT (a ``queries`` map and no ``summary`` marker), not by position.

    VERDICT r13 process item 1: position-based reads broke twice — the
    driver keeps the LAST 2000 chars of stdout (so the summary must be the
    final line), while r13's ``--pair`` read ``json_lines[-1]`` (so moving
    the summary last would have handed --pair the summary).  Content-based
    location works for both print orders, including old baseline revs that
    still print the record last."""
    for line in stdout.splitlines():
        if not line.startswith("{"):
            continue
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and "queries" in rec and not rec.get("summary"):
            return rec
    return None


def summary_record(record: dict) -> dict:
    """Compact, self-contained summary of a full bench record.

    VERDICT r12 process item 1 + r13 process item 1: the driver keeps the
    LAST ~2000 characters of stdout, so the giant single-line record left
    BENCH_r{11,12}.json with ``"parsed": null`` — and r13's summary-FIRST
    placement still did (the tail was the head-truncated record line).
    main() therefore prints THIS line (< 2 KB: headline and layout totals,
    query counts, machine block, top-10 slowest) as the FINAL stdout line,
    with the full per-query record before it.  Consumers wanting per-query
    times (``--pair``, round ledgers) locate the record line by CONTENT via
    :func:`_full_record_from_stdout`, never by position.
    """
    top10 = dict(
        sorted(record["queries"].items(), key=lambda kv: -kv[1])[:10]
    )
    return {
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "n_queries": len(record["queries"]),
        "layout_wall_sec": record["layout_wall_sec"],
        "n_layout": len(record["layout_queries"]),
        "sf": record["sf"],
        "machine": record["machine"],
        "top10_slowest": top10,
        "summary": True,
        "full_record": "the earlier stdout JSON line carrying a queries map",
        **(
            {"paired_baseline": record["paired_baseline"]}
            if "paired_baseline" in record
            else {}
        ),
    }


def main() -> None:
    pair_rev = None
    if "--pair" in sys.argv:
        idx = sys.argv.index("--pair")
        if idx + 1 >= len(sys.argv):
            sys.exit("bench.py: --pair requires a git rev argument")
        pair_rev = sys.argv[idx + 1]
    # optional settle time between the baseline leg and the HEAD leg
    # (ROUND14 handoff): --pair runs the legs back-to-back, so the HEAD
    # leg otherwise starts against the baseline leg's residual load
    # (r13 leg-2 load1 1.47, r14 2.28 — both flagged-adjacent)
    cooldown = 0
    if "--cooldown" in sys.argv:
        cidx = sys.argv.index("--cooldown")
        if cidx + 1 >= len(sys.argv):
            sys.exit("bench.py: --cooldown requires a seconds argument")
        cooldown = int(sys.argv[cidx + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Machine condition recorded IN the output (VERDICT r3 item 5): a uniform
    # +20-30% offset across unrelated queries in past rounds was traceable
    # only by narrative; load1 at start/end makes it attributable in-data.
    # (Spark's own executor threads inflate load DURING the run, so the
    # honest contention signal is load measured before the session starts.)
    # the baseline leg runs FIRST (own subprocess, own SparkSession) so
    # both legs share the box state of one session
    paired = _run_pair_baseline(pair_rev) if pair_rev else None
    if paired and cooldown:
        time.sleep(cooldown)

    load_start = round(os.getloadavg()[0], 2)
    spark = get_session("bench")

    # Warm-up: JVM, parquet footer caches and codegen — run every headline
    # and layout query once at the smallest SF.  Its ~3,200 compiled classes
    # reach the timed runs only because get_session's codegen cache holds
    # them all (this module's docstring).
    qs = registry.queries()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in HEADLINE + LAYOUT:
            try:
                materialize(qs[name](spark, warm_dir))
            except Exception:
                pass
    table(spark, sf_dir, "lineitem").count()
    times = _bench_group(spark, qs, HEADLINE, sf_dir)
    layout_times = _bench_group(spark, qs, LAYOUT, sf_dir)

    total = round(sum(times.values()), 3)
    record = {
        "metric": "headline_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "layout_queries": layout_times,
        "layout_wall_sec": round(sum(layout_times.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "machine": {
            "cpus": os.cpu_count(),
            "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
            "load1_start": load_start,
            "load1_end": round(os.getloadavg()[0], 2),
            # VERDICT r9 item 3: a busy box produced broad phantom
            # 1.3-1.9x "regressions" in r9's driver bench; flag the
            # condition IN the record so no reader mistakes machine
            # state for a code regression.  Numbers from a flagged
            # run need an A/B on unchanged code before comparison.
            "load1_high": load_start > 2.0,
        },
        **({"paired_baseline": paired} if paired else {}),
    }
    # Full per-query record first, compact summary as the FINAL stdout line:
    # the driver keeps the LAST 2000 chars of stdout, so the summary must
    # close the stream (--pair finds the record line by content, not
    # position — see _full_record_from_stdout).
    print(json.dumps(record))
    print(json.dumps(summary_record(record)))


if __name__ == "__main__":
    main()
