"""Degenerate-corpus regression pins (round 5).

At 100 TB an EMPTY relation is a normal runtime state — a pruned
partition, a filtered date range, a cold tenant — and a 1-row relation
exercises every n<2 denominator.  The round-5 degenerate-input gate
(tools/make_degenerate.py + tools/check_oracles.py over empty/tiny
corpora) found 22 empty-input and 8 tiny-input parity breaks; this test
pins the crash-class fixes so they cannot regress:

* ANSI DIVIDE_BY_ZERO in claim ratios (agg_approx_distinct,
  agg_hll_merge) and bucket widths (agg_histogram with hi == lo);
* schema-less re-reads of self-written empty layouts
  (write_partitioned, join_partition_pruned);
* empty-sequence min()/max() over parquet footers (layout_zonemap,
  layout_zorder, layout_compaction);
* zero-partial driver merges (embed_pca) and never-firing observations
  (observe_metrics);
* the ANN family's "no corpus -> no query vector -> no result row"
  contract (sim_ivf / sim_ivfpq / embed_pq / embed_pq_residual /
  sim_ann_lsh / sim_index_persist return 0 rows; their oracles carry
  the same guard).

Only the Spark side runs here (fast); full both-engine parity over all
334 entries is the check_oracles degenerate sweep, run at round close.
"""

from __future__ import annotations

import pytest

from datafusion_test_spark.registry import queries as registry_queries


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from make_degenerate import build as build_corpora

    root = str(tmp_path_factory.mktemp("degenerate"))
    build_corpora("/root/testdata/sf0.001", root)
    return root


# entries that crashed (not merely mismatched) before the round-5 fixes
CRASHERS = [
    "agg_approx_distinct",
    "agg_hll_merge",
    "agg_histogram",
    "write_partitioned",
    "join_partition_pruned",
    "layout_zonemap",
    "layout_zorder",
    "observe_metrics",
    "embed_pca",
    "sim_index_persist",
]

# ANN entries whose empty-corpus contract is "no query vector -> 0 rows"
ANN_EMPTY_ZERO = [
    "sim_ivf",
    "sim_ivfpq",
    "embed_pq",
    "embed_pq_residual",
    "sim_ann_lsh",
    "sim_index_persist",
]


@pytest.mark.parametrize("name", CRASHERS)
def test_no_crash_on_empty_and_tiny(spark, corpora, name):
    queries = registry_queries()
    for mode in ("empty", "tiny"):
        # must execute to completion; row counts/values are pinned by the
        # check_oracles degenerate sweep, not here
        queries[name](spark, f"{corpora}/{mode}").collect()


@pytest.mark.parametrize("name", ANN_EMPTY_ZERO)
def test_ann_empty_corpus_yields_no_rows(spark, corpora, name):
    queries = registry_queries()
    assert queries[name](spark, f"{corpora}/empty").collect() == []


# entries that crashed or broke parity on the zero-variance corpus
# (every value column constant, keys unique) before the round-5 fixes
CONST_SENSITIVE = [
    "agg_stats",        # builtin corr raises ANSI div-0 on zero variance
    "agg_corr_matrix",  # same, across every measure pair
    "agg_minmax_by",    # max_by/min_by nondeterministic under ties
    "layout_zonemap",   # constant cluster key -> one file, claims vacuous
    "layout_zorder",
    "sim_ivf",          # identical vectors -> one occupied IVF cell
    "sim_ivfpq",
]


@pytest.mark.parametrize("name", CONST_SENSITIVE)
def test_no_crash_on_zero_variance(spark, corpora, name):
    queries = registry_queries()
    queries[name](spark, f"{corpora}/const").collect()


def test_minmax_by_tie_break_deterministic(spark, corpora):
    """All prices equal -> both argmax and argmin must resolve to the
    SMALLEST o_orderkey per the composite tie-break, on every run."""
    queries = registry_queries()
    rows = queries["agg_minmax_by"](spark, f"{corpora}/const").collect()
    assert len(rows) == 1
    assert rows[0]["biggest_order"] == 0
    assert rows[0]["smallest_order"] == 0


# entries that CRASHED (not merely hash-diverged) on the nulls corpus
# before the round-6 fixes: Python UDFs doing arithmetic/str ops on None,
# np.stack over ragged batches, element_at past a null-shortened list,
# parquet footer stats without min/max on all-NULL row groups, ANSI 0/0
# when every EWMA lag is NULL, and a JSON fixture whose NULL-field lines
# rendered to NULL and vanished
NULLS_CRASHERS = [
    "udf_python",
    "udf_arrow",
    "udaf_grouped",
    "udtf_python_api",
    "embed_pca",
    "win_median_sliding",
    "win_ewma",
    "layout_zonemap",
    "layout_zorder",
    "mm_decode_stub",
    "mm_feature_stub",
    "mm_resize_stub",
    "scan_binary_files",
    "scan_json_corrupt",
]


@pytest.mark.parametrize("name", NULLS_CRASHERS)
def test_no_crash_on_nulls(spark, corpora, name):
    # execute-to-completion pin; cross-engine parity over all 334 entries
    # is the check_oracles nulls sweep at round close
    queries = registry_queries()
    queries[name](spark, f"{corpora}/nulls").collect()


# the canonical hot-key state: one value owns ~90% of every FK column.
# These entries' invariants were distribution-DEPENDENT before round 6
# (layout_zorder's per-file area bound) or involve per-key group sizes
# the skew reshapes hardest
SKEW_SENSITIVE = [
    "layout_zorder",      # area bound -> z-range disjointness invariant
    "agg_skew_diagnose",  # the hot-key fingerprint itself
    "join_skew_salted",   # the salting path under real skew
    "dedup_clusters",     # giant duplicate groups from repointed keys
]


@pytest.mark.parametrize("name", SKEW_SENSITIVE)
def test_no_crash_on_skew(spark, corpora, name):
    queries = registry_queries()
    queries[name](spark, f"{corpora}/skew").collect()


# round-7 unicode corpus: entries that CRASHED (fn_url: ANSI parse_url
# raises on an invalid URL) or corrupted ROW INTEGRITY (scan_csv_roundtrip:
# the default reader record-splits quoted embedded newlines, 150 rows came
# back as 156) before the round-7 fixes
UNICODE_SENSITIVE = [
    "fn_url",
    "scan_csv_roundtrip",
    "dedup_url",
    "text_tfidf",
    "text_keywords_rake",
    "mm_decode_stub",
    "mm_resize_stub",
]


@pytest.mark.parametrize("name", UNICODE_SENSITIVE)
def test_no_crash_on_unicode(spark, corpora, name):
    # execute-to-completion pin; cross-engine parity over all 334 entries
    # is the check_oracles unicode sweep at round close
    queries = registry_queries()
    queries[name](spark, f"{corpora}/unicode").collect()


def test_csv_roundtrip_row_integrity_on_unicode(spark, corpora):
    """Embedded CR/LF in quoted CSV fields must NOT split records: the
    roundtrip row count equals the source row count exactly."""
    import pyarrow.parquet as pq

    queries = registry_queries()
    src = pq.read_metadata(f"{corpora}/unicode/customer.parquet").num_rows
    got = queries["scan_csv_roundtrip"](spark, f"{corpora}/unicode").count()
    assert got == src


def test_ascii_lower_engine_parity(spark):
    """The portable-casing contract: Spark ascii_lower == DuckDB
    sql_ascii_lower on the full adversarial pool — including the strings
    where real lower()/upper() provably diverge (İ, ß, final Σ)."""
    import duckdb

    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from make_degenerate import _UNI_POOL

    from datafusion_test_spark._util import ascii_lower, sql_ascii_lower

    df = spark.createDataFrame([(s,) for s in _UNI_POOL], "s string")
    got = [r[0] for r in df.select(ascii_lower("s")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {sql_ascii_lower('?')}", [s]).fetchone()[0]
        for s in _UNI_POOL
    ]
    assert got == want


# round-7 ieee corpus: non-finite floats (NaN/±Inf in events.value, NaN
# elements in embeddings) — classes that CRASHED before the finite-
# measurement contract: ANSI float->int casts and DECIMAL sums of NaN
# (Spark raises, DuckDB raises on its side), long-overflow in cents-scaled
# sums of Inf, and ANN self-verification anchored on a poisoned query
# vector.  The contract: _util.finite/finite_vec at the observed-rows
# base, io.table's embeddings guard, and its twin io.SQL_FINITE_EMBEDDINGS
# in every oracle.
IEEE_SENSITIVE = [
    "feature_rfm_score",     # cast(floor(value*10000)) of NaN raised
    "feature_winsorize",
    "ts_changepoint",        # long overflow summing Inf cents
    "win_control_chart",
    "win_drawdown",
    "sim_ivf",               # query vector was the poisoned min vec_id
    "sim_ann_lsh",
    "embed_pq",
    "eval_ab_ztest",
    "stream_stateful_run",   # pandas state summed Inf
]


@pytest.mark.parametrize("name", IEEE_SENSITIVE)
def test_no_crash_on_ieee(spark, corpora, name):
    # execute-to-completion pin; cross-engine parity over all 334 entries
    # is the check_oracles ieee sweep at round close
    queries = registry_queries()
    queries[name](spark, f"{corpora}/ieee").collect()


def test_finite_helpers_engine_parity(spark):
    """finite()/sql_finite() and finite_vec()/sql_finite_vec() agree on
    the full non-finite cross-product, reading REAL parquet (duckdb's
    Python param binding converts nan->NULL inside lists, so the file
    path is the only honest fixture)."""
    import math
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_test_spark._util import (
        finite, finite_vec, sql_finite, sql_finite_vec,
    )

    nan, inf = float("nan"), float("inf")
    rows = [
        (0, 1.5, [1.0, 2.0]),
        (1, nan, [1.0, nan]),
        (2, inf, [inf, 1.0]),
        (3, -inf, [-inf]),
        (4, None, None),
        # NULL element INSIDE a vector: pinned as "vector absent" — a
        # bare F.exists would return NULL (not false) here and diverge
        # from the oracle's list_filter, which drops NULL-predicate
        # elements (advisor r7)
        (5, 2.5, [1.0, None]),
        (6, 3.5, [None]),
    ]
    t = pa.table(
        {
            "i": [r[0] for r in rows],
            "v": pa.array([r[1] for r in rows], type=pa.float64()),
            "e": pa.array([r[2] for r in rows], type=pa.list_(pa.float32())),
        }
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix="dfts_ieee_pin_")
    path = os.path.join(d, "t.parquet")
    pq.write_table(t, path)

    sdf = spark.read.parquet(path).select(
        "i", finite("v").alias("fv"), finite_vec("e").alias("fe")
    )
    got = {r["i"]: (r["fv"], r["fe"]) for r in sdf.collect()}
    con = duckdb.connect()
    want = {
        i: (fv, fe)
        for i, fv, fe in con.execute(
            f"SELECT i, {sql_finite('v')}, {sql_finite_vec('e')} "
            f"FROM read_parquet('{path}')"
        ).fetchall()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        a, b = got[i][1], want[i][1]
        assert (a is None) == (b is None), (i, a, b)
        if a is not None:
            assert [float(x) for x in a] == [float(x) for x in b]


# round-7 dup-heavy corpus: every row cloned 4x — the corpus-scale
# tie-break saturation state.  First sweep was 332/334 (the composite-
# ordering discipline held); these pins keep the dedup/top-k families
# executing on it
DUP_SENSITIVE = [
    "dedup_exact",
    "dedup_paragraph",
    "dedup_minhash",
    "dedup_clusters",
    "topk_per_group",
    "agg_minmax_by",
    "agg_mode_median",
]


@pytest.mark.parametrize("name", DUP_SENSITIVE)
def test_no_crash_on_dup(spark, corpora, name):
    queries = registry_queries()
    queries[name](spark, f"{corpora}/dup").collect()


# round-8 time-edges corpus: adversarial calendar instants (epoch
# boundaries, the 1582 Julian gap, leap days, time_t max, year 1/9999).
# First sweep found three real classes, all pinned here: (a) grid-deriving
# ops exploding the min..max time grid on ONE out-of-domain row
# (rollup_gapfill: 2.5 GiB driver result; ts_resample_interp: hang) — the
# sane-time-domain contract (_util.sane_ts_filter) bounds them; (b) window
# END / derived-instant arithmetic at 9999-12-31 overflowing the
# representable year (stream_tumbling, fn_date); (c) the Arrow→pandas
# boundary crashing on instants outside pandas' ns range (stream_
# stateful_run — fixed by column-pruning ts before the Python boundary).
TIME_SENSITIVE = [
    "rollup_gapfill",
    "ts_resample_interp",
    "stream_tumbling",
    "stream_sliding",
    "stream_watermark_late",
    "stream_stateful_run",
    "fn_date",
    "scan_orc_roundtrip",
    "join_asof",            # point-in-time op: must HANDLE ancient/extreme ts
    "stream_session",
]


@pytest.mark.parametrize("name", TIME_SENSITIVE)
def test_no_crash_on_time(spark, corpora, name):
    queries = registry_queries()
    df = queries[name](spark, f"{corpora}/time")
    # full evaluation WITHOUT an O(result) driver transfer: the grid ops
    # legitimately emit ~6M rows on this corpus (the noop sink runs the
    # whole plan JVM-side; cross-engine parity is check_oracles' job)
    df.write.mode("overwrite").format("noop").save()


def test_sane_ts_helpers_engine_parity(spark):
    """sane_ts_filter()/sql_sane_ts_where() keep/drop exactly the same
    rows in both engines across the edge instants the time corpus plants:
    the [1900, 2100) boundaries are half-open, year-1/9999 extremes drop,
    NULL drops (a grid cannot anchor on it), and everything operational
    survives.  Reads REAL parquet for the same reason as the finite pin."""
    import datetime as dt
    import os
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_test_spark._util import sane_ts_filter, sql_sane_ts_where

    rows = [
        (0, dt.datetime(1, 1, 2)),                      # drop (ancient)
        (1, dt.datetime(1582, 10, 10, 12, 0)),          # drop (pre-domain)
        (2, dt.datetime(1899, 12, 31, 23, 59, 59, 999999)),  # drop (lo-1µs)
        (3, dt.datetime(1900, 1, 1)),                   # keep (lo inclusive)
        (4, dt.datetime(1969, 12, 31, 23, 59, 59)),     # keep (pre-epoch)
        (5, dt.datetime(2024, 2, 29, 12, 0)),           # keep
        (6, dt.datetime(2099, 12, 31, 23, 59, 59, 999999)),  # keep (hi-1µs)
        (7, dt.datetime(2100, 1, 1)),                   # drop (hi exclusive)
        (8, dt.datetime(9999, 12, 31, 23, 59)),         # drop (far future)
        (9, None),                                      # drop (no anchor)
    ]
    t = pa.table(
        {
            "i": [r[0] for r in rows],
            "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
        }
    )
    d = tempfile.mkdtemp(prefix="dfts_time_pin_")
    path = os.path.join(d, "t.parquet")
    pq.write_table(t, path)

    sdf = sane_ts_filter(spark.read.parquet(path))
    got = sorted(r["i"] for r in sdf.select("i").collect())
    con = duckdb.connect()
    want = sorted(
        i
        for (i,) in con.execute(
            f"SELECT i FROM read_parquet('{path}') WHERE {sql_sane_ts_where('ts')}"
        ).fetchall()
    )
    assert got == want == [3, 4, 5, 6]


def test_md5_capped_sample_engine_parity(spark):
    """md5_capped_sample()/sql_md5_capped() select the identical shingle
    subset in both engines — the determinism the round-9 per-document
    shingle cap (_SHINGLE_CAP) rests on.  Covers: cap binding (element
    set > cap), cap not binding, unicode elements (md5 is over UTF-8
    bytes on both engines), and input-order independence (the draw is a
    pure function of the element SET).  Reads REAL parquet like the
    finite/sane-ts pins."""
    import os
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datafusion_test_spark.pipeline._expr import (
        md5_capped_sample,
        sql_md5_capped,
    )

    big = [f"tok{i} alpha{i % 7} beta{i % 13}" for i in range(40)]
    rows = [
        (0, big),                    # 40 elements, cap=10 binds
        (1, list(reversed(big))),    # same SET, reversed order -> same draw
        (2, ["a b c", "d e f"]),     # under cap: passthrough
        (3, ["héllo wörld ünï", "ab cd éf", "x y z", *big[:20]]),  # unicode
        (4, []),                     # empty
    ]
    t = pa.table(
        {
            "i": [r[0] for r in rows],
            "sh": pa.array([r[1] for r in rows], type=pa.list_(pa.string())),
        }
    )
    d = tempfile.mkdtemp(prefix="dfts_cap_pin_")
    path = os.path.join(d, "t.parquet")
    pq.write_table(t, path)

    cap = 10
    sdf = spark.read.parquet(path).select(
        "i", md5_capped_sample(F.col("sh"), cap).alias("c")
    )
    got = {r["i"]: sorted(r["c"]) for r in sdf.collect()}
    con = duckdb.connect()
    want = {
        i: sorted(c)
        for i, c in con.execute(
            f"SELECT i, {sql_md5_capped('sh', cap)} FROM read_parquet('{path}')"
        ).fetchall()
    }
    assert got == want
    assert len(got[0]) == cap and got[0] == got[1]  # order-independent draw
    assert got[2] == ["a b c", "d e f"]             # under-cap passthrough
    assert set(got[0]) < set(big)                   # a true subset


def test_shingle_explode_hang_proof(spark, sf_dir):
    """Plan-shape ratchet for the round-9 long-document fix: in the
    executed plan of the shingle inverted index, (1) split(text) is
    evaluated in exactly ONE operator — the inferred-generate-filter must
    NOT be pushed below the tokenize Project, where interpreted HOF
    lambdas re-split the text once per element, O(words²·bytes) per doc
    (jstack-verified executor hang on a 200 KB doc); (2) no Filter
    evaluates the shingle transform at all (explode_outer prevents the
    inference); (3) the full shingle expression appears in exactly one
    operator — projected ABOVE the Generate it would be recomputed once
    per exploded row, O(shingles·words) per doc (the judge-measured
    477.8 s straggler)."""
    from datafusion_test_spark.pipeline import dedup as D

    pairs = D._shingle_pairs(spark, sf_dir)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    saw_outer_generate = False
    for line in plan.splitlines():
        # (1)+(2): the expensive expressions may appear only in Projects
        # (the chain legitimately recurs across the hot-key branch and
        # both cached join sides) — never in a Filter (pushdown would
        # re-split per element) and never above a Generate's output.
        if "Filter" in line and ("array_distinct" in line or "split(text" in line):
            raise AssertionError(f"shingle expr leaked into a Filter: {line}")
        if ("split(text" in line or "array_distinct" in line) and "Project" not in line:
            raise AssertionError(f"shingle expr outside a Project: {line}")
        # (3): the Generate must consume the materialized array and retain
        # scalars only — 'sh_arr' exactly once per line (the generator
        # argument), or the array is being copied into every exploded row.
        if "Generate explode" in line:
            saw_outer_generate = True
            assert line.count("sh_arr") == 1, f"array retained through Generate: {line}"
            assert "explode(sh_arr" in line, f"inline shingle expr in Generate: {line}"
    assert saw_outer_generate, plan


def test_grouping_sets_witnessed_contract_on_empty_input(spark, corpora):
    """The former checker allowlist, converted to a stated contract
    (r12, VERDICT r11 item 4): agg_rollup/agg_cube/agg_grouping_sets
    emit only grouping-set rows WITNESSED by >= 1 input row.  Over an
    empty relation the SQL standard (and DuckDB) natively emit an
    unwitnessed global () row with count 0 while Spark emits nothing;
    the HAVING COUNT(*) >= 1 clause both engines now state makes them
    agree — this pin proves (a) both emit ZERO rows on empty input,
    and (b) the clause is load-bearing on the DuckDB side (without it
    the oracle emits the () row, the exact divergence the allowlist
    used to paper over)."""
    import duckdb

    from datafusion_test_spark.io import TABLES
    from datafusion_test_spark.operators import aggregates
    from datafusion_test_spark.registry import oracle_sql

    empty = f"{corpora}/empty"
    oracles = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{empty}/{t}.parquet')"
        )
    for name in ("agg_rollup", "agg_cube", "agg_grouping_sets"):
        assert aggregates.QUERIES[name](spark, empty).collect() == [], name
        sql = oracles[name]
        assert "HAVING COUNT(*) >= 1" in sql, name
        assert con.sql(sql).fetchall() == [], name
        # the clause is load-bearing: stripping it resurrects the
        # standard's unwitnessed () row on the DuckDB side
        stripped = sql.replace("HAVING COUNT(*) >= 1", "")
        assert len(con.sql(stripped).fetchall()) == 1, name


def test_format_marker_expressions_engine_parity(spark):
    """eval_format_bias's three structural markers must score IDENTICALLY
    in Spark (substring/instr/rlike) and DuckDB
    (substring/strpos/regexp_matches) on the full adversarial unicode
    pool — the direct parity pin localizing what the end-to-end unicode
    hash sweep verifies in aggregate (combining marks, astral letters,
    RTL, regex metacharacters AS DATA, zero-width chars)."""
    import duckdb

    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from make_degenerate import _UNI_POOL

    from pyspark.sql import functions as F

    pool = list(_UNI_POOL) + ['{"k": 42}', "[1, 2]", '":', "12", "1", ""]
    score = (
        F.when(F.substring("s", 1, 1).isin("{", "["), 1).otherwise(0)
        + F.when(F.instr("s", '":') > 0, 1).otherwise(0)
        + F.when(F.col("s").rlike("[0-9][0-9]"), 1).otherwise(0)
    )
    got = [
        r["f"]
        for r in spark.createDataFrame([(s,) for s in pool], "s string")
        .select(score.alias("f"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            """
            SELECT (CASE WHEN substring(?, 1, 1) IN ('{', '[')
                         THEN 1 ELSE 0 END)
                 + (CASE WHEN strpos(?, '":') > 0 THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(?, '[0-9][0-9]')
                         THEN 1 ELSE 0 END)
            """,
            [s, s, s],
        ).fetchone()[0]
        for s in pool
    ]
    assert got == want, [
        (s, g, w) for s, g, w in zip(pool, got, want) if g != w
    ]


def test_pageindex_string_key_lpad_parity_beyond_pad_width(spark):
    """The string page-index key uses lpad(..., 12, '0'): both engines
    TRUNCATE to the first 12 characters when the input is longer, so the
    derived keys stay equal even for a hypothetical >12-digit keyspace
    (never reached by any corpus — pinned here so the shared-expression
    claim doesn't silently rest on corpus size)."""
    import duckdb

    from pyspark.sql import functions as F

    vals = [0, 7, 999999999999, 1000000000000, 12345678901234]
    got = [
        r["k"]
        for r in spark.createDataFrame([(v,) for v in vals], "v long")
        .select(
            F.concat(
                F.lpad(F.col("v").cast("string"), 12, "0"), F.lit("x" * 20)
            ).alias("k")
        )
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT lpad(CAST(? AS VARCHAR), 12, '0') || repeat('x', 20)",
            [v],
        ).fetchone()[0]
        for v in vals
    ]
    assert got == want, list(zip(vals, got, want))
