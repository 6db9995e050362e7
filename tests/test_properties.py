"""Property-based tests (hypothesis) for the pure cross-engine helpers —
the hex-draw thresholds, Morton interleave SQL, and LSH sizing that the
oracle determinism contract leans on."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_test_spark.pipeline._expr import lsh_bits
from datafusion_test_spark.pipeline.curation import _frac_threshold_hex
from datafusion_test_spark.sources.connectors import _Z_SQL


@given(st.floats(min_value=0.0, max_value=4.0, allow_nan=False))
def test_frac_threshold_hex_is_fraction_exact(rate):
    t = _frac_threshold_hex(rate)
    assert len(t) == 8 and t == t.lower()
    frac = rate - int(rate)
    assert abs(int(t, 16) / 16**8 - frac) <= 1.0 / 16**8 + 1e-12


def _morton_ref(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=255), st.integers(min_value=0, max_value=255))
def test_z_interleave_sql_matches_reference(x, y):
    got = duckdb.sql(f"SELECT {_Z_SQL} AS z FROM (SELECT {x} AS zx, {y} AS zy)").fetchone()[0]
    assert got == _morton_ref(x, y)


@given(st.integers(min_value=0, max_value=255), st.integers(min_value=0, max_value=255))
def test_morton_locality_monotone_in_each_dim_prefix(x, y):
    # z-order preserves per-dimension bit-prefix ordering: doubling a
    # coordinate's high bit always raises z past any lower-half value
    assert _morton_ref(x | 0x80, y) > _morton_ref(x & 0x7F, y)
    assert _morton_ref(x, y | 0x80) > _morton_ref(x, y & 0x7F)


@given(st.integers(min_value=1, max_value=10**12))
def test_lsh_bits_monotone_and_clamped(n):
    b = lsh_bits(n)
    assert 8 <= b <= 24
    assert lsh_bits(n * 2) >= b


@given(st.integers(min_value=1, max_value=400))
def test_bucketize_formula_equal_frequency(n):
    """feature_bucketize's bucket id floor((rank-1)*k/n): for any corpus
    size, bucket sizes differ by at most 1 and ids are the contiguous
    prefix of range(k) — the equal-frequency contract the operator's
    oracle restates over row_number()."""
    k = 10
    buckets = [(r * k) // n for r in range(n)]
    sizes = {}
    for b in buckets:
        sizes[b] = sizes.get(b, 0) + 1
    assert len(sizes) == min(k, n)
    if n >= k:  # full corpora fill every bucket exactly
        assert sorted(sizes) == list(range(k))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert buckets == sorted(buckets)


def test_drift_ks_partition_count_invariant(spark, sf_dir):
    """The two-phase prefix-sum KS statistic must not depend on how many
    range partitions carry the cumulative counts."""
    from datafusion_test_spark.pipeline.quality import drift_ks

    a = drift_ks(spark, sf_dir, par=3).collect()[0]
    b = drift_ks(spark, sf_dir, par=7).collect()[0]
    assert (a["n_a"], a["n_b"], a["d_num"], a["ks_stat"]) == (
        b["n_a"],
        b["n_b"],
        b["d_num"],
        b["ks_stat"],
    )


def test_pipeline_shuffle_partition_count_invariant(spark, sf_dir):
    """Global shuffle positions are a pure function of the data, not of
    the partition count used to compute the distributed rank."""
    from datafusion_test_spark.pipeline.curation import pipeline_shuffle

    a = {r["doc_id"]: r["pos"] for r in pipeline_shuffle(spark, sf_dir, par=3).collect()}
    b = {r["doc_id"]: r["pos"] for r in pipeline_shuffle(spark, sf_dir, par=7).collect()}
    assert a == b


def test_pipeline_curriculum_order_partition_count_invariant(spark, sf_dir):
    """Curriculum positions (all three stacked two-phase ranks) are a pure
    function of the data, not of the partition count."""
    from datafusion_test_spark.pipeline.curation import (
        pipeline_curriculum_order,
    )

    a = {
        r["doc_id"]: (r["bucket"], r["pos"])
        for r in pipeline_curriculum_order(spark, sf_dir, par=3).collect()
    }
    b = {
        r["doc_id"]: (r["bucket"], r["pos"])
        for r in pipeline_curriculum_order(spark, sf_dir, par=7).collect()
    }
    assert a == b


def test_two_phase_prefix_matches_pandas_cumsum(spark):
    """The shared helper must reproduce pandas' exclusive cumsum and rank
    for arbitrary (unsorted, duplicate-keyed) inputs at several partition
    counts — three operators ride on this arithmetic."""
    import pandas as pd

    from datafusion_test_spark._util import two_phase_prefix

    pdf = pd.DataFrame(
        {
            "k": [5, 1, 9, 3, 3, 7, 2, 8, 6, 4, 0, 9],
            "tie": list(range(12)),  # unique tiebreak -> total order
            "w": [2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37],
        }
    )
    expected = pdf.sort_values(["k", "tie"]).reset_index(drop=True)
    expected["pre_w"] = expected["w"].cumsum().shift(fill_value=0)
    expected["rnk"] = range(1, len(expected) + 1)
    df = spark.createDataFrame(pdf)
    for par in (1, 3, 5):
        out, totals = two_phase_prefix(
            df, ["k", "tie"], sum_cols=("w",), rank_as="rnk", par=par
        )
        got = (
            out.toPandas()
            .sort_values(["k", "tie"])
            .reset_index(drop=True)[["k", "tie", "w", "pre_w", "rnk"]]
        )
        assert got.astype("int64").equals(
            expected[["k", "tie", "w", "pre_w", "rnk"]].astype("int64")
        ), par
        t = totals.collect()[0]
        assert t["tot_w"] == int(pdf["w"].sum()) and t["tot_rows"] == len(pdf)


@given(
    st.integers(min_value=1, max_value=10**9),
    st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=200, deadline=None)
def test_integer_half_up_reciprocal_identity(r, scale):
    """(2·S + r) DIV 2r — the all-integer carrier eval_mrr/eval_ndcg use —
    must equal round-half-up(S/r) computed exactly (via Fraction), for any
    rank and scale."""
    from fractions import Fraction
    import math

    got = (2 * scale + r) // (2 * r)
    exact = Fraction(scale, r)
    want = math.floor(exact + Fraction(1, 2))
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # value
            st.integers(min_value=1, max_value=50),  # weight
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=100, deadline=None)
def test_weighted_median_crossing_properties(pairs):
    """The 2·cum ≥ tot crossing pick (agg_weighted_median's rule) always
    selects an existing value, and at least half the total weight sits at
    or below it while strictly less than half sits strictly below."""
    import collections

    w = collections.Counter()
    for v, wt in pairs:
        w[v] += wt
    tot = sum(w.values())
    cum = 0
    med = None
    for v in sorted(w):
        cum += w[v]
        if 2 * cum >= tot:
            med = v
            break
    assert med in w
    at_or_below = sum(wt for v, wt in w.items() if v <= med)
    below = sum(wt for v, wt in w.items() if v < med)
    assert 2 * at_or_below >= tot
    assert 2 * below < tot


def test_two_phase_prefix_grouped_matches_pandas(spark):
    """group_cols= must yield an INDEPENDENT exclusive cumsum + rank per
    group, matching pandas groupby-cumsum at several partition counts,
    with per-group totals."""
    import pandas as pd

    from datafusion_test_spark._util import two_phase_prefix

    pdf = pd.DataFrame(
        {
            "grp": ["a", "b", "a", "c", "b", "a", "c", "b", "a", "b"],
            "k": [5, 1, 9, 3, 3, 7, 2, 8, 6, 4],
            "tie": list(range(10)),
            "w": [2, 3, 5, 7, 11, 13, 17, 19, 23, 29],
        }
    )
    expected = pdf.sort_values(["grp", "k", "tie"]).reset_index(drop=True)
    expected["pre_w"] = (
        expected.groupby("grp")["w"].cumsum() - expected["w"]
    )
    expected["rnk"] = expected.groupby("grp").cumcount() + 1
    df = spark.createDataFrame(pdf)
    for par in (1, 3, 5):
        out, totals = two_phase_prefix(
            df, ["k", "tie"], sum_cols=("w",), rank_as="rnk",
            group_cols=("grp",), par=par,
        )
        got = (
            out.toPandas()
            .sort_values(["grp", "k", "tie"])
            .reset_index(drop=True)[["grp", "k", "tie", "w", "pre_w", "rnk"]]
        )
        exp = expected[["grp", "k", "tie", "w", "pre_w", "rnk"]]
        assert got["grp"].tolist() == exp["grp"].tolist(), par
        for c in ("k", "tie", "w", "pre_w", "rnk"):
            assert got[c].astype("int64").tolist() == exp[c].astype(
                "int64"
            ).tolist(), (par, c)
        t = {r["grp"]: r for r in totals.collect()}
        for grp, sub in pdf.groupby("grp"):
            assert t[grp]["tot_w"] == int(sub["w"].sum())
            assert t[grp]["tot_rows"] == len(sub)


def test_drift_timeline_day_equals_whole_corpus_ks_on_filtered_input(
    spark, sf_dir
):
    """Each day's row must equal drift_ks run on that day's slice alone
    (the timeline is n independent KS tests, not one pooled one) — checked
    for the first 3 days, plus partition-count invariance of the whole
    frame."""
    from pyspark.sql import functions as F

    from datafusion_test_spark.io import table
    from datafusion_test_spark.pipeline.quality import (
        drift_ks,
        drift_timeline,
    )

    tl = {r["day"]: r for r in drift_timeline(spark, sf_dir).collect()}
    tl7 = {r["day"]: r for r in drift_timeline(spark, sf_dir, par=7).collect()}
    assert set(tl) == set(tl7)
    for d in tl:
        assert tuple(tl[d]) == tuple(tl7[d]), d
    days = sorted(tl)[:3]
    ev = table(spark, sf_dir, "events")
    for d in days:
        day_slice = ev.filter(F.to_date("ts") == F.lit(d))

        # drift_ks reads the table itself; rebuild its pipeline on the
        # day slice via a temp view swap is heavier than re-deriving —
        # assert against a driver-side brute force instead
        rows = (
            day_slice.filter(
                F.col("event_type").isin("view", "click")
                & F.col("value").isNotNull()
            )
            .select("event_type", "value")
            .collect()
        )
        a = sorted(r["value"] for r in rows if r["event_type"] == "view")
        b = sorted(r["value"] for r in rows if r["event_type"] == "click")
        cuts = sorted(set(a) | set(b))
        import bisect

        d_num = max(
            abs(
                bisect.bisect_right(a, c) * len(b)
                - bisect.bisect_right(b, c) * len(a)
            )
            for c in cuts
        )
        assert tl[d]["n_a"] == len(a) and tl[d]["n_b"] == len(b), d
        assert tl[d]["d_num"] == d_num, d


def test_half_up_three_way_agreement_on_ties(spark):
    """The engine-stable rounding must produce the SAME result in python,
    Spark, and DuckDB — including on exact .xxxx5 ties where round()
    semantics differ between engines."""
    import math

    import duckdb

    from pyspark.sql import functions as F

    from datafusion_test_spark._util import half_up, sql_half_up

    vals = [-0.00005, 0.00005, 0.12345, -0.12345, 1.00005, -1.00005, 0.0,
            48.69125, 2.5e-05, -0.0001499999]
    py = [math.floor(v * 10000 + 0.5) / 10000 for v in vals]
    con = duckdb.connect()
    duck = [
        # CAST: a bare numeric literal parses as DECIMAL in DuckDB, but
        # every real oracle feeds sql_half_up a DOUBLE expression
        con.sql(f"SELECT {sql_half_up(f'CAST({v!r} AS DOUBLE)')} AS x").fetchone()[0]
        for v in vals
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r["x"]
        for r in df.select(half_up(F.col("v")).alias("x"), "v")
        .orderBy("v")
        .collect()
    ]
    want = [x for _, x in sorted(zip(vals, py))]
    assert duck == py
    assert got == want


def test_dsum_engine_parity(spark):
    """Spark dsum and DuckDB sql_dsum give the same double per group.

    Spark casts a double to DECIMAL(18,6) through its shortest decimal
    string, HALF_UP; DuckDB's plain cast rounds the binary value, so the
    two disagree on 7th-decimal ties (123456.7890125 -> .789013 vs
    .789012).  Inputs: ties of both signs, 2-dp money values, full-
    precision doubles and doubles rounded to 2-12 decimals, BIGINT and
    DECIMAL columns, NULLs, and a group summing every tie."""
    import random
    from decimal import Decimal

    import pyarrow as pa

    from pyspark.sql import functions as F

    from datafusion_test_spark._util import dsum, sql_dsum

    rng = random.Random(14)
    ties = [123456.7890125, -123456.7890125, 5e-07, -5e-07, 1.0000005]
    ties += [
        float(f"{s}{rng.randrange(100000)}.{rng.randrange(10**6):06d}5")
        for s in ("", "-") for _ in range(100)
    ]
    vals = ties + [round(rng.uniform(-1e4, 1e4), 2) for _ in range(200)]
    vals += [rng.uniform(-1e6, 1e6) for _ in range(200)]
    vals += [round(rng.uniform(-1e6, 1e6), rng.randint(2, 12)) for _ in range(400)]
    rows = [
        (g, v, rng.randrange(-(10**11), 10**11), Decimal(f"{rng.uniform(-1e6, 1e6):.2f}"))
        for g, v in enumerate(vals, start=1)
    ]
    rows += [(0, v, None, None) for v in ties]  # one group sums every tie
    rows += [(-1, None, None, None), (-2, None, 7, Decimal("0.05"))]

    sdf = spark.createDataFrame(rows, "g int, v double, n bigint, m decimal(12,2)")
    got = {
        r["g"]: (r["sv"], r["sn"], r["sm"])
        for r in sdf.groupBy("g")
        .agg(dsum(F.col("v"), "sv"), dsum(F.col("n"), "sn"), dsum(F.col("m"), "sm"))
        .collect()
    }
    t = pa.table(
        {
            "g": pa.array([r[0] for r in rows], pa.int32()),
            "v": pa.array([r[1] for r in rows], pa.float64()),
            "n": pa.array([r[2] for r in rows], pa.int64()),
            "m": pa.array([r[3] for r in rows], pa.decimal128(12, 2)),
        }
    )
    con = duckdb.connect()
    con.register("t", t)
    want = {
        g: (sv, sn, sm)
        for g, sv, sn, sm in con.execute(
            f"SELECT g, {sql_dsum('v')}, {sql_dsum('n')}, {sql_dsum('m')} "
            "FROM t GROUP BY g"
        ).fetchall()
    }
    diff = {g: (got[g], want[g]) for g in want if got.get(g) != want[g]}
    assert got.keys() == want.keys()
    assert not diff, f"{len(diff)} groups differ, e.g. {list(diff.items())[:5]}"


def test_safe_corr_matches_duckdb_and_nulls_on_zero_variance(spark):
    """_util.safe_corr must (a) equal each engine's Pearson corr to 4
    decimals on varying data and (b) be NULL on a constant column — where
    Spark 4's builtin corr RAISES under ANSI mode (the round-5
    zero-variance gate finding)."""
    import duckdb

    from pyspark.sql import functions as F

    from datafusion_test_spark._util import safe_corr

    rows = [(1.0, 2.0), (2.0, 3.5), (3.0, 3.0), (4.0, 6.5), (5.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = df.agg(F.round(safe_corr("x", "y"), 4).alias("c")).collect()[0]["c"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE, y DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute("SELECT round(corr(x, y), 4) FROM t").fetchone()[0]
    assert got == want
    # constant column -> NULL, not a raise, matching DuckDB
    const = spark.createDataFrame([(1.0, v) for _, v in rows], "x double, y double")
    assert const.agg(safe_corr("x", "y").alias("c")).collect()[0]["c"] is None
    assert con.execute("SELECT corr(x, x * 0 + 1) FROM t").fetchone()[0] is None


def test_krippendorff_alpha_properties(spark):
    """Pins for _alpha_of_ratings (eval_krippendorff_alpha's core):
    perfect agreement ⇒ α = 1; category relabeling leaves α unchanged;
    independent-looking disagreement pushes α below 1; units with a
    single rating are excluded (no pairable information)."""
    from datafusion_test_spark.pipeline.evals import _alpha_of_ratings

    def alpha(rows):
        r = spark.createDataFrame(rows, "doc_id long, k int, c int")
        return _alpha_of_ratings(r).collect()[0]

    # perfect agreement over 4 units x 3 annotators
    perfect = [(u, k, u % 3) for u in range(4) for k in (1, 2, 3)]
    row = alpha(perfect)
    assert row["alpha"] == 1.0 and row["do_s2"] == 0
    assert row["n_units"] == 4 and row["n_ratings"] == 12

    # mixed agreement: one unit splits 2-vs-1
    mixed = [(0, 1, 0), (0, 2, 0), (0, 3, 1),
             (1, 1, 1), (1, 2, 1), (1, 3, 1),
             (2, 1, 2), (2, 2, 2)]
    a1 = alpha(mixed)
    assert a1["alpha"] is not None and a1["alpha"] < 1.0

    # category relabeling invariance (0<->2 swap)
    relabeled = [(u, k, {0: 2, 1: 1, 2: 0}[c]) for u, k, c in mixed]
    assert alpha(relabeled)["alpha"] == a1["alpha"]

    # single-rating units carry no pairable information
    padded = mixed + [(9, 1, 3)]
    a2 = alpha(padded)
    assert a2["n_units"] == a1["n_units"] and a2["alpha"] == a1["alpha"]
