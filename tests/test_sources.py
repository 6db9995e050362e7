"""Generator / bootstrap / cancellation tests (SURVEY §2.1 Tier A parity)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datafusion_test_spark.cancel import cancel_once, markdown_table
from datafusion_test_spark.sources.generate import (
    find_or_generate,
    generate_random_table,
)


def test_generated_schema_matches_reference(spark):
    """11 columns: A,B,C double; D boolean; E..K string (src/main.rs:233-245)."""
    df = generate_random_table(spark, n_rows=1000, seed=1)
    dtypes = dict(df.dtypes)
    assert [c for c, _ in df.dtypes] == list("ABCDEFGHIJK")
    assert all(dtypes[c] == "double" for c in "ABC")
    assert dtypes["D"] == "boolean"
    assert all(dtypes[c] == "string" for c in "EFGHIJK")


def test_generated_domains(spark):
    df = generate_random_table(spark, n_rows=5000, seed=2)
    stats = df.agg(
        F.min("A").alias("mn"),
        F.max("A").alias("mx"),
        F.min(F.length("E")).alias("lmin"),
        F.max(F.length("E")).alias("lmax"),
        F.sum(F.when(F.col("E").rlike("^[0-9A-Za-z]{10}$"), 0).otherwise(1)).alias("bad"),
        F.sum(F.when(F.col("D"), 1).otherwise(0)).alias("ntrue"),
    ).collect()[0]
    assert 0.0 <= stats["mn"] and stats["mx"] < 1.0
    assert stats["lmin"] == 10 and stats["lmax"] == 10 and stats["bad"] == 0
    assert 0.4 < stats["ntrue"] / 5000 < 0.6  # fair coin


def test_generator_method_jit_compilable(spark):
    """Every method whole-stage codegen emits for the 11-column generator
    must fit HotSpot's HugeMethodLimit (8,000 bytes), or generation runs in
    the bytecode interpreter.  Per-character lookups emitted 14,054 bytes."""
    from datafusion_test_spark.plans.introspect import max_method_bytes

    df = generate_random_table(spark, 1000, 1)
    assert len(df.columns) == 11
    assert max_method_bytes(df) <= 8000


def test_generator_deterministic_for_seed(spark):
    def digest(seed):
        df = generate_random_table(spark, 1000, seed=seed)
        return df.agg(F.sum("A"), F.bit_xor(F.xxhash64(*"EFGHIJK"))).collect()[0]

    assert digest(9) == digest(9)
    assert digest(9)[1] != digest(10)[1]  # the seed reaches the strings


def test_find_or_generate_idempotent(spark, tmp_path):
    d = str(tmp_path / "data")
    first = find_or_generate(spark, d, n_files=2, rows_per_file=1000)
    n1 = first.count()
    files1 = sorted(os.listdir(d))
    second = find_or_generate(spark, d, n_files=2, rows_per_file=1000)
    assert second.count() == n1 == 2000
    assert sorted(os.listdir(d)) == files1  # nothing regenerated


def test_cancel_query_interrupts(spark):
    """The reference's experiment (src/main.rs:56-105): a heavy DISTINCT
    cancelled mid-flight must stop and report a finite cancel duration."""

    def heavy():
        return (
            generate_random_table(spark, 400_000, seed=5)
            .select("A", "B", "C", "D", "E")
            .distinct()
        )

    wait_ms, cancel_ms, interrupted = cancel_once(spark, heavy, 50)
    assert wait_ms == 50
    assert cancel_ms < 60_000  # finite, bounded teardown
    assert interrupted  # query was actually cancelled, not completed

    md = markdown_table([(wait_ms, cancel_ms, interrupted)])
    assert md.splitlines()[0] == "| Wait time (ms) | Cancel duration (ms) |"


def test_time_travel_versions_diverge_only_open(spark, sf_dir):
    from datafusion_test_spark.sources import connectors

    rows = {r["o_orderstatus"]: r for r in connectors.scan_time_travel(spark, sf_dir).collect()}
    for status, r in rows.items():
        if status == "O":
            assert r["n_changed"] == r["n_orders"]
            assert r["total_v2"] > r["total_v1"]
        else:
            assert r["n_changed"] == 0
            assert r["total_v2"] == r["total_v1"]


def test_catalog_stats_recorded(spark, sf_dir):
    from datafusion_test_spark.sources import connectors

    r = connectors.catalog_stats(spark, sf_dir).collect()[0]
    assert r["stats_rows_match"] and r["ndv_within_10pct"]
    assert r["n_rows"] > 0


def test_zorder_locality_and_exact_z(spark, sf_dir):
    from datafusion_test_spark.sources import connectors

    rows = connectors.layout_zorder(spark, sf_dir).collect()
    assert rows
    assert all(r["two_dim_locality"] and r["files_ok"] for r in rows)
    for r in rows:
        assert r["z_min"] <= r["z_max"] and r["n_orders"] > 0


def test_json_corrupt_quarantine_accounting(spark, sf_dir):
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.sources import connectors

    r = connectors.scan_json_corrupt(spark, sf_dir).collect()[0]
    n_docs = t(spark, sf_dir, "documents").count()
    assert r["n_good"] == n_docs
    assert r["n_corrupt"] >= 1
    assert r["n_lines"] == r["n_good"] + r["n_corrupt"]


def test_scan_binary_files_roundtrip(spark, sf_dir):
    """Every fixture blob must come back byte-identical: doc_id from the
    path, both byte counts agreeing, payload equal to the source text."""
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.sources import connectors
    from pyspark.sql import functions as F

    src = {
        r["doc_id"]: r["text"]
        for r in t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 0)
        .select("doc_id", "text")
        .collect()
    }
    rows = connectors.scan_binary_files(spark, sf_dir).collect()
    assert len(rows) == len(src) > 0
    for r in rows:
        assert r["payload"] == src[r["doc_id"]]
        n = len(src[r["doc_id"]].encode("utf-8"))
        assert r["n_bytes_meta"] == r["n_bytes_content"] == n


def test_catalog_stats_sampled_estimate(spark, sf_dir):
    """The deterministic 1/16 sample estimate must be reproducible and
    within a loose tolerance of the exact row count (the md5 bucket is
    uniform-ish; 3x the binomial sigma gives a stable bound)."""
    import math

    from datafusion_test_spark.sources.connectors import catalog_stats_sampled

    r1 = catalog_stats_sampled(spark, sf_dir).collect()[0]
    r2 = catalog_stats_sampled(spark, sf_dir).collect()[0]
    assert r1 == r2  # deterministic sample
    n = r1["n_exact"]
    sigma = math.sqrt(n * (1 / 16) * (15 / 16)) * 16
    assert abs(r1["n_estimated"] - n) <= 4 * sigma
    assert r1["row_est_rel_err"] < 0.25


def test_scan_csv_multiline_roundtrip(spark, sf_dir):
    """The quoted-newline CSV must survive the round-trip: doc counts
    match the corpus, newline counts are positive, and char mass equals
    the pre-write transform's mass."""
    from datafusion_test_spark.io import table as t
    from datafusion_test_spark.sources.connectors import scan_csv_multiline
    from pyspark.sql import functions as F

    src = (
        t(spark, sf_dir, "documents")
        .select(
            "lang",
            F.regexp_replace(
                F.col("text"), r"((?:\S+ ){6}\S+) ", "$1\n"
            ).alias("mtext"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("mtext")).alias("chars"),
        )
        .collect()
    )
    exp = {r["lang"]: (r["n"], r["chars"]) for r in src}
    got = {
        r["lang"]: (r["n_docs"], r["chars"], r["n_newlines"])
        for r in scan_csv_multiline(spark, sf_dir).collect()
    }
    assert set(got) == set(exp)
    for lang, (n, chars) in exp.items():
        gn, gc, gnl = got[lang]
        assert (gn, gc) == (n, chars)
        assert gnl > 0
