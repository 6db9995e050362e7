"""Data generation, parquet write, and bootstrap (SURVEY §2.1 Tier A).

Reference parity:
- generate_random_table  src/main.rs:225-282 — 11 columns: A,B,C Float64
  uniform [0,1); D Boolean; E..K Utf8 10-char alphanumeric; N files × M rows
- write_parquet          src/main.rs:249-262 — Arrow writer per file
- find_or_generate       src/main.rs:166-185 — reuse on-disk files else
  generate (idempotent bootstrap)
- cancel_query           src/main.rs:56-105 — cancellation race (harness in
  ../cancel.py)

The generator is fully columnar — `spark.range` + `rand(seed)` +
`randstr(10, seed)`, zero Python UDFs — so at 100 TB it generates
partition-parallel at scan speed (the reference generates 35M rows the same
way, vectorized per RecordBatch).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from .._util import scratch_dir
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..session import tune

_STRING_COLS = ["E", "F", "G", "H", "I", "J", "K"]


def _rand_string(seed: int):
    """10 chars drawn uniformly from [0-9a-zA-Z] — the reference's
    `Alphanumeric` pool — seeded per partition like `rand`.

    One built-in `randstr` per column, not 10 per-character lookups: the
    lookups made whole-stage codegen emit a 14,054-byte method, which
    HotSpot never JIT-compiles (`DontCompileHugeMethods`, 8,000 bytes), so
    every row ran interpreted.  tests/test_sources.py guards the limit.
    Column seeds sit 1000 apart: each partition adds its index to the seed,
    so adjacent seeds would repeat one column's stream in the next.
    """
    return F.randstr(F.lit(10), F.lit(seed * 1000))


def generate_random_table(
    spark: SparkSession, n_rows: int = 100_000, seed: int = 42
) -> DataFrame:
    """The reference's synthetic table (schema src/main.rs:233-245,
    generators src/main.rs:273-282), scaled by n_rows."""
    df = spark.range(n_rows)
    for i, c in enumerate(["A", "B", "C"]):
        df = df.withColumn(c, F.rand(seed + i))  # f64 uniform [0,1)
    df = df.withColumn("D", F.rand(seed + 3) < 0.5)  # fair coin
    for j, c in enumerate(_STRING_COLS):
        df = df.withColumn(c, _rand_string(seed + 10 + j))
    return df.drop("id")


def find_or_generate(
    spark: SparkSession,
    data_dir: str,
    n_files: int = 2,
    rows_per_file: int = 50_000,
    seed: int = 42,
) -> DataFrame:
    """Idempotent bootstrap (src/main.rs:166-185): if `data_dir` already
    holds parquet files, scan them; otherwise generate n_files × rows_per_file
    and write them, then scan.  Raises if generation produced nothing
    (src/main.rs:173-180's panic)."""
    tune(spark)
    has_parquet = os.path.isdir(data_dir) and any(
        f.endswith(".parquet") for f in os.listdir(data_dir)
    )
    if not has_parquet:
        for fnum in range(1, n_files + 1):  # 1.parquet..N.parquet layout
            generate_random_table(spark, rows_per_file, seed + fnum).coalesce(
                1
            ).write.mode("append").parquet(data_dir)
        if not any(f.endswith(".parquet") for f in os.listdir(data_dir)):
            raise RuntimeError(f"generation produced no parquet files in {data_dir}")
    return spark.read.parquet(data_dir)


# --- declared queries() entries -------------------------------------------


def q_generate_random_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference query over freshly generated data (src/main.rs:122's DISTINCT
    summarized).  Self-verifying shape: random values can't hash-match a SQL
    oracle, so the emitted columns are exact anchors + domain invariants that
    the oracle states as constants (the driver has no rows-only fallback):

    - n_rows: generated row count (exactly 20,000)
    - all_distinct: DISTINCT A..E collapses nothing (A is a continuous
      uniform; collision probability ~ n²/2^53 ≈ 2e-8)
    - a_in_range: A ∈ [0, 1) as src/main.rs:275 specifies
    - e_len_ok: E is exactly 10 chars drawn from the base62 alphabet
      (src/main.rs:277-281)
    """
    df = generate_random_table(spark, n_rows=20_000, seed=7)
    dist = df.select("A", "B", "C", "D", "E").distinct().agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    summary = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.min("A") >= 0.0).alias("a_min_ok"),
        (F.max("A") < 1.0).alias("a_max_ok"),
        (
            (F.min(F.length("E")) == 10)
            & (F.max(F.length("E")) == 10)
            & (F.min(F.col("E").rlike("^[0-9A-Za-z]{10}$").cast("int")) == 1)
        ).alias("e_len_ok"),
    )
    return summary.crossJoin(dist).select(
        "n_rows",
        (F.col("n_distinct") == F.col("n_rows")).alias("all_distinct"),
        (F.col("a_min_ok") & F.col("a_max_ok")).alias("a_in_range"),
        "e_len_ok",
    )


def q_find_or_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap contract: generate into a temp dir, then a second call must
    reuse (identical counts).  Returns the verification frame."""
    base = scratch_dir("dfts_bootstrap_")
    data_dir = os.path.join(base, "data")
    try:
        first = find_or_generate(spark, data_dir, n_files=2, rows_per_file=5_000)
        n_first = first.count()
        again = find_or_generate(spark, data_dir, n_files=2, rows_per_file=5_000)
        n_again = again.count()
        return spark.createDataFrame(
            [(n_first, n_again, n_first == n_again)],
            "n_first long, n_again long, reused boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_write_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip write (src/main.rs:249-262): write lineitem to a scratch
    dir, re-read, return the re-read frame — the SQL oracle hash-matching
    the original proves lossless write."""
    out = scratch_dir("dfts_writepq_")
    path = os.path.join(out, "lineitem_rt")
    li = table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").parquet(path)
    rt = spark.read.parquet(path)
    # note: scratch dir is leaked for the lifetime of the process (the
    # returned DataFrame lazily re-reads it); OS tmp cleanup handles it.
    return rt


def _cancel_races(seed: int, waits: list[int]):
    """Registry entry racing one cancel per wait (ms) against a heavy
    DISTINCT over a 300k-row generated table (the reference's experiment
    at a reduced sweep; the full 10..=60 sweep + markdown output lives in
    tools/cancel_bench.py -> BENCH.md).

    Latency is environment-dependent, so the emitted row is self-verifying:
    (wait, measured, race_resolved) — the oracle states the sweep points
    and the invariants: a cancel duration was measured, and the action
    thread terminated (interrupted or complete) within the harness's 300 s
    teardown bound rather than hanging."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..cancel import sweep

        def heavy():
            return (
                generate_random_table(spark, n_rows=300_000, seed=seed)
                .select("A", "B", "C", "D", "E")
                .distinct()
            )

        results = sweep(spark, heavy, waits)
        return spark.createDataFrame(
            [(w, c >= 0, c < 300_000) for (w, c, _e) in results],
            "wait_ms int, measured boolean, race_resolved boolean",
        )

    return run


# SURVEY §2.1's cancel_query (2 races) and bench_cancel_table (3 races)
q_cancel_query = _cancel_races(seed=3, waits=[25, 50])
q_bench_cancel_table = _cancel_races(seed=13, waits=[20, 40, 60])


def source_python_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API (pyspark.sql.datasource): a custom
    deterministic source with REAL partition planning — four
    InputPartitions, each producing a disjoint id range, read in parallel
    by the scan.  This is the extension point for crawl feeds, proprietary
    blob manifests, or synthetic-data generators at 100 TB: partitions()
    returns the split list (one per shard/manifest chunk) and the engine
    schedules reads like any other scan.

    The per-tag aggregate over the synthesized rows hash-matches a DuckDB
    range() twin — proving the source yields exactly the declared rows.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_rows, n_parts = 1000, 4

    class SynthSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dfts_synth"

        def schema(self) -> str:
            return "id bigint, tag string"

        def reader(self, schema):
            return SynthReader()

    class SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(n_parts)]

        def read(self, partition):
            chunk = n_rows // n_parts
            base = partition.value * chunk
            for k in range(base, base + chunk):
                yield (k, f"t{k % 10}")

    spark.dataSource.register(SynthSource)
    df = spark.read.format("dfts_synth").load()
    return df.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
    )


QUERIES = {
    "source_python_api": source_python_api,
    "generate_random_table": q_generate_random_table,
    "bench_cancel_table": q_bench_cancel_table,
    "find_or_generate": q_find_or_generate,
    "write_parquet": q_write_parquet,
    "cancel_query": q_cancel_query,
}

ORACLE = {
    # write_parquet round-trip must hash-match the source table exactly.
    "write_parquet": "SELECT * FROM lineitem",
    "source_python_api": """
        SELECT 't' || CAST(r % 10 AS VARCHAR) AS tag,
               count(*) AS n_rows,
               CAST(SUM(r) AS BIGINT) AS id_sum,
               min(r) AS id_min, max(r) AS id_max
        FROM (SELECT unnest(range(0, 1000)) AS r)
        GROUP BY r % 10
    """,
    # Self-verifying anchors + invariants for the random/harness entries
    # (no rows-only fallback in the driver — every entry needs a SQL twin).
    "generate_random_table": """
        SELECT CAST(20000 AS BIGINT) AS n_rows, TRUE AS all_distinct,
               TRUE AS a_in_range, TRUE AS e_len_ok
    """,
    "find_or_generate": """
        SELECT CAST(10000 AS BIGINT) AS n_first, CAST(10000 AS BIGINT) AS n_again,
               TRUE AS reused
    """,
    "cancel_query": """
        SELECT CAST(wait_ms AS INT) AS wait_ms, measured, race_resolved
        FROM (VALUES (25, TRUE, TRUE), (50, TRUE, TRUE))
             t(wait_ms, measured, race_resolved)
    """,
    "bench_cancel_table": """
        SELECT CAST(wait_ms AS INT) AS wait_ms, measured, race_resolved
        FROM (VALUES (20, TRUE, TRUE), (40, TRUE, TRUE), (60, TRUE, TRUE))
             t(wait_ms, measured, race_resolved)
    """,
}
