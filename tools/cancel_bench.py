"""Cancellation-latency sweep — the reference's benchmark, reproduced on
Spark (see /root/reference/src/main.rs:27-105 and README.md:63-124).

Protocol parity:
- dataset: generated random table (11 cols, reference schema), loaded into
  executor MEMORY (persist MEMORY_ONLY ~= the reference's InMemory object
  store, chosen there because in-memory reads don't yield — README.md:8-9)
- query: SELECT DISTINCT A,B,C,D,E (src/main.rs:122)
- sweep: wait in 10..=60 ms, one run each (src/main.rs:48)
- metric: elapsed from cancel request to confirmed teardown (src/main.rs:94-104)

Output: markdown appended to BENCH.md in the reference's exact table format
(src/main.rs:46-47), with machine specs recorded (which the reference omits,
README.md:60-61).

Usage: python tools/cancel_bench.py [rows=2000000] [out=BENCH.md]

``--pageindex`` runs the skip-heavy variant instead (VERDICT r11 item 7):
the reference's whole point is cancel latency DURING a scan, and the
repo's IO-skip ladder makes scans skip-heavy — so this sweep's query is a
pushed-range lookup over a page-indexed parquet layout (the
scan_parquet_pageindex clustering: sorted key, 1000-row page cap), where
the vectorized reader consults the ColumnIndex and prunes ~95% of the
pages.  Pins that a scan which mostly SKIPS still reaches its
cancellation checks at least as fast as the full-DISTINCT in-memory scan
(cooperative yields happen at record-batch boundaries, and a skip-heavy
scan crosses MORE boundaries per row actually read).
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.storagelevel import StorageLevel

from datafusion_test_spark.cancel import markdown_table, sweep
from datafusion_test_spark.session import get_session
from datafusion_test_spark.sources.generate import generate_random_table


def _report(out: str, title: str, facts: list[str], full_query_ms: int,
            results, note: str = "", **tag) -> None:
    """Append one sweep's BENCH.md section (title, facts, full-query time,
    machine spec, min/median/max cancel plus ``note``, the wait/cancel
    table) to ``out`` and print its summary JSON, ``tag`` keys first."""
    cancels = sorted(c for (_, c, _) in results)
    lo, med, hi = cancels[0], cancels[len(cancels) // 2], cancels[-1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    spec = (
        f"{platform.system()} {platform.machine()}, "
        f"{os.cpu_count()} cpus (local[{cpus}]), python {platform.python_version()}"
    )
    section = "\n".join(
        [
            "",
            f"## {title}",
            "",
            *facts,
            f"- uncancelled full query time: {full_query_ms} ms",
            f"- machine: {spec}",
            f"- min/median/max cancel: {lo} / {med} / {hi} ms{note}",
            "",
            markdown_table(results),
            "",
        ]
    )
    with open(out, "a") as f:
        f.write(section)
    print(json.dumps({**tag, "min": lo, "median": med, "max": hi,
                      "full_query_ms": full_query_ms}))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--pageindex"]
    pageindex = "--pageindex" in sys.argv[1:]
    rows = int(args[0]) if args else 2_000_000
    out = args[1] if len(args) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH.md"
    )
    if pageindex:
        return main_pageindex(rows, out)

    spark = get_session("cancel-bench")
    base = generate_random_table(spark, n_rows=rows, seed=11).persist(
        StorageLevel.MEMORY_ONLY
    )
    n = base.count()  # materialize the in-memory store

    def heavy():
        return base.select("A", "B", "C", "D", "E").distinct()

    # One throwaway full run so codegen is compiled before the sweep.
    t0 = time.monotonic()
    heavy().write.mode("overwrite").format("noop").save()
    full_query_ms = int((time.monotonic() - t0) * 1000)

    _report(
        out,
        "Cancellation sweep (reference protocol, Spark engine)",
        [
            f"- dataset: {n:,} generated rows, 11 cols, persisted MEMORY_ONLY",
            "- query: `SELECT DISTINCT A,B,C,D,E` (reference src/main.rs:122)",
        ],
        full_query_ms,
        sweep(spark, heavy, range(10, 61)),
        note=" (reference published 17 / ~300 / 2086 ms, README.md:72-124)",
    )


def main_pageindex(rows: int, out: str) -> None:
    """Skip-heavy sweep: cancellation during a page-index-pruned scan
    (VERDICT r11 item 7).  Layout = the reference's generated table,
    clustered on a surrogate key and written with the
    scan_parquet_pageindex page discipline; query = pushed key-range
    lookup admitting ~5% of the rows + DISTINCT over the reference's
    five projected columns, so the vectorized reader's ColumnIndex
    evaluation prunes ~95% of the pages while real decode work remains."""
    import tempfile

    from pyspark.sql import functions as F

    spark = get_session("cancel-bench-pageindex")
    gen = generate_random_table(spark, n_rows=rows, seed=11).withColumn(
        "key", F.monotonically_increasing_id()
    )
    layout = os.path.join(tempfile.mkdtemp(prefix="dfts_cancel_pidx_"), "t")
    (
        gen.repartition(8)
        .sortWithinPartitions("key")
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", 1000)
        .option("parquet.page.size", 65536)
        .parquet(layout)
    )
    rt = spark.read.parquet(layout)
    # pushed range admitting ~5% of rows: [p45, p50) of the key domain
    lo, hi = rt.approxQuantile("key", [0.45, 0.50], 0.001)
    n = rt.count()
    # ADVICE r12: for tiny --rows the quantile floats can collapse to
    # int(lo) == int(hi), making the pushed range EMPTY — the "skip-heavy"
    # query then degenerates to a pure-skip scan and the sweep silently
    # stops measuring cancellation during decode work.  Fail loudly.
    if int(hi) <= int(lo):
        sys.exit(
            f"cancel_bench --pageindex: degenerate pushed range "
            f"[{int(lo)}, {int(hi)}) admits no rows at rows={n:,} — the "
            "sweep would measure a pure-skip scan, not cancellation during "
            "decode.  Use a larger row count (default 2000000; need enough "
            "rows that the p45-p50 key quantile span is non-empty)."
        )

    def skip_heavy():
        return (
            rt.filter((F.col("key") >= int(lo)) & (F.col("key") < int(hi)))
            .select("A", "B", "C", "D", "E")
            .distinct()
        )

    t0 = time.monotonic()
    skip_heavy().write.mode("overwrite").format("noop").save()
    full_query_ms = int((time.monotonic() - t0) * 1000)

    _report(
        out,
        "Cancellation sweep — page-index skip-heavy scan variant",
        [
            f"- layout: {n:,} generated rows, clustered on a surrogate key, "
            "1000-row pages (scan_parquet_pageindex discipline), 8 files",
            "- query: pushed key-range lookup (~5% of rows admitted, "
            "ColumnIndex prunes the rest) + `SELECT DISTINCT A,B,C,D,E`",
        ],
        full_query_ms,
        sweep(spark, skip_heavy, range(10, 61)),
        variant="pageindex",
    )


if __name__ == "__main__":
    main()
