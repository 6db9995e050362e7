"""Streaming sink surface: foreachBatch over a file-source micro-batch read.

The reference's execution model is a pull-based batch stream collected once
(/root/reference/src/main.rs:155-161); Structured Streaming generalizes that
to continuous micro-batches.  This module exercises the *sink* half of that
surface — `writeStream.foreachBatch` with an availableNow trigger, the
standard pattern for idempotent lakehouse upserts (each micro-batch arrives
as a normal DataFrame the callback can write transactionally).

Scale notes (100 TB/day): foreachBatch is the production sink escape hatch —
the callback runs on the driver but the DataFrame it receives executes
distributed, so per-batch MERGE/compact/write-parquet work scales with the
cluster.  availableNow processes a backlog in bounded batches and stops,
which is also the replay/backfill pattern.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from itertools import count as _count

from .._util import half_up, sql_dsum, sql_half_up
from ..io import SQL_FINITE_EVENTS, table
from ..session import tune

_RUN_SEQ = _count()


def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch read of the events table through a streaming file source,
    foreachBatch sink accumulating per-batch row counts; self-verifying
    result: the sink must observe exactly the batch-mode row count
    (exactly-once over a bounded source) in at least one batch.
    """
    tune(spark)
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    seen = {"rows": 0, "batches": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        seen["rows"] += batch_df.count()
        seen["batches"] += 1

    ckpt = tempfile.mkdtemp(prefix="dfts_fb_ckpt_")
    q = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)  # one-shot run; don't litter /tmp

    n_src = table(spark, sf_dir, "events").count()
    return spark.createDataFrame(
        [(n_src, seen["rows"] == n_src, seen["batches"] >= 1)],
        "n_events long, sink_complete boolean, batched boolean",
    )


def stream_stateful_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, executed for real: per-user
    (count, total) state via applyInPandasWithState over a micro-batch read
    of events, availableNow trigger, memory sink.  The final state per user
    must equal the batch aggregate — checked exactly by the SQL oracle
    (update-mode emissions are cumulative, so the row with the max count is
    the final state; max_by picks it).

    At 100 TB/day this is the custom-operator escape hatch for semantics
    windows can't express (e.g. per-entity session models): state lives in
    the state store partitioned by key, and each micro-batch touches only
    keys present in the batch.
    """
    tune(spark)
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np

        cnt, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            # finite-measurement contract: NULL arrives as NaN in the
            # pandas float column, and injected NaN/±Inf are equally
            # unusable — sum only finite readings (ieee corpus, round 7)
            v = pdf["value"].to_numpy(dtype="float64")
            tot += float(v[np.isfinite(v)].sum())
        state.update((cnt, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "total_value": [tot]}
        )

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # column-prune BEFORE the Python boundary: the state op needs only
    # (user_id, value), and every extra column pays Arrow serialization
    # per micro-batch at 100 TB.  Also a correctness guard: pandas
    # timestamps are ns-resolution ([1677, 2262] representable), so a
    # year-9999 ts row would crash the Arrow→pandas conversion inside the
    # worker (time corpus, round 8) — the state op never ships a column
    # it doesn't reduce over.
    src = src.select("user_id", "value")
    out = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    qname = f"dfts_stateful_{next(_RUN_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    emitted = spark.table(qname)
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        # half-up: decimal(18,6)-class sums end at .xxxx50 often enough
        # that the engines' round() tie rules diverge
        half_up(F.max_by("total_value", "n_events")).alias("total_value"),
    )


def stream_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-by-idempotence: the foreachBatch MERGE pattern under
    RETRY — every micro-batch is delivered to the sink TWICE (the second
    call simulates the driver retrying after a sink failure, which
    Structured Streaming's at-least-once foreachBatch contract allows),
    and the sink's key-anti-join upsert must leave the target bit-identical
    to once-delivery: one row per event_id, total count = source count.

    The sink is the production lakehouse idiom: batch ∖ target (left_anti
    on the key) appended to a parquet target — the MERGE WHEN NOT MATCHED
    half, which is exactly the idempotent half a replay needs.  The
    anti-join and append run DISTRIBUTED (the callback only orchestrates);
    at 100 TB the target side is partition-pruned by the batch's key range
    and the append is transactional (table-format commit), same shape.
    """
    tune(spark)
    from .._util import scratch_dir

    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    target = os.path.join(scratch_dir("dfts_idem_"), "target")

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.select("event_id", "event_type", "value")
        sess = b.sparkSession
        if os.path.isdir(target):
            existing = sess.read.parquet(target).select("event_id")
            b = b.join(existing, "event_id", "left_anti")
        b.write.mode("append").parquet(target)

    def retried_upsert(batch_df: DataFrame, epoch_id: int) -> None:
        upsert(batch_df, epoch_id)
        upsert(batch_df, epoch_id)  # the simulated redelivery

    ckpt = tempfile.mkdtemp(prefix="dfts_idem_ckpt_")
    q = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .writeStream.foreachBatch(retried_upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

    t = spark.read.parquet(target)
    stats = t.agg(
        F.count(F.lit(1)).alias("n_target"),
        F.count_distinct("event_id").alias("n_keys"),
    )
    n_src = table(spark, sf_dir, "events").count()
    return stats.select(
        F.lit(n_src).alias("n_events"),
        F.col("n_target").cast("long").alias("n_target"),
        (F.col("n_keys") == F.col("n_target")).alias("no_duplicates"),
        (F.col("n_target") == F.lit(n_src)).alias("idempotent"),
    )


def stream_transactional_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged-commit exactly-once on foreachBatch — the two-phase pattern
    table formats (Iceberg/Delta) implement, built on raw files so the
    atomicity is OURS to prove, not the format's: each delivery STAGES
    its batch under ``staged/epoch=E/attempt=K`` (data on disk, invisible),
    then publishes by a put-if-absent commit marker ``commits/E.json``;
    the read side lists the commit log and reads EXACTLY the one staged
    attempt each marker names, ignoring uncommitted/duplicate attempts.

    Extends stream_idempotent_sink, which proves idempotent UPSERTS (a
    replay re-merges harmlessly) but needs a keyed target; staged-commit
    is the shape for append-only sinks where replays must be invisible
    WITHOUT a key: the unit of visibility is the epoch, not the row.

    The replay is real: every micro-batch is delivered twice (the
    at-least-once foreachBatch contract); attempt 1 stages a full second
    copy, its commit loses the put-if-absent race, and its files stay
    orphaned-invisible — exactly-once VISIBLE rows with zero row-level
    dedup.  Put-if-absent here is an os.rename guarded by existence
    (single-driver commit path, same thread); production object stores
    use conditional PUT / atomic rename for the identical step, and
    orphan staging is swept by table-maintenance GC (layout_compaction's
    job), never by the commit path.

    Scale: staging writes are the batch's own distributed write;
    commit-log reads are O(epochs) driver-side metadata, the manifest
    shape scan_manifest_prune proves.  ``replay_invisible`` asserts more
    attempts were staged than committed (the replay actually exercised
    the race) — vacuously true on an empty source with no batches.
    """
    tune(spark)
    import glob as _glob
    import json

    from .._util import scratch_dir

    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    root = scratch_dir("dfts_txn_")
    staged_root = os.path.join(root, "staged")
    commit_root = os.path.join(root, "commits")
    os.makedirs(commit_root)

    def deliver(batch_df: DataFrame, epoch_id: int, attempt: int) -> None:
        stage = os.path.join(
            staged_root, f"epoch={epoch_id}", f"attempt={attempt}"
        )
        batch_df.select("event_id", "event_type", "value").write.mode(
            "overwrite"
        ).parquet(stage)
        marker = os.path.join(commit_root, f"{epoch_id}.json")
        if not os.path.exists(marker):  # put-if-absent: first commit wins
            tmp = os.path.join(commit_root, f".tmp_{epoch_id}_{attempt}")
            with open(tmp, "w") as f:
                json.dump({"epoch": epoch_id, "attempt": attempt}, f)
            os.rename(tmp, marker)

    def redelivered(batch_df: DataFrame, epoch_id: int) -> None:
        deliver(batch_df, epoch_id, 0)
        deliver(batch_df, epoch_id, 1)  # the replay; its commit must lose

    ckpt = tempfile.mkdtemp(prefix="dfts_txn_ckpt_")
    q = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .writeStream.foreachBatch(redelivered)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

    committed = []
    for m in sorted(_glob.glob(os.path.join(commit_root, "*.json"))):
        with open(m) as f:
            c = json.load(f)
        committed.append(
            os.path.join(
                staged_root, f"epoch={c['epoch']}", f"attempt={c['attempt']}"
            )
        )
    n_staged = len(_glob.glob(os.path.join(staged_root, "epoch=*", "attempt=*")))
    vis_schema = "event_id long, event_type string, value double"
    if committed:
        visible = spark.read.schema(vis_schema).parquet(*committed)
    else:
        visible = spark.createDataFrame([], vis_schema)
    n_src = table(spark, sf_dir, "events").count()
    return visible.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct("event_id").alias("_k"),
    ).select(
        F.lit(n_src).alias("n_events"),
        F.col("_n").cast("long").alias("n_visible"),
        (F.col("_k") == F.col("_n")).alias("no_duplicates"),
        (F.col("_n") == F.lit(n_src)).alias("exactly_once"),
        F.lit(n_staged > len(committed) or n_src == 0).alias(
            "replay_invisible"
        ),
    )


def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery, executed for real: a file-source stream runs
    to completion (availableNow), the source then grows by one new file,
    and a SECOND run against the SAME checkpoint must process ONLY the
    new file — the incremental-resume contract that makes streaming
    backfills cheap and restarts safe.  A sink that re-saw the first
    file's rows on resume (checkpoint ignored) fails `resumed_incremental`;
    a sink that missed the new file fails `caught_up`.

    Mechanics: the source dir starts with a copy of events.parquet; run 1
    drains it; a second copy (new filename ⇒ new file to the source's
    file tracker) lands; run 2 reuses the checkpoint.  Counting happens
    in a foreachBatch sink.  At scale this is exactly the daily-partition
    landing pattern: each restart prices only the new partitions, never
    the history.
    """
    tune(spark)
    from .._util import scratch_dir

    root = scratch_dir("dfts_ckres_")
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir)
    ckpt = os.path.join(root, "ckpt")
    src_file = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src_file).schema
    shutil.copy(src_file, os.path.join(src_dir, "part1.parquet"))

    def run_once() -> int:
        seen = {"rows": 0}

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            seen["rows"] += batch_df.count()

        q = (
            spark.readStream.schema(raw_schema)
            .parquet(src_dir)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            if q.isActive:
                q.stop()
        return seen["rows"]

    first_rows = run_once()
    shutil.copy(src_file, os.path.join(src_dir, "part2.parquet"))
    second_rows = run_once()

    n_src = table(spark, sf_dir, "events").count()
    return spark.createDataFrame(
        [
            (
                n_src,
                first_rows == n_src,
                second_rows == n_src,
                first_rows + second_rows == 2 * n_src,
            )
        ],
        "n_events long, first_run_complete boolean, "
        "resumed_incremental boolean, caught_up boolean",
    )


def stream_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue routing, executed for real — the foreachBatch
    split every production ingest runs: each micro-batch divides into
    VALID rows (value present and non-negative) appended to the main
    sink and INVALID rows appended to the DLQ with a reason column, so
    nothing is dropped and nothing poisons the main table.  Both writes
    are distributed; the callback only orchestrates.

    The result re-reads BOTH sinks and verifies the routing ledger:
    main + dlq = source exactly, zero invalid rows in main, and per-
    reason DLQ counts — all derivable from the validity rule, which is
    what the oracle states.
    """
    tune(spark)
    from .._util import scratch_dir

    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    root = scratch_dir("dfts_dlq_")
    main, dlq = os.path.join(root, "main"), os.path.join(root, "dlq")

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.select("event_id", "event_type", "value")
        valid = b.filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        invalid = b.filter(
            F.col("value").isNull() | (F.col("value") < 0)
        ).withColumn(
            "reason",
            F.when(F.col("value").isNull(), "null_value").otherwise(
                "negative_value"
            ),
        )
        valid.write.mode("append").parquet(main)
        invalid.write.mode("append").parquet(dlq)

    ckpt = tempfile.mkdtemp(prefix="dfts_dlq_ckpt_")
    q = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .writeStream.foreachBatch(route)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

    m = spark.read.parquet(main)
    d = spark.read.parquet(dlq)
    n_src = table(spark, sf_dir, "events").count()
    n_main = m.count()
    n_bad_in_main = m.filter(
        F.col("value").isNull() | (F.col("value") < 0)
    ).count()
    # static reason rows so clean corpora (sf0.1 has no invalid rows)
    # still emit the ledger with zero counts instead of an empty frame
    reasons = spark.createDataFrame(
        [("null_value",), ("negative_value",)], "reason string"
    )
    dd = d.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
    j = reasons.join(dd, "reason", "left")
    return j.select(
        "reason",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_dlq"),
        F.lit(n_main).alias("n_main"),
        F.lit(n_main + d.count() == n_src).alias("nothing_lost"),
        F.lit(n_bad_in_main == 0).alias("main_clean"),
    )


QUERIES = {
    "stream_dlq_routing": stream_dlq_routing,
    "stream_foreach_batch": stream_foreach_batch,
    "stream_stateful_run": stream_stateful_run,
    "stream_idempotent_sink": stream_idempotent_sink,
    "stream_transactional_sink": stream_transactional_sink,
    "stream_checkpoint_resume": stream_checkpoint_resume,
}

ORACLE = {
    # the routing ledger restated from the validity rule
    "stream_dlq_routing": """
        WITH reasons AS (
            SELECT 'null_value' AS reason
            UNION ALL SELECT 'negative_value'
        ),
        inv AS (
            SELECT CASE WHEN value IS NULL THEN 'null_value'
                        ELSE 'negative_value' END AS reason,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE value IS NULL OR value < 0
            GROUP BY 1
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n_main FROM events
            WHERE value IS NOT NULL AND value >= 0
        )
        SELECT r.reason,
               CAST(COALESCE(i.n, 0) AS BIGINT) AS n_dlq,
               m.n_main, TRUE AS nothing_lost, TRUE AS main_clean
        FROM reasons r LEFT JOIN inv i USING (reason) CROSS JOIN m
    """,
    "stream_foreach_batch": """
        SELECT COUNT(*) AS n_events, TRUE AS sink_complete, TRUE AS batched
        FROM events
    """,
    # Python-side float accumulation differs from the decimal sum only in
    # ~1e-12 ulps; round(4) absorbs it on both sides.
    "stream_stateful_run": f"""
        SELECT user_id, COUNT(*) AS n_events,
               {sql_half_up(sql_dsum("value"))} AS total_value
        FROM {SQL_FINITE_EVENTS} events GROUP BY user_id
    """,
    "stream_idempotent_sink": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_target,
               TRUE AS no_duplicates,
               TRUE AS idempotent
        FROM events
    """,
    "stream_transactional_sink": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_visible,
               TRUE AS no_duplicates,
               TRUE AS exactly_once,
               TRUE AS replay_invisible
        FROM events
    """,
    "stream_checkpoint_resume": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               TRUE AS first_run_complete,
               TRUE AS resumed_incremental,
               TRUE AS caught_up
        FROM events
    """,
}
