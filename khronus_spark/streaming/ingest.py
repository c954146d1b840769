"""Structured Streaming ingestion: the reference's rollup tick re-expressed.

The reference is a micro-batch streaming system in disguise: a Quartz
cron fires every 30 s on an elected leader, which fans metrics out to
workers over an Akka consistent-hash ring, each worker incrementally
aggregating the due buckets and bumping a per-metric watermark in the
meta table (`cluster/Master.scala:169-242`, `model/TimeWindowChain.scala:29-67`,
`model/Tick.scala:12-31`). On Spark, ALL of that machinery is replaced by
Structured Streaming primitives:

| reference | here |
|---|---|
| 30 s leader cron (T1)             | `Trigger.ProcessingTime("30 seconds")` |
| tick-delay watermark (T2)         | `withWatermark("ts", "30 seconds")` |
| tumbling bucket grid (T3)         | `window(ts, <resolution>)` |
| per-metric lastProcessed (T4)     | streaming state store + checkpoint |
| idempotent set-upsert (T5)        | append-after-watermark + checkpoint (Delta MERGE at scale) |
| consistent-hash worker affinity (T6) | shuffle partitioning on the group key |

Aggregation state per (metric, bucket) is bounded: counters keep a sum;
histograms keep count/min/max/sum plus a `percentile_approx` sketch —
mergeable and fixed-size, which is what makes this viable at 100 TB
(the exact collect-values path is for batch/backfill only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.functions.summary import (
    COUNTER,
    HISTOGRAM,
    HISTOGRAM_FIELDS,
    sketch_aggregates,
)
from khronus_spark.operators.rollup import store_key
from khronus_spark.timegrid import duration_to_spark_interval, format_duration


def _with_event_time(measurements: DataFrame) -> DataFrame:
    """ts_ms (epoch millis, long) → event-time timestamp column."""
    return measurements.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))


def streaming_counter_summary(
    measurements: DataFrame,
    window_ms: int,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming CounterSummary: (metric, ts, count) per tumbling bucket,
    finalized once the watermark passes the bucket end."""
    interval = duration_to_spark_interval(window_ms)
    return (
        _with_event_time(measurements)
        .withWatermark("ts", watermark)
        .groupBy(F.col("metric"), F.window("ts", interval).alias("w"))
        .agg(F.sum("value").alias("count"))
        .select(
            "metric", F.unix_millis(F.col("w.start")).alias("ts"), F.col("count")
        )
    )


def streaming_histogram_summary(
    measurements: DataFrame,
    window_ms: int,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming HistogramSummary: the batch approx mode's sketch
    aggregate (`functions.summary.sketch_aggregates`) per tumbling
    bucket — bounded state per (metric, bucket), unlike the exact batch
    path."""
    interval = duration_to_spark_interval(window_ms)
    return (
        _with_event_time(measurements)
        .withWatermark("ts", watermark)
        .groupBy(F.col("metric"), F.window("ts", interval).alias("w"))
        .agg(*sketch_aggregates())
        .select(
            "metric", F.unix_millis(F.col("w.start")).alias("ts"), *HISTOGRAM_FIELDS
        )
    )


def _streaming_summary(
    family: str, measurements: DataFrame, window_ms: int, watermark: str
) -> DataFrame:
    """The streaming summary of one family; raises on an unknown one."""
    summarize = {
        HISTOGRAM: streaming_histogram_summary,
        COUNTER: streaming_counter_summary,
    }
    if family not in summarize:
        raise ValueError(f"Unknown summary family: {family}")
    return summarize[family](measurements, window_ms, watermark)


def run_streaming_rollup(
    measurements: DataFrame,
    base_path: str,
    checkpoint_path: str,
    window_ms: int,
    family: str,
    watermark: str = "30 seconds",
    trigger: dict | None = None,
):
    """Start one resolution's rollup stream → parquet summary table.

    Append mode emits each (metric, bucket) exactly once after the
    watermark passes (the reference's idempotent set-upsert, T5); the
    checkpoint replaces the meta-table lastProcessed bookkeeping (T4).
    `trigger` defaults to availableNow (drain-and-stop, for tests /
    backfill); pass {"processingTime": "30 seconds"} for the reference
    cadence (T1).

    SIZING `watermark` (measured contract, pinned by
    tests/test_streaming.py::
    test_effective_watermark_lags_two_batches_of_front_progress): the
    watermark a micro-batch enforces derives from event-time stats TWO
    batches back, so the actually-droppable lateness is
    `watermark + ~2 micro-batches of event-time front progress`, and
    conversely a bucket is only finalized/emitted ~2 triggers after the
    front passes `bucket end + watermark`. Size the delay for the
    lateness you must TOLERATE (anything inside it is guaranteed to
    land); expect a bounded tail of later data to still land, and add
    ~2 trigger intervals to any end-to-end freshness budget.
    """
    summaries = _streaming_summary(family, measurements, window_ms, watermark)
    return (
        summaries.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{base_path}/{store_key(family, window_ms)}")
        .option(
            "checkpointLocation",
            f"{checkpoint_path}/{family}_{format_duration(window_ms)}",
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def dedupe_deliveries(
    measurements: DataFrame,
    id_cols: tuple[str, ...] = ("delivery_id",),
    watermark: str = "30 seconds",
) -> DataFrame:
    """At-least-once → effectively-once: drop redelivered measurements by
    id within the watermark horizon (`dropDuplicatesWithinWatermark`).

    The reference's ingest is fire-and-forget at-most-once
    (`KhronusEnpoint.scala:38-43`); a durable HTTP front-end upgrades to
    at-least-once, and this operator restores exactly-once rollups
    downstream. State per id expires with the watermark — bounded, like
    every other piece of streaming state here."""
    return (
        _with_event_time(measurements)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(list(id_cols))
    )


def _replace_rows(existing: DataFrame, new: DataFrame, keys: DataFrame) -> DataFrame:
    """The upsert merge: `existing` minus its rows whose (metric, ts) is
    in `keys`, plus `new`."""
    return existing.join(keys, ["metric", "ts"], "left_anti").unionByName(new)


def upsert_sink(store_path: str):
    """foreachBatch MERGE emulation over parquet (T5's "Delta MERGE at
    scale" slot, `SURVEY.md §7.4.4`): upsert each micro-batch's amended
    (metric, bucket) summaries into a day-partitioned store.

    Per batch: prune the store to the touched day partitions, anti-join
    out the rows being replaced, union the new versions, and rewrite
    ONLY those day partitions (dynamic partition overwrite). The merged
    frame is materialized (localCheckpoint) before the overwrite so the
    job never reads files it is deleting. On Delta/Iceberg this whole
    function is `MERGE INTO ... WHEN MATCHED UPDATE`; the shape here
    keeps the rewrite proportional to touched days, not store size.

    Used with update-mode aggregation, this yields a summary store with
    NO withheld trailing buckets (append mode holds a bucket back until
    the watermark passes it) at the cost of rewriting a bucket's day
    partition each time it is amended.
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("day", F.expr("ts div 86400000"))
        days = [r["day"] for r in batch.select("day").distinct().collect()]
        if not days:
            return
        # Probe for COMMITTED DAY PARTITIONS explicitly: a transient
        # listing error must fail the batch (the checkpoint retries it),
        # not be mistaken for "first batch" and overwrite stored days;
        # and a pre-provisioned empty dir, or one holding only a
        # crashed write's _temporary/, must not wedge the stream on a
        # failing schema inference. No data ⇒ nothing to clobber.
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(store_path)
        fs = hpath.getFileSystem(hconf)

        def _has_committed_days() -> bool:
            if not fs.exists(hpath):
                return False
            for st in fs.listStatus(hpath):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith("day="):
                    for f in fs.listStatus(st.getPath()):
                        leaf = f.getPath().getName()
                        if not leaf.startswith(("_", ".")):
                            return True
            return False

        if _has_committed_days():
            # explicit schema (the batch's own, which the store was
            # written from): no per-batch footer-inference job
            existing = (
                spark.read.schema(batch.schema)
                .parquet(store_path)
                .where(F.col("day").isin(days))
            )
            merged = _replace_rows(
                existing, batch, batch.select("metric", "ts").distinct()
            )
        else:  # first batch: store does not exist yet
            merged = batch
        out = merged.localCheckpoint(eager=True)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(store_path)
        )

    return merge


def txn_upsert_sink(table, export_delta: bool = False):
    """The TRANSACTIONAL face of `upsert_sink`: per micro-batch, merge
    the amended (metric, ts) summaries into a `sources.txnlog.TxnTable`
    keyed by day — read the touched day partitions at a pinned version,
    anti-join out the rows being replaced, union the new versions, and
    commit every touched day in ONE compare-and-swap commit. Readers
    therefore never see a torn micro-batch (all touched days move
    together — dynamic partition overwrite promises that only
    per-partition), concurrent EXTERNAL writers are detected instead of
    clobbered (`CommitConflict` → re-read + re-merge, the textbook
    optimistic MERGE loop), and a batch replayed by the checkpoint
    re-derives the same rows — a new version with identical data
    (effectively-once by content). The reference contract is the same
    idempotent set-upsert (`store/BucketStore.scala:159-172`).

    `export_delta=True` additionally publishes each commit's Delta
    version (`sources/delta_export.py`) inside the SAME trigger,
    making the table root a continuously-current Delta table. Safe by
    construction: the txn commit lands FIRST (export can never gate
    data durability), the export is incremental (only unexported
    versions are written) and deterministic (action timestamps derive
    from the commit's recorded `committed_at_ms`), so the streamed
    export is byte-identical to a post-hoc `export_delta_log` — and a
    trigger that crashes between commit and export just leaves the
    Delta log one version behind, which the NEXT trigger's export
    catches up (the immutability/incrementality contract makes the
    catch-up indistinguishable from never having lagged)."""
    from khronus_spark.sources.txnlog import CommitConflict

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        batch = (
            batch_df.withColumn("day", F.expr("ts div 86400000"))
            .localCheckpoint(eager=True)
        )
        days = [r["day"] for r in batch.select("day").distinct().collect()]
        if not days:
            return
        new_keys = batch.select("metric", "ts").distinct()
        for _ in range(8):
            version = table.version()
            parts = {}
            for d in days:
                key = f"day={d}"
                existing = table.read_partition(spark, key, version)
                part = batch.where(F.col("day") == d)
                if existing is not None:
                    part = _replace_rows(existing, part, new_keys)
                parts[key] = part
            try:
                # partition-scoped CAS: racing compactions and
                # disjoint-day writers never cost a re-merge (only a
                # data commit on a touched day does)
                table.commit(
                    parts, expect_version=version, conflict_scope="partitions"
                )
                break
            except CommitConflict:
                continue  # an external writer moved the table: re-merge
        else:
            raise RuntimeError("txn upsert lost 8 CAS rounds; table too hot")
        if export_delta:
            from khronus_spark.sources.delta_export import export_delta_log

            # after the commit, so data durability never waits on the
            # export; exports every not-yet-exported version, which
            # also catches up any lag a previous crash left behind
            export_delta_log(spark, table)

    return merge


def run_streaming_rollup_upsert(
    measurements: DataFrame,
    store_path: str,
    checkpoint_path: str,
    window_ms: int,
    family: str,
    watermark: str = "30 seconds",
    trigger: dict | None = None,
):
    """Update-mode rollup → foreachBatch upsert store: every trigger
    emits the buckets amended by new data and merges them by
    (metric, ts) — the reference's idempotent set-upsert semantics
    (`model/TimeWindowChain.scala:42-55`) without append mode's
    watermark-delayed finalization."""
    summaries = _streaming_summary(family, measurements, window_ms, watermark)
    return (
        summaries.writeStream.outputMode("update")
        .foreachBatch(upsert_sink(store_path))
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def run_streaming_rollup_upsert_txn(
    measurements: DataFrame,
    table,
    checkpoint_path: str,
    window_ms: int,
    family: str,
    watermark: str = "30 seconds",
    trigger: dict | None = None,
    export_delta: bool = False,
):
    """`run_streaming_rollup_upsert` with the transactional store: the
    sink is `txn_upsert_sink` over a `sources.txnlog.TxnTable` — every
    micro-batch's touched days land as one atomic CAS commit (torn
    batches impossible, external writers detected). Final content is
    pinned equal to the plain upsert store and to the batch rollup in
    tests. `export_delta=True` keeps `<root>/_delta_log` current with
    every commit inside the same trigger (byte-identical to a post-hoc
    export; see `txn_upsert_sink`)."""
    summaries = _streaming_summary(family, measurements, window_ms, watermark)
    return (
        summaries.writeStream.outputMode("update")
        .foreachBatch(txn_upsert_sink(table, export_delta=export_delta))
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
