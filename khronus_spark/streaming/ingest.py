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
| idempotent set-upsert (T5)        | update mode + `upsert_sink` by (metric, ts) + checkpoint (Delta MERGE at scale) |
| consistent-hash worker affinity (T6) | shuffle partitioning on the group key |

A streaming rollup is the batch rollup run incrementally, not a second
implementation of it: `streaming_summary` groups by the tumbling bucket
and applies the family's aggregate from `functions/summary.py`
(`family_aggregates`, the one `counter_summary` and the batch approx
mode use). Its state per (metric, bucket) is bounded: counters keep a
sum; histograms keep count/min/max/sum plus a `percentile_approx`
sketch — mergeable and fixed-size, which is what makes this viable at
100 TB (the exact collect-values path is for batch/backfill only).

`run_streaming_rollup_upsert` is the one streaming summary writer: its
sink (`upsert_sink`) merges each micro-batch's amended buckets by
(metric, ts) into day-partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.functions.summary import FAMILY_FIELDS, family_aggregates
from khronus_spark.timegrid import duration_to_spark_interval


def _with_event_time(measurements: DataFrame) -> DataFrame:
    """ts_ms (epoch millis, long) → event-time timestamp column."""
    return measurements.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))


def streaming_summary(
    measurements: DataFrame,
    window_ms: int,
    family: str,
    watermark: str = "30 seconds",
) -> DataFrame:
    """The streaming summary of one family: the batch rollup's bounded
    aggregate (`functions.summary.family_aggregates`) per tumbling
    bucket, finalized once the watermark passes the bucket end. Raises
    on an unknown family before touching `measurements`."""
    aggregates = family_aggregates(family)
    interval = duration_to_spark_interval(window_ms)
    return (
        _with_event_time(measurements)
        .withWatermark("ts", watermark)
        .groupBy(F.col("metric"), F.window("ts", interval).alias("w"))
        .agg(*aggregates)
        .select(
            "metric",
            F.unix_millis(F.col("w.start")).alias("ts"),
            *FAMILY_FIELDS[family],
        )
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
            # the upsert merge: drop the stored versions of the batch's
            # (metric, ts) keys, add the new ones
            merged = existing.join(
                batch.select("metric", "ts").distinct(), ["metric", "ts"], "left_anti"
            ).unionByName(batch)
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


def run_streaming_rollup_upsert(
    measurements: DataFrame,
    store_path: str,
    checkpoint_path: str,
    window_ms: int,
    family: str,
    watermark: str = "30 seconds",
    trigger: dict | None = None,
):
    """Start one resolution's rollup stream → parquet upsert store.

    Update mode: every trigger emits the buckets amended by new data and
    `upsert_sink` merges them by (metric, ts) — the reference's
    idempotent set-upsert (`model/TimeWindowChain.scala:42-55`, T5) with
    no watermark-withheld trailing buckets. The checkpoint replaces the
    meta-table lastProcessed bookkeeping (T4). `trigger` defaults to
    availableNow (drain-and-stop, for tests / backfill); pass
    {"processingTime": "30 seconds"} for the reference cadence (T1).

    SIZING `watermark` (measured contract, pinned by
    tests/test_streaming.py::
    test_effective_watermark_lags_two_batches_of_front_progress): the
    watermark a micro-batch enforces derives from event-time stats TWO
    batches back, so the actually-droppable lateness is
    `watermark + ~2 micro-batches of event-time front progress`, and
    conversely a bucket's state is only finalized ~2 triggers after the
    front passes `bucket end + watermark`. Size the delay for the
    lateness you must TOLERATE (anything inside it is guaranteed to
    land); expect a bounded tail of later data to still land.
    """
    summaries = streaming_summary(measurements, window_ms, family, watermark)
    return (
        summaries.writeStream.outputMode("update")
        .foreachBatch(upsert_sink(store_path))
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
