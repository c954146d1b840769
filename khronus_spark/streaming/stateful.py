"""Custom stateful streaming operator: per-(metric, bucket) histogram
state with event-time timeout — `applyInPandasWithState`.

This is the Spark-native restatement of the reference's worker-side
bucket cache + tick processing (`store/BucketCache.scala:21-186`,
`model/TimeWindow.scala:40-71`): each (metric, bucket) group keeps a
**bounded mergeable histogram** (quantized value → count, the same
HDR-compat domain as operators/hdr_rollup.py) across micro-batches, and
emits its 11-field summary exactly once — when the event-time watermark
passes the bucket end (the reference's tick-delay, `model/Tick.scala:
12-19`). Late samples inside the watermark merge into live state;
`Histogram.add` semantics fall out of count addition.

Only the merge is streaming-specific. Values are quantized with the
batch quantizer (`functions.hdr.hdr_quantize`) before the group, the
pandas state function merges (value → count) maps and emits a finalized
group's map, and the summary is the batch state's rank walk
(`operators.hdr_rollup.state_summary`) run as a stateless projection
after the stateful operator — so every emitted row equals
`state_summary(histogram_state(...))` over the same samples.

Why this shape at 100 TB: state per group is bounded by the number of
distinct quantized values (≈ few thousand entries) regardless of sample
volume, and the state store shards by group key — the consistent-hash
worker affinity of the reference (T6) is Spark's shuffle partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from khronus_spark.functions.hdr import hdr_quantize
from khronus_spark.operators.hdr_rollup import state_summary

STATE_SCHEMA = StructType(
    [
        StructField("values", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def stateful_histogram_summaries(
    measurements: DataFrame,
    window_ms: int,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming measurements(metric, mtype, ts_ms, value) → finalized
    HistogramSummary rows, one per (metric, bucket), emitted when the
    watermark passes the bucket end."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # key arrives as numpy scalars; state/timeout values are JSON-
        # encoded internally, so coerce to plain Python types
        metric, ts = str(key[0]), int(key[1])
        if state.hasTimedOut:
            (values, counts) = state.get
            state.remove()
            yield pd.DataFrame(
                [{"metric": metric, "ts": ts, "values": values, "counts": counts}]
            )
            return

        merged: dict[int, int] = {}
        if state.exists:
            (values, counts) = state.get
            merged = dict(zip(values, counts))
        for pdf in pdfs:
            vals, cnts = np.unique(pdf["v"].to_numpy(), return_counts=True)
            for v, c in zip(vals.tolist(), cnts.tolist()):
                merged[v] = merged.get(v, 0) + c
        state.update((list(merged.keys()), list(merged.values())))
        # finalize once the watermark passes the bucket end (tick-delay)
        state.setTimeoutTimestamp(
            max(ts + window_ms, state.getCurrentWatermarkMs() + 1)
        )

    with_bucket = (
        measurements.withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("event_time", watermark)
        .withColumn(
            "bucket_ts",
            (F.col("ts_ms") / window_ms).cast("long") * window_ms,
        )
        .withColumn("v", hdr_quantize(F.col("value")))
    )
    states = with_bucket.groupBy("metric", "bucket_ts").applyInPandasWithState(
        update,
        # a finalized group emits its state; state_summary reads it below
        outputStructType=(
            "metric string, ts long, values array<long>, counts array<long>"
        ),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return state_summary(
        states.select(
            "metric",
            "ts",
            F.expr(
                "array_sort(zip_with(values, counts, "
                "(v, c) -> named_struct('v', v, 'c', c)))"
            ).alias("hist"),
        )
    )


def run_stateful_rollup(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    window_ms: int,
    watermark: str = "30 seconds",
):
    """Drive the stateful operator with an availableNow trigger into a
    parquet sink (idempotent via checkpoint — T5)."""
    summaries = stateful_histogram_summaries(stream, window_ms, watermark)
    return (
        summaries.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
