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
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from khronus_spark.functions.hdr import HIGHEST_TRACKABLE, SUB_BUCKET_COUNT
from khronus_spark.functions.summary import HISTOGRAM_FIELDS, PERCENTILE_FRACTIONS

STATE_SCHEMA = StructType(
    [
        StructField("values", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)

SUMMARY_SCHEMA = StructType(
    [StructField("metric", StringType()), StructField("ts", LongType())]
    + [StructField(f, LongType()) for f in HISTOGRAM_FIELDS]
)


def _quantize_np(v: np.ndarray) -> np.ndarray:
    """hdr_quantize (functions/hdr.py) over a numpy long array."""
    clamped = np.minimum(v.astype(np.int64), HIGHEST_TRACKABLE)
    rng = np.where(
        clamped < SUB_BUCKET_COUNT,
        np.int64(1),
        np.exp2(np.floor(np.log2(np.maximum(clamped, 1))) - 10).astype(np.int64),
    )
    return (clamped // rng + 1) * rng - 1


def _summary_row(metric: str, ts: int, values: np.ndarray, counts: np.ndarray):
    """Histogram map → the 11-field summary row (same discrete-percentile
    convention as hdr_rollup.state_summary: first value whose cumulative
    count reaches ceil(frac · total))."""
    order = np.argsort(values)
    values, counts = values[order], counts[order]
    total = int(counts.sum())
    cum = np.cumsum(counts)
    row = {"metric": metric, "ts": ts}
    for name, frac in PERCENTILE_FRACTIONS.items():
        need = max(1, int(np.ceil(float(frac) * total)))
        row[name] = int(values[int(np.searchsorted(cum, need))])
    row["min"] = int(values[0])
    row["max"] = int(values[-1])
    row["count"] = total
    row["mean"] = int((values * counts).sum()) // total
    return row


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
                [
                    _summary_row(
                        metric, ts, np.asarray(values), np.asarray(counts)
                    )
                ]
            )
            return

        merged: dict[int, int] = {}
        if state.exists:
            (values, counts) = state.get
            merged = dict(zip(values, counts))
        for pdf in pdfs:
            q = _quantize_np(pdf["value"].to_numpy())
            vals, cnts = np.unique(q, return_counts=True)
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
    )
    return with_bucket.groupBy("metric", "bucket_ts").applyInPandasWithState(
        update,
        outputStructType=SUMMARY_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
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
