"""Mergeable-histogram rollup cascade: the reference's architecture,
Spark-first.

The reference never re-reads raw data: each resolution merges the
previous resolution's serialized HdrHistograms (`model/TimeWindow.scala:
96-109`, `Histogram.add` at `model/HistogramBucket.scala:56-65`) and only
then derives the 11-field summary. Here the per-(metric, bucket) state is
the count state `hist` of `functions/summary.py`, over the quantized
value:

- **state build**: counts per quantized value, collected by the
  summary's `hist` aggregate. State size is bounded by the number of
  distinct quantized values (≤ ~2048 + 1024·log2(max/2048) ≈ a few
  thousand entries — the same bound HdrHistogram enjoys), regardless of
  how many samples the bucket holds.
- **merge**: explode fine states into the coarser grid and re-sum counts
  — associative, order-insensitive, exactly `Histogram.add`.
- **summarize**: `summary_field_sql` over `hist`, the percentiles from
  one cumulative walk. No explode, no extra shuffle. Over the raw value,
  `state_summary(counts_state(…))` equals `histogram_summary`.

Cascade invariant (tested): summarize(merge(fine states)) ==
summarize(state built directly at the coarse resolution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.functions.hdr import hdr_quantize, hdr_rank_sql
from khronus_spark.functions.summary import (
    HISTOGRAM,
    HISTOGRAM_FIELDS,
    bucket_ts,
    percentile_walk_sql,
    rank_sql,
    summary_aggregates_sql,
    summary_field_sql,
)


def histogram_state(measurements: DataFrame, window_ms: int) -> DataFrame:
    """measurements → (metric, ts, hist: array<struct<v,c>> sorted by v)
    over the quantized value."""
    return counts_state(
        measurements.select(
            "metric",
            bucket_ts("ts_ms", window_ms),
            hdr_quantize(F.col("value")).alias("v"),
        )
    )


def counts_state(samples: DataFrame) -> DataFrame:
    """(metric, ts, v) samples → (metric, ts, hist: array<struct<v,c>>
    sorted by v): the (value → count) map of each bucket. A NULL v is no
    sample, so a bucket of none has no row."""
    counted = (
        samples.where(F.col("v").isNotNull())
        .groupBy("metric", "ts", F.col("v").alias("value"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _collect(counted)


def merge_states(state: DataFrame, coarser_window_ms: int) -> DataFrame:
    """Roll fine histogram states into a coarser grid (Histogram.add)."""
    exploded = state.select(
        "metric", bucket_ts("ts", coarser_window_ms), F.explode("hist").alias("e")
    )
    counted = exploded.groupBy("metric", "ts", F.col("e.v").alias("value")).agg(
        F.sum("e.c").alias("c")
    )
    return _collect(counted)


def _collect(counted: DataFrame) -> DataFrame:
    """(metric, ts, value, c) → (metric, ts, hist) by the summary's
    count-state aggregate."""
    hist = summary_aggregates_sql(HISTOGRAM, counted=True)["hist"]
    return counted.groupBy("metric", "ts").agg(F.expr(hist).alias("hist"))


def state_summary(state: DataFrame, convention: str = "engine") -> DataFrame:
    """Histogram state → the 11-field summary (quantized domain: min/max/
    mean/percentiles are over highest-equivalent values, mirroring the
    reference's HdrHistogram getters). `convention='hdr'` switches the
    percentile rank to HdrHistogram's round-half-up for bit-parity with
    `getValueAtPercentile`."""
    rank = {"engine": rank_sql, "hdr": hdr_rank_sql}[convention]
    # no field is cpm, so no window is needed
    fields = [
        F.expr(summary_field_sql(HISTOGRAM, f, lambda c: c, 0, counted=True)).alias(f)
        for f in HISTOGRAM_FIELDS
    ]
    walk = F.expr(percentile_walk_sql("hist", rank)).alias("walk")
    return state.select("metric", "ts", "hist", walk).select("metric", "ts", *fields)
