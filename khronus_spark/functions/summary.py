"""Summary aggregate functions: the engine's closed scalar-function surface.

Reference surface (`model/HistogramSummary.scala:25-118`): timers/gauges
expose count, min, max, mean, p50, p80, p90, p95, p99, p999 and the meta
function cpm; counters expose only count and cpm
(`HistogramSummary.scala:112-113`).

Percentile semantics — deliberate, documented deviation: the reference
computes percentiles from merged HdrHistograms (3-significant-digit value
quantization, `model/HistogramBucket.scala:82-94`). This engine defines
**exact discrete percentiles** over the raw Long values:

    sorted ascending A, n = |A|
    p-th percentile = A[max(1, ceil(p_frac * n))]   (1-indexed)

which is the classic SQL percentile_disc convention, is exactly
reproducible in any engine (the DuckDB oracle restates the identical
formula), and never averages percentiles — preserving the reference's
"percentiles done right" guarantee (`README.md:23`) without histogram
quantization error. The scale path (`approx=True`) switches to Spark's
`percentile_approx` sketch, which is mergeable and bounded-memory for
100 TB inputs; correctness tests always run the exact path.

mean is truncated to Long like the reference (`model/HistogramBucket.scala:38-39`)
via integer division (values are non-negative by ingest contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: percentile name → fraction, as exact decimal literals shared with the
#: oracle SQL so both engines do bit-identical IEEE arithmetic.
PERCENTILE_FRACTIONS: dict[str, str] = {
    "p50": "0.5",
    "p80": "0.8",
    "p90": "0.9",
    "p95": "0.95",
    "p99": "0.99",
    "p999": "0.999",
}

ALL_PERCENTILES = tuple(PERCENTILE_FRACTIONS)
ALL_HISTOGRAM_FUNCTIONS = ALL_PERCENTILES + ("count", "min", "max", "mean", "cpm")
ALL_COUNTER_FUNCTIONS = ("count", "cpm")
#: the HistogramSummary's value columns, in store order after (metric, ts)
HISTOGRAM_FIELDS = ALL_PERCENTILES + ("min", "max", "count", "mean")

#: percentile integer value (as used in `percentiles(50 80 999)`) → name
PERCENTILE_BY_VALUE = {50: "p50", 80: "p80", 90: "p90", 95: "p95", 99: "p99", 999: "p999"}

#: summary family → the metric types it summarizes: timers and gauges
#: share the HistogramSummary (`InfluxCriteriaBuilder.scala:113-117`)
HISTOGRAM = "histogram"
COUNTER = "counter"
FAMILY_MTYPES = {HISTOGRAM: ("timer", "gauge"), COUNTER: ("counter",)}


def family_of(mtype: str) -> str:
    """The summary family of a metric type; raises on an unknown one."""
    for family, mtypes in FAMILY_MTYPES.items():
        if mtype in mtypes:
            return family
    raise ValueError(f"Unknown metric type: {mtype}")


def family_filter(family: str) -> Column:
    return F.col("mtype").isin(*FAMILY_MTYPES[family])


#: summary family → its value columns, in store order after (metric, ts)
FAMILY_FIELDS = {HISTOGRAM: HISTOGRAM_FIELDS, COUNTER: ("count",)}


def family_aggregates(family: str) -> list[Column]:
    """The bounded-state aggregate of one summary family over `value`,
    shared by `counter_summary`, `histogram_summary(approx=True)` and
    the streaming rollup: a counter sums its values; a histogram keeps
    exact count, min, max and mean plus `percentile_approx` sketches.
    Raises on an unknown family."""
    if family == COUNTER:
        return [F.sum("value").alias("count")]
    if family != HISTOGRAM:
        raise ValueError(f"Unknown summary family: {family}")
    return [
        F.count("value").alias("count"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.expr("sum(value) div count(value)").alias("mean"),
    ] + [
        F.percentile_approx("value", float(frac), 10000).alias(name)
        for name, frac in PERCENTILE_FRACTIONS.items()
    ]


def bucket_ts(ts_ms_col: str, window_ms: int) -> Column:
    """Bucket-start timestamp: floor to the grid (model/Bucket.scala:54-91)."""
    return ((F.col(ts_ms_col) / F.lit(window_ms)).cast("long") * F.lit(window_ms)).alias("ts")


def _disc_percentile(sorted_col: Column, n_col: Column, frac_literal: str) -> Column:
    idx = F.greatest(F.lit(1), F.ceil(F.lit(float(frac_literal)) * n_col)).cast("int")
    return F.element_at(sorted_col, idx)


def histogram_summary(
    measurements: DataFrame,
    window_ms: int,
    approx: bool = False,
    exact_counts: bool = False,
) -> DataFrame:
    """measurements(metric, ts_ms, value) → one summary row per
    (metric, bucket): the reference's 11-field HistogramSummary
    (`model/HistogramSummary.scala:21`, computed in
    `model/HistogramBucket.scala:28-48`).

    Three modes, identical schema:
    - exact/array (default): collect the bucket's values into a sorted
      array — discrete-exact percentiles; per-bucket state grows with
      SAMPLE count, so it is the correctness baseline, not the scale
      path.
    - exact/counts (`exact_counts=True`): pre-aggregate to
      (metric, bucket, value) counts, then run the HDR cumulative-rank
      walk over the RAW (unquantized) value domain — bit-identical
      output to the array mode, but per-bucket state is bounded by
      DISTINCT values (the ingest domain, ≲ thousands) no matter how
      many samples land in the bucket. One extra shuffle, unbounded-
      safe: the exact path to run at 100 TB.
    - approx (`approx=True`): mergeable `percentile_approx` sketch —
      bounded state AND single shuffle, for streaming/latency-first.
    """
    # NULL values carry no sample in ANY mode, so a bucket with no
    # non-NULL sample yields no row in all three (without this filter
    # the array path indexed an EMPTY collected array — an ANSI crash,
    # and the counts path kept a NULL entry that inflated the count)
    measurements = measurements.where(F.col("value").isNotNull())
    if exact_counts and not approx:
        from khronus_spark.operators.hdr_rollup import counts_state, state_summary

        raw_state = counts_state(
            measurements.select(
                "metric", bucket_ts("ts_ms", window_ms), F.col("value").alias("v")
            )
        )
        return state_summary(raw_state).select("metric", "ts", *HISTOGRAM_FIELDS)
    grouped = measurements.groupBy(
        F.col("metric"), bucket_ts("ts_ms", window_ms)
    )
    if approx:
        summary = grouped.agg(*family_aggregates(HISTOGRAM))
        return summary.select("metric", "ts", *FAMILY_FIELDS[HISTOGRAM])

    agg = grouped.agg(
        F.array_sort(F.collect_list("value")).alias("_vals"),
        F.count("value").alias("count"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.expr("sum(value) div count(value)").alias("mean"),
    )
    cols = [F.col("metric"), F.col("ts")]
    for name, frac in PERCENTILE_FRACTIONS.items():
        cols.append(_disc_percentile(F.col("_vals"), F.col("count"), frac).alias(name))
    cols += [F.col("min"), F.col("max"), F.col("count"), F.col("mean")]
    return agg.select(*cols)


def counter_summary(measurements: DataFrame, window_ms: int) -> DataFrame:
    """measurements → CounterSummary(metric, ts, count): counts are the
    **sum of measurement values** per bucket (`model/CounterBucket.scala:5-13`,
    `store/MetricMeasurementStore.scala:100-110`)."""
    return (
        measurements.groupBy(F.col("metric"), bucket_ts("ts_ms", window_ms))
        .agg(*family_aggregates(COUNTER))
        .select("metric", "ts", *FAMILY_FIELDS[COUNTER])
    )


def cpm_col(count_col: Column, window_ms: int) -> Column:
    """counts-per-minute meta-function: count / minutes-in-window
    (`model/HistogramSummary.scala:92-101`)."""
    return count_col / F.lit(window_ms / 60000.0)


# ---- DuckDB oracle restatements (generated from the same constants) ------

def _disc_percentile_sql(frac_literal: str, value: str = "value") -> str:
    return (
        f"(list_sort(list({value})))"
        f"[CAST(greatest(1, ceil({frac_literal} * count({value}))) AS BIGINT)]"
    )


def histogram_summary_sql(window_ms: int, where: str, measurements_sql: str) -> str:
    """DuckDB SQL computing the identical histogram summary."""
    pct = ",\n  ".join(
        f"{_disc_percentile_sql(frac)} AS {name}"
        for name, frac in PERCENTILE_FRACTIONS.items()
    )
    return f"""
SELECT
  metric,
  (ts_ms // {window_ms}) * {window_ms} AS ts,
  {pct},
  min(value) AS min,
  max(value) AS max,
  count(value) AS count,
  CAST(sum(value) // count(value) AS BIGINT) AS mean
FROM ({measurements_sql}) m
{where}
GROUP BY metric, ts
"""


def counter_summary_sql(window_ms: int, where: str, measurements_sql: str) -> str:
    return f"""
SELECT metric, (ts_ms // {window_ms}) * {window_ms} AS ts, CAST(sum(value) AS BIGINT) AS count
FROM ({measurements_sql}) m
{where}
GROUP BY metric, ts
"""
