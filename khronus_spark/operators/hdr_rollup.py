"""Mergeable-histogram rollup cascade: the reference's architecture,
Spark-first.

The reference never re-reads raw data: each resolution merges the
previous resolution's serialized HdrHistograms (`model/TimeWindow.scala:
96-109`, `Histogram.add` at `model/HistogramBucket.scala:56-65`) and only
then derives the 11-field summary. Here the per-(metric, bucket) state is
a sorted array of (quantized value, count) entries:

- **state build**: one groupBy over measurements — counts per quantized
  value, folded into an array column. State size is bounded by the
  number of distinct quantized values (≤ ~2048 + 1024·log2(max/2048) ≈
  a few thousand entries — the same bound HdrHistogram enjoys),
  regardless of how many samples the bucket holds. This is the 100 TB
  answer: per-bucket state no longer grows with data volume.
- **merge**: explode fine states into the coarser grid and re-sum counts
  — associative, order-insensitive, exactly `Histogram.add`.
- **summarize**: percentiles walk the sorted entries with a fold
  (`aggregate`), returning the first value whose cumulative count
  reaches `ceil(frac · total)` — the discrete percentile over the
  quantized multiset. No explode, no extra shuffle.

Cascade invariant (tested): summarize(merge(fine states)) ==
summarize(state built directly at the coarse resolution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.functions.hdr import hdr_quantize
from khronus_spark.functions.summary import PERCENTILE_FRACTIONS, bucket_ts


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
    sorted by v): the (value → count) map of each bucket. The exact
    counts mode of `functions.summary.histogram_summary` builds it over
    the raw value."""
    counted = samples.groupBy("metric", "ts", "v").agg(F.count(F.lit(1)).alias("c"))
    return (
        counted.groupBy("metric", "ts")
        .agg(F.array_sort(F.collect_list(F.struct("v", "c"))).alias("hist"))
    )


def merge_states(state: DataFrame, coarser_window_ms: int) -> DataFrame:
    """Roll fine histogram states into a coarser grid (Histogram.add)."""
    exploded = state.select(
        "metric",
        ((F.col("ts") / coarser_window_ms).cast("long") * coarser_window_ms).alias("ts"),
        F.explode("hist").alias("e"),
    )
    return (
        exploded.groupBy("metric", "ts", F.col("e.v").alias("v"))
        .agg(F.sum("e.c").alias("c"))
        .groupBy("metric", "ts")
        .agg(F.array_sort(F.collect_list(F.struct("v", "c"))).alias("hist"))
    )


#: rank-from-fraction formulas: 'engine' = the repo-wide discrete
#: convention (ceil(frac·n), shared with every oracle); 'hdr' = the
#: public HdrHistogram getValueAtPercentile convention the reference
#: inherits (`model/HistogramBucket.scala:28-34`): round-half-up of
#: frac·n, floored at 1.
_RANK_SQL = {
    "engine": "greatest(1, ceil({f} * {n}))",
    "hdr": "greatest(1, floor({f} * {n} + 0.5))",
}


def state_summary(state: DataFrame, convention: str = "engine") -> DataFrame:
    """Histogram state → the 11-field summary (quantized domain: min/max/
    mean/percentiles are over highest-equivalent values, mirroring the
    reference's HdrHistogram getters). `convention='hdr'` switches the
    percentile rank to HdrHistogram's round-half-up for bit-parity with
    `getValueAtPercentile`.

    All six percentiles come out of ONE cumulative walk over the sorted
    entries (plus one fold each for count and the value sum) — per-row
    expression cost is 3 array traversals, not one pair per percentile."""
    names = list(PERCENTILE_FRACTIONS)
    withn = state.withColumn(
        "_n", F.expr("aggregate(hist, 0L, (a, e) -> a + e.c)")
    )
    for name, frac in PERCENTILE_FRACTIONS.items():
        rank = _RANK_SQL[convention].format(f=frac, n="_n")
        withn = withn.withColumn(f"_r_{name}", F.expr(f"CAST({rank} AS BIGINT)"))
    init = (
        "named_struct('cum', 0L, "
        + ", ".join(f"'{n}', CAST(NULL AS BIGINT)" for n in names)
        + ")"
    )
    # value at rank r = first entry where cumulative count reaches r
    steps = ", ".join(
        f"'{n}', IF(acc.{n} IS NOT NULL, acc.{n}, "
        f"IF(acc.cum + e.c >= _r_{n}, e.v, CAST(NULL AS BIGINT)))"
        for n in names
    )
    walk = (
        f"aggregate(hist, {init}, "
        f"(acc, e) -> named_struct('cum', acc.cum + e.c, {steps}))"
    )
    withp = withn.withColumn("_p", F.expr(walk))
    cols = [F.col("metric"), F.col("ts")]
    cols += [F.col("_p")[n].alias(n) for n in names]
    cols += [
        F.element_at("hist", 1)["v"].alias("min"),
        F.element_at("hist", -1)["v"].alias("max"),
        F.col("_n").alias("count"),
        F.expr("aggregate(hist, 0L, (a, e) -> a + e.v * e.c) div _n").alias("mean"),
    ]
    return withp.select(*cols)


def hdr_cascade(
    measurements: DataFrame, windows_ms: tuple[int, ...]
) -> dict[int, DataFrame]:
    """Build the finest state once, then roll every coarser resolution
    from the previous **state** — raw data is read exactly once."""
    ordered = sorted(windows_ms)
    states: dict[int, DataFrame] = {}
    state = histogram_state(measurements, ordered[0])
    states[ordered[0]] = state
    for w in ordered[1:]:
        state = merge_states(state, w)
        states[w] = state
    return states
