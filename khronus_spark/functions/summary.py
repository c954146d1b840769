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
quantization error. The batch rollup, the streaming rollup and the
query compiler all render this one convention from the SQL text below.
A histogram bucket's aggregate holds its samples, so its state grows
with the bucket's sample count; a stream keeps that state only for
buckets the watermark has not yet closed. The count state `hist`,
sorted (value, count) entries, is bounded by distinct values and
merges by adding counts; wide-slice queries and the HDR cascade
(`operators/hdr_rollup.py`) build and summarize it from the text here.

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


def summary_aggregates_sql(
    family: str, where: str | None = None, counted: bool = False
) -> dict[str, str]:
    """The exact per-bucket aggregates of one summary family over
    `value`, as SQL text by name. A counter has `n` (its rows; the
    bucket exists where n > 0) and `count`; a histogram has `n` (its
    samples), `min`, `max`, `sum` and the sorted samples `sorted`.
    `where` restricts every aggregate to the rows it holds for (a
    FILTER clause). `counted` reads (value, c) rows, c samples of each
    value, and a histogram then has only `hist`, its count state: the
    (v, c) entries sorted by v, bounded by distinct values, empty where
    the bucket has no sample. `summary_field_sql` derives the summary
    fields from these. Raises on an unknown family."""
    if family not in FAMILY_FIELDS:
        raise ValueError(f"Unknown summary family: {family}")
    # a NULL value is no sample; only the counted rows keep a NULL group
    conds = [c for c in (where, counted and family == HISTOGRAM and "value IS NOT NULL") if c]
    flt = f" FILTER (WHERE {' AND '.join(conds)})" if conds else ""
    if family == COUNTER:
        total = "sum(value * c)" if counted else "sum(value)"
        return {"n": f"count(1){flt}", "count": total + flt}
    if counted:
        return {"hist": f"sort_array(collect_list(struct(value AS v, c)){flt})"}
    return {
        "n": f"count(value){flt}",
        "min": f"min(value){flt}",
        "max": f"max(value){flt}",
        "sum": f"sum(value){flt}",
        "sorted": f"sort_array(collect_list(value){flt})",
    }


def summary_field_sql(
    family: str, field: str, col, window_ms: int, counted: bool = False
) -> str:
    """SQL text of one summary field over the aggregates of
    `summary_aggregates_sql`, each named by `col(name)`. In the counted
    mode a histogram field derives from `col("hist")`: count = Σc, min
    the first v, max the last, mean Σv·c over Σc, and a percentile reads
    `col("walk")`, the `percentile_walk_sql` struct of the hist."""
    if field == "cpm":
        return cpm_sql(summary_field_sql(family, "count", col, window_ms, counted), window_ms)
    if family == COUNTER:
        return col(field)
    if counted:
        hist = col("hist")
        count = f"aggregate({hist}, 0L, (a, e) -> a + e.c)"
        if field == "count":
            return count
        if field in ("min", "max"):
            return f"element_at({hist}, {1 if field == 'min' else -1}).v"
        if field == "mean":
            return mean_sql(f"aggregate({hist}, 0L, (a, e) -> a + e.v * e.c)", count)
        return f"{col('walk')}.{field}"
    if field in ("min", "max"):
        return col(field)
    if field == "count":
        return col("n")
    if field == "mean":
        return mean_sql(col("sum"), col("n"))
    return percentile_sql(col("sorted"), col("n"), PERCENTILE_FRACTIONS[field])


def rank_sql(frac: str, n: str) -> str:
    """1-indexed rank of the exact discrete percentile `frac` among `n`
    sorted values, max(1, ceil(frac · n)), in double arithmetic."""
    return f"greatest(1, ceil(CAST({frac} AS DOUBLE) * {n}))"


def percentile_sql(sorted_values: str, n: str, frac: str) -> str:
    """The exact discrete percentile of an ascending array of n values."""
    return f"element_at({sorted_values}, CAST({rank_sql(frac, n)} AS INT))"


def percentile_walk_sql(hist: str, rank=rank_sql) -> str:
    """Every percentile of sorted (v, c) entries from ONE cumulative walk:
    a struct with a field per percentile name, the first v whose
    cumulative count reaches `rank(frac, total)`, `total` being Σc. The
    walk runs in the finish function of the fold that sums c, so the
    total is computed once per row."""
    init = "named_struct('cum', 0L, " + ", ".join(
        f"'{n}', CAST(NULL AS BIGINT)" for n in PERCENTILE_FRACTIONS
    ) + ")"
    steps = ", ".join(
        f"'{n}', IF(acc.{n} IS NOT NULL, acc.{n}, "
        f"IF(acc.cum + e.c >= {rank(frac, 'total')}, e.v, CAST(NULL AS BIGINT)))"
        for n, frac in PERCENTILE_FRACTIONS.items()
    )
    walk = (
        f"aggregate({hist}, {init}, "
        f"(acc, e) -> named_struct('cum', acc.cum + e.c, {steps}))"
    )
    return f"aggregate({hist}, 0L, (a, e) -> a + e.c, total -> {walk})"


def mean_sql(total: str, n: str) -> str:
    """The mean truncated to Long, like the reference
    (`model/HistogramBucket.scala:38-39`)."""
    return f"{total} div {n}"


def cpm_sql(count: str, window_ms: int) -> str:
    """counts-per-minute meta-function: count / minutes-in-window
    (`model/HistogramSummary.scala:92-101`)."""
    return f"{count} / CAST({window_ms / 60000.0!r} AS DOUBLE)"


def bucket_sql(ts_ms: str, window_ms: int) -> str:
    """Bucket-start timestamp of an epoch-ms column: floor to the grid
    (model/Bucket.scala:54-91)."""
    return f"CAST({ts_ms} / {window_ms} AS BIGINT) * {window_ms}"


def bucket_ts(ts_ms_col: str, window_ms: int) -> Column:
    return F.expr(bucket_sql(ts_ms_col, window_ms)).alias("ts")


def summary_columns(family: str, window_ms: int) -> tuple[list[Column], list[Column]]:
    """(aggregates, fields) of one family's exact summary over `value`:
    the `summary_aggregates_sql` aggregates, each named `_<name>`, and
    the summary fields over them in store order. The batch summaries
    and the streaming rollup group by their bucket, aggregate with the
    first and select the second. Raises on an unknown family."""
    aggs = [
        F.expr(sql).alias(f"_{name}")
        for name, sql in summary_aggregates_sql(family).items()
    ]
    fields = [
        F.expr(summary_field_sql(family, f, lambda c: f"_{c}", window_ms)).alias(f)
        for f in FAMILY_FIELDS[family]
    ]
    return aggs, fields


def histogram_summary(measurements: DataFrame, window_ms: int) -> DataFrame:
    """measurements(metric, ts_ms, value) → one summary row per
    (metric, bucket): the reference's 11-field HistogramSummary
    (`model/HistogramSummary.scala:21`, computed in
    `model/HistogramBucket.scala:28-48`), from the bucket's sorted
    samples. `hdr_rollup.state_summary(counts_state(…))` computes the
    same rows from per-value counts, with state bounded by distinct
    values."""
    # a NULL value is no sample: a bucket of none yields no row (the
    # percentile would index an empty array, an ANSI error)
    measurements = measurements.where(F.col("value").isNotNull())
    aggs, fields = summary_columns(HISTOGRAM, window_ms)
    return (
        measurements.groupBy(F.col("metric"), bucket_ts("ts_ms", window_ms))
        .agg(*aggs)
        .select("metric", "ts", *fields)
    )


def counter_summary(measurements: DataFrame, window_ms: int) -> DataFrame:
    """measurements → CounterSummary(metric, ts, count): counts are the
    **sum of measurement values** per bucket (`model/CounterBucket.scala:5-13`,
    `store/MetricMeasurementStore.scala:100-110`)."""
    aggs, fields = summary_columns(COUNTER, window_ms)
    return (
        measurements.groupBy(F.col("metric"), bucket_ts("ts_ms", window_ms))
        .agg(*aggs)
        .select("metric", "ts", *fields)
    )


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
