"""HDR-style value quantization: the reference's histogram compat mode.

The reference records timer/gauge values into HdrHistograms with 3
significant decimal digits up to 36,000,000 (1h in ms)
(`model/HistogramBucket.scala:82-94`): values below 2048 are exact;
above, the resolution doubles with each power of two, and percentile
queries return the **highest equivalent value** of the matched bucket.

Re-derivation (public HdrHistogram layout, 3 significant digits →
subBucketCount = 2^ceil(log2(2·10³)) = 2048, unitMagnitude = 0):

    bucket_index(v) = max(0, floor(log2(v)) - 10)      (v ≥ 1)
    range(v)        = 2^bucket_index(v)
    quantized(v)    = (v div range + 1) · range − 1    (highest equivalent)

The quantized value domain is what makes per-bucket histograms
**mergeable**: a (value → count) map merges by count addition, exactly
like `Histogram.add` (`model/HistogramBucket.scala:56-65`) — so coarse
resolutions can be rolled up from fine histogram *states* without
touching raw data. Implemented as shared double `log2`/`pow` arithmetic
(identical in Spark and the DuckDB oracle: powers of two are exact in
IEEE doubles, and `floor(log2 v)` only switches at powers of two).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: values above this are clamped at ingest, with a warning in the
#: reference (`store/MetricMeasurementStore.scala:88-98`)
HIGHEST_TRACKABLE = 36_000_000

#: exact-resolution threshold for 3 significant digits
SUB_BUCKET_COUNT = 2048


def hdr_quantize(v: Column) -> Column:
    """Highest equivalent value of v in the 3-significant-digit grid;
    NULL stays NULL. v must be a non-negative long (ingest skips
    negatives)."""
    # not `least`, which skips a NULL operand and would clamp it
    clamped = F.when(v > HIGHEST_TRACKABLE, HIGHEST_TRACKABLE).otherwise(v).cast("long")
    rng = (
        F.when(clamped < SUB_BUCKET_COUNT, F.lit(1).cast("long"))
        .otherwise(
            F.pow(F.lit(2.0), F.floor(F.log2(clamped)) - F.lit(10)).cast("long")
        )
    )
    return ((clamped / rng).cast("long") + 1) * rng - 1


def hdr_quantize_sql(expr: str) -> str:
    """The identical quantization in DuckDB SQL."""
    clamped = f"(CASE WHEN {expr} > {HIGHEST_TRACKABLE} THEN {HIGHEST_TRACKABLE} ELSE {expr} END)"
    rng = (
        f"(CASE WHEN {clamped} < {SUB_BUCKET_COUNT} THEN 1 "
        f"ELSE CAST(power(2, floor(log2({clamped})) - 10) AS BIGINT) END)"
    )
    return f"(({clamped} // {rng} + 1) * {rng} - 1)"


def hdr_rank_sql(frac: str, n: str) -> str:
    """1-indexed rank of percentile `frac` among `n` values in the
    reference's HdrHistogram `getValueAtPercentile` convention
    (`model/HistogramBucket.scala:28-34`): round-half-up of frac · n,
    floored at 1. Valid in Spark and DuckDB SQL."""
    return f"greatest(1, floor({frac} * {n} + 0.5))"
