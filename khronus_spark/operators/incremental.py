"""Incremental batch rollup: the reference's tick/watermark chain as a
scheduled Spark batch job (the alternative to Structured Streaming for
environments that run cron-style batches).

Semantics re-derived from the reference:

- **Tick** (`model/Tick.scala:12-31`): the currently-due bucket of the
  smallest window, delayed by `tick_delay` buckets so late data inside
  the allowance lands before its bucket is processed.
- **Due windows** (`model/TimeWindowChain.scala:57-67`): a window is due
  at a tick iff the tick's end crosses into a new bucket of that window
  since the metric's last processed watermark — so a 1h window runs once
  per hour even though the tick fires every 30s.
- **Watermark advance** (`model/TimeWindowChain.scala:29-40`): after all
  due windows of a metric succeed, lastProcessed := tick end; failures
  leave it unchanged so the next tick retries (idempotent overwrite
  makes replays harmless, T5).

The per-(metric, window) work itself is one bounded DataFrame
aggregation over the due slice `[aligned(lastProcessed), tick.end)` —
never a full-history recompute.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.operators.rollup import rollup_all
from khronus_spark.timegrid import DEFAULT_WINDOWS_MS, align_floor

#: late-data allowance: one smallest-window bucket (reference.conf:7-8)
TICK_DELAY_BUCKETS = 1


@dataclass(frozen=True)
class Tick:
    """The bucket (of the smallest window) due for processing now."""

    bucket_number: int
    window_ms: int

    @property
    def start_ms(self) -> int:
        return self.bucket_number * self.window_ms

    @property
    def end_ms(self) -> int:
        return (self.bucket_number + 1) * self.window_ms


def current_tick(
    now_ms: int,
    windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
    tick_delay: int = TICK_DELAY_BUCKETS,
) -> Tick:
    smallest = min(windows_ms)
    current_bucket = now_ms // smallest
    return Tick(current_bucket - tick_delay, smallest)


def windows_due(
    last_processed_ms: int,
    tick: Tick,
    windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
) -> list[int]:
    """Windows whose bucket index advanced since the watermark
    (`TimeWindowChain.mustExecuteInThisTick`)."""
    due = []
    for w in sorted(windows_ms):
        if tick.end_ms // w > last_processed_ms // w:
            due.append(w)
    return due


def process_tick(
    measurements: DataFrame,
    catalog: dict[str, tuple[str, int]],
    now_ms: int,
    windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
    bucket_limit: int | None = None,
) -> tuple[dict[int, dict[str, DataFrame]], dict[str, tuple[str, int]]]:
    """One incremental rollup tick over all catalog metrics.

    catalog: {metric: (mtype, last_processed_ms)}. Returns
    ({window: {family: summaries-for-the-due-slice}}, updated-catalog).
    Metrics are batched per (window, family) — ONE aggregation per due
    window covering every due metric, not a per-metric loop: the shuffle
    key (metric, bucket) spreads work across the cluster exactly like
    the reference's consistent-hash fan-out (T6), but scheduled by Spark.

    `bucket_limit` bounds how many buckets one tick may aggregate per
    window — the reference's `histogram.bucket-limit = 30000` bind on
    its rollup slice read (`BucketStore.scala:77,131-136`, read at
    `TimeWindow.scala:124`), which keeps a post-downtime catch-up from
    reading an unbounded slice. Improvement over the reference: it
    TRUNCATES the slice beyond the limit (those buckets are never
    aggregated); here the watermark only advances to the capped end, so
    the remainder is deferred to later ticks instead of lost.
    """
    tick = current_tick(now_ms, windows_ms)
    out: dict[int, dict[str, DataFrame]] = {}
    updated = dict(catalog)
    #: per-metric hold-back: metrics whose due window got capped keep
    #: their watermark at the capped end; everyone else advances fully
    #: (a global hold would re-aggregate already-processed buckets of
    #: unrelated metrics on every later tick)
    held: dict[str, int] = {}

    for w in sorted(windows_ms):
        # metrics for which this window is due, and the earliest slice
        # start among them (per-metric start differences are handled by
        # the metric filter: buckets before a metric's own watermark are
        # simply rewritten — idempotent overwrite, T5)
        due_metrics = {
            m: (mtype, last)
            for m, (mtype, last) in catalog.items()
            if w in windows_due(last, tick, windows_ms)
        }
        if not due_metrics:
            continue
        slice_start = align_floor(min(last for _, last in due_metrics.values()), w)
        slice_end = align_floor(tick.end_ms, w)  # exclusive
        if bucket_limit is not None and slice_end - slice_start > bucket_limit * w:
            slice_end = slice_start + bucket_limit * w
            for m in due_metrics:
                held[m] = min(held.get(m, slice_end), slice_end)
        if slice_end <= slice_start:
            continue
        due = measurements.where(
            F.col("metric").isin(*due_metrics)
            & F.col("ts_ms").between(slice_start, slice_end - 1)
        )
        out[w] = rollup_all(due, (w,))[w]

    # capped catch-up: a held metric's watermark stays at its capped end
    # so deferred buckets are aggregated by later ticks (never silently
    # dropped). Floor at the metric's OWN previous watermark: the shared
    # per-window slice starts at the laggard, so a caught-up metric due
    # in a capped window may have had none of its own range processed —
    # it must neither regress (re-aggregating its done buckets forever)
    # nor advance (skipping its unprocessed range).
    for m, (mtype, last) in catalog.items():
        advance = min(tick.end_ms, held.get(m, tick.end_ms))
        updated[m] = (mtype, max(last, advance))
    return out, updated
