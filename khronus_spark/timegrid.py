"""Core time-grid library: durations, bucket alignment, resolution routing.

Pure Python (plan-time only — never executed per-row). Semantics derived
from the reference:

- bucket n of duration d spans [n*d, (n+1)*d)            (model/Bucket.scala:54-91)
- Timestamp.alignedTo floors to the grid                 (model/Bucket.scala:39-43)
- query `from` ceils to the grid, `to` floors            (InfluxQueryResolver.scala:120-133)
- slice edges: `>` adds +1ms, `<` subtracts 1ms          (InfluxQueryResolver.scala:67-85)
- resolution adjustment picks the configured window
  nearest to the requested one, then (unless forced)
  re-adjusts so point count lands in [100, 700]          (InfluxQueryResolver.scala:89-118)
- configured windows default to 30s 1m 5m 10m 30m 1h     (reference.conf:11)
"""

from __future__ import annotations

from dataclasses import dataclass

MS = 1
SECOND_MS = 1000
MINUTE_MS = 60 * SECOND_MS
HOUR_MS = 60 * MINUTE_MS
DAY_MS = 24 * HOUR_MS
WEEK_MS = 7 * DAY_MS

_SUFFIX_MS = {
    "ms": MS,
    "s": SECOND_MS,
    "m": MINUTE_MS,
    "h": HOUR_MS,
    "d": DAY_MS,
    "w": WEEK_MS,
}

#: Default rollup cascade resolutions, finest→coarsest (reference.conf:11).
DEFAULT_WINDOWS_MS: tuple[int, ...] = (
    30 * SECOND_MS,
    1 * MINUTE_MS,
    5 * MINUTE_MS,
    10 * MINUTE_MS,
    30 * MINUTE_MS,
    1 * HOUR_MS,
)

#: Query answers are auto-adjusted to land in this point-count range
#: (reference.conf:61-64).
MIN_RESOLUTION_POINTS = 100
MAX_RESOLUTION_POINTS = 700

#: Ingest-time pre-grouping granularity (util/Setting.scala:48,
#: MetricMeasurementStore groups raw samples into 5s sub-buckets).
STORE_GROUP_MS = 5 * SECOND_MS


def parse_duration_ms(text: str) -> int:
    """Parse '30s' / '5m' / '1h' / '500ms' / '2d' / '1w' into milliseconds.

    A bare number is milliseconds (InfluxQueryParser.scala:183-197).
    """
    text = text.strip()
    # 'ms' must be checked before 's'
    for suffix in ("ms", "s", "m", "h", "d", "w"):
        if text.endswith(suffix):
            num = text[: -len(suffix)]
            if num and num.isdigit():
                return int(num) * _SUFFIX_MS[suffix]
    if text.isdigit():
        return int(text)
    raise ValueError(f"Cannot parse duration: {text!r}")


def format_duration(ms: int) -> str:
    """Render a millisecond duration compactly ('30s', '5m', '1h')."""
    for suffix, unit in (("w", WEEK_MS), ("d", DAY_MS), ("h", HOUR_MS), ("m", MINUTE_MS), ("s", SECOND_MS)):
        if ms % unit == 0 and ms >= unit:
            return f"{ms // unit}{suffix}"
    return f"{ms}ms"


def duration_to_spark_interval(ms: int) -> str:
    """Duration in ms → a Spark window() interval string ('30 seconds')."""
    if ms % SECOND_MS == 0:
        return f"{ms // SECOND_MS} seconds"
    return f"{ms} milliseconds"


def align_floor(ts_ms: int, window_ms: int) -> int:
    """Floor a timestamp to its bucket start (model/Bucket.scala:39-43)."""
    return (ts_ms // window_ms) * window_ms


def align_ceil(ts_ms: int, window_ms: int) -> int:
    """Ceil a timestamp to the next bucket start unless already aligned
    (InfluxQueryResolver.scala:127-133, floorRounding=false)."""
    if ts_ms % window_ms == 0:
        return ts_ms
    return (ts_ms // window_ms + 1) * window_ms


@dataclass(frozen=True)
class Slice:
    """Closed time interval [from_ms, to_ms] in epoch millis."""

    from_ms: int
    to_ms: int


@dataclass(frozen=True)
class TimeRange:
    """Grid-aligned query range: dense spine is from..to step window
    (both endpoints included — InfluxQueryResolver.scala:184)."""

    from_ms: int
    to_ms: int
    window_ms: int

    def spine(self) -> range:
        return range(self.from_ms, self.to_ms + 1, self.window_ms)


def build_time_range(slc: Slice, window_ms: int) -> TimeRange:
    """Align the slice to the chosen window: from ceils, to floors
    (partial edge buckets are dropped — InfluxQueryResolver.scala:120-133)."""
    return TimeRange(
        from_ms=align_ceil(slc.from_ms, window_ms),
        to_ms=align_floor(slc.to_ms, window_ms),
        window_ms=window_ms,
    )


def adjust_resolution(
    slc: Slice,
    desired_window_ms: int,
    force: bool = False,
    windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
    min_points: int = MIN_RESOLUTION_POINTS,
    max_points: int = MAX_RESOLUTION_POINTS,
) -> int:
    """Pick which materialized resolution answers the query.

    Behavior (InfluxQueryResolver.scala:89-118): choose the configured
    window nearest to the requested duration. An equidistant tie goes
    to the COARSER window — the reference's foldLeft runs over the
    DESCENDING window list with a strict '<', so the first-seen
    (larger) window keeps the tie (InfluxQueryResolver.scala:90-92;
    verified against the fold by hand — an earlier docstring here
    claimed ties went smaller, which the pinned 20m-between-10m-and-
    30m case disproves). If `force`, use it as-is; otherwise, if the point count
    `(to-from)/window` falls outside [min_points, max_points], re-scan
    coarsest→finest keeping the finest window whose point count does not
    exceed max_points (a huge slice therefore pins to the coarsest).
    """
    sorted_desc = sorted(windows_ms, reverse=True)
    nearest = sorted_desc[-1]
    for w in sorted_desc:
        if abs(desired_window_ms - w) < abs(desired_window_ms - nearest):
            nearest = w
    if force:
        return nearest

    span = abs(slc.to_ms - slc.from_ms)
    points = span // nearest
    if min_points <= points <= max_points:
        return nearest

    adjusted = sorted_desc[0]
    for w in sorted_desc:
        p = span // w
        if min_points <= p <= max_points:
            adjusted = w
        elif p < min_points:
            adjusted = w
    return adjusted
