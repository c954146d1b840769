"""Threshold alerting with hysteresis — the state machine every
metrics engine bolts onto its rollups (Kapacitor/Alertmanager shape),
expressed once as a pure fold (`fold_alerts`) and served by
`threshold_alert_transitions`: per metric, fold the time-ordered
bucket series; emit only the TRANSITIONS (OK→ALERT, ALERT→OK).
Order-dependent recurrence — hysteresis makes the state at t depend on
the whole prefix — so like the EWMA/Holt family it runs as one
`applyInPandas` per metric key (one shuffle), NOT a window function;
the oracle unrolls the recurrence as a recursive CTE.

Semantics (integer-exact, deterministic):
- state starts OK with a zero breach counter;
- in OK: a bucket with value >= `enter` increments the counter; the
  `min_breach`-th consecutive such bucket emits OK→ALERT at ITS
  timestamp (debouncing — one hot bucket does not page anyone);
  a bucket below `enter` resets the counter;
- in ALERT: a bucket with value < `exit` emits ALERT→OK; values in
  [exit, enter) hold the alert (hysteresis — no flapping across one
  threshold); values >= enter also hold it.
- "consecutive" means consecutive OBSERVED buckets: the series is
  whatever grid the caller aggregated to, and a missing bucket is
  absent, not zero (densify upstream with the fill machinery if
  zero-fill semantics are wanted).

Scale shape: input is a SUMMARY series (metrics x buckets — already
aggregated, tiny next to raw events); one hash shuffle on metric, a
per-metric ordered fold with O(1) state, output is transition-sized.

No reference counterpart in khronus-core (alerting lived outside the
reference system); extension surface, mirrored on the self-monitoring
loop's summaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: state tuple: (alert: 0|1, consec: int) — everything the fold needs
OK, ALERT = 0, 1

OUT_SCHEMA = (
    "metric string, ts_ms long, from_state string, to_state string, "
    "value long"
)


def fold_alerts(
    rows,
    alert: int,
    consec: int,
    enter: int,
    exit_below: int,
    min_breach: int,
):
    """The ONE definition of the state machine, folded from the state
    (`alert`, `consec`). `rows` is an iterable of (ts_ms, value) in
    time order; returns (transitions, alert, consec) where transitions
    is a list of (ts_ms, from_state, to_state, value)."""
    out = []
    for ts, value in rows:
        if alert == OK:
            if value >= enter:
                consec += 1
                if consec >= min_breach:
                    out.append((ts, "OK", "ALERT", value))
                    alert = ALERT
                    consec = 0
            else:
                consec = 0
        else:
            if value < exit_below:
                out.append((ts, "ALERT", "OK", value))
                alert = OK
                consec = 0
    return out, alert, consec


def threshold_alert_transitions(
    buckets: DataFrame,
    enter: int,
    exit_below: int,
    min_breach: int = 1,
) -> DataFrame:
    """Batch face over a (metric, ts_ms, value) summary series;
    returns the transition events (metric, ts_ms, from_state,
    to_state, value). Precondition: one row per (metric, ts_ms) —
    the series is a bucket grid, not raw events."""
    if exit_below > enter:
        raise ValueError(
            f"exit_below={exit_below} must be <= enter={enter} "
            "(hysteresis band; equal values degrade to a single "
            "threshold)"
        )
    if min_breach < 1:
        raise ValueError("min_breach must be >= 1")

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("ts_ms", kind="mergesort")
        rows = zip(
            (int(t) for t in pdf["ts_ms"]), (int(v) for v in pdf["value"])
        )
        events, _, _ = fold_alerts(rows, OK, 0, enter, exit_below, min_breach)
        if not events:
            return pd.DataFrame(
                columns=["metric", "ts_ms", "from_state", "to_state", "value"]
            )
        frame = pd.DataFrame(
            events, columns=["ts_ms", "from_state", "to_state", "value"]
        )
        frame.insert(0, "metric", pdf["metric"].iloc[0])
        return frame

    return buckets.select("metric", "ts_ms", "value").groupBy(
        "metric"
    ).applyInPandas(fold, OUT_SCHEMA)
