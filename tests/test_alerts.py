"""Threshold alerting: hysteresis + debounce semantics on a hand
fixture, validation, the registry entry, fold properties, and alerts
over rollup summaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from khronus_spark.operators.alerts import threshold_alert_transitions

SCHEMA = "metric string, ts_ms long, value long"

#: enter=100 after 2 consecutive, exit below 60.
#: m1: 99(no) 100(c=1) 101(fire@3) 70(hold: in [60,100)) 120(hold)
#:     59(clear@6) 100(c=1) 90(reset) 100(c=1) 100(fire@10)
FIX = [
    ("m1", 1, 99), ("m1", 2, 100), ("m1", 3, 101), ("m1", 4, 70),
    ("m1", 5, 120), ("m1", 6, 59), ("m1", 7, 100), ("m1", 8, 90),
    ("m1", 9, 100), ("m1", 10, 100),
    # m2: single hot bucket — debounced, never alerts
    ("m2", 1, 500), ("m2", 2, 10), ("m2", 3, 500), ("m2", 4, 10),
]
EXPECT = {
    ("m1", 3, "OK", "ALERT", 101),
    ("m1", 6, "ALERT", "OK", 59),
    ("m1", 10, "OK", "ALERT", 100),
}


def test_hysteresis_debounce_hand_case(spark):
    df = spark.createDataFrame(FIX, SCHEMA)
    got = {
        tuple(r)
        for r in threshold_alert_transitions(
            df, enter=100, exit_below=60, min_breach=2
        ).collect()
    }
    assert got == EXPECT


def test_min_breach_one_and_validation(spark):
    df = spark.createDataFrame(FIX, SCHEMA)
    got = {
        tuple(r)
        for r in threshold_alert_transitions(
            df, enter=100, exit_below=60, min_breach=1
        ).collect()
    }
    # m2 now alerts on every hot bucket and clears on every cold one
    assert ("m2", 1, "OK", "ALERT", 500) in got
    assert ("m2", 2, "ALERT", "OK", 10) in got
    assert ("m2", 3, "OK", "ALERT", 500) in got
    with pytest.raises(ValueError, match="exit_below"):
        threshold_alert_transitions(df, enter=50, exit_below=60)
    with pytest.raises(ValueError, match="min_breach"):
        threshold_alert_transitions(df, enter=100, exit_below=60, min_breach=0)


def test_registry_alert_entry_has_teeth(spark, oracle_sf_dir):
    """The gate entry fires real transitions at sf0.01 (both
    directions present), so the oracle parity is not vacuous."""
    from khronus_spark.entry_queries import queries

    rows = queries()["events_alert_transitions"](spark, oracle_sf_dir).collect()
    kinds = {(r["from_state"], r["to_state"]) for r in rows}
    assert ("OK", "ALERT") in kinds and ("ALERT", "OK") in kinds
    assert len(rows) >= 10


# ---------------------------- properties of the pure fold (hypothesis)


def test_fold_alerts_properties():
    """Algebraic pins on the shared fold, over random series:
    - SPLIT-INVARIANCE: folding any prefix/suffix split with carried
      state equals folding once — the property that makes the
      streaming face correct by construction, checked exhaustively
      instead of per-fixture;
    - transitions strictly alternate, starting OK->ALERT;
    - every OK->ALERT value >= enter; every ALERT->OK value < exit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from khronus_spark.operators.alerts import OK, fold_alerts

    series = st.lists(st.integers(min_value=0, max_value=20), max_size=60)

    @settings(max_examples=300, deadline=None)
    @given(
        xs=series,
        cut=st.integers(min_value=0, max_value=60),
        enter=st.integers(min_value=5, max_value=18),
        band=st.integers(min_value=0, max_value=8),
        mb=st.integers(min_value=1, max_value=4),
    )
    def check(xs, cut, enter, band, mb):
        rows = list(enumerate(xs))
        exit_below = enter - band
        whole, a1, c1 = fold_alerts(rows, OK, 0, enter, exit_below, mb)
        cut = min(cut, len(rows))
        p1, a, c = fold_alerts(rows[:cut], OK, 0, enter, exit_below, mb)
        p2, a2, c2 = fold_alerts(rows[cut:], a, c, enter, exit_below, mb)
        assert p1 + p2 == whole and (a2, c2) == (a1, c1)
        states = [(f, t) for _, f, t, _ in whole]
        expected = [("OK", "ALERT"), ("ALERT", "OK")] * len(states)
        assert states == expected[: len(states)]
        for _, f, t, v in whole:
            if t == "ALERT":
                assert v >= enter
            else:
                assert v < exit_below

    check()


def test_alerts_over_rollup_summaries(spark, sf_dir):
    """Integration with the metrics engine: the alert fold consumes
    the rollup machinery's own counter summaries (metric, ts, count)
    directly — the deployment shape where alert rules watch the
    summary store the ingest cascade maintains."""
    from khronus_spark.functions.summary import counter_summary
    from khronus_spark.sources.tables import measurements_from_events

    m = measurements_from_events(spark, sf_dir)
    buckets = counter_summary(
        m.where(F.col("mtype") == "counter"), 3_600_000
    ).select(
        F.col("metric"), F.col("ts").alias("ts_ms"), F.col("count").alias("value")
    )
    stats = buckets.agg(
        F.expr("percentile_approx(value, 0.75)").alias("hi"),
        F.expr("percentile_approx(value, 0.4)").alias("lo"),
    ).first()
    out = threshold_alert_transitions(
        buckets, enter=int(stats["hi"]), exit_below=int(stats["lo"]),
        min_breach=2,
    ).collect()
    assert out, "thresholds inside the distribution must fire"
    # per metric, transitions alternate starting OK->ALERT (the fold
    # property holding on real engine output)
    by_metric: dict = {}
    for r in sorted(out, key=lambda r: (r["metric"], r["ts_ms"])):
        by_metric.setdefault(r["metric"], []).append(
            (r["from_state"], r["to_state"])
        )
    for states in by_metric.values():
        expected = [("OK", "ALERT"), ("ALERT", "OK")] * len(states)
        assert states == expected[: len(states)]
