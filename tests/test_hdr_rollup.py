"""HDR quantization + mergeable-histogram cascade tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from khronus_spark.functions.hdr import HIGHEST_TRACKABLE, hdr_quantize
from khronus_spark.functions.summary import histogram_summary
from khronus_spark.operators.hdr_rollup import (
    histogram_state,
    merge_states,
    state_summary,
)
from khronus_spark.sources.tables import measurements_from_events

SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"


def test_quantization_properties(spark):
    vals = [0, 1, 5, 100, 2047, 2048, 2049, 4095, 4096, 10_000, 1_000_000,
            36_000_000, 99_999_999]
    df = spark.createDataFrame([(v,) for v in vals], "value LONG")
    out = {r["value"]: r["q"] for r in df.select("value", hdr_quantize(F.col("value")).alias("q")).collect()}
    # exact below 2048
    for v in [0, 1, 5, 100, 2047]:
        assert out[v] == v
    # above: quantized up to the bucket's highest equivalent value,
    # within 3-significant-digit relative error, never below the value
    for v in [2048, 2049, 4095, 4096, 10_000, 1_000_000, 36_000_000]:
        assert out[v] >= v
        assert (out[v] - v) <= max(1, v / 1024)
    # clamped at highest trackable (MetricMeasurementStore.scala:88-98)
    assert out[99_999_999] == out[HIGHEST_TRACKABLE] >= HIGHEST_TRACKABLE


def test_state_bounded_and_summary_consistent(spark):
    # 10k samples, many duplicates → state entries ≤ distinct quantized
    rows = [("m", "timer", 1000 + i, (i * 37) % 5000) for i in range(10_000)]
    m = spark.createDataFrame(rows, SCHEMA)
    st = histogram_state(m, 3_600_000)
    hist = st.collect()[0]["hist"]
    assert len(hist) < 5000  # quantization collapses the tail
    assert sum(e["c"] for e in hist) == 10_000
    vs = [e["v"] for e in hist]
    assert vs == sorted(vs)

    summ = state_summary(st).collect()[0]
    exact = histogram_summary(m, 3_600_000).collect()[0]
    assert summ["count"] == exact["count"]
    # quantized percentiles within 3-significant-digit error of exact
    for p in ("p50", "p90", "p99", "p999"):
        assert exact[p] <= summ[p] <= exact[p] + max(1, exact[p] / 512)
    assert summ["min"] == exact["min"]  # min < 2048 here → exact
    assert summ["max"] >= exact["max"]


def test_cascade_equals_direct(spark, sf_dir):
    """THE reference invariant: merging fine states up the cascade gives
    the same summaries as building the coarse state directly from raw
    (percentiles of merged histograms, never averaged — README.md:23)."""
    m = measurements_from_events(spark, sf_dir).where("mtype = 'timer'")
    state = histogram_state(m, 60_000)
    for w in (300_000, 3_600_000):
        state = merge_states(state, w)
    via_cascade = state_summary(state)
    direct = state_summary(histogram_state(m, 3_600_000))
    a = sorted(map(tuple, via_cascade.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and a


def test_merge_is_count_preserving(spark, sf_dir):
    m = measurements_from_events(spark, sf_dir).where("mtype = 'timer'")
    fine = histogram_state(m, 60_000)
    coarse = merge_states(fine, 3_600_000)
    n_fine = fine.select(F.explode("hist").alias("e")).agg(F.sum("e.c")).collect()[0][0]
    n_coarse = coarse.select(F.explode("hist").alias("e")).agg(F.sum("e.c")).collect()[0][0]
    assert n_fine == n_coarse == m.count()


def test_null_value_is_no_sample(spark):
    """A NULL value quantizes to NULL, not to the top trackable value,
    and carries no sample in the HDR state: a bucket of (NULL, 5, 7)
    summarizes like `histogram_summary`, an all-NULL bucket has no
    state row, and merging keeps both facts."""
    m = spark.createDataFrame(
        [("m", 1_000, None), ("m", 2_000, 5), ("m", 3_000, 7), ("m", 61_000, None)],
        "metric string, ts_ms long, value long",
    )
    q = m.select(hdr_quantize(F.col("value")).alias("q")).where("q IS NULL").count()
    assert q == 2
    state = histogram_state(m, 60_000)
    exact = histogram_summary(m, 60_000).collect()
    assert len(exact) == 1 and exact[0]["count"] == 2
    for st in (state, merge_states(state, 3_600_000)):
        got = state_summary(st).collect()
        assert len(got) == 1
        assert [got[0][f] for f in ("count", "p80", "mean", "max")] == [2, 7, 6, 7]
    assert [r["ts"] for r in state.collect()] == [0]
