"""Rollup engine tests: the "percentiles done right" invariant
(`README.md:23`), cascade equivalence (`model/TimeWindow.scala:96-109`),
ingest semantics (negative skip), and summary correctness on a
hand-computed fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from khronus_spark.functions.summary import counter_summary, histogram_summary
from khronus_spark.operators.rollup import pregroup_raw, rollup_all
from khronus_spark.sources.tables import measurements_from_events

SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"


@pytest.fixture(scope="module")
def fixture_measurements(spark):
    rows = []
    # one metric, two 30s buckets, values 1..10 and 100..109
    for i in range(10):
        rows.append(("m.timer", "timer", 1_000 + i * 100, i + 1))
        rows.append(("m.timer", "timer", 30_000 + i * 100, 100 + i))
    rows.append(("m.counter", "counter", 1_000, 5))
    rows.append(("m.counter", "counter", 2_000, 7))
    rows.append(("m.counter", "counter", 31_000, 11))
    return spark.createDataFrame(rows, SCHEMA)


def test_histogram_summary_hand_computed(spark, fixture_measurements):
    out = {
        r["ts"]: r.asDict()
        for r in histogram_summary(
            fixture_measurements.where("mtype = 'timer'"), 30_000
        ).collect()
    }
    b0 = out[0]  # values 1..10
    assert b0["count"] == 10 and b0["min"] == 1 and b0["max"] == 10
    assert b0["mean"] == 5  # 55 div 10, truncated like the reference
    # discrete percentiles: sorted[ceil(frac*10)]
    assert b0["p50"] == 5 and b0["p80"] == 8 and b0["p90"] == 9
    assert b0["p95"] == 10 and b0["p99"] == 10 and b0["p999"] == 10
    b1 = out[30_000]  # values 100..109
    assert b1["count"] == 10 and b1["min"] == 100 and b1["max"] == 109
    assert b1["mean"] == 104


def test_counter_summary_sums_values(spark, fixture_measurements):
    out = {
        r["ts"]: r["count"]
        for r in counter_summary(
            fixture_measurements.where("mtype = 'counter'"), 30_000
        ).collect()
    }
    # counts are the *sum of measurement values* (model/CounterBucket.scala:5-13)
    assert out == {0: 12, 30_000: 11}


def test_percentiles_never_averaged(spark, fixture_measurements):
    """The flagship guarantee: p50 of the merged 1m bucket equals the
    percentile over ALL raw values — NOT the average of the two 30s p50s."""
    one_min = histogram_summary(
        fixture_measurements.where("mtype = 'timer'"), 60_000
    ).collect()[0]
    all_values = sorted(
        list(range(1, 11)) + list(range(100, 110))
    )  # 20 values
    # discrete p50 = sorted[ceil(0.5*20)] = sorted[10] = 10
    assert one_min["p50"] == all_values[10 - 1] == 10
    thirty_sec = {
        r["ts"]: r["p50"]
        for r in histogram_summary(
            fixture_measurements.where("mtype = 'timer'"), 30_000
        ).collect()
    }
    averaged = (thirty_sec[0] + thirty_sec[30_000]) / 2  # the WRONG way
    assert one_min["p50"] != averaged


def test_cascade_equivalence_on_real_data(spark, sf_dir):
    """Summary at a coarse resolution computed from raw equals the one
    a lossless cascade would produce — and coarse buckets partition the
    fine ones exactly (model/TimeWindow.scala:96-109)."""
    m = measurements_from_events(spark, sf_dir).where("mtype = 'timer'")
    fine = histogram_summary(m, 60_000)
    coarse = histogram_summary(m, 300_000)
    # counts: each coarse bucket's count == sum of its fine buckets' counts
    fine_rolled = (
        fine.groupBy(
            "metric", ((F.col("ts") / 300_000).cast("long") * 300_000).alias("ts")
        )
        .agg(
            F.sum("count").alias("count"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
    )
    joined = coarse.alias("c").join(
        fine_rolled.alias("f"), ["metric", "ts"], "full_outer"
    )
    bad = joined.where(
        (F.col("c.count") != F.col("f.count"))
        | (F.col("c.min") != F.col("f.min"))
        | (F.col("c.max") != F.col("f.max"))
        | F.col("c.count").isNull()
        | F.col("f.count").isNull()
    ).count()
    assert bad == 0


def test_negative_values_skipped(spark):
    df = spark.createDataFrame(
        [("m", "timer", 1_000, 5), ("m", "timer", 2_000, -3)], SCHEMA
    )
    # the events→measurements view drops negatives at the source; the
    # summary itself aggregates whatever it is given, so emulate ingest:
    ingested = df.where(F.col("value") >= 0)
    out = histogram_summary(ingested, 30_000).collect()
    assert len(out) == 1 and out[0]["count"] == 1 and out[0]["min"] == 5


def test_pregroup_5s(spark, fixture_measurements):
    pre = pregroup_raw(fixture_measurements.where("mtype = 'timer'"))
    rows = {r["ts"]: r for r in pre.collect()}
    # 1_000..1_900 all in the 0..5000 slot
    assert rows[0]["n"] == 10 and rows[0]["sum"] == 55
    assert rows[30_000]["n"] == 10


def test_rollup_all_produces_every_window(spark, fixture_measurements):
    out = rollup_all(fixture_measurements)
    assert set(out) == {30_000, 60_000, 300_000, 600_000, 1_800_000, 3_600_000}
    for w, fams in out.items():
        assert {"histogram", "counter"} <= set(fams)


def _count_state_summary(m, window_ms):
    """The exact bounded-state batch summary: each bucket's per-value
    count state over the raw value, summarized."""
    from khronus_spark.functions.summary import bucket_ts
    from khronus_spark.operators.hdr_rollup import counts_state, state_summary

    return state_summary(
        counts_state(
            m.select("metric", bucket_ts("ts_ms", window_ms), F.col("value").alias("v"))
        )
    )


def test_count_state_summary_equals_histogram_summary(spark, sf_dir):
    """The count state (per-bucket state bounded by distinct values —
    the 100 TB exact path) must summarize byte-for-byte like the
    collect+sort `histogram_summary`, every field, every bucket."""
    from khronus_spark.functions.summary import histogram_summary
    from khronus_spark.sources.tables import measurements_from_events

    m = measurements_from_events(spark, sf_dir).where(
        F.col("mtype").isin("timer", "gauge")
    )
    a = histogram_summary(m, 30_000).orderBy("metric", "ts").collect()
    b = _count_state_summary(m, 30_000).orderBy("metric", "ts").collect()
    assert len(a) == len(b) and len(a) > 50
    assert a == b


def test_all_null_bucket_yields_no_row_in_every_mode(spark):
    """NULL values carry no sample in either exact summary,
    `histogram_summary` or the count state's: the all-NULL bucket yields
    no row (the collect+sort percentile would index an empty array, an
    ANSI error), the mixed bucket aggregates its non-NULL samples."""
    m = spark.createDataFrame(
        [("m", 1_000, None), ("m", 70_000, 5), ("m", 75_000, None)],
        "metric string, ts_ms long, value long",
    )
    for summarize in (histogram_summary, _count_state_summary):
        got = {
            r["ts"]: (r["count"], r["p50"])
            for r in summarize(m, 60_000).collect()
        }
        assert set(got) == {60_000}, summarize
        assert got[60_000][0] == 1 and float(got[60_000][1]) == 5.0, summarize


def test_family_rule_rejects_unknown_types():
    """functions.summary owns the mtype → family rule; the binder and the
    streaming rollup refuse an unknown type instead of guessing a family."""
    from khronus_spark.functions.summary import COUNTER, HISTOGRAM, family_of
    from khronus_spark.plans.criteria import QueryValidationError, functions_for_mtype
    from khronus_spark.streaming.ingest import run_streaming_rollup_upsert

    assert family_of("timer") == family_of("gauge") == HISTOGRAM
    assert family_of("counter") == COUNTER
    with pytest.raises(ValueError, match="Unknown metric type: meter"):
        family_of("meter")
    with pytest.raises(QueryValidationError, match="Unknown metric type: meter"):
        functions_for_mtype("meter")
    # an mtype where a family belongs: rejected before any stream is built
    with pytest.raises(ValueError, match="Unknown summary family: timer"):
        run_streaming_rollup_upsert(None, "store", "ckpt", 60_000, family="timer")
