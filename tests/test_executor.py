"""Query-executor behavior tests on a controlled fixture — the Spark
restatement of the resolver spec (`InfluxQueryResolverSpec.scala:70-381`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from khronus_spark.engine import KhronusEngine

SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"
H = 3_600_000
NOW = 100 * H  # fixed, grid-aligned "now"


@pytest.fixture(scope="module")
def engine(spark):
    rows = []
    # timer with samples in three consecutive 30m buckets starting 10h ago
    base = NOW - 10 * H
    for b in range(3):
        for i, v in enumerate([10, 20, 30, 40]):
            rows.append(("t1", "timer", base + b * 1_800_000 + i * 1000, v + b))
    # counter in two buckets
    rows.append(("c1", "counter", base + 100, 5))
    rows.append(("c1", "counter", base + 1_800_000, 7))
    # counter with a two-bucket interior gap (for fill(linear))
    rows.append(("c2", "counter", base + 100, 6))
    rows.append(("c2", "counter", base + 3 * 1_800_000, 12))
    m = __import__("pyspark.sql", fromlist=["SparkSession"])
    df = spark.createDataFrame(rows, SCHEMA)
    return KhronusEngine(spark, measurements=df, now_ms=NOW)


def _vals(series):
    return {int(r["time"]): r["value"] for r in series.df.collect()}


def test_missing_time_bound_rejected(engine):
    from khronus_spark.plans.executor import QueryExecutionError

    with pytest.raises(QueryExecutionError, match="From clause required"):
        engine.sql('select count from "c1" group by time(5m)')


def test_force_resolution_and_values(engine):
    res = engine.sql(
        f'select count from "c1" where time > now()-11h force group by time(30m)'
    )
    vals = _vals(res[0])
    # counter counts are value sums per bucket
    assert sorted(vals.values()) == [5.0, 7.0]


def test_fill_linear_interpolates_interior_gaps_only(engine):
    """fill(linear): interior missing buckets take the linear blend of
    the nearest known neighbours; spine points before the first / after
    the last known bucket are dropped (InfluxDB semantics), unlike
    fill(x) which pads the whole spine."""
    res = engine.sql(
        'select count from "c2" where time > now()-11h force group by time(30m) fill(linear)'
    )
    vals = _vals(res[0])
    base = NOW - 10 * H
    b0 = base - (base % 1_800_000)
    # exactly the known span: 4 buckets, nothing outside it
    assert sorted(vals) == [b0, b0 + 1_800_000, b0 + 2 * 1_800_000, b0 + 3 * 1_800_000]
    assert vals[b0] == 6.0 and vals[b0 + 3 * 1_800_000] == 12.0
    # 6 → 12 over three steps: 8, 10 at the interior points
    assert vals[b0 + 1_800_000] == 8.0
    assert vals[b0 + 2 * 1_800_000] == 10.0


def test_fill_and_spine_density(engine):
    res = engine.sql(
        'select count from "c1" where time > now()-11h force group by time(30m) fill(-1)'
    )
    vals = _vals(res[0])
    # slice.from = (now-11h)+1 ceils to now-10.5h; spine to now inclusive
    # → 22 points (InfluxQueryResolver.scala:120-133)
    assert len(vals) == 22
    assert sorted(set(vals.values())) == [-1.0, 5.0, 7.0]


def test_gt_adds_one_ms_to_slice(engine):
    # time > X excludes a summary exactly at X: slice.from = X+1, the
    # spine then ceils to the next bucket (InfluxQueryResolver.scala:73)
    base = NOW - 10 * H
    inclusive = engine.sql(
        f'select count from "c1" where time >= {base - 1_800_000 * 0} and time <= now() force group by time(30m)'
    )
    exclusive = engine.sql(
        f'select count from "c1" where time > {base} and time <= now() force group by time(30m)'
    )
    # base is bucket-aligned? base = NOW-10h → multiple of 30m: yes.
    vi, ve = _vals(inclusive[0]), _vals(exclusive[0])
    assert base in vi and base not in ve


def test_scale_and_round(engine):
    res = engine.sql(
        'select count from "c1" where time > now()-11h force group by time(30m) scale(0.333)'
    )
    vals = sorted(_vals(res[0]).values())
    assert vals == [round(5 * 0.333, 4), round(7 * 0.333, 4)]


def test_order_desc_and_limit(engine):
    res = engine.sql(
        'select count from "c1" where time > now()-11h force group by time(30m) limit 1 order desc'
    )
    vals = _vals(res[0])
    # limit applies to the summary read in DESC order → latest bucket only
    assert list(vals.values()) == [7.0]


def test_operation_inner_join_semantics(engine):
    # t1 has 3 buckets, c1 has 2 → operation only on the intersection
    res = engine.sql(
        'select t.count + c.count as s from "t1" as t, "c1" as c '
        "where time > now()-11h force group by time(30m)"
    )
    vals = _vals(res[0])
    assert len(vals) == 2
    assert sorted(vals.values()) == [4 + 5.0, 4 + 7.0]


def test_constant_series_spans_spine(engine):
    res = engine.sql(
        'select 2.5 as k from "t1" where time > now()-11h force group by time(30m)'
    )
    vals = _vals(res[0])
    assert len(vals) == 22 and set(vals.values()) == {2.5}


def test_projection_sort_order(engine):
    res = engine.sql(
        'select 9 as z, count as a from "t1" where time > now()-11h force group by time(30m)'
    )
    # projections emitted sorted by seriesId (InfluxQueryResolver.scala:155)
    assert [s.name for s in res] == ["a", "z"]


def test_timer_histogram_functions(engine):
    res = engine.sql(
        'select max, min, p50, mean from "t1" where time > now()-11h force group by time(30m)'
    )
    by_name = {s.name: _vals(s) for s in res}
    base = NOW - 10 * H
    assert by_name["max"][base] == 40.0 and by_name["min"][base] == 10.0
    # bucket values [10,20,30,40]: disc p50 = sorted[ceil(.5*4)] = 20
    assert by_name["p50"][base] == 20.0
    assert by_name["mean"][base] == 25.0


def test_cpm_uses_output_window(engine):
    res = engine.sql(
        'select cpm from "c1" where time > now()-11h force group by time(30m)'
    )
    vals = _vals(res[0])
    # cpm = count / (30m/1m) = count/30
    assert sorted(vals.values()) == [round(5 / 30, 4), round(7 / 30, 4)]


def test_list_series(engine):
    res = engine.sql("list series")
    names = [r["name"] for r in res[0].df.collect()]
    assert names == ["c1", "c2", "t1"]


def test_division_by_literal_zero_rejected(engine):
    from khronus_spark.plans.executor import QueryExecutionError

    with pytest.raises(QueryExecutionError, match="Division by zero"):
        engine.sql(
            f'select t.count / 0 as boom from "t1" as t '
            f"where time > {NOW - 11 * H} force group by time(30m)"
        )


def test_division_by_zero_value_raises_at_eval(engine):
    # a zero *denominator value* must raise when the plan runs, not
    # silently emit nulls (`InfluxAst.scala:86-95`)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    res = engine.sql(
        f'select 5 / t.min as inv from "t1" as t '
        f"where time > {NOW - 11 * H} force group by time(30m)"
    )
    # t1 min is 10/11/12 per bucket — no zeros, evaluates fine
    assert all(r["value"] is not None for r in res[0].df.collect())


def test_query_limit_caps_slice_in_query_order(spark):
    """The query's `limit` binds each (metric, slice) read in timestamp
    order, like the reference's influx path
    (`InfluxQueryResolver.scala:138`)."""
    from khronus_spark.engine import KhronusEngine

    rows = [("m", "counter", t * 60_000, 1) for t in range(1, 11)]
    m = spark.createDataFrame(rows, "metric STRING, mtype STRING, ts_ms LONG, value LONG")
    eng = KhronusEngine(spark, measurements=m, now_ms=700_000)
    res = eng.sql('select count from "m" where time >= 0 force group by time(1m) limit 3')
    pts = sorted(r["time"] for r in res[0].df.where("value is not null").collect())
    # ascending order (default): the FIRST 3 buckets survive the limit
    assert pts == [60_000, 120_000, 180_000]

    res2 = eng.sql(
        'select count from "m" where time >= 0 force group by time(1m) limit 3 order desc'
    )
    pts2 = sorted(r["time"] for r in res2[0].df.where("value is not null").collect())
    # descending reads keep the LAST 3 buckets (SummaryStore's desc select)
    assert pts2 == [480_000, 540_000, 600_000]


def test_time_gt_zero_is_a_valid_from_bound():
    """`time > 0` produces from_ms = 1, which must NOT be mistaken for
    the missing-from sentinel; `time >= 0` likewise. Only a query with
    no lower time bound at all raises."""
    from khronus_spark.parser.ast import TimeFilter
    from khronus_spark.plans.executor import (
        QueryExecutionError,
        build_slice,
    )

    s = build_slice((TimeFilter(">", 0),), now_ms=10_000)
    assert (s.from_ms, s.to_ms) == (1, 10_000)
    s2 = build_slice((TimeFilter(">=", 0),), now_ms=10_000)
    assert (s2.from_ms, s2.to_ms) == (0, 10_000)
    import pytest as _pytest

    with _pytest.raises(QueryExecutionError):
        build_slice((TimeFilter("<", 5_000),), now_ms=10_000)


def test_entry_scratch_dirs_are_stable_isolated_and_wiped():
    """Six driver entries materialize stores through _scratch_dir; the
    driver gate depends on its contract: same path per (process,
    name), contents wiped on reuse, distinct names isolated, parent
    registered for exit cleanup."""
    import os

    from khronus_spark.entry_queries import _scratch_dir

    a1 = _scratch_dir("t_scratch_a")
    open(os.path.join(a1, "x"), "w").write("1")
    b = _scratch_dir("t_scratch_b")
    assert os.listdir(a1) == ["x"]  # other names don't touch a
    a2 = _scratch_dir("t_scratch_a")
    assert a2 == a1                  # stable path
    assert os.listdir(a2) == []      # wiped on reuse
    assert os.path.dirname(a1) == os.path.dirname(b)
    assert f"khronus_entry_scratch_{os.getpid()}" in a1


def test_delta_is_diff_vs_previous_existing_bucket(engine):
    """`delta` (extension): count difference against the previous
    EXISTING bucket in the sliced range — the first in-range bucket
    drops, and a gap's delta spans the gap (c2 has buckets at b0=6 and
    b3=12 with nothing between: one delta row of 6)."""
    res = engine.sql(
        'select delta from "c1" where time > now()-11h force group by time(30m)'
    )
    vals = _vals(res[0])
    assert list(vals.values()) == [2.0]  # 7 - 5, single successor bucket
    res = engine.sql(
        'select delta from "c2" where time > now()-11h force group by time(30m)'
    )
    vals = _vals(res[0])
    assert list(vals.values()) == [6.0]  # 12 - 6 across the gap


def test_delta_valid_for_timer_and_star_expansion_excludes_it(engine):
    # delta validates for a timer too (count exists on every summary)
    res = engine.sql(
        'select delta from "t1" where time > now()-11h force group by time(30m)'
    )
    assert len(_vals(res[0])) == 2  # 3 timer buckets -> 2 deltas
    # but `*` expansion stays reference-exact: no delta series appears
    res = engine.sql(
        'select * from "c1" where time > now()-11h force group by time(30m)'
    )
    names = sorted(s.name for s in res)
    assert names == ["count", "cpm"]


def test_alias_colliding_with_metric_name_is_rejected(spark):
    """r13 review (verified by execution): `from "cpu", "mem" as cpu`
    bound BOTH sources to the table_id "cpu"; the executor's per-id
    summaries dict let one read overwrite the other and both output
    series silently rendered mem's numbers under cpu's label. Bound
    table_ids must be unique."""
    import pytest

    from khronus_spark.plans.criteria import QueryValidationError
    from khronus_spark.parser.parser import InfluxQueryParser
    from khronus_spark.plans.criteria import build_criteria

    catalog = [("cpu", "timer"), ("mem", "timer")]
    parsed = InfluxQueryParser(now_ms=0).parse(
        'select count from "cpu", "mem" as cpu '
        "where time > 0 group by time(1m)"
    )
    with pytest.raises(QueryValidationError, match="unique identifiers"):
        build_criteria(parsed, catalog)
    # distinct ids still bind fine
    ok = InfluxQueryParser(now_ms=0).parse(
        'select count from "cpu", "mem" as m2 '
        "where time > 0 group by time(1m)"
    )
    crit = build_criteria(ok, catalog)
    assert sorted(s.table_id for s in crit.sources) == ["cpu", "m2"]


def test_query_reads_cached_measurements_and_keeps_them_cached(spark):
    """The statement reads the measurements through a temp view of its
    own. Dropping that view must not uncache the caller's DataFrame
    (`spark.catalog.dropTempView` uncaches any cached plan equal to the
    view's), and the query must read the cache."""
    from pyspark import StorageLevel

    rows = [("m", "counter", t * 60_000, t) for t in range(1, 11)]
    m = spark.createDataFrame(rows, SCHEMA).cache()
    try:
        eng = KhronusEngine(spark, measurements=m, now_ms=700_000)
        res = eng.sql('select count from "m" where time >= 0 force group by time(1m)')
        plan = res[0].df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
        assert m.storageLevel != StorageLevel.NONE
        assert len(_vals(res[0])) == 10
    finally:
        m.unpersist()


def test_wide_slice_query_equals_batch_summaries(spark):
    """A hand-forced slice wider than the 700-point clamp reads each
    source's per-value-count state (`hist`) instead of its sorted
    samples. Every field of every bucket must still equal the batch
    `histogram_summary` / `counter_summary`: a two-source query (timer
    plus counter, each with buckets the other lacks) over 1080 30s
    buckets, with one NULL timer sample."""
    from khronus_spark.functions.summary import (
        HISTOGRAM_FIELDS,
        counter_summary,
        histogram_summary,
    )

    w, n_buckets = 30_000, 1080
    t0 = NOW - n_buckets * w
    rows = []
    for b in range(n_buckets):
        ts = t0 + b * w
        if b % 3 != 2:
            rows += [
                ("t", "timer", ts + i * 1000, (b * 31 + i * 17) % 97)
                for i in range(1 + b * 7 % 13)
            ]
        if b % 4 < 2:
            rows.append(("c", "counter", ts + 500, b % 5))
    rows.append(("t", "timer", t0 + 1500, None))
    m = spark.createDataFrame(rows, SCHEMA)
    eng = KhronusEngine(spark, measurements=m, now_ms=NOW)
    fields = HISTOGRAM_FIELDS
    q = (
        "select "
        + ", ".join(f"t.{f} as t_{f}" for f in fields)
        + f', c.count as c_count from "t" as t, "c" as c '
        f"where time between {t0} and {NOW - 1} force group by time(30s)"
    )
    got = eng.sql_union(q)
    assert "collect_list(struct" in got._jdf.queryExecution().optimizedPlan().toString()
    served = {(r["series"], r["time"]): r["value"] for r in got.collect()}

    want = {}
    for r in histogram_summary(m.where("metric = 't'"), w).collect():
        want.update({(f"t_{f}", r["ts"]): float(r[f]) for f in fields})
    for r in counter_summary(m.where("metric = 'c'"), w).collect():
        want[("c_count", r["ts"])] = float(r["count"])
    assert len(want) == len(fields) * 720 + 540
    assert served == want
