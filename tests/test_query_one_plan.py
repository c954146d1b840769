"""One Spark plan per query: every series of an InfluxQL answer comes
from one frame, collected once.

- the job budget of each shape of the perfbench dashboard mix, read from
  the status tracker under a job group of its own;
- the job budget of each perfbench `batch_pipeline` registry entry, run
  and collected the same way;
- the Py4J round trips of building each mix shape's plan;
- the wire bodies of the mix over 1 and 40 landed files, under 1 and 7
  shuffle partitions with adaptive execution on and off;
- every series of a multi-series answer equals the same projection
  queried alone (a series mix-up in the long frame shows here), on a
  measurements engine and on a summary-store engine.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

from khronus_spark import entry_queries
from khronus_spark.engine import KhronusEngine
from khronus_spark.functions.summary import ALL_HISTOGRAM_FUNCTIONS
from khronus_spark.operators.rollup import rollup_all, write_summaries
from khronus_spark.service import KhronusHttpService, series_to_json

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from gen import dashboard_queries  # noqa: E402

SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"
DAY_MS = 86_400_000
T0 = 1_700_000_000_000 // DAY_MS * DAY_MS
MIX_METRICS = (
    ("ing.latency", "timer"),
    ("ing.size", "gauge"),
    ("ing.hits", "counter"),
    ("ing.errs", "counter"),
)
MIX_NAMES = ("ing.latency", "ing.latency", "ing.hits", "ing.errs", "ing.size")

#: Spark jobs per GET of each mix shape: the aggregate's shuffle stage and
#: the result stage (every source of the two-source sum comes from the one
#: scan and aggregate); `list series` is a local relation.
JOB_BUDGET = {
    "count_5m": 2,
    "percentiles_1h": 2,
    "mean_max_30s": 2,
    "star_10m": 2,
    "alias_sum_5m": 2,
    "list_series": 0,
}


#: Spark jobs of each perfbench `batch_pipeline` entry, built and collected
#: at this suite's scale factor (local[8], 8 shuffle partitions). The
#: k-center entry is a driver loop, one or more jobs per round; the CC
#: entries' graphs are small enough to be solved on the driver (the
#: edge count plus one collect). `corpus_curation` runs 15 jobs, or 16
#: when adaptive execution materializes one more query stage of its
#: near-duplicate pass (the pair join that the CC edge count consumes)
#: as a job of its own: 8 of 30 measured runs, over three sessions.
BATCH_JOB_BUDGET = {
    "corpus_curation": {15, 16},
    "coreset_kcenter_per_cell": {15},
    "part_entity_components": {7},
    "decontamination_retrieval": {13},
    "influx_store_percentiles_1h": {6},
}


def _mix_rows() -> list[tuple]:
    """20k samples over one day of the four mix metrics: 1-minute slots
    in a scrambled order, spread over the seconds of the minute."""
    return [
        (
            *MIX_METRICS[i % 4],
            T0 + (i * 7919 % 1440) * 60_000 + i % 59 * 1000,
            i * 31 % 997,
        )
        for i in range(20_000)
    ]


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs it ran) under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dashboard_mix_job_budget(spark, tmp_path):
    spark.createDataFrame(_mix_rows(), SCHEMA).coalesce(1).write.parquet(
        str(tmp_path / "m")
    )
    m = spark.read.schema(SCHEMA).parquet(str(tmp_path / "m"))
    eng = KhronusEngine(
        spark, measurements=m, catalog=sorted(MIX_METRICS), now_ms=T0 + DAY_MS
    )
    mix = dict(dashboard_queries(T0, MIX_NAMES))
    assert set(mix) == set(JOB_BUDGET)
    jobs = {}
    for label, q in mix.items():
        payload, jobs[label] = _jobs(
            spark, f"budget-{label}", lambda: series_to_json(eng.sql(q))
        )
        assert payload and (label == "list_series" or payload[0]["points"])
    assert jobs == JOB_BUDGET
    assert jobs["star_10m"] <= 2


def test_get_after_append_runs_no_catalog_scan(spark, tmp_path):
    """The service's default engine binds the landed (metric, mtype)
    pairs it keeps itself: a GET right after an append costs the query's
    own jobs and nothing for the catalog."""
    svc = KhronusHttpService(spark, str(tmp_path / "landing"))
    svc._append(_mix_rows())
    mix = dict(dashboard_queries(T0, MIX_NAMES))
    for label in ("count_5m", "list_series"):
        svc._append([("ing.hits", "counter", T0, 1)])  # invalidates the engine

        def get():
            eng = svc._default_engine()
            assert eng._catalog is not None  # bound without a scan
            return series_to_json(eng.sql(mix[label]))

        payload, jobs = _jobs(spark, f"after-append-{label}", get)
        assert jobs == JOB_BUDGET[label]
    names = {p[1] for p in payload[0]["points"]}
    assert names == {name for name, _ in MIX_METRICS}


#: Py4J commands a mix shape's plan build may send: one SQL statement,
#: its parameters and its temp view (16-56 measured; the per-column
#: DataFrame builder it replaced sent 560-3000)
PY4J_BUDGET = 100


def test_plan_build_py4j_budget(spark, tmp_path):
    """Building a mix shape's plan (`eng.sql(q)`, nothing collected)
    stays a handful of Py4J round trips, so plan construction cannot
    drift back to per-column DataFrame calls. Deferred frees of
    earlier Java objects are not plan building and are not counted."""
    import gc

    from py4j import clientserver, protocol

    spark.createDataFrame(_mix_rows(), SCHEMA).coalesce(1).write.parquet(str(tmp_path / "m"))
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = clientserver.ClientServerConnection.send_command
    sent = []

    def counting(conn, command):
        if not command.startswith(release):
            sent.append(command)
        return send(conn, command)

    commands = {}
    for label, q in dashboard_queries(T0, MIX_NAMES):
        m = spark.read.schema(SCHEMA).parquet(str(tmp_path / "m"))
        eng = KhronusEngine(spark, measurements=m, catalog=sorted(MIX_METRICS), now_ms=T0 + DAY_MS)
        gc.collect()
        sent.clear()
        clientserver.ClientServerConnection.send_command = counting
        try:
            eng.sql(q)
        finally:
            clientserver.ClientServerConnection.send_command = send
        commands[label] = len(sent)
    assert all(n <= PY4J_BUDGET for n in commands.values()), commands


def test_answers_do_not_depend_on_layout_or_shuffle_conf(spark, tmp_path):
    """The same rows landed as 1 file and as 40 answer every mix shape,
    a fill(linear) and a delta query with identical wire bodies under
    1 and 7 shuffle partitions, with adaptive execution on and off."""
    rows = spark.createDataFrame(_mix_rows(), SCHEMA)
    rows.coalesce(1).write.parquet(str(tmp_path / "one"))
    rows.repartition(40).write.parquet(str(tmp_path / "forty"))
    queries = [q for _, q in dashboard_queries(T0, MIX_NAMES)] + [
        f'select count, p90 from "ing.latency" where time >= {T0} and time < {T0 + DAY_MS} '
        "force group by time(1h) fill(linear)",
        f'select delta, count from "ing.hits" where time >= {T0} and time < {T0 + DAY_MS} '
        "force group by time(30m)",
    ]
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k, None) for k in keys}
    bodies = {}
    try:
        for partitions in ("1", "7"):
            for adaptive in ("true", "false"):
                spark.conf.set(keys[0], partitions)
                spark.conf.set(keys[1], adaptive)
                for layout in ("one", "forty"):
                    m = spark.read.schema(SCHEMA).parquet(str(tmp_path / layout))
                    eng = KhronusEngine(
                        spark, measurements=m, catalog=sorted(MIX_METRICS), now_ms=T0 + DAY_MS
                    )
                    for q in queries:
                        body = json.dumps(series_to_json(eng.sql(q)))
                        bodies.setdefault(q, set()).add(body)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert all(len(b) == 1 for b in bodies.values()), [q for q, b in bodies.items() if len(b) > 1]
    assert all('"points": []' not in next(iter(b)) for b in bodies.values())


@pytest.mark.parametrize("name", sorted(BATCH_JOB_BUDGET))
def test_batch_pipeline_entry_job_budget(spark, sf_dir, name):
    """A change that adds a job to one of the benchmark's batch entries
    fails here instead of hiding in the benchmark's wall-time noise."""
    entry = entry_queries.queries()[name]
    rows, jobs = _jobs(
        spark, f"batch-{name}", lambda: entry(spark, sf_dir).collect()
    )
    assert rows
    assert jobs in BATCH_JOB_BUDGET[name]


# ---------------------------------------------------------------------------
# multi-series consistency
# ---------------------------------------------------------------------------

W_MS = 600_000  # the forced 10m resolution of every case below
NOW = T0 + DAY_MS
CASE_METRICS = (("t", "timer"), ("c", "counter"), ("z", "counter"))


def _case_rows() -> list[tuple]:
    """24 10m buckets from T0: the timer skips every third bucket, the
    counter every fourth (so fills and operations see gaps on both
    sides), and `z` has one bucket whose count is 0."""
    rows = []
    for b in range(24):
        ts = T0 + b * W_MS
        if b % 3 != 2:
            rows += [("t", "timer", ts + i * 7_000, 10 + (b * 13 + i * 7) % 50) for i in range(5)]
        if b % 4 != 1:
            rows += [("c", "counter", ts + 1_000, 1 + b % 5), ("c", "counter", ts + 9_000, 2)]
        rows.append(("z", "counter", ts + 2_000, 0 if b == 6 else 3))
    return rows


@pytest.fixture(scope="module", params=["measurements", "store"])
def case_engine(request, spark, tmp_path_factory):
    m = spark.createDataFrame(_case_rows(), SCHEMA)
    if request.param == "measurements":
        return KhronusEngine(spark, measurements=m, now_ms=NOW)
    base = str(tmp_path_factory.mktemp("one_plan_store"))
    write_summaries(rollup_all(m, (W_MS,)), base)
    return KhronusEngine(
        spark,
        summary_base_path=base,
        catalog=sorted(CASE_METRICS),
        windows_ms=(W_MS,),
        now_ms=NOW,
    )


WHERE = f"where time >= {T0} and time < {T0 + 4 * 3_600_000} force group by time(10m)"

#: (projections of the multi-series query, the FROM clause, the tail
#: after the group-by, the single projections to compare with — by
#: default each projection of the multi-series query)
CASES = {
    "star_timer": ("*", '"t"', "", ALL_HISTOGRAM_FUNCTIONS),
    "star_counter": ("*", '"c"', "", ("count", "cpm")),
    "fill_zero": ("count, max, p50", '"t"', "fill(0)", None),
    "fill_linear": ("count, mean", '"t"', "fill(linear)", None),
    "delta": ("delta, count", '"c"', "", None),
    "scale": ("count, max", '"t"', "scale(0.5)", None),
    "desc_limit": ("count, p90", '"t"', "limit 5 order desc", None),
    "two_sources": (
        "a.count + b.count as total, a.count as ac, b.max as bm",
        '"c" as a, "t" as b',
        "",
        None,
    ),
    "two_sources_fill": (
        "a.count - b.count as diff, b.count as bc",
        '"c" as a, "t" as b',
        "fill(1)",
        None,
    ),
    "number_operand": ("t.count * 2 as dbl, t.max as mx, 5 as five", '"t" as t', "", None),
}


def _payload(engine, projections: str, source: str, tail: str) -> list[dict]:
    return series_to_json(
        engine.sql(f"select {projections} from {source} {WHERE} {tail}")
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_multi_series_equals_each_series_alone(case_engine, case):
    projections, source, tail, alone = CASES[case]
    together = _payload(case_engine, projections, source, tail)
    singles = alone or [p.strip() for p in projections.split(",")]
    assert len(together) == len(singles)
    by_column = {s["columns"][1]: s for s in together}
    assert len(by_column) == len(together)
    for projection in singles:
        [single] = _payload(case_engine, projection, source, tail)
        assert by_column[single["columns"][1]] == single, projection
    # every case has points, so a dropped series cannot pass vacuously
    assert all(s["points"] for s in together)


def test_division_by_zero_value_raises_in_multi_series(case_engine):
    """a zero operand value raises when the plan runs, together with
    other series and alone."""
    source = '"c" as a, "z" as z'
    for projections in ("a.count / z.count as r, a.count as ac", "a.count / z.count as r"):
        with pytest.raises(Exception, match="Division by zero"):
            _payload(case_engine, projections, source, "")
