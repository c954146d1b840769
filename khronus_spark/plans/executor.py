"""Compile bound InfluxCriteria into one Spark SQL statement and execute.

The Spark restatement of `influx/finder/InfluxQueryResolver.scala`:

1. build the Slice from the time filters (`buildSlice`, :67-85);
   `>`/`<` shift the closed interval edge by ±1ms; a FROM bound is
   mandatory.
2. route the query to a materialized resolution (`adjustResolution`,
   :89-118), then grid-align the range (from ceils, to floors, :120-133).
3. read every source of the query in one pass keyed by bucket, with the
   slice, order and limit applied at the read, before any series is
   built (`store/SummaryStore.scala:108-117`). Over raw measurements
   that is one scan and one aggregate: each source's aggregates run
   under `FILTER (WHERE metric = :m)`, and `count(…) > 0` says whether
   the source has the bucket. A percentile query over more buckets
   than the 700-point clamp first counts each value, then reads each
   histogram source's count state `hist`, present where non-empty.
   Over the summary store it is one scan per summary family, zipped on
   `ts` by a group-by only when the query reads more than one source.
4. compute every projection as a (value, keep) pair per bucket:
   missing buckets take fill(x) or are omitted (:184-201), a binary
   operation keeps the buckets both operands have (`zipByTimestamp`,
   :203-212). Only fill(…) and a bare-number series join the dense time
   spine: otherwise every bucket read is already on the grid, because
   `from` ceils and `to` floors. The pairs unpivot into (series, time,
   value) rows.
5. scale, round to 4dp HALF_UP (:214-224) and order by (series, time),
   once for the whole query.

The statement is rendered as text and run by one `spark.sql` call, so
building it costs a few Py4J round trips and one analysis. Every string
that comes from the query or the catalog (metric and series names) binds
as a named parameter, never into the text; the relations it reads bind
through the call's temp views, which are dropped when the call returns.
The summary math (bucket, per-family aggregates, percentile rank, cpm,
mean) is the SQL text of `functions/summary.py`, which the DataFrame
builders of the rollups share. At dashboard scale each series is ≤700
points (reference.conf:61-64), so the windows of fill(linear), delta and
limit run over one small partition.
"""

from __future__ import annotations

import datetime as _dt
import math
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khronus_spark.functions.summary import (
    PERCENTILE_FRACTIONS,
    bucket_sql,
    cpm_sql,
    family_of,
    percentile_walk_sql,
    summary_aggregates_sql,
    summary_field_sql,
)
from khronus_spark.operators.rollup import read_summaries
from khronus_spark.parser.ast import Field, InfluxCriteria, Number, Operation
from khronus_spark.timegrid import (
    DEFAULT_WINDOWS_MS,
    MAX_RESOLUTION_POINTS,
    Slice,
    TimeRange,
    adjust_resolution,
    build_time_range,
)


class QueryExecutionError(Exception):
    pass


class InfluxSeriesResult:
    """One output series (`InfluxSeries`, `influx/service/InfluxProtocol.scala:19`):
    name = projection name, df = (time long, value double) points.

    The series of one query share one plan, `frame`: (_sid, series,
    metric, time, value) rows ordered by (_sid, time). `df` is then the
    `_sid == sid` slice of it, built on first use; a caller that renders
    every series collects `frame` once instead (`service.series_to_json`)."""

    def __init__(
        self,
        name: str,
        metric: str,
        df: DataFrame | None = None,
        frame: DataFrame | None = None,
        sid: int = 0,
    ):
        self.name, self.metric, self.frame, self.sid = name, metric, frame, sid
        self._df = df

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = self.frame.where(F.col("_sid") == self.sid).select("time", "value")
        return self._df


def build_slice(filters, now_ms: int) -> Slice:
    """`buildSlice` (InfluxQueryResolver.scala:67-85). The missing-from
    sentinel must be None, not a magic epoch value: `time > 0` legally
    produces from_ms = 1, which a value sentinel would misread as
    "no lower bound given"."""
    from_ms, to_ms = None, now_ms
    for f in filters:
        op = getattr(f, "operator", None)
        if not hasattr(f, "value_ms"):
            continue  # StringFilter: parsed but never applied (dead surface)
        if op == ">":
            from_ms = f.value_ms + 1
        elif op == ">=":
            from_ms = f.value_ms
        elif op == "<":
            to_ms = f.value_ms - 1
        elif op == "<=":
            to_ms = f.value_ms
    if from_ms is None:
        raise QueryExecutionError("From clause required")
    return Slice(from_ms, to_ms)


def _double(x) -> str:
    """A SQL double literal of a number from the query."""
    x = float(x)
    return f"CAST({x!r} AS DOUBLE)" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _ts_literal(kind: str, ms: int) -> str:
    """Epoch-ms as a timestamp literal in UTC wall clock: `TIMESTAMP_NTZ`
    compares with an NTZ column with no cast, and `TIMESTAMP` pins its
    +00:00 offset, so neither depends on the session timezone."""
    wall = (_dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    return f"TIMESTAMP_NTZ '{wall}'" if kind == "ntz" else f"TIMESTAMP '{wall}+00:00'"


class QueryExecutor:
    def __init__(
        self,
        spark: SparkSession,
        measurements: DataFrame | None = None,
        summary_base_path: str | None = None,
        windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
    ):
        """Queries read the summary store at `summary_base_path` when
        given, else summarize raw `measurements` (metric, mtype, ts_ms,
        value[, ts_src]) per query."""
        self.spark = spark
        self.measurements = measurements
        self.summary_base_path = summary_base_path
        self.windows_ms = windows_ms

    # -- public ------------------------------------------------------------

    def execute(self, criteria: InfluxCriteria, now_ms: int) -> list[InfluxSeriesResult]:
        frame, projections = self._compile(criteria, now_ms)
        return [
            InfluxSeriesResult(p.series_name, _metric(p, criteria), frame=frame, sid=sid)
            for sid, p in enumerate(projections)
        ]

    def execute_union(self, criteria: InfluxCriteria, now_ms: int) -> DataFrame:
        """All series in long format (series, metric, time, value),
        ordered by series then time — test/oracle friendly."""
        frame, _ = self._compile(criteria, now_ms)
        return frame.select("series", "metric", "time", "value")

    # -- internals ----------------------------------------------------------

    def _compile(self, criteria: InfluxCriteria, now_ms: int) -> tuple[DataFrame, list]:
        """The query's one (_sid, series, metric, time, value) frame, and
        its projections in `_sid` order (sorted by series id)."""
        slc = build_slice(criteria.filters, now_ms)
        window_ms = adjust_resolution(
            slc,
            criteria.group_by.duration_ms,
            criteria.group_by.force,
            self.windows_ms,
        )
        projections = sorted(criteria.projections, key=lambda p: p.series_id)
        stmt = _Statement(self, criteria, build_time_range(slc, window_ms))
        text = stmt.render(projections)
        # the relations bind as temp views of fresh names for this one
        # call (which analyzes the statement, so its plan no longer needs
        # them). They drop through the session catalog:
        # `spark.catalog.dropTempView`, and so `spark.sql`'s DataFrame
        # kwargs, would also uncache any cached plan equal to the view's
        # -- the caller's cached measurements.
        try:
            for name, df in stmt.relations.items():
                df.createOrReplaceTempView(name)
            return self.spark.sql(text, args=stmt.args), projections
        finally:
            catalog = self.spark._jsparkSession.sessionState().catalog()
            for name in stmt.relations:
                catalog.dropTempView(name)


def _metric(proj, criteria: InfluxCriteria) -> str:
    if isinstance(proj, Field):
        return criteria.source_by_table_id(proj.table_id).metric
    return ""


def _operands(proj) -> list:
    if not isinstance(proj, Operation):
        return [proj]
    if isinstance(proj.left, Operation) or isinstance(proj.right, Operation):
        raise QueryExecutionError("Nested operations are not supported yet")
    return [proj.left, proj.right]


class _Statement:
    """The SQL text, named parameters and relations of one query.

    Relations, in order: `b` has one row per bucket some source has,
    with `s{i}_p` (source i has the bucket) and source i's aggregates
    `s{i}_*`; `k` (from `b`, after the limit) holds `o{j}`, the value of
    Field operand j where its source has the bucket; `x` has one row per
    rendered bucket, `time`, with `v{j}` (o{j} after fill) and `q{j}`
    (the bucket counts for operand j); the final select unpivots every
    projection's (value, keep) into rows."""

    def __init__(self, executor: QueryExecutor, criteria: InfluxCriteria, trange: TimeRange):
        self.ex, self.criteria, self.trange = executor, criteria, trange
        self.w = trange.window_ms
        self.args: dict[str, str] = {}
        self.relations: dict[str, DataFrame] = {}
        self.counted = False

    def param(self, value: str) -> str:
        """A named parameter marker bound to `value`."""
        for name, bound in self.args.items():
            if bound == value:
                return f":{name}"
        name = f"p{len(self.args)}"
        self.args[name] = value
        return f":{name}"

    def relation(self, df: DataFrame) -> str:
        """The name the statement reads `df` by."""
        name = f"_khronus_{uuid.uuid4().hex}"
        self.relations[name] = df
        return name

    # -- the statement -----------------------------------------------------

    def render(self, projections: list) -> str:
        fields = list(
            dict.fromkeys(
                (o.table_id, o.name)
                for p in projections
                for o in _operands(p)
                if isinstance(o, Field)
            )
        )
        fill = self.criteria.fill
        spine = fill is not None or any(
            not any(isinstance(o, Field) for o in _operands(p)) for p in projections
        )
        ctes = []
        tids = sorted({tid for tid, _ in fields})
        if fields:
            # `b`: ts, then per source i its presence `s{i}_p` and the
            # aggregates its fields read (a delta reads the count)
            sources = [self.criteria.source_by_table_id(tid) for tid in tids]
            needs = [{"count" if n == "delta" else n for t, n in fields if t == tid} for tid in tids]
            store = self.ex.summary_base_path is not None
            ctes += (self._store_buckets if store else self._raw_buckets)(sources, needs)
            ctes.append(self._known(fields, tids))
        ctes.append(self._rows(fields, tids, spine))
        cells = []
        for sid, proj in enumerate(projections):
            value, keep = self._series(proj, fields)
            cells.append(
                f"{sid}, {self.param(proj.series_name)}, "
                f"{self.param(_metric(proj, self.criteria))}, "
                f"CASE WHEN {keep} THEN {value} END, {keep}"
            )
        scale = self.criteria.scale
        value = "value" if scale is None else f"value * {_double(scale)}"
        order = "" if self.criteria.order_asc else " DESC"
        # one partition, sorted within it: the rendered rows are few
        # (≤700 points per series), so a range exchange and its sampling
        # job would be pure overhead
        return (
            "WITH " + ",\n".join(ctes) + "\n"
            f"SELECT /*+ COALESCE(1) */ _sid, series, metric, time, round({value}, 4) AS value\n"
            f"FROM (SELECT time, stack({len(cells)}, {', '.join(cells)}) "
            "AS (_sid, series, metric, value, keep) FROM x)\n"
            f"WHERE keep SORT BY _sid, time{order}"
        )

    def _raw_buckets(self, sources: list, needs: list[set[str]]) -> list[str]:
        multi = len(sources) > 1
        # the samples of the spine's buckets
        lo, hi = self.trange.from_ms, self.trange.to_ms + self.w - 1
        # both exact percentile modes are bit-identical, so this is a
        # plan choice: collect+sort (one shuffle) for an interactive
        # slice of at most 700 buckets (the reference's point clamp,
        # `reference.conf:62-63`); the count state (bounded by DISTINCT
        # values, one more shuffle) for a hand-forced wider one
        n_buckets = (hi + 1 - lo) // self.w
        counted = self.counted = n_buckets > MAX_RESOLUTION_POINTS and any(
            need & set(PERCENTILE_FRACTIONS) for need in needs
        )
        metrics = [self.param(s.metric) for s in sources]
        cols, derived = [], []
        for i, (src, need) in enumerate(zip(sources, needs)):
            family = family_of(src.mtype)
            aggs = summary_aggregates_sql(
                family, f"metric = {metrics[i]}" if multi else None, counted
            )
            if "hist" in aggs:
                # every field derives from the count state
                cols.append(f"{aggs['hist']} AS s{i}_hist")
                derived.append(f"size(s{i}_hist) > 0 AS s{i}_p")
                if need & set(PERCENTILE_FRACTIONS):
                    derived.append(f"{percentile_walk_sql(f's{i}_hist')} AS s{i}_walk")
                continue
            used = {"n"}
            for name in need:
                summary_field_sql(family, name, lambda c: used.add(c) or c, self.w, counted)
            cols.append(f"{aggs['n']} > 0 AS s{i}_p")
            cols += [f"{aggs[a]} AS s{i}_{a}" for a in sorted(used)]
        rel = self.relation(self.ex.measurements)
        where = (
            (f"metric IN ({', '.join(metrics)})" if multi else f"metric = {metrics[0]}")
            + f" AND ts_ms BETWEEN {lo} AND {hi}"
            + self._ts_src_pushdown(lo, hi)
        )
        bucket = bucket_sql("ts_ms", self.w)
        if counted:
            scan = (
                f"r AS (SELECT metric, {bucket} AS ts, value, count(1) AS c "
                f"FROM {rel} WHERE {where} GROUP BY 1, 2, 3)"
            )
            return [
                scan,
                f"b0 AS (SELECT ts, {', '.join(cols)} FROM r GROUP BY ts)",
                f"b AS (SELECT *, {', '.join(derived)} FROM b0)",
            ]
        return [f"b AS (SELECT {bucket} AS ts, {', '.join(cols)} FROM {rel} WHERE {where} GROUP BY 1)"]

    def _ts_src_pushdown(self, lo: int, hi: int) -> str:
        """The [lo, hi] ms range restated on the raw source column
        `ts_src`, when the measurements carry one: unlike the derived
        ts_ms, a predicate on it reaches the parquet scan and prunes row
        groups by their stats."""
        kind = dict(self.ex.measurements.dtypes).get("ts_src")
        if kind is None:
            return ""
        if kind.startswith("timestamp"):
            kind = "ntz" if kind == "timestamp_ntz" else "ltz"
            return (
                f" AND ts_src >= {_ts_literal(kind, lo)}"
                f" AND ts_src < {_ts_literal(kind, hi + 1)}"
            )
        # legacy epoch-ns long encoding
        return f" AND ts_src BETWEEN {lo * 1_000_000} AND {(hi + 1) * 1_000_000 - 1}"

    def _store_buckets(self, sources: list, needs: list[set[str]]) -> list[str]:
        """The store holds finished summary fields; one scan per family.
        One source needs no aggregate; several zip on ts by one group-by."""
        multi = len(sources) > 1
        lo, hi = self.trange.from_ms, self.trange.to_ms
        metrics = [self.param(s.metric) for s in sources]
        columns = [sorted({"count" if f == "cpm" else f for f in need}) for need in needs]
        if not multi:
            rel = self._store_relation(sources[0])
            cols = ", ".join(f"{c} AS s0_{c}" for c in columns[0])
            return [
                f"b AS (SELECT ts, TRUE AS s0_p, {cols} FROM {rel} "
                f"WHERE metric = {metrics[0]} AND ts BETWEEN {lo} AND {hi})"
            ]
        every = sorted({(family_of(s.mtype), c) for s, cs in zip(sources, columns) for c in cs})
        scans = []
        for family in sorted({f for f, _ in every}):
            mine = [(s, m) for s, m in zip(sources, metrics) if family_of(s.mtype) == family]
            cols = [f"{c if f == family else 'CAST(NULL AS BIGINT)'} AS {f}_{c}" for f, c in every]
            scans.append(
                f"SELECT metric, ts, {', '.join(cols)} "
                f"FROM {self._store_relation(mine[0][0])} "
                f"WHERE metric IN ({', '.join(m for _, m in mine)}) AND ts BETWEEN {lo} AND {hi}"
            )
        cols = []
        for i, (src, m, cs) in enumerate(zip(sources, metrics, columns)):
            family = family_of(src.mtype)
            cols.append(f"count(1) FILTER (WHERE metric = {m}) > 0 AS s{i}_p")
            cols += [f"max({family}_{c}) FILTER (WHERE metric = {m}) AS s{i}_{c}" for c in cs]
        return [
            f"r AS ({' UNION ALL '.join(scans)})",
            f"b AS (SELECT ts, {', '.join(cols)} FROM r GROUP BY ts)",
        ]

    def _store_relation(self, src) -> str:
        family = family_of(src.mtype)
        df = read_summaries(self.ex.spark, self.ex.summary_base_path, family, self.w)
        return self.relation(df)

    def _field_sql(self, i: int, src, name: str) -> str:
        """SQL of summary field `name` of source i over `b`."""
        col = lambda c: f"s{i}_{c}"  # noqa: E731
        if self.ex.summary_base_path is not None:
            return cpm_sql(col("count"), self.w) if name == "cpm" else col(name)
        return summary_field_sql(family_of(src.mtype), name, col, self.w, self.counted)

    def _known(self, fields: list, tids: list[str]) -> str:
        """`k`: ts, each source's `s{i}_k` (it keeps the bucket: it has
        it, within the limit), and per Field operand j `o{j}`, its value
        where its source keeps the bucket. A delta is the count's
        difference to the source's previous kept bucket: the first has
        none, so its delta is NULL and the series drops it, and a gap's
        delta spans the gap."""
        limit = self.criteria.limit
        ctes, rel, key = "", "b", "p"
        if limit is not None:
            order = "" if self.criteria.order_asc else " DESC"
            ranks = ", ".join(
                f"s{i}_p AND row_number() OVER (PARTITION BY s{i}_p ORDER BY ts{order}) "
                f"<= {limit} AS s{i}_k"
                for i in range(len(tids))
            )
            ctes, rel, key = f"l AS (SELECT *, {ranks} FROM b),\n", "l", "k"
        cols = [f"s{i}_{key} AS s{i}_k" for i in range(len(tids))]
        for j, (tid, name) in enumerate(fields):
            i = tids.index(tid)
            src = self.criteria.source_by_table_id(tid)
            keep = f"s{i}_{key}"
            if name == "delta":
                count = self._field_sql(i, src, "count")
                value = f"{count} - lag({count}) OVER (PARTITION BY {keep} ORDER BY ts)"
            else:
                value = self._field_sql(i, src, name)
            cols.append(f"CASE WHEN {keep} THEN CAST({value} AS DOUBLE) END AS o{j}")
        return ctes + f"k AS (SELECT ts, {', '.join(cols)} FROM {rel})"

    def _rows(self, fields: list, tids: list[str], spine: bool) -> str:
        """`x`: one row per rendered bucket, `time`, with `v{j}`, Field
        operand j after fill, and without fill `q{j}`, whether its
        source counts the bucket. The spine joins only under fill or for
        a bare-number series; without it every bucket read is already on
        the grid."""
        fill = self.criteria.fill
        cols = []
        for j, (tid, name) in enumerate(fields):
            v = f"o{j}"
            if fill is None:
                keep = f"{v} IS NOT NULL" if name == "delta" else f"s{tids.index(tid)}_k"
                cols += [f"{v} AS v{j}", f"{keep} AS q{j}"]
            elif fill == "linear":
                cols.append(f"{self._fill_linear(v, 'g.time')} AS v{j}")
            else:
                cols.append(f"coalesce({v}, {_double(fill)}) AS v{j}")
        if not spine:
            return f"x AS (SELECT ts AS time, {', '.join(cols)} FROM k)"
        tr = self.trange
        grid = f"(SELECT id AS time FROM range({tr.from_ms}, {tr.to_ms + self.w}, {self.w}, 1)) g"
        if not fields:
            return f"x AS (SELECT time FROM {grid})"
        windows = ""
        if fill == "linear":
            windows = (
                " WINDOW w_prev AS (PARTITION BY 1 ORDER BY g.time "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
                "w_next AS (PARTITION BY 1 ORDER BY g.time "
                "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
            )
        return (
            f"x AS (SELECT g.time, {', '.join(cols)} FROM {grid} "
            f"LEFT JOIN k ON g.time = k.ts{windows})"
        )

    @staticmethod
    def _fill_linear(v: str, t: str) -> str:
        """fill(linear): interpolate a missing bucket between its nearest
        known neighbours — the InfluxQL fill(linear) semantics (gaps
        before the first / after the last known point stay NULL, so the
        series drops them, not extrapolated)."""
        pv, nv = f"last({v}, true) OVER w_prev", f"first({v}, true) OVER w_next"
        known_t = f"CASE WHEN {v} IS NOT NULL THEN {t} END"
        pt, nt = f"last({known_t}, true) OVER w_prev", f"first({known_t}, true) OVER w_next"
        return (
            f"CASE WHEN {v} IS NOT NULL THEN {v} "
            f"WHEN {pv} IS NOT NULL AND {nv} IS NOT NULL "
            f"THEN {pv} + ({nv} - {pv}) * ({t} - {pt}) / ({nt} - {pt}) END"
        )

    def _series(self, proj, fields: list) -> tuple[str, str]:
        """(value, keep) of one projection per bucket. The statement
        evaluates the value only where keep holds, so a zero divisor in
        a bucket the series drops raises nothing, as with the
        reference's inner zip."""
        fill = self.criteria.fill

        def operand(o) -> tuple[str, str]:
            if isinstance(o, Number):
                return _double(o.value), "TRUE"
            if not isinstance(o, Field):
                raise QueryExecutionError(f"Unknown projection {o!r}")
            j = fields.index((o.table_id, o.name))
            if fill is None:
                return f"v{j}", f"q{j}"
            return f"v{j}", f"v{j} IS NOT NULL" if fill == "linear" else "TRUE"

        if not isinstance(proj, Operation):
            return operand(proj)
        (lv, lk), (rv, rk) = (operand(o) for o in _operands(proj))
        keep = " AND ".join(k for k in (lk, rk) if k != "TRUE") or "TRUE"
        if proj.operator in ("+", "-", "*"):
            return f"({lv} {proj.operator} {rv})", keep
        if proj.operator != "/":
            raise QueryExecutionError(f"Unknown operator {proj.operator}")
        # the reference throws on division by zero (`InfluxAst.scala:86-95`):
        # reject the literal case at plan time, and fail per point with a
        # raising expression otherwise rather than emitting silent NULLs
        if isinstance(proj.right, Number) and float(proj.right.value) == 0.0:
            raise QueryExecutionError("Division by zero")
        return f"CASE WHEN {rv} = 0 THEN raise_error('Division by zero') ELSE {lv} / {rv} END", keep
