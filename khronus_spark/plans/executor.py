"""Compile bound InfluxCriteria into one DataFrame plan and execute.

The Spark restatement of `influx/finder/InfluxQueryResolver.scala`:

1. build the Slice from the time filters (`buildSlice`, :67-85);
   `>`/`<` shift the closed interval edge by ±1ms; a FROM bound is
   mandatory.
2. route the query to a materialized resolution (`adjustResolution`,
   :89-118), then grid-align the range (from ceils, to floors, :120-133).
3. group the projections by the sources they read (projections sharing
   a source land in one group) and read each source's summary once,
   pushed-down filtered to (metric, slice) with order+limit applied
   **at the read**, before spine generation
   (`store/SummaryStore.scala:108-117`). A group's summaries are zipped
   on `ts`, one struct column per source.
4. join each group onto the dense time spine once and compute every
   projection of the group as a column pair (value, keep) of one
   select: missing buckets take fill(x) or are omitted (:184-201), a
   binary operation keeps the buckets both operands have
   (`zipByTimestamp`, :203-212). The pairs unpivot into
   (series, time, value) rows.
5. union the groups, then scale, round to 4dp HALF_UP (:214-224) and
   order by (series, time), once for the whole query.

Everything stays in Catalyst: the spine is `explode(sequence(...))`,
functions are column expressions, joins are equi-joins on the bucket
timestamp. A query is one plan, so a caller that collects every series
runs one chain of Spark jobs, and building the plan runs none. At
dashboard scale each series is ≤700 points (reference.conf:61-64), so
per-query work is trivially broadcastable; the heavy lifting lives in
the rollup engine that materialized the summaries.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from khronus_spark.functions.summary import cpm_col
from khronus_spark.parser.ast import (
    Field,
    InfluxCriteria,
    Number,
    Operation,
    Source,
)
from khronus_spark.timegrid import (
    DEFAULT_WINDOWS_MS,
    MAX_RESOLUTION_POINTS,
    MIN_RESOLUTION_POINTS,
    Slice,
    TimeRange,
    adjust_resolution,
    build_time_range,
)

#: summary-table provider: (source, window_ms, slice) -> DataFrame with
#: the family's summary schema (histogram: metric/ts/p50..p999/min/max/
#: count/mean; counter: metric/ts/count). The slice is advisory — a
#: provider computing summaries on the fly can push it (bucket-aligned)
#: into the raw scan so only the queried buckets are aggregated; the
#: executor re-applies the exact ts filter afterwards either way.
SummaryProvider = Callable[[Source, int, Slice], DataFrame]


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


class QueryExecutor:
    def __init__(
        self,
        spark: SparkSession,
        summary_provider: SummaryProvider,
        windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
        min_points: int = MIN_RESOLUTION_POINTS,
        max_points: int = MAX_RESOLUTION_POINTS,
        read_limit: int | None = None,
    ):
        self.spark = spark
        self.summary_provider = summary_provider
        self.windows_ms = windows_ms
        self.min_points = min_points
        self.max_points = max_points
        #: hard per-(metric, slice) read cap, the reference's Cassandra
        #: `limit ?` bind (`SummaryStore.scala:80-88` summary-limit=1000;
        #: `BucketStore.scala:77` bucket-limit=30000). Applied in ts
        #: order (query direction), BEFORE spine join/post-processing —
        #: compiles to TakeOrderedAndProject (per-partition top-n), so
        #: a runaway slice never materializes unbounded rows.
        self.read_limit = read_limit

    # -- public ------------------------------------------------------------

    def execute(self, criteria: InfluxCriteria, now_ms: int) -> list[InfluxSeriesResult]:
        frame, projections = self._compile(criteria, now_ms)
        return [
            InfluxSeriesResult(p.series_name, self._metric(p, criteria), frame=frame, sid=sid)
            for sid, p in enumerate(projections)
        ]

    def execute_union(self, criteria: InfluxCriteria, now_ms: int) -> DataFrame:
        """All series in long format (series, metric, time, value),
        ordered by series then time — test/oracle friendly."""
        frame, _ = self._compile(criteria, now_ms)
        return frame.select("series", "metric", "time", "value")

    # -- internals ----------------------------------------------------------

    def _compile(
        self, criteria: InfluxCriteria, now_ms: int
    ) -> tuple[DataFrame, list]:
        """The query's one (_sid, series, metric, time, value) frame, and
        its projections in `_sid` order (sorted by series id)."""
        slc = build_slice(criteria.filters, now_ms)
        window_ms = adjust_resolution(
            slc,
            criteria.group_by.duration_ms,
            criteria.group_by.force,
            self.windows_ms,
            self.min_points,
            self.max_points,
        )
        trange = build_time_range(slc, window_ms)
        projections = sorted(criteria.projections, key=lambda p: p.series_id)
        parts = []
        for table_ids, members in self._groups(projections):
            framed, structs = self._zip(table_ids, members, trange, slc, criteria, window_ms)
            values, cells = [], []
            for sid, proj in members:
                value, keep = self._series(proj, structs, criteria, window_ms)
                values += [F.when(keep, value).alias(f"_v{sid}"), keep.alias(f"_k{sid}")]
                metric = self._metric(proj, criteria)
                cells += [F.lit(sid), F.lit(proj.series_name), F.lit(metric)]
                cells += [F.col(f"_v{sid}"), F.col(f"_k{sid}")]
            # unpivot: one (sid, series, metric, value, keep) row per
            # projection per bucket
            parts.append(
                framed.select("time", *values)
                .select("time", F.stack(F.lit(len(members)), *cells))
                .where(F.col("col4"))
                .select(
                    F.col("col0").alias("_sid"),
                    F.col("col1").alias("series"),
                    F.col("col2").alias("metric"),
                    "time",
                    F.col("col3").alias("value"),
                )
            )
        return self._finalize(reduce(DataFrame.unionByName, parts), criteria), projections

    @staticmethod
    def _metric(proj, criteria: InfluxCriteria) -> str:
        if isinstance(proj, Field):
            return criteria.source_by_table_id(proj.table_id).metric
        return ""

    @staticmethod
    def _fields(proj) -> list[Field]:
        """The Fields a projection's value depends on (Numbers depend on
        none — they render from the spine alone)."""
        sides = (proj.left, proj.right) if isinstance(proj, Operation) else (proj,)
        return [side for side in sides if isinstance(side, Field)]

    def _groups(self, projections) -> list[tuple[set[str], list]]:
        """(table_ids, [(sid, projection)]) per group: projections that
        share a source land in one group, so each source is read once;
        the projections that read no source form one group of their own."""
        groups: list[tuple[set[str], list]] = []
        for sid, proj in enumerate(projections):
            tids = {f.table_id for f in self._fields(proj)}
            hits = [g for g in groups if (g[0] & tids) or not (g[0] or tids)]
            groups = [g for g in groups if not any(g is h for h in hits)]
            groups.append(
                (
                    tids.union(*(g[0] for g in hits)),
                    [m for g in hits for m in g[1]] + [(sid, proj)],
                )
            )
        return groups

    def _read_summaries(
        self, src: Source, window_ms: int, slc: Slice, criteria: InfluxCriteria
    ) -> DataFrame:
        """Summary scan with slice + order + limit pushed to the read
        (`SummaryStore.readAll`, applied before spine generation)."""
        df = self.summary_provider(src, window_ms, slc)
        df = df.where(
            (F.col("metric") == src.metric)
            & F.col("ts").between(slc.from_ms, slc.to_ms)
        )
        limits = [n for n in (criteria.limit, self.read_limit) if n is not None]
        if limits:
            order = F.col("ts").asc() if criteria.order_asc else F.col("ts").desc()
            df = df.orderBy(order).limit(min(limits))
        return df

    def _zip(
        self,
        table_ids: set[str],
        members: list,
        trange: TimeRange,
        slc: Slice,
        criteria: InfluxCriteria,
        window_ms: int,
    ) -> tuple[DataFrame, dict[str, str]]:
        """The group's frame: `time`, plus one struct column per source
        holding its summary row for that bucket (null where the source
        has none), and the struct column name per table_id. Sources
        zip on `ts` by one union + group-by. The spine joins once: with
        fill every spine bucket stays (left join), without it only the
        buckets some source has (inner join)."""
        if not table_ids:
            return self._spine(trange), {}
        deltas = {
            f.table_id for _, proj in members for f in self._fields(proj) if f.name == "delta"
        }
        structs, sides = {}, []
        for i, tid in enumerate(sorted(table_ids)):
            summary = self._read_summaries(
                criteria.source_by_table_id(tid), window_ms, slc, criteria
            )
            if tid in deltas:
                # extension: count difference vs the previous EXISTING
                # bucket in the sliced range (the first in-range bucket
                # has none, so its delta is null and the series drops it;
                # a gap's delta spans the gap). The lag window runs over
                # one source's sliced summary — ≤700 points by G1,
                # bounded like _fill_linear.
                w = W.partitionBy(F.lit(1)).orderBy("ts")
                summary = summary.withColumn(
                    "delta", (F.col("count") - F.lag("count").over(w)).cast("double")
                )
            structs[tid] = f"_s{i}"
            fields = [c for c in summary.columns if c not in ("metric", "ts")]
            sides.append(summary.select("ts", F.struct(*fields).alias(structs[tid])))
        zipped = sides[0]
        if len(sides) > 1:
            zipped = (
                reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), sides)
                .groupBy("ts")
                .agg(*(F.first(c, ignorenulls=True).alias(c) for c in structs.values()))
            )
        spine = self._spine(trange)
        how = "inner" if criteria.fill is None else "left"
        return spine.join(zipped, spine.time == zipped.ts, how), structs

    def _spine(self, trange: TimeRange) -> DataFrame:
        """Dense timestamp spine from..to inclusive, step window — a
        Catalyst `sequence` + explode, not a driver loop (G3)."""
        if trange.to_ms < trange.from_ms:
            return self.spark.range(0).select(F.col("id").alias("time"))
        return self.spark.sql(
            f"SELECT explode(sequence({trange.from_ms}L, {trange.to_ms}L, "
            f"{trange.window_ms}L)) AS time"
        )

    @staticmethod
    def _fill_linear(known: Column) -> Column:
        """fill(linear): interpolate missing buckets between their
        nearest known neighbours — the InfluxQL fill(linear) semantics
        (gaps before the first / after the last known point stay null,
        so the series drops them, not extrapolated). The carry-forward/
        backward windows run over one group's spine of ≤700 points (G1
        bounds every rendered series), so the single partition is by
        construction bounded — the same reasoning as the reference's
        in-memory series build (`InfluxQueryResolver.scala:184-201`)."""
        one = F.lit(1)
        prev_w = W.partitionBy(one).orderBy("time").rowsBetween(
            W.unboundedPreceding, -1
        )
        next_w = W.partitionBy(one).orderBy("time").rowsBetween(
            1, W.unboundedFollowing
        )
        known_t = F.when(known.isNotNull(), F.col("time"))
        pv = F.last(known, ignorenulls=True).over(prev_w)
        pt = F.last(known_t, ignorenulls=True).over(prev_w)
        nv = F.first(known, ignorenulls=True).over(next_w)
        nt = F.first(known_t, ignorenulls=True).over(next_w)
        interp = pv + (nv - pv) * (F.col("time") - pt) / (nt - pt)
        return F.when(known.isNotNull(), known).when(
            pv.isNotNull() & nv.isNotNull(), interp
        )

    @staticmethod
    def _function_col(field: Field, row: Column, window_ms: int) -> Column:
        if field.name == "cpm":
            return cpm_col(row["count"], window_ms).cast("double")
        return row[field.name].cast("double")

    def _operand(
        self,
        proj: Field | Number,
        structs: dict[str, str],
        criteria: InfluxCriteria,
        window_ms: int,
    ) -> tuple[Column, Column]:
        """(value, keep) of a simple projection per spine bucket, fill
        applied (`generateSeq`, :176-201)."""
        if isinstance(proj, Number):
            return F.lit(float(proj.value)), F.lit(True)
        if not isinstance(proj, Field):
            raise QueryExecutionError(f"Unknown projection {proj!r}")
        row = F.col(structs[proj.table_id])
        if proj.name == "delta":
            value = row["delta"]
            present = value.isNotNull()
        else:
            value = self._function_col(proj, row, window_ms)
            present = row.isNotNull()
        if criteria.fill is None:
            return value, present
        known = F.when(present, value)
        if criteria.fill == "linear":
            filled = self._fill_linear(known)
            return filled, filled.isNotNull()
        return F.coalesce(known, F.lit(float(criteria.fill))), F.lit(True)

    def _series(
        self,
        proj,
        structs: dict[str, str],
        criteria: InfluxCriteria,
        window_ms: int,
    ) -> tuple[Column, Column]:
        """(value, keep) of one projection per spine bucket. The caller
        evaluates the value only where keep holds, so a zero divisor in
        a bucket the series drops raises nothing, as with the reference's
        inner zip."""
        if not isinstance(proj, Operation):
            return self._operand(proj, structs, criteria, window_ms)
        if isinstance(proj.left, Operation) or isinstance(proj.right, Operation):
            raise QueryExecutionError("Nested operations are not supported yet")
        lv, lk = self._operand(proj.left, structs, criteria, window_ms)
        rv, rk = self._operand(proj.right, structs, criteria, window_ms)
        if proj.operator == "+":
            value = lv + rv
        elif proj.operator == "-":
            value = lv - rv
        elif proj.operator == "*":
            value = lv * rv
        elif proj.operator == "/":
            # the reference throws on division by zero
            # (`InfluxAst.scala:86-95`); reject the literal case at
            # plan time, and fail per-point via a raising expression
            # otherwise rather than emitting silent nulls
            if isinstance(proj.right, Number) and float(proj.right.value) == 0.0:
                raise QueryExecutionError("Division by zero")
            value = F.when(rv == 0, F.raise_error(F.lit("Division by zero"))).otherwise(
                lv / rv
            )
        else:
            raise QueryExecutionError(f"Unknown operator {proj.operator}")
        return value, lk & rk

    def _finalize(self, df: DataFrame, criteria: InfluxCriteria) -> DataFrame:
        """scale + 4dp HALF_UP rounding + (series, time) order (:214-224).

        The order is a single-partition sort: coalesce(1) narrows the
        few post-aggregate partitions without a shuffle, and the
        within-partition sort is then the total order. The rendered
        rows are bounded (≤700 points per series, G1), so a range
        exchange and its boundary-sampling job would be pure overhead."""
        value = F.col("value") * F.lit(float(criteria.scale if criteria.scale is not None else 1.0))
        df = df.select(
            "_sid", "series", "metric", "time", F.round(value, 4).alias("value")
        )
        order = F.col("time").asc() if criteria.order_asc else F.col("time").desc()
        return df.coalesce(1).sortWithinPartitions("_sid", order)
