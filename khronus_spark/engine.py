"""KhronusEngine — the user-facing facade.

Wires parser → binder → planner → executor over either:
- an in-memory/batch `measurements` DataFrame (summaries computed on the
  fly per queried resolution — exact, Catalyst-optimized), or
- a materialized summary store written by the rollup engine
  (`operators/rollup.py`), which is the 100 TB path: queries then scan
  only the routed resolution's partitioned summary table.

Equivalent of the reference's query entry point
(`influx/service/InfluxService.scala:46-87` →
`influx/finder/InfluxQueryResolver.scala:38-65`), minus HTTP.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khronus_spark.functions.summary import (
    COUNTER,
    counter_summary,
    family_of,
    histogram_summary,
)
from khronus_spark.operators.rollup import read_summaries
from khronus_spark.parser.ast import InfluxCriteria, Source
from khronus_spark.parser.parser import InfluxQueryParser
from khronus_spark.plans.criteria import build_criteria
from khronus_spark.plans.executor import InfluxSeriesResult, QueryExecutor
from khronus_spark.timegrid import (
    DEFAULT_WINDOWS_MS,
    MAX_RESOLUTION_POINTS,
    MIN_RESOLUTION_POINTS,
)


def _ms_to_naive_dt(ms: int):
    """Epoch-ms → TIMESTAMP_NTZ literal column (UTC wall clock).

    Built as an explicit NTZ SQL literal so the comparison against the
    raw NTZ source column needs no implicit cast — a plain
    attribute-vs-literal predicate Catalyst pushes into the parquet
    scan — and is independent of the session timezone (a naive Python
    datetime lit would become TIMESTAMP_LTZ and re-interpret)."""
    import datetime as _dt

    base = _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)
    return F.expr(f"TIMESTAMP_NTZ '{base.strftime('%Y-%m-%d %H:%M:%S.%f')}'")


def _ms_to_utc_instant(ms: int):
    """Epoch-ms → TIMESTAMP (LTZ) literal column pinned with an explicit
    +00:00 offset, so the instant is session-timezone-independent."""
    import datetime as _dt

    base = _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)
    return F.expr(
        f"TIMESTAMP '{base.strftime('%Y-%m-%d %H:%M:%S.%f')}+00:00'"
    )


class KhronusEngine:
    def __init__(
        self,
        spark: SparkSession,
        measurements: DataFrame | None = None,
        summary_base_path: str | None = None,
        catalog: list[tuple[str, str]] | None = None,
        windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
        now_ms: int | None = None,
        min_points: int = MIN_RESOLUTION_POINTS,
        max_points: int = MAX_RESOLUTION_POINTS,
        read_limit: int | None = None,
    ):
        """Query engine over raw `measurements` or a materialized summary
        store at `summary_base_path` (which needs an explicit `catalog`).

        `read_limit` is an opt-in cap on the rows read per (metric,
        slice), in query order (`QueryExecutor.read_limit`). Queries are
        uncapped by default like the reference's influx path, which
        binds only the query limit (`InfluxQueryResolver.scala:138`)."""
        if measurements is None and summary_base_path is None:
            raise ValueError("need measurements or summary_base_path")
        if measurements is None and catalog is None:
            # the catalog property derives from measurements; without
            # either, every query would die later with an opaque
            # AttributeError instead of failing here with the cause
            # (r13 review)
            raise ValueError(
                "a summary-store engine (summary_base_path without "
                "measurements) needs an explicit catalog= — the metric "
                "catalog cannot be derived from a summary store"
            )
        self.spark = spark
        self.measurements = measurements
        self.summary_base_path = summary_base_path
        self.windows_ms = windows_ms
        self._now_ms = now_ms
        self.max_points = max_points
        self._catalog = catalog
        self.executor = QueryExecutor(
            spark,
            self._provide_summaries,
            windows_ms,
            min_points,
            max_points,
            read_limit=read_limit,
        )

    # -- catalog (the meta snapshot, `store/Snapshot.scala:25-42`) ---------

    @property
    def catalog(self) -> list[tuple[str, str]]:
        if self._catalog is None:
            rows = (
                self.measurements.select("metric", "mtype").distinct().collect()
            )
            self._catalog = sorted((r["metric"], r["mtype"]) for r in rows)
        return self._catalog

    def list_series(self, regex: str = ".*") -> DataFrame:
        """`list series` (S10, `InfluxQueryResolver.scala:38-49`)."""
        import re as _re

        pat = _re.compile(f".*{regex}.*", _re.IGNORECASE)
        names = [(0, name) for name, _ in self.catalog if pat.fullmatch(name)]
        return self.spark.createDataFrame(names or [], "time INT, name STRING")

    # -- summaries ----------------------------------------------------------

    def _provide_summaries(self, src: Source, window_ms: int, slc) -> DataFrame:
        family = family_of(src.mtype)
        if self.summary_base_path is not None:
            # materialized path: (metric, ts) predicates push down to the
            # partitioned/sorted parquet store (the executor applies them)
            return read_summaries(self.spark, self.summary_base_path, family, window_ms)
        # on-the-fly path: push the bucket-aligned slice into the RAW scan
        # so only the queried buckets are aggregated (full buckets kept —
        # a bucket's summary always covers [ts, ts+w), like the reference's
        # precomputed summaries)
        from khronus_spark.timegrid import align_floor

        lo = align_floor(slc.from_ms, window_ms)
        hi = align_floor(slc.to_ms, window_ms) + window_ms - 1
        cond = (F.col("metric") == src.metric) & F.col("ts_ms").between(lo, hi)
        dtypes = dict(self.measurements.dtypes)
        if "ts_src" in dtypes:
            # equivalent predicate in the raw source domain: unlike the
            # derived ts_ms (a computed expression), this one pushes
            # into the parquet scan and prunes row groups by stats
            if dtypes["ts_src"] == "timestamp_ntz":
                cond = cond & (
                    F.col("ts_src") >= _ms_to_naive_dt(lo)
                ) & (F.col("ts_src") < _ms_to_naive_dt(hi + 1))
            elif dtypes["ts_src"].startswith("timestamp"):
                # LTZ source: pin the literal's offset so no implicit
                # session-timezone cast enters the comparison
                cond = cond & (
                    F.col("ts_src") >= _ms_to_utc_instant(lo)
                ) & (F.col("ts_src") < _ms_to_utc_instant(hi + 1))
            else:  # legacy epoch-ns long encoding
                cond = cond & F.col("ts_src").between(
                    lo * 1_000_000, (hi + 1) * 1_000_000 - 1
                )
        m = self.measurements.where(cond)
        if family == COUNTER:
            return counter_summary(m, window_ms)
        # both exact modes are bit-identical, so this is purely a plan
        # choice: collect+sort (one shuffle) for an interactive slice of
        # at most `max_points` buckets (the reference's 700-point clamp,
        # `reference.conf:62-63`); per-value counts (state bounded by
        # DISTINCT values, one more shuffle) for a hand-forced wider one
        n_buckets = (hi + 1 - lo) // window_ms
        return histogram_summary(
            m, window_ms, exact_counts=n_buckets > self.max_points
        )

    # -- query --------------------------------------------------------------

    @property
    def now_ms(self) -> int:
        return self._now_ms if self._now_ms is not None else int(_time.time() * 1000)

    def parse(self, query: str, now_ms: int | None = None) -> InfluxCriteria:
        now = self.now_ms if now_ms is None else now_ms
        parsed = InfluxQueryParser(now_ms=now).parse(query)
        return build_criteria(parsed, self.catalog)

    def sql(self, query: str) -> list[InfluxSeriesResult]:
        """Execute one InfluxQL query → list of series (name, df(time, value))."""
        if query.strip().lower().startswith("list series"):
            rest = query.strip()[len("list series"):].strip().strip("/")
            return [
                InfluxSeriesResult(
                    "list_series_result", "", self.list_series(rest or ".*")
                )
            ]
        # ONE wall-clock read per query (r13 review): without an
        # injected now_ms the property re-reads the clock, so parser
        # and executor could disagree about "now" across a bucket
        # boundary and the spine's from/to would be off by one bucket
        now = self.now_ms
        return self.executor.execute(self.parse(query, now), now)

    def sql_union(self, query: str) -> DataFrame:
        """All series of one query in long format (series, time, value)."""
        now = self.now_ms
        return self.executor.execute_union(self.parse(query, now), now)
