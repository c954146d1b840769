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

from khronus_spark.parser.ast import InfluxCriteria
from khronus_spark.parser.parser import InfluxQueryParser
from khronus_spark.plans.criteria import build_criteria
from khronus_spark.plans.executor import InfluxSeriesResult, QueryExecutor
from khronus_spark.timegrid import DEFAULT_WINDOWS_MS


class KhronusEngine:
    def __init__(
        self,
        spark: SparkSession,
        measurements: DataFrame | None = None,
        summary_base_path: str | None = None,
        catalog: list[tuple[str, str]] | None = None,
        windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
        now_ms: int | None = None,
    ):
        """Query engine over raw `measurements` or a materialized summary
        store at `summary_base_path` (which needs an explicit `catalog`).

        Reads bind only the query's own `limit`, like the reference's
        influx path (`InfluxQueryResolver.scala:138`)."""
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
        self._catalog = catalog
        self.executor = QueryExecutor(
            spark, measurements, summary_base_path, windows_ms
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
        names = [name for name, _ in self.catalog if pat.fullmatch(name)]
        # an inline VALUES table is a local relation: collecting it runs
        # no Spark job
        rows = ", ".join(f"(0, :n{i})" for i in range(len(names)))
        df = self.spark.sql(
            f"SELECT * FROM VALUES {rows or '(0, CAST(NULL AS STRING))'} AS t(time, name)",
            args={f"n{i}": name for i, name in enumerate(names)},
        )
        return df if names else df.limit(0)

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
