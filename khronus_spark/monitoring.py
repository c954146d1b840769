"""Self-monitoring (S12): internal engine metrics fed back into the
ingest path as `~system.*` measurements.

The reference flushes internal timers/counters/gauges every 10 s into
its own metric pipeline (`model/Monitoring.scala:25-99`); names starting
with `~` mark system metrics (`model/MetricMeasurement.scala:35-40`).
Here the engine records timings/counts driver-side and `flush()` turns
them into a measurements DataFrame that can be unioned into any ingest
batch — so the engine can dashboard itself with its own query language.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from khronus_spark.session import local_frame

SYSTEM_PREFIX = "~system."

_SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"


def is_system_metric(name: str) -> bool:
    return name.startswith("~")


class Monitoring:
    def __init__(self) -> None:
        self._pending: list[tuple[str, str, int, int]] = []

    def record_time(self, name: str, elapsed_ms: int, ts_ms: int | None = None) -> None:
        self._record(name, "timer", elapsed_ms, ts_ms)

    def increment(self, name: str, n: int = 1, ts_ms: int | None = None) -> None:
        self._record(name, "counter", n, ts_ms)

    def record_gauge(self, name: str, value: int, ts_ms: int | None = None) -> None:
        self._record(name, "gauge", value, ts_ms)

    def _record(self, name: str, mtype: str, value: int, ts_ms: int | None) -> None:
        if value < 0:  # ingest contract: negatives are skipped
            return
        ts = ts_ms if ts_ms is not None else int(time.time() * 1000)
        self._pending.append((SYSTEM_PREFIX + name, mtype, ts, int(value)))

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        yield
        self.record_time(name, int((time.perf_counter() - t0) * 1000))

    def flush(self, spark: SparkSession) -> DataFrame:
        """Drain pending internal metrics as a measurements DataFrame
        (ready to union into the ingest path)."""
        rows, self._pending = self._pending, []
        return local_frame(spark, rows, _SCHEMA)
