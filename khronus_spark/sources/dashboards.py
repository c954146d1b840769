"""Dashboard CRUD (S11) — Grafana dashboards as an engine-side KV table.

The reference stores dashboards as Kryo blobs in Cassandra and serves
get/list/drop through regex extracted from the Influx query string
(`influx/finder/InfluxDashboardResolver.scala:60-118`). Here the store is
a parquet-backed KV (name → JSON content); non-analytics, so the
implementation favors simplicity: writes rewrite the small table,
lookups are regex filters on the cached name column.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khronus_spark.session import local_frame

_SCHEMA = "name STRING, content STRING"


class DashboardStore:
    """Tiny dashboard metadata table. All operations — including reads
    — serialize on one lock (r10 review fix): store/drop are
    read-modify-overwrite, and the HTTP layer calls them from
    ThreadingHTTPServer handler threads, so two concurrent POSTs would
    each rewrite current-minus-the-other and the second overwrite
    would silently lose the first dashboard (the metrics POST path was
    hardened for exactly this; the dashboards path must be too).
    Writes publish as a generation + CURRENT swap (r13), so neither a
    reader nor a crash can ever observe a half-deleted table dir.
    Dashboard CRUD is rare, driver-side, and the table is a handful of
    rows — full serialization costs nothing."""

    def __init__(self, spark: SparkSession, path: str):
        import threading

        self.spark = spark
        self.path = path
        self._lock = threading.Lock()

    def _read_unlocked(self) -> DataFrame:
        """Resolve the committed generation and read it. ONLY the
        never-stored case maps to an empty table; every other failure
        PROPAGATES — the r13 review found that swallowing a transient
        read error as "empty" made the next read-modify-overwrite
        persist the loss of every other dashboard."""
        import os

        from khronus_spark.sources.generations import resolve_generation_dir

        root = resolve_generation_dir(self.path)
        if not os.path.isdir(root) or not os.listdir(root):
            return local_frame(self.spark, [], _SCHEMA)
        return self.spark.read.schema(_SCHEMA).parquet(root)

    def _write_unlocked(self, updated: DataFrame) -> None:
        """Publish the rewritten table as a fresh generation plus ONE
        CURRENT-pointer swap (the repo's publish convention): the old
        path overwrote the live dir (delete-then-write), so a crash
        mid-rewrite left the store EMPTY and the next store()
        persisted the total loss. Now a crash leaves CURRENT on the
        previous complete generation; the new frame reads the OLD
        generation while writing the new dir, so no self-overwrite
        materialization dance is needed either."""
        from khronus_spark.sources.generations import (
            new_generation,
            publish_generation,
        )

        gen, gdir = new_generation(self.path)
        updated.write.mode("overwrite").parquet(gdir)
        publish_generation(self.path, gen, grace_seconds=600.0)

    def store(self, name: str, content: str) -> None:
        """Upsert by name (the reference overwrites by PK)."""
        with self._lock:
            current = self._read_unlocked().where(F.col("name") != name)
            updated = current.unionByName(
                local_frame(self.spark, [(name, content)], _SCHEMA)
            )
            self._write_unlocked(updated)

    def lookup(self, regex: str) -> list:
        """Case-insensitive regex over dashboard names
        (`InfluxDashboardResolver.scala:69-90`). Returns the matching
        ROWS, collected eagerly under the lock so they cannot race a
        concurrent rewrite — callers all want the materialized rows
        (the HTTP serving path), so re-wrapping them in a DataFrame
        only to collect again cost a Spark job per request (r13
        review)."""
        pat = f"(?i){regex}"
        with self._lock:
            return (
                self._read_unlocked()
                .where(F.col("name").rlike(pat))
                .orderBy("name")
                .collect()
            )

    def drop(self, regex: str) -> int:
        pat = re.compile(regex, re.IGNORECASE)
        with self._lock:
            current = self._read_unlocked().collect()
            keep = [
                (r["name"], r["content"])
                for r in current
                if not pat.search(r["name"])
            ]
            dropped = len(current) - len(keep)
            self._write_unlocked(local_frame(self.spark, keep, _SCHEMA))
        return dropped


# ---------------------------------------------------------------- wire

# The three Grafana-over-Influx expressions the reference's resolver
# dispatches on (`InfluxDashboardResolver.scala:47-55`), verbatim:
#   get:  select dashboard from "grafana.dashboard_<b64>"&...
#   list: select * from /grafana.dashboard_.*/ where title =~ /<re>/i&...
#   drop: drop series "grafana.dashboard_<b64>"
_GET_DASHBOARD = re.compile(r'select.*_(.*)".*')
_LIST_DASHBOARDS = re.compile(r"select.*/(.*)/..*")
_DROP_DASHBOARD = re.compile(r'drop.*_(.*)".*')


def _b64name(group: str) -> str:
    import base64

    return base64.b64decode(group).decode()


def dashboard_operation(store: DashboardStore, expression: str) -> list[dict]:
    """Dispatch one Grafana dashboard expression against the store —
    the reference's `dashboardOperation`
    (`InfluxDashboardResolver.scala:69-88`): get and drop carry the
    base64-encoded dashboard name, list carries a case-insensitive
    regex; anything else is unsupported (HTTP layer maps to 400).
    Returns the wire shape: a JSON-able list of Dashboard objects
    ({name, columns, points}); drop returns the empty list like the
    reference. Lookup regexes are ANCHORED before hitting the store —
    the reference matches with Scala `String.matches`, which is a
    full match, while `DashboardStore.lookup`'s rlike is a search."""
    import json as _json

    m = _GET_DASHBOARD.match(expression)
    if m:
        name = _b64name(m.group(1))
        # the decoded NAME is a literal, not a pattern — escape it
        # (a Grafana title like "CPU (5m)" would otherwise be read as
        # regex grouping and never match its own dashboard; the drop
        # branch below always escaped)
        rows = store.lookup(f"^{re.escape(name)}$")
        return [_json.loads(r["content"]) for r in rows]
    m = _LIST_DASHBOARDS.match(expression)
    if m:
        rows = store.lookup(f"^(?:{m.group(1)})$")
        return [_json.loads(r["content"]) for r in rows]
    m = _DROP_DASHBOARD.match(expression)
    if m:
        name = _b64name(m.group(1))
        store.drop(f"^{re.escape(name)}$")
        return []
    raise ValueError(f"Unsupported grafana expression [{expression}]")


def store_dashboard_wire(store: DashboardStore, dashboards: list[dict]) -> str:
    """Store the HEAD of a POSTed Dashboard array — the reference's
    `store` (`InfluxDashboardResolver.scala:112-122`): the storage key
    is the base64-decoded last `_`-segment of the wire name; the
    content is the whole Dashboard object. Returns the decoded name
    (the reference's response body)."""
    import json as _json

    if not dashboards:
        raise ValueError("empty dashboard batch")
    dashboard = dashboards[0]
    name = _b64name(dashboard["name"].split("_")[-1])
    store.store(name, _json.dumps(dashboard, separators=(",", ":")))
    return name
