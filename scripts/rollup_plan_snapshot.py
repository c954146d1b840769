#!/usr/bin/env python
"""Snapshot the rollup path's physical plans and results, for checking
that a refactor leaves both unchanged.

Usage: python scripts/rollup_plan_snapshot.py <out.txt> [--sf-dir DIR]

Writes, for the checkout this script lives in, the formatted plan and a
row-content hash of: `histogram_summary` and `counter_summary`; the streaming histogram and counter summaries (plan
only); `rollup_all`; and `KhronusEngine.sql_union` over the perfbench
dashboard query mix, against raw measurements and against a summary
store written by `write_summaries`, plus a hash of
each mix query's wire payload (`series_to_json(engine.sql(q))`,
`list series` included). With `--sf-dir`
it also plans two queries over `measurements_from_events` (the NTZ
time-pushdown path). Expression ids, plan ids, UUIDs, RDD numbers
and the scratch directory are masked, so two checkouts' snapshots
compare with plain `diff`:

    git archive <base> | tar -x -C /tmp/base
    cp scripts/rollup_plan_snapshot.py /tmp/base/scripts/
    python /tmp/base/scripts/rollup_plan_snapshot.py /tmp/base.txt
    python scripts/rollup_plan_snapshot.py /tmp/head.txt
    diff /tmp/base.txt /tmp/head.txt
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import re
import shutil
import sys
import tempfile
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)
sys.path.insert(0, str(Path(_REPO) / "perfbench"))

SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"
DAY_MS = 86_400_000
T0 = 1_700_000_000_000 // DAY_MS * DAY_MS
METRICS = (
    ("ing.latency", "timer"),
    ("ing.size", "gauge"),
    ("ing.hits", "counter"),
    ("ing.errs", "counter"),
)
_MASKS = (
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def _digest(df) -> str:
    """Row count and a hash of the sorted rows."""
    rs = sorted(repr(tuple(r)) for r in df.collect())
    digest = hashlib.sha256("\n".join(rs).encode()).hexdigest()
    return f"{len(rs)} {digest}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf-dir")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from gen import dashboard_queries
    from khronus_spark.engine import KhronusEngine
    from khronus_spark.functions.summary import counter_summary, histogram_summary
    from khronus_spark.operators.rollup import rollup_all, write_summaries
    from khronus_spark.service import series_to_json
    from khronus_spark.streaming import ingest

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="rollup_plans_")
    out: list[str] = []

    def record(label, df, rows=True):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue().replace(tmp, "<tmp>")
        for pat, repl in _MASKS:
            text = pat.sub(repl, text)
        out.append(f"===== {label}\n{text}")
        if rows:
            out.append(f"===== rows {label}: {_digest(df)}")

    # 20k samples over one day: 1-minute slots in a scrambled order,
    # spread over the seconds of the minute
    rows = [
        (*METRICS[i % 4], T0 + (i * 7919 % 1440) * 60_000 + i % 59 * 1000, i * 31 % 997)
        for i in range(20_000)
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(f"{tmp}/m")
    m = spark.read.schema(SCHEMA).parquet(f"{tmp}/m")

    record("hist_array", histogram_summary(m, 30_000))
    record("counter", counter_summary(m, 60_000))
    stream = spark.readStream.schema(SCHEMA).parquet(f"{tmp}/m")
    if hasattr(ingest, "streaming_summary"):
        stream_hist = ingest.streaming_summary(stream, 30_000, "histogram")
        stream_counter = ingest.streaming_summary(stream, 60_000, "counter")
    else:  # checkouts from before the one streaming builder
        stream_hist = ingest.streaming_histogram_summary(stream, 30_000)
        stream_counter = ingest.streaming_counter_summary(stream, 60_000)
    # a streaming frame can be planned but not collected
    record("stream_hist", stream_hist, False)
    record("stream_counter", stream_counter, False)
    for w, fams in rollup_all(m, (30_000, 300_000)).items():
        for family, df in fams.items():
            record(f"rollup_all {w} {family}", df)

    store_windows = (30_000, 300_000, 600_000, 3_600_000)
    write_summaries(rollup_all(m, store_windows), f"{tmp}/store")
    engines = {
        "measurements": KhronusEngine(spark, measurements=m, now_ms=T0 + DAY_MS),
        "store": KhronusEngine(
            spark, summary_base_path=f"{tmp}/store", catalog=sorted(METRICS),
            now_ms=T0 + DAY_MS,
        ),
    }
    names = ("ing.latency", "ing.latency", "ing.hits", "ing.errs", "ing.size")
    for kind, eng in engines.items():
        for label, q in dashboard_queries(T0, names):
            if q != "list series":  # not a sql_union shape
                record(f"{kind} {label}", eng.sql_union(q))
            payload = json.dumps(series_to_json(eng.sql(q)), sort_keys=True)
            digest = hashlib.sha256(payload.encode()).hexdigest()
            out.append(f"===== payload {kind} {label}: {digest}")

    if args.sf_dir:
        from khronus_spark.sources.tables import measurements_from_events

        eng = KhronusEngine(
            spark, measurements=measurements_from_events(spark, args.sf_dir),
            now_ms=1706659200000,
        )
        for q in (
            'select count from "click" where time > now()-6h group by time(5m)',
            'select p99 from "purchase" where time > now()-2d group by time(1h)',
        ):
            record(f"events {q}", eng.sql_union(q))

    Path(args.out).write_text("\n".join(out) + "\n")
    spark.stop()
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
