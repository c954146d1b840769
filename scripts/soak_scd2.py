#!/usr/bin/env python
"""Streaming SCD2 soak (round-8 verdict directive 5).

`streaming/scd2.py` carries the strongest invariant in the repo —
dim(v) == scd2_intervals(facts(v)) at EVERY committed version, facts
and dimension landing as ONE CAS commit — but had only unit-scale
tests. This soak drives it at sf0.1 volume against racing
adversaries:

- the 100k-event fact table lands in 10 chunks at the 30 s cadence,
  PERMUTED BY md5(event_id) so every chunk is late-fact-heavy: facts
  from the whole 30-day span arrive in every trigger, so each
  micro-batch rewrites interval chains history-deep rather than
  appending at the tail (the worst case for the rebuild path);
- a COMPACTOR thread repeatedly compacts the table's fact AND dim
  bucket partitions through the commit log (`compact_partition_txn`),
  racing the stream's CAS commits by construction;
- a READER thread pins a version, reads the whole dimension, waits
  while more commits land, re-reads AT THE SAME VERSION and compares —
  any difference is a torn/unstable snapshot (must be zero);
- CAS conflicts are counted via a `TxnTable.commit` wrapper (expected
  under the racing compactor — the point is they are retried and
  survived);
- afterwards the invariant is checked at EVERY committed version:
  dim(v) == scd2_intervals(facts(v)) exactly (compaction commits
  included — compaction must preserve both sides), the final
  dimension equals the from-scratch batch build over all facts
  (stream==batch under maximal lateness), and the log is gap-free.

Prints one JSON line; paste the numbers into ROUND9_NOTES.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import threading
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.1"
N_CHUNKS = 10
CADENCE_SEC = 30.0
BUDGET_MS = 30_000
N_BUCKETS = 8


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("khronus-soak-scd2")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from khronus_spark.operators.rollup import compact_partition_txn
    from khronus_spark.operators.scd2 import scd2_intervals
    from khronus_spark.sources.tables import load_table
    from khronus_spark.sources.txnlog import CommitConflict, TxnTable
    from khronus_spark.streaming.scd2 import (
        read_scd2_dimension,
        read_scd2_facts,
        run_streaming_scd2,
    )

    tmp = tempfile.mkdtemp(prefix="khronus_soak_scd2_")
    facts = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "event_type")
    )
    n_rows = facts.count()

    # md5-permuted chunking: every chunk spans the full 30-day history,
    # so every trigger is late-fact-heavy by construction
    chunked = facts.withColumn(
        "chunk",
        (
            F.abs(F.xxhash64(F.col("event_id"))) % F.lit(N_CHUNKS)
        ).cast("int"),
    )
    for i in range(N_CHUNKS):
        (
            chunked.where(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(2)
            .write.mode("overwrite")
            .parquet(f"{tmp}/stage/{i}")
        )
    schema = facts.schema
    landing = f"{tmp}/landing"
    Path(landing).mkdir()

    conflicts = {"n": 0}
    commits = {"n": 0}

    table = TxnTable(f"{tmp}/table")
    _orig_commit = table.commit

    def counted_commit(parts, expect_version=None, **kw):
        try:
            v = _orig_commit(parts, expect_version=expect_version, **kw)
        except CommitConflict:
            conflicts["n"] += 1
            raise
        commits["n"] += 1
        return v

    table.commit = counted_commit

    def feeder() -> None:
        for i in range(N_CHUNKS):
            for f in Path(f"{tmp}/stage/{i}").glob("*.parquet"):
                shutil.copy(str(f), f"{landing}/chunk{i}_{f.name}")
            if i < N_CHUNKS - 1:
                time.sleep(CADENCE_SEC)

    stream = spark.readStream.schema(schema).parquet(landing)
    q = run_streaming_scd2(
        stream,
        table,
        checkpoint_path=f"{tmp}/ckpt",
        n_buckets=N_BUCKETS,
        trigger={"processingTime": "30 seconds"},
    )

    stop = threading.Event()
    compactions = {"n": 0}
    torn = {"n": 0, "checks": 0}

    def compactor() -> None:
        sweep = 0
        while not stop.is_set():
            keys = sorted(table.snapshot_files(table.version()))
            if keys:
                # rotate: a different key triple every sweep, so every
                # fact and dim bucket gets compacted mid-stream
                picks = [keys[(3 * sweep + j) % len(keys)] for j in range(3)]
                for key in picks:
                    try:
                        if compact_partition_txn(
                            spark, table, key, n_files=1, sort_cols=("user_id",)
                        ):
                            compactions["n"] += 1
                    except Exception:
                        if not stop.is_set():
                            raise
            sweep += 1
            stop.wait(10.0)

    def reader() -> None:
        while not stop.is_set():
            v = table.version()
            if v == 0:
                stop.wait(3.0)
                continue
            dim = read_scd2_dimension(spark, table, v)
            if dim is None:
                stop.wait(3.0)
                continue
            before = {tuple(r) for r in dim.collect()}
            stop.wait(3.0)
            dim2 = read_scd2_dimension(spark, table, v)
            again = {tuple(r) for r in dim2.collect()} if dim2 is not None else set()
            torn["checks"] += 1
            if before != again:
                torn["n"] += 1
            stop.wait(4.0)

    th_feed = threading.Thread(target=feeder, daemon=True)
    th_comp = threading.Thread(target=compactor, daemon=True)
    th_read = threading.Thread(target=reader, daemon=True)
    th_feed.start()
    time.sleep(5)
    th_comp.start()
    th_read.start()
    th_feed.join()
    time.sleep(2.5 * CADENCE_SEC)  # drain the final chunk

    stats = []
    for p in q.recentProgress:
        if p is None:
            continue
        d = p.get("durationMs", {}).get("triggerExecution")
        if d is not None:
            stats.append((int(p.get("numInputRows", 0)), int(d)))
    q.stop()
    q.awaitTermination(60)
    stop.set()
    th_comp.join(60)
    th_read.join(60)

    # ---- the invariant, at EVERY committed version under race
    def dim_at(v):
        df = read_scd2_dimension(spark, table, v)
        return set() if df is None else {tuple(r) for r in df.collect()}

    def derived_at(v):
        f = read_scd2_facts(spark, table, v)
        if f is None:
            return set()
        return {
            tuple(r)
            for r in scd2_intervals(
                f.select("user_id", "ts", "event_type")
            ).collect()
        }

    final_v = table.version()
    broken_versions = []
    for v in range(1, final_v + 1):
        if dim_at(v) != derived_at(v):
            broken_versions.append(v)

    # ---- stream==batch under maximal lateness
    batch_dim = {
        tuple(r)
        for r in scd2_intervals(
            facts.select("user_id", "ts", "event_type")
        ).collect()
    }
    stream_dim = dim_at(final_v)

    def log_gapless() -> bool:
        return len(table._commits_upto(final_v)) == final_v

    active = [s for s in stats if s[0] > 0]
    result = {
        "metric": "khronus_spark streaming SCD2 soak (30s cadence, sf0.1, late-fact-heavy)",
        "rows_fed": n_rows,
        "chunks": N_CHUNKS,
        "n_buckets": N_BUCKETS,
        "data_triggers": len(active),
        "max_batch_ms": max(d for _, d in active) if active else None,
        "budget_ms": BUDGET_MS,
        "within_budget": bool(active) and all(d < BUDGET_MS for _, d in active),
        "commits": commits["n"],
        "cas_conflicts_survived": conflicts["n"],
        "compactions": compactions["n"],
        "snapshot_checks": torn["checks"],
        "torn_reads": torn["n"],
        "versions": final_v,
        "invariant_checked_versions": final_v,
        "invariant_broken_versions": broken_versions,
        "stream_equals_batch": stream_dim == batch_dim,
        "dim_rows": len(stream_dim),
        "log_gapless": log_gapless(),
        "triggers": stats,
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
