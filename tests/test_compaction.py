"""Summary-store compaction: fragmented micro-batch output → few
globally-ordered files, data identical, pruning layout preserved; the
streaming upsert store keeps its day partitions through a compaction."""

from __future__ import annotations

import glob
import tempfile

from pyspark.sql import functions as F

from khronus_spark.functions.summary import counter_summary
from khronus_spark.operators.rollup import (
    compact_summaries,
    read_summaries,
    rollup_all,
)
from khronus_spark.sources.tables import measurements_from_events
from khronus_spark.streaming.ingest import run_streaming_rollup_upsert


def _files(path):
    return [f for f in glob.glob(f"{path}/*.parquet")]


def test_compaction_preserves_data_and_orders_globally(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="khronus_compact_")
    m = measurements_from_events(spark, sf_dir)
    rollups = rollup_all(m, windows_ms=(300_000,))
    # simulate a day of 30s micro-batch appends: heavily fragmented
    (
        rollups[300_000]["counter"]
        .repartition(40)
        .write.mode("overwrite")
        .parquet(f"{tmp}/counter_summary/5m")
    )
    path = f"{tmp}/counter_summary/5m"
    assert len(_files(path)) == 40

    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    total = sum(len(open(f, "rb").read()) for f in _files(path))
    # pick a target that forces ~3 files so global range-ordering is
    # actually exercised across file boundaries
    n = compact_summaries(
        spark, tmp, "counter", 300_000, target_bytes_per_file=total // 3
    )
    files = _files(path)
    assert len(files) == n < 40

    after_df = read_summaries(spark, tmp, "counter", 300_000)
    after = sorted(tuple(r) for r in after_df.collect())
    assert after == before

    # global (metric, ts) order: per-file key spans must not overlap
    spans = []
    for f in files:
        rows = spark.read.parquet(f).select("metric", "ts").collect()
        keys = [(r["metric"], r["ts"]) for r in rows]
        assert keys == sorted(keys), f"file {f} not internally sorted"
        spans.append((keys[0], keys[-1]))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, "file key spans overlap — not globally range-ordered"


def test_compaction_scan_still_prunes(spark, sf_dir):
    """After compaction the dashboard read path still pushes
    metric+ts predicates to the parquet scan."""
    tmp = tempfile.mkdtemp(prefix="khronus_compact2_")
    m = measurements_from_events(spark, sf_dir)
    rollups = rollup_all(m, windows_ms=(300_000,))
    (
        rollups[300_000]["counter"]
        .repartition(20)
        .write.mode("overwrite")
        .parquet(f"{tmp}/counter_summary/5m")
    )
    compact_summaries(spark, tmp, "counter", 300_000, target_bytes_per_file=1 << 20)
    df = read_summaries(spark, tmp, "counter", 300_000).where(
        (F.col("metric") == "click") & (F.col("ts") >= 1704153600000)
    )
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EqualTo(metric,click)" in plan
    assert "GreaterThanOrEqual(ts," in plan


def test_compacted_upsert_store_keeps_every_bucket(spark, tmp_path):
    """upsert → compact → upsert: the second stream batch merges into
    the compacted store, so it still holds every landed row's bucket."""
    schema = "metric string, mtype string, ts_ms long, value long"
    land, base = str(tmp_path / "land"), str(tmp_path / "store")

    def upsert(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(land)
        run_streaming_rollup_upsert(
            spark.readStream.schema(schema).parquet(land),
            store_path=f"{base}/counter_summary/5m",
            checkpoint_path=str(tmp_path / "ckpt"),
            window_ms=300_000,
            family="counter",
        ).awaitTermination(120)

    upsert([("a", "counter", 0, 1), ("a", "counter", 86_400_000, 2)])
    compact_summaries(spark, base, "counter", 300_000)
    upsert([("a", "counter", 86_400_010, 5)])

    def rows(df):
        return sorted(tuple(r) for r in df.select("metric", "ts", "count").collect())

    got = read_summaries(spark, base, "counter", 300_000)
    want = counter_summary(spark.read.schema(schema).parquet(land), 300_000)
    assert rows(got) == rows(want) == [("a", 0, 1), ("a", 86_400_000, 7)]
