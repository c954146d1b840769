"""Online near-dup detection == batch dedup clustering.

The streaming operator emits star edges per (band, bucket); connected
components over those edges must equal the batch MinHash component
assignment (same per-bucket connectivity ⇒ same clusters, component id
= min member on both paths)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from khronus_spark.operators.components import (
    connected_components,
    minhash_duplicate_components,
)
from khronus_spark.sources.tables import load_table
from khronus_spark.streaming.dedup import run_streaming_dedup


@pytest.fixture(scope="module")
def staged_docs(spark, sf_dir):
    """Documents staged as 4 files by doc_id range → 4 micro-batches, so
    bucket state genuinely accumulates across batches (a bucket's first
    doc can arrive batches before its duplicates)."""
    tmp = tempfile.mkdtemp(prefix="khronus_sdedup_")
    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = (hi - lo) + 1
    chunked = docs.withColumn("chunk", ((F.col("doc_id") - lo) * 4 / span).cast("int"))
    for i in range(4):
        chunked.where(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/in/chunk={i}")
    return tmp, docs


def test_streaming_dedup_matches_batch_components(spark, staged_docs):
    tmp, docs = staged_docs
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/in/*")
    )
    q = run_streaming_dedup(
        stream, out_path=f"{tmp}/out", checkpoint_path=f"{tmp}/ckpt"
    )
    q.awaitTermination(300)

    edges = spark.read.parquet(f"{tmp}/out")
    assert edges.count() > 0, "stream emitted no duplicate edges"
    # one first-seen doc per bucket: every bucket's edges share one doc_a
    per_bucket = edges.groupBy("band", "bucket").agg(
        F.countDistinct("doc_a").alias("n_first")
    )
    assert per_bucket.where("n_first != 1").count() == 0

    got = {
        (r["node_id"], r["component_id"])
        for r in connected_components(
            edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ).collect()
    }
    expected = {
        (r["doc_id"], r["component_id"])
        for r in minhash_duplicate_components(docs).collect()
    }
    assert got == expected


def test_streaming_dedup_replay_is_idempotent(spark, staged_docs):
    """Re-running over the same input with the same checkpoint emits
    nothing new (exactly-once edges)."""
    tmp, docs = staged_docs
    before = spark.read.parquet(f"{tmp}/out").count()
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/in/*")
    )
    q = run_streaming_dedup(
        stream, out_path=f"{tmp}/out", checkpoint_path=f"{tmp}/ckpt"
    )
    q.awaitTermination(120)
    assert spark.read.parquet(f"{tmp}/out").count() == before


def test_streaming_dedup_full_redelivery_replaces_batches(spark, staged_docs):
    """r13 review finding: the edge sink appended into a flat path, so
    any redelivered batch (foreachBatch is at-least-once: a crash
    between the sink write and the checkpoint commit replays it)
    appended its edges a second time — the docstring's exactly-once
    claim held only while nothing ever crashed. Edges now land as
    overwrite into batch=<id> dirs; a full redelivery (fresh
    checkpoint, same inputs, same batch ids) must leave the store
    byte-identical instead of doubling it."""
    tmp, docs = staged_docs
    out = f"{tmp}/out_redeliver"

    def drive(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/*")
        )
        q = run_streaming_dedup(
            stream, out_path=out, checkpoint_path=f"{tmp}/{ckpt}"
        )
        q.awaitTermination(300)

    drive("ckpt_rd1")
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("band", "bucket", "doc_a", "doc_b")
        .collect()
    )
    assert before, "no edges emitted"
    drive("ckpt_rd2")  # fresh checkpoint: every batch redelivered
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("band", "bucket", "doc_a", "doc_b")
        .collect()
    )
    assert after == before
