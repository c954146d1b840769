"""The one PQ path, for tests: build the index in memory with
`pq_build_index`, then query it through the `*_indexed` faces of
operators/pq.py — the same build-then-query order as the registry."""

from __future__ import annotations

from pyspark.sql import functions as F

from khronus_spark.operators.pq import pq_build_index


def pq_index(emb, probe_ids, sub, k, iters, dims=64):
    """(books, codes, probe_vecs): the PQ index built in memory over the
    first `dims` entries of each embedding, and the probes' full-width
    (probe_id, embedding) rows — the inputs of `pq_topk_indexed`,
    `pq_rerank_topk_indexed` and, with `dims` the prefix width,
    `matryoshka_rerank_topk_indexed`."""
    view = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {dims})").alias("embedding")
    )
    books, codes = pq_build_index(view, sub, k, iters, dims=dims)
    probes = emb.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return books, codes, probes
