#!/usr/bin/env python
"""Capture .explain("formatted") output for bench slots (r13 deliverable).

Usage: python scripts/capture_plans.py <suffix> [slot ...]
Writes plans/r13/<slot>_<suffix>.txt for every DataFrame-producing slot
(build slots with side effects are profiled via scripts/profile_bench.py
instead; their plan story is job structure, not one explain).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def slot_frames(spark, sf_dir):
    """name -> zero-arg DataFrame builder for every df-producing bench
    slot (mirrors bench.build_slots' run_df(...) slots)."""
    from pyspark.sql import functions as F

    from khronus_spark import entry_queries as eq
    from khronus_spark.functions.summary import histogram_summary
    from khronus_spark.operators.clustering import (
        semantic_dedup as semantic_dedup_derived_k,
    )
    from khronus_spark.operators import coreset as coreset_ops
    from khronus_spark.operators import similarity as sim_ops
    from khronus_spark.operators import zorder as zorder_ops
    from khronus_spark.sources.tables import load_table, measurements_from_events

    q = eq.queries()

    def meas():
        return measurements_from_events(spark, sf_dir).where(
            "mtype IN ('timer','gauge')"
        )

    frames = {
        "rollup_hist_30s": lambda: histogram_summary(meas(), 30_000),
        "semantic_dedup_auto": lambda: semantic_dedup_derived_k(
            load_table(spark, sf_dir, "embeddings")
        ),
        "zorder_layout": lambda: zorder_ops.zorder_layout_ranked(
            load_table(spark, sf_dir, "events").select(
                "event_id",
                F.col("user_id").alias("ua"),
                F.expr("ts div 1000000 div 3600000").alias("hb"),
            ),
            "ua",
            "hb",
            bits=8,
            n_partitions=32,
        ),
    }
    # registry-backed slots: bench name -> queries() entry
    reg = {
        "rollup_counter_1m": "ts_counter_summary_5m",
        "influx_dashboard": "influx_count_click_5m",
        "influx_percentiles": "influx_percentiles_purchase_1h",
        "tpch_q1": "tpch_q1_pricing",
        "tpch_q3": "tpch_q3_top_orders",
        "tpch_q5": "tpch_q5_regional_revenue",
        "dedup_minhash_lsh": "minhash_lsh_pairs",
        "text_quality": "quality_score",
        "ann_cosine_topk": "ann_cosine_topk",
        "ann_lsh_topk": "ann_lsh_topk",
        "rollup_hdr_5m": "ts_hdr_summary_5m",
        "asof_join": "events_asof_signup",
        "sessions_30m": "events_sessions_30m",
        "media_features": "media_features",
        "sliding_windows": "events_sliding_counts_10m_5m",
        "tpch_q18": "tpch_q18_big_orders",
        "corpus_curation": "corpus_curation",
        "gopher_rules": "gopher_rules",
        "dup_ngram_5": "dup_ngram_5",
        "semantic_dedup": "semantic_dedup",
        "influx_store_percentiles": "influx_store_percentiles_1h",
        "duplicate_spans": "duplicate_spans",
        "bpe_merges": "bpe_merges_6",
        "bpe_merges_batched": "bpe_merges_batched",
        "decontamination_bloom": "decontamination_bloom",
        "c4_span_removal": "c4_span_removal",
        "rp_project": "embedding_rp_project",
        "bigram_surprisal": "bigram_surprisal",
        "winnow_pairs": "winnow_match_pairs",
        "decontamination_retrieval": "decontamination_retrieval",
        "dsir_select": "dsir_topk_sample",
        "fill_linear": "influx_fill_linear_error_1h",
        "edit_pairs": "part_name_edit_pairs",
        "ewma_smooth": "events_ewma_1h",
        "perplexity_split": "doc_perplexity_split",
        "seasonal_anomaly": "events_seasonal_anomaly",
        "wordpiece_encode": "wordpiece_encode_docs",
        "unigram_encode": "unigram_encode_docs",
        "hw_residual_anomaly": "events_hw_residual_anomaly",
    }
    for bench_name, entry_name in reg.items():
        frames[bench_name] = (
            lambda e=entry_name: q[e](spark, sf_dir)
        )

    # indexed-query slots: build the (small) standing indexes into temp
    # dirs first — exactly the frames bench's query slots read. The build
    # cost is outside the explain; the captured plan is the query path.
    import tempfile

    from khronus_spark.operators import dedup as dedup_ops
    from khronus_spark.operators import linkage as linkage_ops
    from khronus_spark.operators import pq as pq_ops
    from khronus_spark.operators import retrieval as retrieval_ops
    from khronus_spark.operators import text as text_ops

    def _hybrid_query_frame():
        d = tempfile.mkdtemp(prefix="plans_hybrid_")
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = docs.where(F.col("doc_id") % 97 != 0)
        retrieval_ops.build_hybrid_index(corpus, emb, d, sub=4, pq_k=8, iters=1)
        postings = text_ops.read_bm25_index(spark, f"{d}/bm25")
        df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(spark, f"{d}/bm25")
        books, codes = pq_ops.read_pq_index(spark, f"{d}/pq")
        queries = docs.where(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        probes = emb.where(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        return retrieval_ops.hybrid_rrf_topk_indexed(
            postings, books, codes, queries, probes,
            df_t=df_t, collection_stats=(n_docs, avgdl_m),
        )

    def _pq_query_frame():
        d = tempfile.mkdtemp(prefix="plans_pq_")
        emb = load_table(spark, sf_dir, "embeddings")
        books, codes = pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)
        pq_ops.write_pq_index(books, codes, d)
        books, codes = pq_ops.read_pq_index(spark, d)
        probes = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        return pq_ops.pq_topk_indexed(books, codes, probes, 3, sub=4, k=8)

    def _matryoshka_query_frame():
        d = tempfile.mkdtemp(prefix="plans_mat_")
        emb = load_table(spark, sf_dir, "embeddings")
        prefix = emb.select(
            "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
        )
        books, codes = pq_ops.pq_build_index(prefix, sub=4, k=8, iters=1, dims=16)
        pq_ops.write_pq_index(
            books, codes, d, geometry={"sub": 4, "k": 8, "dims": 16}
        )
        root = pq_ops.resolve_pq_index_dir(d)
        books, codes = pq_ops.read_pq_index(spark, root)
        probes = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        return pq_ops.matryoshka_rerank_topk_indexed(
            books, codes, probes, emb, 3, n_candidates=30,
            prefix_dims=16, sub=4, k=8,
            trained_geometry=pq_ops.read_pq_index_geometry(root),
        )

    def _dedup_probe_frame():
        d = tempfile.mkdtemp(prefix="plans_dedup_")
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.where(F.col("doc_id") % 5 != 0)
        dedup_ops.write_dedup_index(dedup_ops.build_dedup_index(corpus), d)
        batch = docs.where(F.col("doc_id") % 5 == 0)
        return dedup_ops.incremental_dedup(
            dedup_ops.read_dedup_index(spark, d), batch
        )

    def _er_survivorship_frame():
        from khronus_spark.operators import components as components_ops

        d = tempfile.mkdtemp(prefix="plans_er_")
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_name", "p_brand"
        )
        edges = linkage_ops.blocked_edit_pairs(
            part, ["p_brand"], "p_name", "p_partkey", max_dist=2
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        components_ops.connected_components(edges).write.mode(
            "overwrite"
        ).parquet(d)
        assignment = spark.read.parquet(d)
        return linkage_ops.golden_records(
            part, assignment, "p_partkey", ["p_name", "p_brand"]
        )

    frames["hybrid_rrf_indexed"] = _hybrid_query_frame
    frames["ann_pq_topk_indexed"] = _pq_query_frame
    frames["ann_matryoshka_indexed"] = _matryoshka_query_frame
    frames["dedup_incremental"] = _dedup_probe_frame
    frames["er_survivorship"] = _er_survivorship_frame
    return frames


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench as bench_mod

    spark = bench_mod.make_session("8", app="khronus-spark-plans")
    frames = slot_frames(spark, sf_dir)
    if only:
        frames = {k: v for k, v in frames.items() if k in only}

    out_dir = Path(_REPO) / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, fn in frames.items():
        try:
            df = fn()
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep going
            txt = f"EXPLAIN FAILED: {exc}\n"
        (out_dir / f"{name}_{suffix}.txt").write_text(txt)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
