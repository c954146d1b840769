#!/usr/bin/env python
"""Matryoshka retrieval: measured recall/cost tradeoff across prefix
widths (round 11 — the operator ships with numbers, not claims).

Two corpora, both xxhash64-deterministic:

1. `isotropic_filaments` — the standing hard ANN corpus
   (similarity.anisotropic_corpus): each cluster's stretched axis is a
   HASH-CHOSEN dimension, so informative mass is spread uniformly
   across dimensions. Expectation (and the honest headline): under
   coarse PQ the shortlist is quantization-error-bound, not
   width-bound — the prefix index matches full-width recall at a
   fraction of the scan cost.

2. `tail_only_signal` — the adversarial direction, constructed so the
   prefix CANNOT work: 10 groups of 60 vectors share their entire
   first 32 dims (zero prefix information; group size 60 > the C=30
   candidate budget, so a prefix shortlist is an id-tie-break lottery
   over the group), while true neighbors are defined by tight
   subclusters (6 mates) in dims 33-64. Measured: prefix 8/16/32
   recall = 0.0 — harsher than the naive ~0.5 lottery estimate,
   because coarse prefix codebooks also COLLIDE across groups, so the
   id-ascending tie-break hands the whole shortlist to globally-low
   ids before any mate is reached — while full width reads 0.92.
   This is the "non-MRL embeddings get whatever the first coordinates
   hold" caveat from the operator docstring, measured at its
   worst-case value.

Writes sweeps/latest/matryoshka_sweep.json.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

N = 600
PROBES = list(range(400, 410))
K_NEIGHBORS = 5
C = 30
PREFIXES = [8, 16, 32, 64]


def main() -> None:
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("matryoshka-sweep")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from khronus_spark.operators.pq import (
        matryoshka_rerank_topk_indexed,
        pq_build_index,
    )
    from khronus_spark.operators.similarity import anisotropic_corpus

    import tempfile

    tmp = tempfile.mkdtemp(prefix="matryoshka_sweep_")
    anisotropic_corpus(spark, N, dim=64).write.parquet(f"{tmp}/iso")
    iso = spark.read.parquet(f"{tmp}/iso")
    # tail-only signal: dims 0-31 a function of the GROUP alone
    # (vec_id div 60 -> 10 groups of 60); dims 32-63 a function of the
    # SUBCLUSTER (6 mates: pmod(vec_id, 10)) plus +-0.01 noise, so the
    # 5 mates are the exact full-L2 top-5 while the prefix sees one
    # 60-way tie per group
    tail_expr = """
    transform(sequence(0, 63), d -> CAST(
      CASE WHEN d < 32
        THEN (pmod(xxhash64(vec_id div 60, d, 101), 2000001)
              / 1000000.0D) - 1.0D
        ELSE least(1.0D, greatest(-1.0D,
          (pmod(xxhash64(vec_id div 60, pmod(vec_id, 10), d, 202),
                1800001) / 1000000.0D) - 0.9D
          + (pmod(xxhash64(vec_id, d, 303), 21) - 10) / 1000.0D))
      END AS FLOAT))
    """
    spark.range(N).select(
        F.col("id").alias("vec_id"), F.expr(tail_expr).alias("embedding")
    ).write.parquet(f"{tmp}/tail")
    tail = spark.read.parquet(f"{tmp}/tail")

    def l2_truth(vectors, pv):
        pairs = vectors.alias("e").join(
            F.broadcast(pv.alias("p")),
            F.col("e.vec_id") != F.col("p.probe_id"),
        )
        d2 = F.expr(
            "aggregate(zip_with(p.embedding, e.embedding, (a,b) -> "
            "CAST(a-b AS DOUBLE)*CAST(a-b AS DOUBLE)), 0.0D, (acc,x) -> acc+x)"
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("_d2").asc(), F.col("neighbor_id").asc()
        )
        return (
            pairs.select(
                "probe_id",
                F.col("e.vec_id").alias("neighbor_id"),
                d2.alias("_d2"),
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= K_NEIGHBORS)
            .select("probe_id", "neighbor_id")
        )

    def recall(truth_rows, res):
        tset, got = {}, {}
        for r in truth_rows:
            tset.setdefault(r.probe_id, set()).add(r.neighbor_id)
        for r in res.collect():
            got.setdefault(r.probe_id, set()).add(r.neighbor_id)
        per = [len(tset[p] & got.get(p, set())) / len(tset[p]) for p in tset]
        return round(sum(per) / len(per), 3)

    results = {"n": N, "probes": len(PROBES), "k": K_NEIGHBORS,
               "candidates": C, "corpora": {}}
    for tag, corpus in (("isotropic_filaments", iso),
                        ("tail_only_signal", tail)):
        pv = corpus.where(F.col("vec_id").isin(PROBES)).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        truth_rows = l2_truth(corpus, pv).collect()
        rows = []
        for p in PREFIXES:
            sub = 4  # fixed subquantizer count: subdim shrinks with p
            t0 = time.perf_counter()
            prefix = corpus.select(
                "vec_id", F.expr(f"slice(embedding, 1, {p})").alias("embedding")
            )
            books, codes = pq_build_index(prefix, sub, 8, 1, dims=p)
            res = matryoshka_rerank_topk_indexed(
                books, codes, pv, corpus, K_NEIGHBORS, n_candidates=C,
                prefix_dims=p, sub=sub, k=8,
            )
            rec = recall(truth_rows, res)
            wall = round(time.perf_counter() - t0, 3)
            rows.append(
                {
                    "prefix_dims": p,
                    "recall_at_5": rec,
                    "scan_cost_ratio_vs_full": round(p / 64, 3),
                    "wall": wall,
                }
            )
            print(json.dumps({"corpus": tag, **rows[-1]}), flush=True)
        results["corpora"][tag] = rows

    out = Path(_REPO) / "sweeps" / "latest"
    out.mkdir(parents=True, exist_ok=True)
    (out / "matryoshka_sweep.json").write_text(
        json.dumps(results, indent=1) + "\n"
    )
    print(f"wrote {out / 'matryoshka_sweep.json'}")
    spark.stop()


if __name__ == "__main__":
    main()
