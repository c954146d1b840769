#!/usr/bin/env python
"""Connected-components tail sweep (round-8 verdict directive 7).

The round-8 LPA sweep stopped at 776k edges, where CC
(iterate-to-fixpoint large-star/small-star) took 17.3 s while
fixed-round LPA stayed flat — leaving open whether the CC curve bends
a decade up. This sweep extends the SAME corpus methodology
(replicated part catalog, linear sorted-neighborhood edge generator)
to ~8M edges and records what the wall is actually made of:

- per-size: edges, CC wall, ROUNDS to fixpoint, per-round edge-count
  trajectory (the algorithm's edges shrink toward one star edge per
  non-root — if rounds stay O(log² n)-flat and per-round cost is
  ~linear in edges, the curve is sublinear-per-edge and there is no
  bend to remedy);
- the round cap + checksum convergence check are ALREADY the standard
  remedy (MAX_ROUNDS=25, count+hash fixpoint test) — the open question
  was only whether realistic decade-up graphs approach the cap.

Prints one JSON line per size; paste into ROUND9_NOTES.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.1"
REPLICAS = [8, 24, 80]
WINDOW = 5
MAX_DIST = 2


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from khronus_spark.operators import linkage
    from khronus_spark.operators.components import star_contraction
    from khronus_spark.sources.tables import load_table

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("cc-sweep")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_name", "p_brand"
    )
    n_base = base.count()

    for reps in REPLICAS:
        parts = None
        for r in range(reps):
            c = base.select(
                (F.col("p_partkey") + F.lit(r * 10_000_000)).alias("p_partkey"),
                (
                    F.col("p_name")
                    if r == 0
                    else F.concat(F.col("p_name"), F.lit(" " + "x" * (r % 30)))
                ).alias("p_name"),
                "p_brand",
            )
            parts = c if parts is None else parts.unionAll(c)
        parts = parts.localCheckpoint(eager=True)

        edges = linkage.sorted_neighbor_pairs(
            parts, ["p_brand"], "p_name", "p_partkey",
            window=WINDOW, max_dist=MAX_DIST,
        ).localCheckpoint(eager=True)
        n_edges = edges.count()

        stats: dict = {}
        t0 = time.time()
        comp = star_contraction(
            edges.selectExpr("id_a AS src", "id_b AS dst"), stats=stats
        )
        comp_sizes = comp.groupBy("component_id").count()
        comp_stats = comp_sizes.agg(
            F.count(F.lit(1)).alias("n"), F.max("count").alias("mx")
        ).collect()[0]
        t_cc = time.time() - t0

        print(
            json.dumps(
                {
                    "n_parts": n_base * reps,
                    "n_edges": n_edges,
                    "cc_s": round(t_cc, 2),
                    "rounds": stats["rounds"],
                    "cc_s_per_round": round(t_cc / max(1, stats["rounds"]), 2),
                    "edge_trajectory": stats["edge_counts"],
                    "n_components": comp_stats["n"],
                    "max_component": comp_stats["mx"],
                }
            ),
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
