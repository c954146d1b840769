#!/usr/bin/env python
"""Connected components: driver union-find against the large-star/
small-star loop, on random and chain graphs of 1k to 1M edges.

`components.connected_components` collects a graph and solves it on
the driver when its distinct-edge count is at or below
`DRIVER_SOLVE_MAX_EDGES`; above it runs `star_contraction`. This sweep
times both paths of `connected_components` (the driver path forced by
raising the constant for the cell) on the same edge sets so that constant sits at the
measured crossover. Each cell is the best of `REPS` walls of building
the (node_id, component_id) frame and writing it to the `noop` sink
(every output row materialized), plus the driver process's peak RSS
so far. The session is local[4], the benchmark's shape.

    python scripts/cc_crossover_sweep.py [--out sweeps/r20/cc_crossover.json]
"""

from __future__ import annotations

import argparse
import json
import platform
import resource
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SIZES = (1_000, 10_000, 100_000, 300_000, 1_000_000)
REPS = 2


def _graph(spark, shape: str, m: int):
    """`m` edges: a path 0-1-…-m (one component of diameter m), or m
    random pairs over m nodes (a giant component plus small ones)."""
    if shape == "chain":
        return spark.range(m).selectExpr("id AS src", "id + 1 AS dst")
    return spark.range(m).selectExpr(
        f"pmod(xxhash64(id, 1), {m}) AS src", f"pmod(xxhash64(id, 2), {m}) AS dst"
    )


def _best_wall(fn) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return min(walls)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="sweeps/r20/cc_crossover.json")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from khronus_spark.operators import components
    from khronus_spark.session import recommended_session_conf

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("cc-crossover")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    )
    for k, v in recommended_session_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM so the first cell does not pay for it
    components.star_contraction(_graph(spark, "random", 100)).collect()

    limit = components.DRIVER_SOLVE_MAX_EDGES
    rows = []
    for shape in ("random", "chain"):
        for m in SIZES:
            edges = _graph(spark, shape, m).localCheckpoint(eager=True)
            n_edges = components._edge_set(edges).count()
            stats: dict = {}
            loop_s = _best_wall(lambda: components.star_contraction(edges, stats))
            components.DRIVER_SOLVE_MAX_EDGES = n_edges  # force the driver path
            driver_s = _best_wall(lambda: components.connected_components(edges))
            components.DRIVER_SOLVE_MAX_EDGES = limit
            row = {
                "shape": shape,
                "edges": m,
                "distinct_edges": n_edges,
                "rounds": stats["rounds"],
                "loop_s": round(loop_s, 3),
                "driver_s": round(driver_s, 3),
                "driver_wins": driver_s < loop_s,
                # peak so far: sizes ascend, so this is the driver path's
                # high-water mark up to this cell
                "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
            }
            print(json.dumps(row), flush=True)
            rows.append(row)
    spark.stop()
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(
        json.dumps(
            {
                "host": f"{platform.machine()}, local[4]",
                "reps": REPS,
                "driver_solve_max_edges": components.DRIVER_SOLVE_MAX_EDGES,
                "rows": rows,
            },
            indent=1,
        )
        + "\n"
    )


if __name__ == "__main__":
    main()
