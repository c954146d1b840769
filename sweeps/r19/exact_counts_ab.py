"""Interleaved A/B of the two exact batch histogram summaries at commit
5d475df, the last one with `histogram_summary(exact_counts=)`.

Usage (from a checkout of 5d475df):
    python exact_counts_ab.py /path/to/sf0.1 [pairs]

Times `histogram_summary(m, 30_000)` (sorted samples) against
`histogram_summary(m, 30_000, exact_counts=True)` (per-value count
state) over the timer and gauge measurements, each forced through a
`noop` sink, in interleaved pairs with the order alternating, after one
untimed warm-up of each. Prints one JSON line per run and a summary.
"""

import json
import statistics
import sys
import time

from pyspark.sql import SparkSession

from khronus_spark.functions.summary import histogram_summary
from khronus_spark.sources.tables import measurements_from_events

sf_dir, pairs = sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 6
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
m = measurements_from_events(spark, sf_dir).where("mtype IN ('timer','gauge')")
rows = m.count()
modes = {
    "array": lambda: histogram_summary(m, 30_000),
    "counts": lambda: histogram_summary(m, 30_000, exact_counts=True),
}


def run(mode):
    t = time.perf_counter()
    modes[mode]().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


for mode in modes:
    run(mode)
walls = {mode: [] for mode in modes}
for i in range(pairs):
    order = ("array", "counts") if i % 2 == 0 else ("counts", "array")
    for mode in order:
        wall = run(mode)
        walls[mode].append(wall)
        print(json.dumps({"pair": i + 1, "mode": mode, "wall_s": round(wall, 4)}))
print(json.dumps({
    "rows": rows,
    "median_s": {k: round(statistics.median(v), 4) for k, v in walls.items()},
    "array_faster_pairs": sum(a < c for a, c in zip(walls["array"], walls["counts"])),
    "pairs": pairs,
}))
spark.stop()
