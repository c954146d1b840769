"""Z-order layout: curve correctness against a bit-level Python model,
and the pruning-effectiveness claim — the Morton layout bounds the
partitions touched on EITHER dimension, where a single-key sort is
perfect on its sort key and useless on the other."""

from __future__ import annotations

from pyspark.sql import functions as F

from khronus_spark.operators import zorder
from khronus_spark.sources.tables import load_table


def _morton_py(a: int, b: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_bit_model(spark):
    cells = [(0, 0), (1, 0), (0, 1), (1023, 1023), (513, 257), (700, 41)]
    df = spark.createDataFrame(cells, "a long, b long").select(
        "a", "b", zorder.z_value("a", "b", 10).alias("z")
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    for a, b in cells:
        assert got[(a, b)] == _morton_py(a, b), (a, b)


def test_z_expr_sql_is_engine_portable():
    import duckdb

    sql = zorder.z_expr_sql("a", "b", 10, div="//")
    con = duckdb.connect()
    for a, b in [(0, 0), (1023, 1), (513, 257)]:
        (z,) = con.execute(
            f"SELECT {sql} FROM (SELECT {a} AS a, {b} AS b)"
        ).fetchone()
        assert z == _morton_py(a, b)


def test_zorder_layout_prunes_on_either_dimension(spark, sf_dir):
    """The scale claim, measured the way a parquet reader would: lay
    events out (a) range-sorted by hour only — the single-key layout a
    time-series store defaults to — and (b) along the Morton curve of
    (user cell, hour cell), into the same number of range partitions.
    For each layout compute per-partition min/max boxes (the
    file-footer statistics) and count partitions intersecting a
    predicate — the exact pruning decision at plan time.

    Expectations: the hour-sorted layout touches EVERY partition for a
    user-only predicate (no clustering on that axis); the Morton layout
    prunes meaningfully on BOTH single-dimension predicates, and wins
    on the mixed two-query workload."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("ua"),
        F.expr("ts div 1000000 div 3600000").alias("hb"),
    )
    n_parts = 16
    n_rows = ev.count()

    linear = ev.repartitionByRange(n_parts, "hb").sortWithinPartitions("hb")
    zlaid = zorder.zorder_layout_ranked(
        ev, "ua", "hb", bits=6, n_partitions=n_parts
    )

    def touched(df, a_lo, a_hi, b_lo, b_hi):
        # per-partition (ua, hb) boxes: the min/max statistics a
        # parquet writer would persist, computed without writing
        boxes = (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(
                F.min("ua").alias("a_min"),
                F.max("ua").alias("a_max"),
                F.min("hb").alias("b_min"),
                F.max("hb").alias("b_max"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()
        )
        assert sum(r.n_rows for r in boxes) == n_rows
        return sum(
            1
            for r in boxes
            if not (
                r.a_max < a_lo or r.a_min > a_hi or r.b_max < b_lo or r.b_min > b_hi
            )
        )

    FULL = (-(1 << 62), 1 << 62)
    hours = sorted(r.hb for r in ev.select("hb").distinct().collect())
    users = sorted(r.ua for r in ev.select("ua").distinct().collect())
    # data-driven boxes: the top quartile of users; ±5 hours around the
    # median hour — selective on exactly one axis each
    user_box = (users[3 * len(users) // 4], users[-1])
    b_mid = hours[len(hours) // 2]
    hour_box = (b_mid - 5, b_mid + 5)

    # user-only predicate: time-sorted layout cannot prune at all
    lin_user = touched(linear, *user_box, *FULL)
    z_user = touched(zlaid, *user_box, *FULL)
    assert lin_user == n_parts
    assert z_user <= n_parts // 2, z_user

    # hour-only predicate: linear is near-perfect; Morton must still
    # prune a majority of partitions (quad-tree blocks bound hb too)
    lin_hour = touched(linear, *FULL, *hour_box)
    z_hour = touched(zlaid, *FULL, *hour_box)
    assert lin_hour <= 3
    assert z_hour <= n_parts // 2, z_hour

    # mixed workload (one query per axis): Morton touches fewer
    # partitions in total than the single-key sort
    assert (z_user + z_hour) < (lin_user + lin_hour), (
        z_user,
        z_hour,
        lin_user,
        lin_hour,
    )


def test_rank_expr_binary_search_counts_exactly(spark):
    """The O(log k) nested-IF rank search must agree with the
    definition #{b in bounds : v >= b} for every value — including
    values equal to a boundary, below all bounds, and above all
    bounds — across random boundary lists (hypothesis). A miscounted
    rank silently degrades layout clustering without failing any
    output check, so the arithmetic is pinned exactly."""
    import random

    from pyspark.sql import functions as F

    from khronus_spark.operators.zorder import _rank_expr

    rng = random.Random(20260815)
    for trial in range(8):
        k = rng.choice([1, 2, 3, 7, 63, 255])
        bounds = sorted({float(rng.randint(-50, 50)) for _ in range(k)})
        # probe every boundary itself, its neighbors, and the extremes
        probes = sorted(
            {b + d for b in bounds for d in (-0.5, 0.0, 0.5)}
            | {-1e9, 1e9}
        )
        df = spark.createDataFrame(
            [(float(v),) for v in probes], "v DOUBLE"
        ).withColumn("got", F.expr(_rank_expr(bounds, "v")))
        for row in df.collect():
            want = sum(1 for b in bounds if row["v"] >= b)
            assert row["got"] == want, (trial, bounds, row["v"], row["got"], want)
