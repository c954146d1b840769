"""Record linkage (blocked + sorted-neighborhood ER, triangle/
clustering QA) and per-series sequential analysis (EWMA, Holt, CUSUM)
— planted-fixture unit tests and plan gates; cross-engine parity for
the registry entries lives in test_oracle_parity.py."""

from __future__ import annotations

import pytest

from khronus_spark.operators import linkage, smoothing


def test_blocked_edit_pairs_planted(spark):
    rows = [
        # block A: "kettle" ~ "kettel" (a transposition = 2 edits under
        # plain Levenshtein) and an exact dup
        (1, "A", "copper kettle"),
        (2, "A", "copper kettel"),
        (3, "A", "copper kettle"),
        (4, "A", "completely different name"),
        # block B: identical text to id 1, but blocked apart — no pair
        (5, "B", "copper kettle"),
        # block B: within-distance pair
        (6, "B", "steel drum"),
        (7, "B", "steel drums"),
    ]
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in linkage.blocked_edit_pairs(
            df, ["blk"], "name", "id", max_dist=2
        ).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 0, (2, 3): 2, (6, 7): 1}


def test_blocked_edit_pairs_length_filter_is_necessary_condition(spark):
    # length gap 3 > max_dist 2: pruned before levenshtein ever runs
    df = spark.createDataFrame(
        [(1, "A", "abc"), (2, "A", "abcdef")], "id long, blk string, name string"
    )
    assert (
        linkage.blocked_edit_pairs(df, ["blk"], "name", "id", max_dist=2).count()
        == 0
    )


def test_triangle_counts_clique_and_chain(spark):
    # 4-clique on {1,2,3,4} -> C(3,2)=3 triangles per node, 4 total
    clique = [
        (a, b) for a in range(1, 5) for b in range(a + 1, 5)
    ]
    # plus a chain 10-11-12 with no closing edge: no triangle
    edges = spark.createDataFrame(
        clique + [(10, 11), (11, 12)], "id_a long, id_b long"
    )
    got = {
        r["node_id"]: r["n_triangles"]
        for r in linkage.triangle_counts(edges).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_ewma_int_recurrence_exact(spark):
    df = spark.createDataFrame(
        [("m", t, x) for t, x in enumerate([10, 20, 0, 40])],
        "metric string, t long, x long",
    )
    out = {
        r["t"]: r["ewma"]
        for r in smoothing.ewma_int(
            df, ["metric"], "t", "x", alpha_num=3, alpha_den=10
        ).collect()
    }
    # s1=10; s2=(60+70)//10=13; s3=(0+91)//10=9; s4=(120+63)//10=18
    assert out == {0: 10, 1: 13, 2: 9, 3: 18}


def test_ewma_int_series_are_independent(spark):
    df = spark.createDataFrame(
        [("a", 0, 100), ("b", 0, 0), ("a", 1, 0), ("b", 1, 100)],
        "metric string, t long, x long",
    )
    out = {
        (r["metric"], r["t"]): r["ewma"]
        for r in smoothing.ewma_int(df, ["metric"], "t", "x").collect()
    }
    assert out == {("a", 0): 100, ("a", 1): 70, ("b", 0): 0, ("b", 1): 30}


def test_ewma_rejects_bad_alpha(spark):
    df = spark.createDataFrame([("m", 0, 1)], "metric string, t long, x long")
    with pytest.raises(ValueError):
        smoothing.ewma_int(df, ["metric"], "t", "x", alpha_num=11, alpha_den=10)


def test_edit_pairs_plan_is_equi_join(spark, sf_dir):
    """The block key must reach the join as an equality (hash/broadcast
    join), never a BroadcastNestedLoopJoin over the raw cross product."""
    from khronus_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part")
    plan = (
        linkage.blocked_edit_pairs(part, ["p_brand"], "p_name", "p_partkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_ewma_plan_single_regroup(spark, sf_dir):
    """EWMA adds exactly one extra hash exchange (the regroup on the
    series id feeding FlatMapGroupsInPandas) over the hourly rollup."""
    import __spark_entry__ as em

    plan = (
        em.queries()["events_ewma_1h"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # rollup + regroup
    assert "SinglePartition" not in plan


def test_cusum_changepoint_planted_shift(spark):
    # flat at 10 for t=0..4, then jumps to 50 for t=5..9: the CUSUM
    # statistic |n*cum - i*tot| peaks exactly at the last pre-shift point
    rows = [("m", t, 10) for t in range(5)] + [("m", t, 50) for t in range(5, 10)]
    df = spark.createDataFrame(rows, "metric string, t long, x long")
    got = smoothing.cusum_changepoints(df, ["metric"], "t", "x").collect()
    assert len(got) == 1
    r = got[0]
    # n=10, tot=300; at i=5 (t=4): cum=50 -> 10*50 - 5*300 = -1000
    assert (r["metric"], r["change_t"], r["cusum"]) == ("m", 4, -1000)


def test_cusum_tie_breaks_to_earliest(spark):
    # symmetric series: two points tie on |cusum|; earliest wins
    rows = [("m", 0, 0), ("m", 1, 10), ("m", 2, 0)]
    df = spark.createDataFrame(rows, "metric string, t long, x long")
    r = smoothing.cusum_changepoints(df, ["metric"], "t", "x").collect()[0]
    # tot=10, n=3: i=1 -> 3*0-10 = -10 ; i=2 -> 3*10-20 = 10 ; i=3 -> 0
    assert r["change_t"] == 0 and r["cusum"] == -10


def test_sorted_neighbor_pairs_planted(spark):
    # sort order within block A: abc, abd, zzz — abc/abd adjacent (d=1),
    # zzz unreachable within dist; window=1 limits to immediate neighbor
    df = spark.createDataFrame(
        [(1, "A", "abc"), (2, "A", "abd"), (3, "A", "zzz"), (4, "B", "abc")],
        "id long, blk string, name string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in linkage.sorted_neighbor_pairs(
            df, ["blk"], "name", "id", window=1, max_dist=2
        ).collect()
    }
    assert got == {(1, 2): 1}


def test_sorted_neighbor_window_bounds_candidates(spark):
    # five identical strings, window=2: each record pairs only with its
    # next <=2 sort neighbors: (i,i+1) x4 and (i,i+2) x3
    df = spark.createDataFrame(
        [(i, "A", "same") for i in range(1, 6)], "id long, blk string, name string"
    )
    pairs = linkage.sorted_neighbor_pairs(
        df, ["blk"], "name", "id", window=2, max_dist=0
    ).collect()
    assert len(pairs) == 7  # (1,2)(1,3)(2,3)(2,4)(3,4)(3,5)(4,5)
    # vs the full blocked join which would emit C(5,2)=10
    full = linkage.blocked_edit_pairs(df, ["blk"], "name", "id", max_dist=0)
    assert full.count() == 10


def test_sorted_neighbor_plan_has_no_join(spark, sf_dir):
    """The linear candidate generator must be window algebra after one
    block-key shuffle — NO join operator anywhere in the plan."""
    from khronus_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part")
    plan = (
        linkage.sorted_neighbor_pairs(part, ["p_brand"], "p_name", "p_partkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_holt_tracks_linear_trend(spark):
    # a clean arithmetic ramp: level locks on, trend converges toward
    # the true slope, forecast leads the observation
    rows = [("m", t, 100 + 10 * t) for t in range(8)]
    df = spark.createDataFrame(rows, "metric string, t long, x long")
    out = {
        r["t"]: (r["level"], r["trend"], r["forecast_next"])
        for r in smoothing.holt_int(df, ["metric"], "t", "x").collect()
    }
    # hand-rolled recurrence (alpha=3/10, beta=2/10, toward-zero div)
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    lvl, tr = 100, 0
    assert out[0] == (100, 0, 100)
    for t in range(1, 8):
        x = 100 + 10 * t
        prev = lvl
        lvl = tdiv(3 * x + 7 * (lvl + tr), 10)
        tr = tdiv(2 * (lvl - prev) + 8 * tr, 10)
        assert out[t] == (lvl, tr, lvl + tr)
    assert out[7][1] > 0  # trend is tracking the rise


def test_holt_negative_trend_uses_toward_zero_div(spark):
    # a falling series drives the trend negative — the recurrence must
    # truncate toward zero (DuckDB // and ANSI div), not floor
    rows = [("m", t, 1000 - 100 * t) for t in range(6)]
    df = spark.createDataFrame(rows, "metric string, t long, x long")
    out = {
        r["t"]: (r["level"], r["trend"])
        for r in smoothing.holt_int(df, ["metric"], "t", "x").collect()
    }
    assert out[5][1] < 0
    # floor-division would give a level/trend pair drifting one unit
    # lower at several steps; pin the exact toward-zero sequence
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    lvl, tr = 1000, 0
    for t in range(1, 6):
        x = 1000 - 100 * t
        prev = lvl
        lvl = tdiv(3 * x + 7 * (lvl + tr), 10)
        tr = tdiv(2 * (lvl - prev) + 8 * tr, 10)
        assert out[t] == (lvl, tr)


def test_holt_rejects_bad_factors(spark):
    df = spark.createDataFrame([("m", 0, 1)], "metric string, t long, x long")
    with pytest.raises(ValueError):
        smoothing.holt_int(df, ["metric"], "t", "x", beta_num=0)


def test_clustering_coefficient_clique_is_one(spark):
    """In a 4-clique every node has degree 3 and sits in 3 triangles:
    cc = 2*3/(3*2) = 1.0 -> 10000 bp, computed through the same column
    algebra the registry entry uses."""
    # drive the registry entry's formula on a planted fixture via the
    # operator composition (clique of 4 identical names in one block)
    from khronus_spark.operators import linkage as lk

    df = spark.createDataFrame(
        [(i, "A", "same") for i in range(1, 5)], "id long, blk string, name string"
    )
    edges = lk.blocked_edit_pairs(df, ["blk"], "name", "id", max_dist=0)
    tri = {r["node_id"]: r["n_triangles"] for r in lk.triangle_counts(edges).collect()}
    deg = {}
    for r in edges.collect():
        deg[r["id_a"]] = deg.get(r["id_a"], 0) + 1
        deg[r["id_b"]] = deg.get(r["id_b"], 0) + 1
    for node in (1, 2, 3, 4):
        assert deg[node] == 3 and tri[node] == 3
        assert (20000 * tri[node]) // (deg[node] * (deg[node] - 1)) == 10000


def test_cusum_plan_has_window_group_limit(spark, sf_dir):
    """The rank-1 filter must compile to WindowGroupLimit (top-1 per
    series short-circuits the |cusum| sort) and stay off
    SinglePartition."""
    import __spark_entry__ as em

    plan = (
        em.queries()["events_cusum_changepoint"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan


def test_golden_records_survivorship(spark):
    """Mode-with-deterministic-ties survivorship: the most frequent
    value wins per entity, ties break lexicographically smallest,
    unmatched records become singleton entities of themselves, and
    every source record is covered exactly once."""
    from khronus_spark.operators.linkage import golden_records

    records = spark.createDataFrame(
        [
            # entity {1,2,3}: name 'acme corp' wins 2-1; brand ties
            # 'a'(1) vs 'b'(1) ... 'a' < 'b' wins lexicographically
            (1, "acme corp", "a"),
            (2, "acme corp", "b"),
            (3, "acme inc", "b"),
            # entity {10,11}: all agree
            (10, "zeta", "z"),
            (11, "zeta", "z"),
            # singleton: never matched
            (20, "solo", "s"),
        ],
        "rid long, name string, brand string",
    )
    assignment = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "node_id long, component_id long",
    )
    out = {
        r["entity_id"]: (r["n_members"], r["canonical_name"], r["canonical_brand"])
        for r in golden_records(records, assignment, "rid", ["name", "brand"]).collect()
    }
    assert out == {
        1: (3, "acme corp", "b"),   # brand 'b' wins 2-1 over 'a'
        10: (2, "zeta", "z"),
        20: (1, "solo", "s"),
    }
    # total member coverage == source rows
    assert sum(v[0] for v in out.values()) == records.count()


def test_golden_records_tie_breaks_lexicographic(spark):
    from khronus_spark.operators.linkage import golden_records

    records = spark.createDataFrame(
        [(1, "bb"), (2, "aa")], "rid long, name string"
    )
    assignment = spark.createDataFrame(
        [(1, 1), (2, 1)], "node_id long, component_id long"
    )
    row = golden_records(records, assignment, "rid", ["name"]).collect()[0]
    assert (row["entity_id"], row["n_members"], row["canonical_name"]) == (1, 2, "aa")
