"""Deterministic HLL: spec pin, accuracy tolerance, partition invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from khronus_spark.operators.sketches import hll_distinct
from khronus_spark.sources.tables import load_table


def test_hll_accuracy_low_and_high_cardinality(spark, oracle_sf_dir):
    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    # low cardinality: 150 distinct users per type
    low = {
        r["event_type"]: r["est_distinct"]
        for r in hll_distinct(ev, "event_type", "user_id").collect()
    }
    exact_low = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # raw HLL at m=64 (no linear-counting correction): allow 30%
    for t, est in low.items():
        assert abs(est - exact_low[t]) / exact_low[t] < 0.30, (t, est, exact_low[t])

    # high cardinality: ~2000 distinct event_ids per type
    high = {
        r["event_type"]: r["est_distinct"]
        for r in hll_distinct(ev, "event_type", "event_id").collect()
    }
    exact_high = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    for t, est in high.items():
        assert abs(est - exact_high[t]) / exact_high[t] < 0.30, (t, est, exact_high[t])


def test_hll_partition_invariant_and_pinned(spark, oracle_sf_dir):
    """The estimate is a pure function of the value set — repartitioning
    must not change it; the pinned value guards the spec (any change to
    hash/register/estimator arithmetic breaks cross-engine parity)."""
    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    a = sorted(
        tuple(r) for r in hll_distinct(ev, "event_type", "user_id").collect()
    )
    b = sorted(
        tuple(r)
        for r in hll_distinct(ev.repartition(7), "event_type", "user_id").collect()
    )
    assert a == b
    assert all(est == 135 for _, est in a)  # spec pin at sf0.01 (exact: 150)


def test_cms_never_underestimates_and_ranks_heavies(spark, oracle_sf_dir):
    """CMS guarantee: est >= true count for EVERY key (collisions only
    add), and every true heavy hitter clears any threshold its true
    count clears."""
    from khronus_spark.operators.sketches import cms_estimates

    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    keys = ev.selectExpr("user_id AS key").distinct()
    est = {r["key"]: r["est"] for r in cms_estimates(ev, "user_id", keys).collect()}
    true = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)
    # classical CMS bound: extra <= e*N/w (~106 on this 10k-row stream)
    n_stream = sum(true.values())
    bound = 3 * n_stream // 256
    assert all(est[k] - true[k] <= bound for k in true)


def test_cms_sketches_merge_by_cellwise_sum(spark, oracle_sf_dir):
    """The whole point of the cell table: sketch(A union B) must equal
    the cellwise sum of sketch(A) and sketch(B) — per-day/partition
    sketches roll up without re-reading raw data."""
    from khronus_spark.operators.sketches import cms_sketch

    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    a = ev.where("event_id % 2 = 0")
    b = ev.where("event_id % 2 = 1")
    whole = {
        (r["j"], r["bucket"]): r["c"] for r in cms_sketch(ev, "user_id").collect()
    }
    sa = {(r["j"], r["bucket"]): r["c"] for r in cms_sketch(a, "user_id").collect()}
    sb = {(r["j"], r["bucket"]): r["c"] for r in cms_sketch(b, "user_id").collect()}
    merged: dict = {}
    for part in (sa, sb):
        for cell, c in part.items():
            merged[cell] = merged.get(cell, 0) + c
    assert merged == whole


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_size(spark):
    from khronus_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_WORD,
        bloom_build,
        bloom_probe,
    )

    members = spark.range(2_000).selectExpr("CAST(id AS STRING) AS key")
    bloom = bloom_build(members, "key")
    words = bloom.collect()
    # fixed-size: never more rows than the bitmap has words
    assert len(words) <= BLOOM_BITS // BLOOM_WORD
    # every mask fits the 32-bit word (positive, below 2^32)
    assert all(0 < r["word"] < (1 << BLOOM_WORD) for r in words)
    probed = bloom_probe(
        spark.range(4_000).selectExpr("CAST(id AS STRING) AS key"), bloom
    )
    flags = {r["key"]: r["maybe_present"] for r in probed.collect()}
    # no false negatives: every inserted key reports present
    assert all(flags[str(i)] for i in range(2_000))
    # false-positive rate at this density (k=4, n=2000, m=65536) is
    # (1 - e^(-4*2000/65536))^4 ~ 1.6e-4 — allow a loose 2% bound
    fp = sum(flags[str(i)] for i in range(2_000, 4_000))
    assert fp <= 40, fp


def test_bloom_decontamination_overcounts_exact_never_undercounts(spark, oracle_sf_dir):
    from khronus_spark.operators.dedup import bloom_decontamination, decontamination

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    exact = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"])
        for r in decontamination(docs).collect()
    }
    bloomed = {
        r["doc_id"]: (r["n_shingles"], r["n_bloom_hits"])
        for r in bloom_decontamination(docs).collect()
    }
    assert set(exact) == set(bloomed)
    for doc_id, (n_sh, n_ov) in exact.items():
        b_sh, b_hits = bloomed[doc_id]
        assert b_sh == n_sh
        # Bloom admits false positives, never false negatives
        assert b_hits >= n_ov, (doc_id, b_hits, n_ov)


def test_bloom_probe_joins_are_broadcast(spark):
    """The probe side must never shuffle: all k word-lookups are
    broadcast hash joins against the ≤2048-row filter."""
    from khronus_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.range(100).selectExpr("CAST(id AS STRING) AS key")
    probes = spark.range(1_000).selectExpr("CAST(id AS STRING) AS key")
    plan = (
        bloom_probe(probes, bloom_build(members, "key"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_hll_cascade_weekly_equals_direct(spark, sf_dir):
    """Daily register tables merged to weekly must give the IDENTICAL
    estimate as computing weekly registers straight from events — the
    max-merge is lossless because day windows nest into the epoch-
    aligned week grid."""
    from khronus_spark.operators.sketches import (
        hll_cascade_estimate,
        windowed_hll_distinct,
        windowed_hll_registers,
    )
    from khronus_spark.operators.sliding import sliding_event_frame

    ev = sliding_event_frame(load_table(spark, sf_dir, "events"))
    daily = windowed_hll_registers(ev, "1 day", "user_id")
    cascade = {
        r.win_start_ms: r.est_distinct
        for r in hll_cascade_estimate(daily, 604_800_000).collect()
    }
    direct = {
        r.win_start_ms: r.est_distinct
        for r in windowed_hll_distinct(ev, "7 days", "user_id").collect()
    }
    assert cascade == direct and cascade


def test_hll_register_tables_merge_across_shards(spark, sf_dir):
    """Registers built per shard (odd/even event ids) and max-merged
    must equal registers built once over the union — the property that
    lets per-day/per-shard sketch tables roll up without raw data."""
    from pyspark.sql import functions as F

    from khronus_spark.operators.sketches import (
        hll_cascade_estimate,
        windowed_hll_registers,
    )
    from khronus_spark.operators.sliding import sliding_event_frame

    ev = sliding_event_frame(load_table(spark, sf_dir, "events"))
    whole = windowed_hll_registers(ev, "1 day", "user_id")
    parts = windowed_hll_registers(
        ev.where(F.col("event_id") % 2 == 0), "1 day", "user_id"
    ).unionByName(
        windowed_hll_registers(ev.where(F.col("event_id") % 2 == 1), "1 day", "user_id")
    )
    est_whole = {
        r.win_start_ms: r.est_distinct
        for r in hll_cascade_estimate(whole, 86_400_000).collect()
    }
    est_parts = {
        r.win_start_ms: r.est_distinct
        for r in hll_cascade_estimate(parts, 86_400_000).collect()
    }
    assert est_whole == est_parts and est_whole


def test_cms_cascade_weekly_equals_direct(spark, sf_dir):
    """Daily CMS cell tables merged by cellwise sum must equal the cell
    table built directly at the weekly grid — counts partition exactly
    over nested windows."""
    from khronus_spark.operators.sketches import (
        cms_merge_windows,
        windowed_cms_sketch,
    )
    from khronus_spark.operators.sliding import sliding_event_frame

    ev = sliding_event_frame(load_table(spark, sf_dir, "events"))
    daily = windowed_cms_sketch(ev, "1 day", "user_id")
    merged = sorted(
        tuple(r) for r in cms_merge_windows(daily, 604_800_000).collect()
    )
    direct = sorted(
        tuple(r) for r in windowed_cms_sketch(ev, "7 days", "user_id").collect()
    )
    assert merged == direct and merged


def test_hll_overlap_union_exact_and_intersection_bounded(spark, oracle_sf_dir):
    """Set-algebra invariants of hll_overlap_estimate: (1) the pair's
    est_union must equal hll_distinct run on the two groups' unioned
    rows — register max-merge IS the union sketch, bit-for-bit; (2)
    est_union >= max(est_a, est_b) (registers only grow); (3) the
    inclusion–exclusion intersection lands within raw-HLL tolerance of
    the exact overlap for the real event data."""
    from khronus_spark.operators.sketches import hll_overlap_estimate

    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    out = {
        (r["grp_a"], r["grp_b"]): r
        for r in hll_overlap_estimate(ev, "event_type", "user_id").collect()
    }
    types = sorted({t for pair in out for t in pair})
    assert len(out) == len(types) * (len(types) - 1) // 2

    # (1) union == sketch of unioned rows, exactly
    a, b = types[0], types[1]
    both = ev.where(F.col("event_type").isin([a, b])).withColumn(
        "event_type", F.lit("ab")
    )
    direct = hll_distinct(both, "event_type", "user_id").collect()[0]["est_distinct"]
    assert out[(a, b)]["est_union"] == direct

    # (2) monotonicity + clamp
    for r in out.values():
        assert r["est_union"] >= max(r["est_a"], r["est_b"])
        assert r["est_intersect"] >= 0

    # (3) estimate vs exact overlap — every pair of event types shares
    # most of the 150-user population, so inclusion–exclusion noise is
    # bounded; allow the raw-HLL envelope amplified by the subtraction
    exact = {}
    users = {
        t: {
            r["user_id"]
            for r in ev.where(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
        for t in types
    }
    for (ta, tb), r in out.items():
        exact_i = len(users[ta] & users[tb])
        assert abs(r["est_intersect"] - exact_i) / exact_i < 0.75, (
            ta, tb, r["est_intersect"], exact_i,
        )


def test_hll_overlap_plan_builds_registers_once(spark, oracle_sf_dir):
    """Both pair sides read ONE register build (checkpointed): a second
    raw-data scan means the shared subtree regressed; the tiny pair
    join must never sort-merge."""
    from khronus_spark.operators.sketches import hll_overlap_estimate

    ev = spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    df = hll_overlap_estimate(ev, "event_type", "user_id")
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("events.parquet") <= 1
    assert "SortMergeJoin" not in plan
