"""Streaming rollup end-to-end: file-source stream → watermarked window
aggregation → parquet summary sink, compared against the batch engine."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from khronus_spark.functions.summary import (
    ALL_PERCENTILES,
    counter_summary,
    histogram_summary,
)
from khronus_spark.sources.tables import measurements_from_events
from khronus_spark.streaming.ingest import run_streaming_rollup_upsert


@pytest.fixture(scope="module")
def staged(spark, sf_dir):
    """Stage measurements as a parquet dir usable as a file stream."""
    tmp = tempfile.mkdtemp(prefix="khronus_stream_")
    m = measurements_from_events(spark, sf_dir)
    m.write.mode("overwrite").parquet(f"{tmp}/in")
    schema = m.schema
    return tmp, schema, m


def test_duplicate_deliveries_deduped(spark, staged):
    """At-least-once redelivery: the same file staged twice must yield
    the same counter rollup as a single delivery (T5 effectively-once
    via dropDuplicatesWithinWatermark)."""
    import tempfile

    from pyspark.sql import functions as F2

    from khronus_spark.streaming.ingest import dedupe_deliveries

    tmp, schema, batch_m = staged
    dup_dir = tempfile.mkdtemp(prefix="khronus_dup_")
    with_id = batch_m.withColumn(
        "delivery_id",
        F2.concat_ws("#", "metric", "ts_ms", F2.monotonically_increasing_id()),
    )
    with_id.coalesce(1).write.mode("overwrite").parquet(f"{dup_dir}/in/copy=0")
    with_id.coalesce(1).write.mode("overwrite").parquet(f"{dup_dir}/in/copy=1")

    id_schema = with_id.schema
    stream = spark.readStream.schema(id_schema).parquet(f"{dup_dir}/in/*")
    deduped = dedupe_deliveries(
        stream.where(F2.col("mtype") == "counter"), watermark="45 days"
    )
    interval_sums = (
        deduped.groupBy("metric")
        .agg(F2.sum("value").alias("total"))
    )
    q = (
        interval_sums.writeStream.outputMode("complete")
        .format("memory")
        .queryName("dedup_totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["metric"]: r["total"]
        for r in spark.sql("select * from dedup_totals").collect()
    }
    expected = {
        r["metric"]: r["total"]
        for r in batch_m.where(F2.col("mtype") == "counter")
        .groupBy("metric")
        .agg(F2.sum("value").alias("total"))
        .collect()
    }
    assert got == expected, f"{got} != {expected}"


def test_streaming_sliding_counts_match_batch(spark, sf_dir):
    """The shared sliding-window builder (operators/sliding.py) run as a
    watermarked stream must reproduce the batch result for every window
    the final watermark has passed (append mode withholds trailing
    windows)."""
    import tempfile

    from khronus_spark.operators.sliding import (
        sliding_event_counts,
        sliding_event_frame,
    )
    from khronus_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="khronus_slide_")
    ev = load_table(spark, sf_dir, "events")
    frame = sliding_event_frame(ev)
    frame.write.mode("overwrite").parquet(f"{tmp}/in")

    stream = spark.readStream.schema(frame.schema).parquet(f"{tmp}/in")
    q = (
        sliding_event_counts(
            stream.withWatermark("event_ts", "30 seconds"), with_users=False
        )
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["win_start_ms"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    expected = {
        r["win_start_ms"]: (r["n_events"], r["total_value"])
        for r in sliding_event_counts(frame, with_users=False).collect()
    }
    assert got, "stream produced no windows"
    # every emitted window matches batch exactly
    for k, v in got.items():
        assert expected[k] == v, f"window {k}: stream {v} != batch {expected[k]}"
    # only trailing windows (overlapping the final watermark) may be held back
    max_start = max(expected)
    for k in set(expected) - set(got):
        assert k >= max_start - 600_000, f"non-trailing window missing: {k}"


def test_streaming_windowed_hll_matches_batch(spark, sf_dir):
    """Windowed approx-distinct via the register-column HLL: the same
    single-aggregation plan runs as a watermarked stream and must equal
    the batch estimates for every closed window — the streaming answer
    to exact distinct being unbounded-state."""
    import tempfile

    from khronus_spark.operators.sketches import windowed_hll_distinct
    from khronus_spark.operators.sliding import sliding_event_frame
    from khronus_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="khronus_hllstream_")
    frame = sliding_event_frame(load_table(spark, sf_dir, "events"))
    frame.write.mode("overwrite").parquet(f"{tmp}/in")

    stream = spark.readStream.schema(frame.schema).parquet(f"{tmp}/in")
    q = (
        windowed_hll_distinct(
            stream.withWatermark("event_ts", "30 seconds"), "1 day", "user_id"
        )
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["win_start_ms"]: r["est_distinct"]
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    expected = {
        r["win_start_ms"]: r["est_distinct"]
        for r in windowed_hll_distinct(frame, "1 day", "user_id").collect()
    }
    assert got, "stream produced no windows"
    for k, v in got.items():
        assert expected[k] == v, f"window {k}: stream {v} != batch {expected[k]}"
    max_start = max(expected)
    for k in set(expected) - set(got):
        assert k >= max_start - 86_400_000, f"non-trailing window missing: {k}"


def test_streaming_sessions_match_batch(spark, sf_dir):
    """session_window in a watermarked stream: merged event-time
    sessions emitted on close must equal the batch sessionization for
    every session the final watermark has passed (T3 extension — the
    reference has no session windows at all)."""
    import tempfile

    from pyspark.sql import functions as F

    from khronus_spark.sources.tables import load_table

    def sessionize(df):
        sess = df.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("_first_us"),
        )
        return sess.select(
            "user_id",
            F.expr("_first_us div 1000").alias("session_start_ms"),
            "n_events",
        )

    tmp = tempfile.mkdtemp(prefix="khronus_sess_stream_")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.timestamp_micros(F.expr("ts div 1000")).alias("ts")
    )
    ev.write.mode("overwrite").parquet(f"{tmp}/in")

    stream = spark.readStream.schema(ev.schema).parquet(f"{tmp}/in")
    q = (
        sessionize(stream.withWatermark("ts", "30 seconds"))
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["session_start_ms"]): r["n_events"]
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    expected = {
        (r["user_id"], r["session_start_ms"]): r["n_events"]
        for r in sessionize(ev).collect()
    }
    assert got, "stream produced no sessions"
    for k, v in got.items():
        assert expected[k] == v, f"session {k}: stream {v} != batch {expected[k]}"
    # sessions still open at the final watermark may be withheld:
    # anything missing must end within gap+watermark of the max event
    max_ms = max(s for _, s in expected)
    for user, start in set(expected) - set(got):
        assert start >= max_ms - 2 * 1_800_000, f"non-trailing session missing: {(user, start)}"


def test_upsert_store_complete_and_idempotent(spark, staged):
    """foreachBatch MERGE store (T5): update-mode rollup upserts every
    amended bucket, so the final store equals the batch rollup EXACTLY
    (no watermark-withheld trailing buckets, unlike append mode); and
    replaying the entire stream from a fresh checkpoint leaves the
    store unchanged (idempotent by (metric, ts))."""
    import tempfile

    tmp, schema, batch_m = staged
    out = tempfile.mkdtemp(prefix="khronus_upsert_")

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
        q = run_streaming_rollup_upsert(
            stream.where(F.col("mtype") == "counter"),
            store_path=f"{out}/store",
            checkpoint_path=f"{out}/{ckpt}",
            window_ms=300_000,
            family="counter",
        )
        q.awaitTermination(120)

    run("ckpt1")
    got = {
        (r["metric"], r["ts"]): r["count"]
        for r in spark.read.parquet(f"{out}/store").collect()
    }
    expected = {
        (r["metric"], r["ts"]): r["count"]
        for r in counter_summary(
            batch_m.where(F.col("mtype") == "counter"), 300_000
        ).collect()
    }
    assert got == expected  # complete: trailing buckets included

    run("ckpt2")  # full redelivery, fresh checkpoint
    again = {
        (r["metric"], r["ts"]): r["count"]
        for r in spark.read.parquet(f"{out}/store").collect()
    }
    assert again == expected


def test_upsert_rollup_job_budget(spark, staged, tmp_path):
    """Job budget of the counter upsert rollup over two landed files,
    one per trigger: on a fresh store, then again from a new checkpoint
    over the store the first run left (each batch then merges with the
    stored days). A change that adds a job per batch fails here."""
    tmp, schema, batch_m = staged
    land = str(tmp_path / "land")
    counters = batch_m.where(F.col("mtype") == "counter")
    mid = counters.agg(F.median("ts_ms")).first()[0]
    counters.where(F.col("ts_ms") < mid).coalesce(1).write.parquet(land)
    counters.where(F.col("ts_ms") >= mid).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    sc = spark.sparkContext

    def jobs(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land)
        )
        q = run_streaming_rollup_upsert(
            stream.where(F.col("mtype") == "counter"),
            store_path=str(tmp_path / "store"),
            checkpoint_path=str(tmp_path / ckpt),
            window_ms=300_000,
            family="counter",
        )
        q.awaitTermination(120)
        assert q.exception() is None and len(q.recentProgress) >= 2
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        # the micro-batches' jobs run under the query's run id
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    # measured with this suite's session (local[8], 8 shuffle partitions)
    assert (jobs("ckpt1"), jobs("ckpt2")) == (8, 9)


def test_upsert_rollup_is_shuffle_partition_invariant(spark, staged, tmp_path):
    """The upsert rollup under 1 and 7 shuffle partitions, each from its
    own checkpoint: the counter stores are identical and equal the
    batch counter_summary; the histogram stores agree exactly with each
    other and with the batch histogram_summary on count/min/max/mean,
    and their sketch percentiles stay within the tolerance
    test_rollup.py::test_approx_mode_close_to_exact allows."""
    from khronus_spark.functions.summary import family_filter
    tmp, schema, batch_m = staged
    windows = {"counter": 300_000, "histogram": 3_600_000}
    before = spark.conf.get("spark.sql.shuffle.partitions")
    stores = {}
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            for family, window_ms in windows.items():
                stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
                q = run_streaming_rollup_upsert(
                    stream.where(family_filter(family)),
                    store_path=str(tmp_path / f"{family}{n}"),
                    checkpoint_path=str(tmp_path / f"ckpt_{family}{n}"),
                    window_ms=window_ms,
                    family=family,
                )
                q.awaitTermination(120)
                rows = spark.read.parquet(str(tmp_path / f"{family}{n}")).collect()
                stores[family, n] = {
                    (r["metric"], r["ts"]): r.asDict() for r in rows
                }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    counters = {
        (r["metric"], r["ts"]): r["count"]
        for r in counter_summary(
            batch_m.where(family_filter("counter")), windows["counter"]
        ).collect()
    }
    for n in (1, 7):
        assert {k: r["count"] for k, r in stores["counter", n].items()} == counters

    hists = {
        (r["metric"], r["ts"]): r
        for r in histogram_summary(
            batch_m.where(family_filter("histogram")), windows["histogram"]
        ).collect()
    }
    assert set(stores["histogram", 1]) == set(stores["histogram", 7]) == set(hists)
    for key, e in hists.items():
        for n in (1, 7):
            r = stores["histogram", n][key]
            for f in ("count", "min", "max", "mean"):
                assert r[f] == e[f], (key, n, f, r[f], e[f])
            for p in ALL_PERCENTILES:
                assert abs(r[p] - e[p]) <= max(2, 0.05 * e[p]), (key, n, p, r[p], e[p])


def test_upsert_store_survives_preprovisioned_empty_dir(spark, staged):
    """r13 review finding: a store dir that EXISTS but holds no
    committed day partitions (ops pre-created it, or the first batch's
    write died leaving only _temporary/) wedged the stream forever —
    fs.exists() was true, the parquet read failed schema inference,
    and every checkpoint retry failed the same way. The probe now
    looks for committed day=* data and takes the safe first-batch
    branch when there is none."""
    import os
    import tempfile

    tmp, schema, batch_m = staged
    out = tempfile.mkdtemp(prefix="khronus_upsert_empty_")
    store = f"{out}/store"
    os.makedirs(f"{store}/_temporary", exist_ok=True)  # crash debris

    stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
    q = run_streaming_rollup_upsert(
        stream.where(F.col("mtype") == "counter"),
        store_path=store,
        checkpoint_path=f"{out}/ckpt",
        window_ms=300_000,
        family="counter",
    )
    q.awaitTermination(120)
    got = {
        (r["metric"], r["ts"]): r["count"]
        for r in spark.read.parquet(store).collect()
    }
    expected = {
        (r["metric"], r["ts"]): r["count"]
        for r in counter_summary(
            batch_m.where(F.col("mtype") == "counter"), 300_000
        ).collect()
    }
    assert got == expected


def test_stream_to_store_to_influx_query(spark, staged):
    """The full loop: streaming ingestion upserts the summary store,
    then the InfluxQL engine answers a dashboard query FROM that store
    with exactly the numbers the batch engine computes from raw."""
    import tempfile

    from khronus_spark.engine import KhronusEngine
    tmp, schema, batch_m = staged
    out = tempfile.mkdtemp(prefix="khronus_loop_")
    stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
    q = run_streaming_rollup_upsert(
        stream.where(F.col("mtype") == "counter"),
        store_path=f"{out}/counter_summary/5m",
        checkpoint_path=f"{out}/ckpt",
        window_ms=300_000,
        family="counter",
    )
    q.awaitTermination(120)

    now_ms = 1706659200000
    influx = 'select count from "click" where time > now()-30d force group by time(5m)'
    store_eng = KhronusEngine(
        spark,
        summary_base_path=out,
        catalog=[("click", "counter")],
        now_ms=now_ms,
    )
    raw_eng = KhronusEngine(spark, measurements=batch_m, now_ms=now_ms)
    got = {
        (r["time"]): r["value"] for r in store_eng.sql(influx)[0].df.collect()
    }
    expected = {
        (r["time"]): r["value"] for r in raw_eng.sql(influx)[0].df.collect()
    }
    assert got == expected and got


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static dimension enrichment (streaming/enrich.py): the
    watermarked stream joined to a broadcast type dimension must equal
    the batch join row-for-row, including the default for event types
    absent from the dimension."""
    import tempfile

    from khronus_spark.sources.tables import EVENT_TYPE_MTYPE, load_table
    from khronus_spark.streaming.enrich import typed_events

    tmp = tempfile.mkdtemp(prefix="khronus_enrich_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.write.mode("overwrite").parquet(f"{tmp}/in")
    # dimension deliberately missing one type -> exercises the default
    dim = spark.createDataFrame(
        [(k, v) for k, v in EVENT_TYPE_MTYPE.items() if k != "error"],
        "event_type string, mtype string",
    )

    batch = typed_events(spark.read.parquet(f"{tmp}/in"), dim)

    stream_in = spark.readStream.schema(ev.schema).parquet(f"{tmp}/in")
    q = (
        typed_events(stream_in, dim)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(f"{tmp}/out")
    assert got.count() == batch.count()
    assert (
        got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0
    )
    # the defaulted type actually occurred
    assert got.where("event_type = 'error' AND mtype = 'timer'").count() > 0


def test_streaming_windowed_cms_matches_batch(spark, sf_dir):
    """Windowed Count-Min cell table as a watermarked stream: one
    aggregation (streaming append mode legal), cells equal the batch
    sketch for every closed window — the bounded-state object a
    streaming top-talkers pipeline checkpoints, where exact per-key
    counts would be unbounded state."""
    import tempfile

    from khronus_spark.operators.sketches import windowed_cms_sketch
    from khronus_spark.operators.sliding import sliding_event_frame
    from khronus_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="khronus_cmsstream_")
    frame = sliding_event_frame(load_table(spark, sf_dir, "events"))
    frame.write.mode("overwrite").parquet(f"{tmp}/in")

    stream = spark.readStream.schema(frame.schema).parquet(f"{tmp}/in")
    q = (
        windowed_cms_sketch(
            stream.withWatermark("event_ts", "30 seconds"), "1 day", "user_id"
        )
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["win_start_ms"], r["j"], r["bucket"]): r["c"]
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    expected = {
        (r["win_start_ms"], r["j"], r["bucket"]): r["c"]
        for r in windowed_cms_sketch(frame, "1 day", "user_id").collect()
    }
    assert got, "stream produced no cells"
    for k, v in got.items():
        assert expected[k] == v, f"cell {k}: stream {v} != batch {expected[k]}"
    max_start = max(s for s, _, _ in expected)
    for s, _, _ in set(expected) - set(got):
        assert s >= max_start - 86_400_000, f"non-trailing window missing: {s}"

def test_effective_watermark_lags_two_batches_of_front_progress(spark):
    """Round-5 soak finding, pinned as a deterministic contract (verdict
    directive 5): the watermark a micro-batch ENFORCES on late input is
    the one computed at the START of the batch, which derives from
    event-time stats through batch N-2 — the progress line's reported
    watermark (stats through N-1) only takes effect one batch later. So

        droppable lateness = configured delay
                           + TWO micro-batches of event-time front
                             progress

    which is the sizing rule for `run_streaming_rollup_upsert`'s `watermark`
    (and why the round-5 HTTP soak saw wave-B tails land: a bounded
    tail of beyond-delay data is legitimately accepted). availableNow
    replay, one file per batch (mtime-ordered), 1m buckets, 60s delay:

      batch0 front E0=600k   batch1 front E1=1200k
      batch2 late rows judged against E0-delay=540k (NOT E1-delay):
             ts 560k — 640k behind the front — LANDS;
             ts 520k (window end 540k <= wm) DROPS
      batch3 front E2=2400k
      batch4 late rows judged against E1-delay=1140k (NOT E2-delay):
             ts 1150k LANDS, ts 1100k DROPS
      batch5 closer at 10M flushes every bucket

    If a Spark version bump tightens the lag to one batch, the 560k row
    drops and this fails loudly — re-derive the soak's wave sizing."""
    import os
    import time as _time

    tmp = tempfile.mkdtemp(prefix="khronus_wmlag_")
    chunks = [
        [("m", "counter", 100_000, 1), ("m", "counter", 600_000, 1)],
        [("m", "counter", 1_200_000, 1)],
        [("m", "counter", 560_000, 10), ("m", "counter", 520_000, 100)],
        [("m", "counter", 2_400_000, 1)],
        [("m", "counter", 1_150_000, 1000), ("m", "counter", 1_100_000, 10_000)],
        [("m", "counter", 10_000_000, 1)],
    ]
    schema = "metric string, mtype string, ts_ms long, value long"
    for i, rows in enumerate(chunks):
        d = f"{tmp}/in/chunk={i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        # FileStreamSource batches by modification time: force the order
        now = _time.time() + i * 10
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now, now))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/in/*")
    )
    store_path = f"{tmp}/store"
    q = run_streaming_rollup_upsert(
        stream,
        store_path=store_path,
        checkpoint_path=f"{tmp}/ckpt",
        window_ms=60_000,
        family="counter",
        watermark="60 seconds",
    )
    q.awaitTermination(120)
    got = {
        r["ts"]: r["count"]
        for r in spark.read.parquet(store_path).collect()
    }
    assert got.get(540_000) == 10, got      # inside the 2-batch-lag wm
    assert 480_000 not in got, got          # beyond it: dropped
    assert got.get(1_140_000) == 1000, got  # inside the advanced lag wm
    assert 1_080_000 not in got, got        # beyond it: dropped
    assert got.get(60_000) == 1 and got.get(600_000) == 1
    assert got.get(1_200_000) == 1 and got.get(2_400_000) == 1
