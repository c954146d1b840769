"""Streaming IVF-PQ maintenance: streamed adds == one-shot encode over
the same frozen books (content-level stream==batch), replay
idempotence, and snapshot pinning via upto_batch."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from khronus_spark.operators.pq import (
    ivf_pq_build_index,
    ivf_pq_encode,
    ivf_pq_topk_indexed,
    write_ivf_pq_index,
)
from khronus_spark.sources.tables import load_table
from khronus_spark.streaming.ann import (
    read_streamed_coded,
    run_streaming_ivf_pq_add,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stream_chunks(spark, tmp, chunks, index_path, ckpt):
    landing = f"{tmp}/landing_{ckpt}"
    os.makedirs(landing, exist_ok=True)
    schema = chunks[0].schema
    stream = spark.readStream.schema(schema).parquet(landing)
    for i, chunk in enumerate(chunks):
        stage = f"{tmp}/stage_{ckpt}_{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(stage)
        for j, f in enumerate(sorted(os.listdir(stage))):
            if f.endswith(".parquet"):
                shutil.copy(f"{stage}/{f}", f"{landing}/c{i}_{j}.parquet")
        q = run_streaming_ivf_pq_add(stream, index_path, f"{tmp}/{ckpt}")
        q.awaitTermination(120)


def test_streamed_adds_match_one_shot_encode_and_queries_agree(
    spark, sf_dir, tmp_path
):
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 300)
    new = emb.where(F.col("vec_id") >= 300).select("vec_id", "embedding")
    index_path = str(tmp_path / "ivfpq")

    books, coded, cents = ivf_pq_build_index(base)
    write_ivf_pq_index(books, coded, cents, index_path)

    # two in-order chunks of new vectors
    chunks = [
        new.where(F.col("vec_id") < 400),
        new.where(F.col("vec_id") >= 400),
    ]
    _stream_chunks(spark, str(tmp_path), chunks, index_path, "ck1")

    # r13: write_ivf_pq_index publishes atomically as a generation —
    # read through the pointer like every production reader
    root = resolve_generation_dir(index_path)
    spark_books = spark.read.parquet(f"{root}/books")
    spark_cents = spark.read.parquet(f"{root}/centroids")
    got = read_streamed_coded(spark, index_path)
    # content-level stream==batch: the streamed rows equal ONE encode
    # call over all new vectors against the same frozen books
    want = spark.read.parquet(f"{root}/coded").unionByName(
        ivf_pq_encode(new, spark_books, spark_cents)
    )
    assert _rows(got) == _rows(want)

    # and the query face agrees row-for-row on the two coded tables
    probes = [5, 310, 450]
    pv = emb.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    q_stream = ivf_pq_topk_indexed(spark_books, got, spark_cents, pv)
    q_batch = ivf_pq_topk_indexed(spark_books, want, spark_cents, pv)
    assert _rows(q_stream) == _rows(q_batch) and q_stream.count() > 0


def test_replay_replaces_batches_identically_and_snapshot_pins(
    spark, sf_dir, tmp_path
):
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 300)
    new = emb.where(F.col("vec_id") >= 300).select("vec_id", "embedding")
    index_path = str(tmp_path / "ivfpq")
    books, coded, cents = ivf_pq_build_index(base)
    write_ivf_pq_index(books, coded, cents, index_path)

    chunks = [
        new.where(F.col("vec_id") < 400),
        new.where(F.col("vec_id") >= 400),
    ]
    _stream_chunks(spark, str(tmp_path), chunks, index_path, "ck1")
    before = _rows(read_streamed_coded(spark, index_path))

    # full redelivery from a fresh checkpoint: batch dirs REPLACED
    # with recomputed-identical content
    _stream_chunks(spark, str(tmp_path), chunks, index_path, "ck2")
    assert _rows(read_streamed_coded(spark, index_path)) == before

    # snapshot pinning: upto_batch=0 sees base + chunk 1 only
    pinned = read_streamed_coded(spark, index_path, upto_batch=0)
    ids = {r["vec_id"] for r in pinned.select("vec_id").collect()}
    assert max(i for i in ids if i >= 300) < 400
    assert any(i < 300 for i in ids)


# --------------------------------------------------------------------------
# round-10: the drift loop closed (round-9 verdict directive 7) —
# detector flags a shifted batch, a generation swap restores measured
# shortlist recall on the hard anisotropic corpus, streams keep
# running across the swap.
# --------------------------------------------------------------------------

from pyspark.sql.window import Window

from khronus_spark.operators.pq import ivf_pq_rerank_topk_indexed
from khronus_spark.operators.quantize import (
    embedding_dim_stats,
    embedding_drift_flags,
)
from khronus_spark.operators.similarity import anisotropic_corpus
from khronus_spark.streaming.ann import (
    read_streamed_index,
    refresh_streamed_index,
)
from khronus_spark.streaming.retrieval import resolve_generation_dir

# drift transform: the batch collapses into [0.85, 0.95]^dim — a region
# the training distribution covers only with its uniform noise floor,
# so frozen subquantizers give the whole batch ONE code (measured)
_DRIFT = (
    "transform(embedding, x -> CAST(least(1.0D, greatest(-1.0D, "
    "0.9D + 0.05D * CAST(x AS DOUBLE))) AS FLOAT))"
)


def _hard_tables(spark, tmp_path):
    """A (training, ids<400), B (drifted batch, 400..599), C (drifted
    post-swap batch, 600..649) — materialized through parquet so the
    union does not share lineage with the generator (self-union column
    resolution)."""
    corpus = anisotropic_corpus(spark, 650, dim=64)
    corpus.where("vec_id < 400").write.parquet(f"{tmp_path}/A")
    corpus.where("vec_id >= 400").select(
        "vec_id", F.expr(_DRIFT).alias("embedding")
    ).write.parquet(f"{tmp_path}/D")
    A = spark.read.parquet(f"{tmp_path}/A")
    D = spark.read.parquet(f"{tmp_path}/D")
    return A, D.where("vec_id < 600"), D.where("vec_id >= 600")


def _l2_truth(vectors, probe_vecs, k):
    pairs = vectors.alias("e").join(
        F.broadcast(probe_vecs.alias("p")),
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
            "probe_id", F.col("e.vec_id").alias("neighbor_id"), d2.alias("_d2")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id")
    )


def _recall(truth, res):
    tset, got = {}, {}
    for r in truth.collect():
        tset.setdefault(r.probe_id, set()).add(r.neighbor_id)
    for r in res.collect():
        got.setdefault(r.probe_id, set()).add(r.neighbor_id)
    per = [
        len(tset[p] & got.get(p, set())) / len(tset[p]) for p in tset
    ]
    return sum(per) / len(per)


def test_drift_detector_flags_shifted_batch_not_control(spark, tmp_path):
    A, B, _ = _hard_tables(spark, tmp_path)
    train_stats = embedding_dim_stats(A)
    # control: a same-distribution half of the training corpus — the
    # 5-sigma standard-error gate must stay silent
    ctrl = embedding_drift_flags(
        train_stats, embedding_dim_stats(A.where("vec_id % 2 = 0"))
    )
    assert ctrl.where("drifted").count() == 0
    # the shifted batch: every dimension's mean moved ~0.9 at a
    # standard error of ~0.03 — all 64 dims must flag
    drift = embedding_drift_flags(train_stats, embedding_dim_stats(B))
    assert drift.where("drifted").count() == 64
    assert drift.where("mean_shift").count() == 64


def test_drift_refresh_restores_shortlist_recall_and_stream_survives_swap(
    spark, tmp_path
):
    """The full loop on the hard corpus: frozen books collapse the
    drifted batch to ONE pq_code (shortlist recall craters even with
    the exact rerank behind it); the detector-gated refresh retrains
    with hash-sampled init seeds and the atomic generation swap
    restores recall; a batch streamed AFTER the swap encodes under the
    NEW generation without restarting the stream. Every number here is
    deterministic (xxhash64 corpus, integer k-means)."""
    A, B, C = _hard_tables(spark, tmp_path)
    allv = A.unionByName(B)
    root = str(tmp_path / "index")

    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)

    # the drifted batch arrives through the real streaming add path
    chunks = [B.where("vec_id < 500"), B.where("vec_id >= 500")]
    _stream_chunks(spark, str(tmp_path), chunks, root, "ckd")

    probes = list(range(400, 410))
    pv = B.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    truth = _l2_truth(allv, pv, 5)

    books1, coded1, cents1 = read_streamed_index(spark, root)
    # mechanism pin: under the stale books the 200-vector drifted
    # batch collapses to one or two codes — the shortlist has nothing
    # to rank with
    assert (
        coded1.where("vec_id >= 400").select("pq_code").distinct().count()
        <= 2
    )
    recall_old = _recall(
        truth,
        ivf_pq_rerank_topk_indexed(
            books1, coded1, cents1, pv, allv, n_neighbors=5, n_candidates=30
        ),
    )

    # the detector is the gate: refresh only fires on a drifted batch
    flagged = (
        embedding_drift_flags(embedding_dim_stats(A), embedding_dim_stats(B))
        .where("drifted")
        .count()
        > 0
    )
    assert flagged
    refresh_streamed_index(spark, root, allv)
    gen2 = resolve_generation_dir(root)
    assert gen2 != gen1

    books2, coded2, cents2 = read_streamed_index(spark, root)
    # the reseeded retrain allocates real codewords to the new region
    assert (
        coded2.where("vec_id >= 400").select("pq_code").distinct().count()
        >= 10
    )
    recall_new = _recall(
        truth,
        ivf_pq_rerank_topk_indexed(
            books2, coded2, cents2, pv, allv, n_neighbors=5, n_candidates=30
        ),
    )
    assert recall_old <= 0.4
    assert recall_new >= 0.7
    assert recall_new >= recall_old + 0.3

    # the stream keeps running across the swap: the next trigger
    # resolves the NEW generation (same checkpoint, no restart).
    # Land the chunk under a FRESH file name — the file source tracks
    # seen names, so _stream_chunks' c0_* would be silently skipped.
    landing = f"{tmp_path}/landing_ckd"
    stage = f"{tmp_path}/stage_ckd_post"
    C.coalesce(1).write.mode("overwrite").parquet(stage)
    for j, f_ in enumerate(sorted(os.listdir(stage))):
        if f_.endswith(".parquet"):
            shutil.copy(f"{stage}/{f_}", f"{landing}/post_{j}.parquet")
    q = run_streaming_ivf_pq_add(
        spark.readStream.schema(C.schema).parquet(landing),
        root,
        f"{tmp_path}/ckd",
    )
    q.awaitTermination(120)
    assert os.path.isdir(f"{gen2}/coded_stream/batch=2")
    assert not os.path.isdir(f"{gen1}/coded_stream/batch=2")
    ids = {
        r["vec_id"]
        for r in read_streamed_index(spark, root)[1]
        .select("vec_id")
        .collect()
    }
    assert ids == set(range(650))


def test_drift_guard_verdicts_per_batch_and_replay(spark, tmp_path):
    """The in-stream drift guard (signal in the trigger, action out of
    band): an undrifted batch lands a drifted=false verdict, a drifted
    batch lands drifted=true, both batch-keyed under the CURRENT
    generation; the coded rows land exactly as the unguarded add; a
    full redelivery from a fresh checkpoint replaces the verdicts with
    recomputed-identical content."""
    from khronus_spark.streaming.ann import (
        read_drift_log,
        run_streaming_ivf_pq_add_guarded,
    )

    corpus = anisotropic_corpus(spark, 750, dim=64)
    corpus.where("vec_id < 650").write.parquet(f"{tmp_path}/base")
    base = spark.read.parquet(f"{tmp_path}/base")
    # chunk 1: same distribution, new ids; chunk 2: the drift shape
    corpus.where("vec_id >= 650 AND vec_id < 700").write.parquet(
        f"{tmp_path}/c1"
    )
    corpus.where("vec_id >= 700").select(
        "vec_id", F.expr(_DRIFT).alias("embedding")
    ).write.parquet(f"{tmp_path}/c2")
    c1 = spark.read.parquet(f"{tmp_path}/c1")
    c2 = spark.read.parquet(f"{tmp_path}/c2")

    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, base)

    def stream_guarded(chunks, ckpt):
        landing = f"{tmp_path}/landing_{ckpt}"
        os.makedirs(landing, exist_ok=True)
        stream = spark.readStream.schema(chunks[0].schema).parquet(landing)
        for i, chunk in enumerate(chunks):
            stage = f"{tmp_path}/stage_{ckpt}_{i}"
            chunk.coalesce(1).write.mode("overwrite").parquet(stage)
            for j, f_ in enumerate(sorted(os.listdir(stage))):
                if f_.endswith(".parquet"):
                    shutil.copy(
                        f"{stage}/{f_}", f"{landing}/{ckpt}_{i}_{j}.parquet"
                    )
            q = run_streaming_ivf_pq_add_guarded(
                stream, root, f"{tmp_path}/{ckpt}"
            )
            q.awaitTermination(120)

    stream_guarded([c1, c2], "ckg")
    log = {
        r.batch: (r.n_flagged, r.drifted)
        for r in read_drift_log(spark, root).collect()
    }
    assert log[0][1] is False  # same-distribution batch: quiet
    assert log[1][1] is True and log[1][0] == 64  # the drift shape
    # coded rows landed exactly like the unguarded add
    ids = {
        r["vec_id"]
        for r in read_streamed_index(spark, root)[1].select("vec_id").collect()
    }
    assert ids == set(range(750))

    # replay from a fresh checkpoint: verdicts replaced, not duplicated
    before = sorted(
        tuple(r) for r in read_drift_log(spark, root).collect()
    )
    stream_guarded([c1, c2], "ckg2")
    after = sorted(tuple(r) for r in read_drift_log(spark, root).collect())
    assert after == before


# --------------------------------------------------------------------------
# round-11: the refresh/ingest visibility race closed — a batch landing
# after the refresh's `vectors` snapshot is re-encoded into the new
# generation (carry-forward), and a trigger straddling the swap re-lands
# itself into the new current generation (writer post-check).
# --------------------------------------------------------------------------

import pytest

import khronus_spark.streaming.ann as ann_mod
from khronus_spark.streaming.ann import _process_add


def test_reseeded_train_view_empty_corpus_raises(spark):
    from khronus_spark.streaming.ann import _reseeded_train_view

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="standing corpus"):
        _reseeded_train_view(empty, 4)


def _split_corpus(spark, tmp_path, n=500, cut=400):
    corpus = anisotropic_corpus(spark, n, dim=64)
    corpus.where(f"vec_id < {cut}").write.parquet(f"{tmp_path}/cA")
    corpus.where(f"vec_id >= {cut}").write.parquet(f"{tmp_path}/cB")
    return (
        spark.read.parquet(f"{tmp_path}/cA"),
        spark.read.parquet(f"{tmp_path}/cB"),
    )


def test_refresh_carries_boundary_straddling_batches(spark, tmp_path):
    """A batch that landed AFTER the refresh's snapshot (covered_batches
    says the snapshot saw nothing streamed) must be re-encoded under the
    NEW books into the new generation — not silently vanish with the old
    generation's prune."""
    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)
    _stream_chunks(
        spark, str(tmp_path), [B.select("vec_id", "embedding")], root, "ckc"
    )
    assert os.path.isdir(f"{gen1}/coded_stream/batch=0")

    # vectors = A only (the pre-landing snapshot); covered_batches=[]
    # records that the snapshot covered no streamed batch
    refresh_streamed_index(spark, root, A, covered_batches=[])
    gen2 = resolve_generation_dir(root)
    assert gen2 != gen1
    assert os.path.isdir(f"{gen2}/coded_stream/batch=0")

    _, coded2, _ = read_streamed_index(spark, root)
    ids = {r["vec_id"] for r in coded2.select("vec_id").collect()}
    assert ids == set(range(500))
    # carried rows are RE-ENCODED under the new generation's books
    # (old codes are meaningless under new books), not copied through
    books2 = spark.read.parquet(f"{gen2}/books")
    cents2 = spark.read.parquet(f"{gen2}/centroids")
    want = _rows(ivf_pq_encode(B.select("vec_id", "embedding"), books2, cents2))
    got = _rows(
        spark.read.parquet(f"{gen2}/coded_stream/batch=0").select(
            "vec_id", "pq_code", "centroid_id"
        )
    )
    assert got == want


def test_refresh_carry_dedups_snapshot_included_batches(spark, tmp_path):
    """A batch the snapshot DID include (vectors = A∪B) that is also
    swept by the carry-forward must not double-count: the retrain's
    coded output already carries its ids, so the carried remainder is
    empty and no duplicate candidates reach the reader."""
    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    _stream_chunks(
        spark, str(tmp_path), [B.select("vec_id", "embedding")], root, "ckc"
    )
    allv = A.unionByName(B)
    refresh_streamed_index(spark, root, allv, covered_batches=[])
    gen2 = resolve_generation_dir(root)
    _, coded2, _ = read_streamed_index(spark, root)
    rows = coded2.select("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    assert sorted(set(ids)) == list(range(500))
    assert len(ids) == 500  # no duplicates through the dedup'd carry


def test_add_post_check_lands_batch_into_swapped_generation(
    spark, tmp_path, monkeypatch
):
    """The writer side of the race: a trigger that resolved the OLD
    generation, then saw a swap complete mid-trigger, re-lands its
    batch (dedup'd) into the NEW current generation — so the batch is
    query-visible no matter which side of the swap its dir landed on."""
    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)
    refresh_streamed_index(spark, root, A)
    gen2 = resolve_generation_dir(root)
    assert gen2 != gen1 and os.path.isdir(gen1)

    real = resolve_generation_dir
    calls = {"n": 0}

    def stale_once(path):
        calls["n"] += 1
        return gen1 if calls["n"] == 1 else real(path)

    monkeypatch.setattr(ann_mod, "resolve_generation_dir", stale_once)
    _process_add(B.select("vec_id", "embedding"), 9, root)

    assert os.path.isdir(f"{gen1}/coded_stream/batch=9")
    assert os.path.isdir(f"{gen2}/coded_stream/batch=9")
    books2 = spark.read.parquet(f"{gen2}/books")
    cents2 = spark.read.parquet(f"{gen2}/centroids")
    want = _rows(ivf_pq_encode(B.select("vec_id", "embedding"), books2, cents2))
    got = _rows(
        spark.read.parquet(f"{gen2}/coded_stream/batch=9").select(
            "vec_id", "pq_code", "centroid_id"
        )
    )
    assert got == want
    # and the reader sees exactly one copy of every vector
    _, coded2, _ = read_streamed_index(spark, root)
    ids = [r["vec_id"] for r in coded2.select("vec_id").collect()]
    assert sorted(set(ids)) == list(range(500)) and len(ids) == 500


def test_maintenance_tick_self_heals_drifted_stream(spark, tmp_path):
    """The closed loop in PRODUCTION shape (r10 verdict Next-round #5):
    the in-stream guard flags a drifted batch, the maintenance
    thread polls the drift log and self-heals by retrain + generation
    swap — no manual read_drift_log/refresh call anywhere — and the
    measured shortlist recall through the production query face is
    restored to the pinned reseeded-retrain level. The next tick is
    quiet: verdicts stay with the generation they judged, so a fresh
    generation starts clean."""
    import time as _time

    from khronus_spark.streaming.ann import (
        drift_maintenance_tick,
        run_drift_maintenance,
        run_streaming_ivf_pq_add_guarded,
    )

    A, B, _ = _hard_tables(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)

    # the standing raw corpus the retrain reads
    vdir = f"{tmp_path}/standing"
    A.write.parquet(vdir)
    B.select("vec_id", "embedding").write.mode("append").parquet(vdir)
    standing = lambda: spark.read.parquet(vdir)  # noqa: E731

    # the drifted batch arrives through the GUARDED add: verdict lands
    landing = f"{tmp_path}/landing_mt"
    os.makedirs(landing, exist_ok=True)
    stage = f"{tmp_path}/stage_mt"
    B.select("vec_id", "embedding").coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    for j, f_ in enumerate(sorted(os.listdir(stage))):
        if f_.endswith(".parquet"):
            shutil.copy(f"{stage}/{f_}", f"{landing}/mt_{j}.parquet")
    q = run_streaming_ivf_pq_add_guarded(
        spark.readStream.schema(
            B.select("vec_id", "embedding").schema
        ).parquet(landing),
        root,
        f"{tmp_path}/ck_mt",
    )
    q.awaitTermination(120)

    # recall through the production face BEFORE the heal (stale books)
    probes = list(range(400, 410))
    pv = B.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    allv = A.unionByName(B)
    truth = _l2_truth(allv, pv, 5)
    recall_old = _recall(
        truth,
        ivf_pq_rerank_topk_indexed(
            *read_streamed_index(spark, root), pv, allv,
            n_neighbors=5, n_candidates=30,
        ),
    )

    # the maintenance loop: poll fast, heal once, report the swap
    refreshed: list[str] = []
    thread, stop = run_drift_maintenance(
        spark, root, standing, interval_seconds=0.2,
        on_refresh=refreshed.append,
    )
    deadline = _time.time() + 180
    while not refreshed and _time.time() < deadline:
        _time.sleep(0.5)
    stop.set()
    thread.join(60)
    assert refreshed, "maintenance tick never triggered a refresh"

    gen2 = resolve_generation_dir(root)
    assert gen2 != gen1 and refreshed[0] == os.path.basename(gen2)
    recall_new = _recall(
        truth,
        ivf_pq_rerank_topk_indexed(
            *read_streamed_index(spark, root), pv, allv,
            n_neighbors=5, n_candidates=30,
        ),
    )
    assert recall_old <= 0.4
    assert recall_new >= 0.85  # the pinned reseeded-retrain level
    # the loop is self-resetting: the healed generation's log is clean
    assert drift_maintenance_tick(spark, root, standing) is None


def test_hot_add_path_never_scans_the_coded_table(spark, tmp_path):
    """The ingest trigger must stay batch-sized: the dedup anti-join
    scans the generation's coded table (which grows with the corpus)
    and is reserved for refresh-boundary landings — if it ever leaked
    into the hot path every trigger would pay a corpus-sized read."""
    from khronus_spark.streaming.ann import _landing_frame

    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen = resolve_generation_dir(root)
    batch = B.select("vec_id", "embedding")

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    hot = plan(_landing_frame(spark, gen, batch))
    boundary = plan(_landing_frame(spark, gen, batch, dedup=True))
    assert f"{gen}/coded]" not in hot and "/coded]" not in hot
    assert f"{gen}/coded]" in boundary  # the dedup face does read it


def test_repeated_drift_heal_cycles_stay_consistent(spark, tmp_path):
    """Two full drift->flag->heal cycles through the maintenance tick:
    each heal swaps to a fresh generation whose coded set is exactly
    the standing corpus (no loss, no duplicates), and each healed
    generation starts with a clean drift log. Pins that the loop is
    re-entrant — generation N+1's carry/dedup machinery works against
    a generation that was itself produced by a heal."""
    from khronus_spark.streaming.ann import (
        drift_maintenance_tick,
        run_streaming_ivf_pq_add_guarded,
    )

    corpus = anisotropic_corpus(spark, 700, dim=64)
    corpus.where("vec_id < 500").write.parquet(f"{tmp_path}/A")
    A = spark.read.parquet(f"{tmp_path}/A")
    corpus.where("vec_id >= 500").select(
        "vec_id", F.expr(_DRIFT).alias("embedding")
    ).write.parquet(f"{tmp_path}/D")
    D = spark.read.parquet(f"{tmp_path}/D")
    chunks = [D.where("vec_id < 600"), D.where("vec_id >= 600")]

    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    vdir = f"{tmp_path}/standing"
    A.write.parquet(vdir)

    landing = f"{tmp_path}/landing_rc"
    os.makedirs(landing, exist_ok=True)
    seen_gens = {resolve_generation_dir(root)}
    upto = [500, 600, 700]
    for i, chunk in enumerate(chunks):
        stage = f"{tmp_path}/stage_rc_{i}"
        chunk.select("vec_id", "embedding").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        for j, f_ in enumerate(sorted(os.listdir(stage))):
            if f_.endswith(".parquet"):
                shutil.copy(f"{stage}/{f_}", f"{landing}/rc_{i}_{j}.parquet")
        q = run_streaming_ivf_pq_add_guarded(
            spark.readStream.schema(
                chunk.select("vec_id", "embedding").schema
            ).parquet(landing),
            root,
            f"{tmp_path}/ck_rc",
        )
        q.awaitTermination(120)
        # grow the standing corpus like production would, then tick
        chunk.select("vec_id", "embedding").write.mode("append").parquet(
            vdir
        )
        gen = drift_maintenance_tick(
            spark, root, lambda: spark.read.parquet(vdir)
        )
        assert gen is not None, f"cycle {i}: drift verdict did not fire"
        cur = resolve_generation_dir(root)
        assert cur not in seen_gens
        seen_gens.add(cur)
        ids = [
            r["vec_id"]
            for r in read_streamed_index(spark, root)[1]
            .select("vec_id")
            .collect()
        ]
        assert sorted(set(ids)) == list(range(upto[i + 1]))
        assert len(ids) == upto[i + 1], "duplicate vec_ids after heal"
        # healed generation starts clean: next tick is a no-op
        assert (
            drift_maintenance_tick(
                spark, root, lambda: spark.read.parquet(vdir)
            )
            is None
        )


def test_refresh_default_carries_batches_missing_from_standing_corpus(
    spark, tmp_path
):
    """The r11 self-review's production scenario: the maintenance tick
    refreshes from a standing-corpus mirror that has NOT caught up to
    the latest landed stream batch. The previous landed-at-entry
    default marked that batch covered and dropped its vectors forever;
    the safe default sweeps everything and re-encodes exactly the
    missing rows."""
    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    _stream_chunks(
        spark, str(tmp_path), [B.select("vec_id", "embedding")], root, "ckm"
    )
    # standing corpus is STALE: vectors = A only, defaults throughout —
    # exactly what the maintenance tick does when the mirror lags
    refresh_streamed_index(spark, root, A)
    gen2 = resolve_generation_dir(root)
    assert os.path.isdir(f"{gen2}/coded_stream/batch=0")
    _, coded2, _ = read_streamed_index(spark, root)
    ids = [r["vec_id"] for r in coded2.select("vec_id").collect()]
    assert sorted(set(ids)) == list(range(500)) and len(ids) == 500


def test_refresh_carries_at_the_generations_own_geometry(spark, tmp_path):
    """A dims=16/sub=4 index (the r11 parameterization) whose refresh
    must re-encode a boundary-straddling batch AT THAT geometry: the
    generation's persisted geometry sidecar — not the module defaults
    — drives every landing, so carried codes equal a direct
    ivf_pq_encode at dims=16 under the new books."""
    corpus = anisotropic_corpus(spark, 500, dim=16)
    corpus.where("vec_id < 400").write.parquet(f"{tmp_path}/A16")
    corpus.where("vec_id >= 400").write.parquet(f"{tmp_path}/B16")
    A = spark.read.parquet(f"{tmp_path}/A16")
    B = spark.read.parquet(f"{tmp_path}/B16")
    root = str(tmp_path / "index16")
    kw = dict(sub=4, k=8, iters=1, dims=16)
    refresh_streamed_index(spark, root, A, **kw)
    _stream_chunks(
        spark, str(tmp_path), [B.select("vec_id", "embedding")], root, "ckg16"
    )
    refresh_streamed_index(spark, root, A, **kw)  # stale standing corpus
    gen2 = resolve_generation_dir(root)
    assert os.path.isdir(f"{gen2}/coded_stream/batch=0")
    books2 = spark.read.parquet(f"{gen2}/books")
    cents2 = spark.read.parquet(f"{gen2}/centroids")
    want = _rows(
        ivf_pq_encode(
            B.select("vec_id", "embedding"), books2, cents2,
            sub=4, k=8, dims=16,
        )
    )
    got = _rows(
        spark.read.parquet(f"{gen2}/coded_stream/batch=0").select(
            "vec_id", "pq_code", "centroid_id"
        )
    )
    assert got == want
    # the sidecar is the mechanism: the generation records the
    # geometry its books were trained at (a default-geometry encode
    # against these books doesn't merely differ — it fails outright
    # on the 16-wide arrays, which is what every landing would have
    # hit without the sidecar)
    from khronus_spark.streaming.ann import _geometry

    assert _geometry(gen2) == {"sub": 4, "k": 8, "dims": 16, "mode": None}


def test_guarded_post_swap_reland_is_atomic(spark, tmp_path, monkeypatch):
    """r12 ADVICE (medium): the guarded add's post-swap re-land races
    the refresher's carry-forward on the same batch dir — it must go
    rename-into-place like _process_add's, never Spark overwrite
    (which deletes the target before committing). Pin: a dir another
    writer already landed SURVIVES the re-land untouched."""
    from khronus_spark.streaming.ann import _process_add_guarded

    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)
    refresh_streamed_index(spark, root, A)
    gen2 = resolve_generation_dir(root)
    assert gen2 != gen1 and os.path.isdir(gen1)

    # the other writer (the refresher's carry) already owns the dir
    sentinel_dir = f"{gen2}/coded_stream/batch=9"
    os.makedirs(sentinel_dir)
    with open(f"{sentinel_dir}/_SENTINEL", "w") as fh:
        fh.write("other writer's landing")

    real = resolve_generation_dir
    calls = {"n": 0}

    def stale_once(path):
        calls["n"] += 1
        return gen1 if calls["n"] == 1 else real(path)

    monkeypatch.setattr(ann_mod, "resolve_generation_dir", stale_once)
    _process_add_guarded(B.select("vec_id", "embedding"), 9, root, 50)

    # landed into the stale generation, judged there...
    assert os.path.isdir(f"{gen1}/coded_stream/batch=9")
    assert os.path.isdir(f"{gen1}/drift_log/batch=9")
    # ...and the post-swap re-land LOST the race gracefully: the other
    # writer's dir is intact (an overwrite would have deleted it)
    assert os.path.isfile(f"{sentinel_dir}/_SENTINEL")


def test_carry_skips_mid_commit_batch_dirs(spark, tmp_path):
    """r12 ADVICE: a batch dir without _SUCCESS is mid-commit by a hot
    trigger — carrying it would copy a TRUNCATED dir into the new
    generation, after which the trigger's own atomic re-land skips
    (target exists) and the uncarried vectors never arrive. The sweep
    must skip it; the committing trigger's own post-swap re-land (or a
    later sweep seeing the completed dir) lands the full batch."""
    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)
    _stream_chunks(
        spark, str(tmp_path), [B.select("vec_id", "embedding")], root, "ckm"
    )
    success = f"{gen1}/coded_stream/batch=0/_SUCCESS"
    assert os.path.isfile(success)
    os.remove(success)  # simulate the dir being mid-commit

    refresh_streamed_index(spark, root, A, covered_batches=[])
    gen2 = resolve_generation_dir(root)
    # the truncated dir was NOT carried — no half-batch in gen2
    assert not os.path.isdir(f"{gen2}/coded_stream/batch=0")
    _, coded2, _ = read_streamed_index(spark, root)
    ids = {r["vec_id"] for r in coded2.select("vec_id").collect()}
    assert ids == set(range(400))

    # the trigger finishes its commit and runs its own post-swap
    # re-land (the protocol's other half) — full coverage restored
    from khronus_spark.streaming.ann import _land_batch

    _land_batch(
        spark, gen2, B.select("vec_id", "embedding"), 0,
        dedup=True, atomic=True,
    )
    assert os.path.isfile(f"{gen2}/coded_stream/batch=0/_SUCCESS")
    _, coded2, _ = read_streamed_index(spark, root)
    ids = {r["vec_id"] for r in coded2.select("vec_id").collect()}
    assert ids == set(range(500))


def test_carry_fails_loudly_on_null_embeddings(spark, tmp_path):
    """r12 ADVICE: with MIXED legacy/new batch dirs under one
    generation, schema inference can surface the embedding column from
    a new-style file and the legacy batches then read embedding as
    NULL — those rows must fail the sweep loudly, never re-encode into
    null/garbage codes silently."""
    import pytest

    A, B = _split_corpus(spark, tmp_path)
    root = str(tmp_path / "index")
    refresh_streamed_index(spark, root, A)
    gen1 = resolve_generation_dir(root)

    # batch 0: new-style landing (embedding column present)
    B0 = B.where("vec_id < 450").select("vec_id", "embedding")
    from khronus_spark.streaming.ann import _land_batch

    _land_batch(spark, gen1, B0, 0)
    # batch 1: legacy-shaped dir — codes with embedding explicitly
    # NULL (the shape a mixed-schema read surfaces for legacy files)
    books1 = spark.read.parquet(f"{gen1}/books")
    cents1 = spark.read.parquet(f"{gen1}/centroids")
    B1 = B.where("vec_id >= 450").select("vec_id", "embedding")
    legacy = ivf_pq_encode(B1, books1, cents1).withColumn(
        "embedding", F.lit(None).cast("array<float>")
    )
    legacy.write.mode("overwrite").parquet(f"{gen1}/coded_stream/batch=1")

    with pytest.raises(ValueError, match="NULL\\s+embeddings"):
        refresh_streamed_index(spark, root, A, covered_batches=[])


def test_replayed_batch_absorbed_by_retrain_does_not_duplicate(
    spark, sf_dir, tmp_path
):
    """r13 review finding: a trigger lands batch N, crashes BEFORE its
    checkpoint commit; the maintenance refresh runs with the standing-
    corpus mirror caught up, so the retrain absorbs batch N's vectors
    into the new generation's `coded` and the carry sweep accounts for
    N without writing a batch dir. The checkpoint replay then re-lands
    N into the NEW generation — with the old plain-overwrite landing
    every vector appeared twice (coded + coded_stream) and duplicates
    squeezed real neighbors out of the top-k. The refresh now persists
    the accounted-for batch ids (covered_batches.json) and the replay
    lands dedup'd: zero rows survive the anti-join, nothing lands."""
    from khronus_spark.streaming.ann import (
        _covered_batches,
        _process_add,
        refresh_streamed_index,
    )
    from khronus_spark.streaming.retrieval import resolve_generation_dir

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where("vec_id < 300")
    batch = emb.where("vec_id >= 300 AND vec_id < 360").select(
        "vec_id", "embedding"
    )
    root_path = str(tmp_path / "idx")
    refresh_streamed_index(spark, root_path, base)

    # the trigger's landing completed; the checkpoint commit did not
    _process_add(batch, 0, root_path)
    assert read_streamed_coded(spark, root_path).count() == 360

    # maintenance retrain with the mirror CAUGHT UP: batch 0's vectors
    # are in the new coded; the sweep accounts for batch 0, no dir
    refresh_streamed_index(
        spark, root_path,
        base.select("vec_id", "embedding").unionByName(batch),
    )
    gen2 = resolve_generation_dir(root_path)
    assert 0 in _covered_batches(gen2)
    assert not os.path.isdir(f"{gen2}/coded_stream/batch=0")
    assert read_streamed_coded(spark, root_path).count() == 360

    # restart: the replayed trigger re-delivers batch 0
    _process_add(batch, 0, root_path)
    coded = read_streamed_coded(spark, root_path)
    assert coded.count() == 360
    dupes = coded.groupBy("vec_id").count().where("count > 1").count()
    assert dupes == 0

    # and a genuinely NEW batch under a fresh checkpoint that reuses
    # an accounted id still lands in full (dedup is content-based)
    fresh = emb.where("vec_id >= 360 AND vec_id < 380").select(
        "vec_id", "embedding"
    )
    _process_add(fresh, 0, root_path)
    assert read_streamed_coded(spark, root_path).count() == 380
