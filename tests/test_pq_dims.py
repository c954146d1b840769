"""PQ geometry parameterization (r10 verdict directive 3): the
subvector slicing was hard-wired to DIMS=64 — surfaced by the round-10
drift exploration's dim-16 corpus. Every build/encode/query face must
run at dims 16 AND 64, indivisible combinations must fail loudly at
build time, and the dim-16 oracle restatement must agree value-for-
value with the Spark side (the same DuckDB parity discipline as the
64-dim registry entries)."""

from __future__ import annotations

import duckdb
import pytest
from pq_index import pq_index
from pyspark.sql import functions as F

from khronus_spark.operators import pq as pq_ops
from khronus_spark.operators.similarity import anisotropic_corpus


@pytest.fixture(scope="module")
def emb16(spark, tmp_path_factory):
    """The drift exploration's corpus shape at dim=16, materialized
    through parquet so self-joins don't share generator lineage."""
    path = str(tmp_path_factory.mktemp("pq16") / "emb16")
    anisotropic_corpus(spark, 300, dim=16).write.parquet(path)
    return spark.read.parquet(path)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(pdf, sql):
    con = duckdb.connect()
    con.register("embeddings", pdf)
    return sorted(map(tuple, con.execute(sql).fetchall()))


def test_invalid_geometry_fails_at_build_time(emb16):
    with pytest.raises(ValueError, match="dims=16 .*sub=5"):
        pq_ops.pq_build_index(emb16, sub=5, k=8, iters=1, dims=16)
    with pytest.raises(ValueError, match="positive multiple"):
        pq_ops.pq_codes_sql(sub=7, k=8, iters=1, dims=16)
    with pytest.raises(ValueError, match="positive multiple"):
        pq_ops.ivf_pq_build_index(emb16, sub=3, k=8, iters=1, dims=16)


def test_ivf_pq_build_encode_query_dim16(spark, emb16, tmp_path):
    """The full indexed IVF-PQ arc at dims=16/sub=4, through a parquet
    round trip: the ADC query and the rerank face agree value-for-value
    with their DuckDB restatements at the same geometry."""
    books_f, coded_f, cents_f = pq_ops.ivf_pq_build_index(
        emb16, stride=50, sub=4, k=8, iters=1, dims=16
    )
    path = str(tmp_path / "idx16")
    pq_ops.write_ivf_pq_index(books_f, coded_f, cents_f, path)
    books_f, coded_f, cents_f = pq_ops.read_ivf_pq_index(spark, path)
    probes = [3, 77, 141]
    pv = emb16.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    pdf = emb16.toPandas()
    got = pq_ops.ivf_pq_topk_indexed(
        books_f, coded_f, cents_f, pv, 3, nprobe=2, sub=4, k=8, dims=16
    )
    want = _duck_rows(pdf, pq_ops.ivf_pq_topk_sql(
        probes, 3, stride=50, nprobe=2, sub=4, k=8, iters=1, dims=16
    ))
    assert _rows(got) == want and len(want) == 9

    # and the full production composition (rerank) agrees too
    got_rr = pq_ops.ivf_pq_rerank_topk_indexed(
        books_f, coded_f, cents_f, pv, emb16, 3, 10, nprobe=2,
        sub=4, k=8, dims=16,
    )
    want_rr = _duck_rows(pdf, pq_ops.ivf_pq_rerank_topk_sql(
        probes, 3, 10, stride=50, nprobe=2, sub=4, k=8, iters=1, dims=16
    ))
    assert _rows(got_rr) == want_rr and len(want_rr) == 9


def test_dim16_oracle_parity_codes_and_topk(spark, emb16, tmp_path):
    """DuckDB parity at dims=16 — the same gate the 64-dim registry
    entries pass: codes and ADC top-k value-identical across engines."""
    pdf = emb16.toPandas()
    probes = [0, 9, 42]
    books, codes, pv = pq_index(emb16, probes, 4, 8, 1, dims=16)

    got = _rows(codes)
    want = _duck_rows(pdf, pq_ops.pq_codes_sql(sub=4, k=8, iters=1, dims=16))
    assert got == want and len(got) == 300

    got_tk = _rows(
        pq_ops.pq_topk_indexed(books, codes, pv, 3, sub=4, k=8, dims=16)
    )
    want_tk = _duck_rows(
        pdf, pq_ops.pq_topk_sql(probes, 3, sub=4, k=8, iters=1, dims=16)
    )
    assert got_tk == want_tk and len(got_tk) == 9


def test_dim64_defaults_untouched(spark, sf_dir):
    """The parameterization must not move a single default-geometry
    value: the built codes with and without an explicit dims=64 are
    row-identical on the real embeddings table."""
    from khronus_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 120")
    a = _rows(pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)[1])
    b = _rows(pq_ops.pq_build_index(emb, sub=4, k=8, iters=1, dims=64)[1])
    assert a == b and len(a) == 120


def test_matryoshka_degenerates_to_pq_rerank_at_full_prefix(spark, emb16):
    """prefix_dims == dims makes the Matryoshka composition exactly
    the two-stage PQ rerank (same shortlist metric, same rerank width)
    — the degenerate-equality pin that anchors the two-width
    semantics."""
    probes = [0, 9, 42]
    books, codes, pv = pq_index(emb16, probes, 4, 8, 1, dims=16)
    a = _rows(
        pq_ops.matryoshka_rerank_topk_indexed(
            books, codes, pv, emb16, 3, n_candidates=10, prefix_dims=16,
            sub=4, k=8,
        )
    )
    b = _rows(
        pq_ops.pq_rerank_topk_indexed(
            books, codes, pv, emb16, 3, n_candidates=10, sub=4, k=8, dims=16
        )
    )
    assert a == b and len(a) == 9


def test_matryoshka_shortlist_is_prefix_metric_rerank_full_width(
    spark, sf_dir
):
    """On the real 64-wide embeddings, the prefix-16 shortlist must
    (a) produce full-width EXACT distances in the output and (b)
    differ from the full-width ADC shortlist composition in general —
    if the two agreed row-for-row the prefix stage would not be
    exercising its own metric (the corpus is random, so prefix and
    full orderings disagree somewhere in 5 probes x 30 candidates)."""
    from khronus_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 200")
    probes = [0, 1, 2, 3, 4]
    books, codes, pv = pq_index(emb, probes, 4, 8, 1, dims=16)
    mat = pq_ops.matryoshka_rerank_topk_indexed(
        books, codes, pv, emb, 3, n_candidates=10, prefix_dims=16, sub=4, k=8
    )
    rows = mat.collect()
    assert len(rows) == 15
    books, codes, pv = pq_index(emb, probes, 4, 8, 1)
    full = _rows(
        pq_ops.pq_rerank_topk_indexed(
            books, codes, pv, emb, 3, n_candidates=10, sub=4, k=8
        )
    )
    # d2 values that DO appear must be exact full-width distances:
    # any (probe, neighbor) pair present in both compositions carries
    # the identical exact distance (the rerank metric is shared)
    fd = {(p, n): d for p, n, d in full}
    shared = [r for r in rows if (r.probe_id, r.neighbor_id) in fd]
    assert shared, "compositions should overlap on some exact neighbors"
    for r in shared:
        assert fd[(r.probe_id, r.neighbor_id)] == r.d2


def test_matryoshka_prefix_must_nest_inside_dims(spark, emb16):
    """r11 self-review: slice() clamps silently, so an oversized
    prefix would quantize empty upper subspaces into constant codes
    (an id-lottery shortlist) — the misuse must fail at call time."""
    with pytest.raises(ValueError, match="prefix_dims=32 exceeds dims=16"):
        pq_ops.matryoshka_recall_probe(
            emb16, [0], 3, prefix_dims=32, sub=4, k=8, iters=1, dims=16
        )
    with pytest.raises(ValueError, match="exceeds dims"):
        pq_ops.matryoshka_rerank_topk_sql(
            [0], 3, prefix_dims=128, sub=4, k=8, iters=1
        )


def test_matryoshka_indexed_rejects_oversized_prefix(spark, emb16, tmp_path):
    """r12 ADVICE: an oversized prefix_dims used to clamp silently at
    slice() and the ADC shortlist degraded to an id-lottery. The probe
    frame itself is the width source of truth."""
    prefix = emb16.select(
        "vec_id", F.expr("slice(embedding, 1, 8)").alias("embedding")
    )
    books, codes = pq_ops.pq_build_index(prefix, sub=4, k=8, iters=1, dims=8)
    pv = emb16.where("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    with pytest.raises(ValueError, match="prefix_dims=32 exceeds the probe"):
        pq_ops.matryoshka_rerank_topk_indexed(
            books, codes, pv, emb16, 3, prefix_dims=32, sub=4, k=8
        ).collect()
    # the nested geometry still runs (probe width 16 >= prefix 8)
    ok = pq_ops.matryoshka_rerank_topk_indexed(
        books, codes, pv, emb16, 3, n_candidates=10, prefix_dims=8,
        sub=4, k=8,
    )
    assert ok.count() == 9


@pytest.fixture(scope="module")
def sweep_corpora(spark, tmp_path_factory):
    """The r11 matryoshka-sweep pair: the realistic filament corpus
    (signal hash-spread across dims) and the adversarial tail-only
    corpus (first 32 dims a function of the 60-vector GROUP alone;
    neighbors defined in dims 33-64) — scripts/matryoshka_sweep.py's
    exact constructions."""
    root = tmp_path_factory.mktemp("mrl_sweep")
    n = 600
    anisotropic_corpus(spark, n, dim=64).write.parquet(f"{root}/iso")
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
    spark.range(n).select(
        F.col("id").alias("vec_id"), F.expr(tail_expr).alias("embedding")
    ).write.parquet(f"{root}/tail")
    return (
        spark.read.parquet(f"{root}/iso"),
        spark.read.parquet(f"{root}/tail"),
    )


def test_matryoshka_probe_pins_the_sweep_numbers(spark, sweep_corpora):
    """r11 verdict What's-wrong #5: the sweep's measured numbers were
    docstring references — now the probe re-measures them and this
    test ASSERTS them. Realistic corpus: prefix-16 recall equals
    full-width recall exactly (quantization-bound, not width-bound —
    the Matryoshka win condition). Adversarial corpus: prefix recall
    is EXACTLY ZERO while full width reads >= 0.9 — the id-lottery
    worst case the guard exists for."""
    iso, tail = sweep_corpora
    probes = list(range(400, 410))

    def bp(corpus, prefix):
        return pq_ops.matryoshka_recall_probe(
            corpus, probes, 5, 30, prefix, 4, 8, 1
        ).collect()[0]["recall_bp"]

    iso16, iso64 = bp(iso, 16), bp(iso, 64)
    assert iso16 == iso64 and iso16 >= 5000
    assert bp(tail, 16) == 0
    assert bp(tail, 64) >= 9000


def test_pq_index_geometry_sidecar_roundtrip_and_validation(
    spark, emb16, tmp_path
):
    """r12: write_pq_index(geometry=...) makes the persisted index
    self-describing; matryoshka_rerank_topk_indexed validates the
    query parameters against the trained geometry and refuses a
    mismatch (codes are meaningless under foreign books). Pre-sidecar
    layouts read geometry None and keep the historical contract."""
    from khronus_spark.operators.pq import read_pq_index_geometry

    prefix = emb16.select(
        "vec_id", F.expr("slice(embedding, 1, 8)").alias("embedding")
    )
    books, codes = pq_ops.pq_build_index(prefix, sub=4, k=8, iters=1, dims=8)
    plain = str(tmp_path / "plain")
    pq_ops.write_pq_index(books, codes, plain)
    assert read_pq_index_geometry(plain) is None

    sided = str(tmp_path / "sided")
    pq_ops.write_pq_index(
        books, codes, sided, geometry={"sub": 4, "k": 8, "dims": 8}
    )
    g = read_pq_index_geometry(sided)
    assert g == {"sub": 4, "k": 8, "dims": 8}

    books, codes = pq_ops.read_pq_index(spark, sided)
    pv = emb16.where("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    ok = pq_ops.matryoshka_rerank_topk_indexed(
        books, codes, pv, emb16, 3, n_candidates=10, prefix_dims=8,
        sub=4, k=8, trained_geometry=g,
    )
    assert ok.count() == 9
    with pytest.raises(ValueError, match="trained dims=8"):
        pq_ops.matryoshka_rerank_topk_indexed(
            books, codes, pv, emb16, 3, prefix_dims=16, sub=4, k=8,
            trained_geometry=g,
        )
    with pytest.raises(ValueError, match="trained k=8"):
        pq_ops.matryoshka_rerank_topk_indexed(
            books, codes, pv, emb16, 3, prefix_dims=8, sub=4, k=16,
            trained_geometry=g,
        )


def test_geometry_sidecar_cleared_on_geometryless_rebuild(
    spark, emb16, tmp_path
):
    """Review pin: rebuilding an index at a previously self-describing
    path WITHOUT geometry must remove the old sidecar — a stale
    geometry would refuse correct queries against the new books (or
    wave through wrong ones)."""
    from khronus_spark.operators.pq import read_pq_index_geometry

    prefix = emb16.select(
        "vec_id", F.expr("slice(embedding, 1, 8)").alias("embedding")
    )
    books, codes = pq_ops.pq_build_index(prefix, sub=4, k=8, iters=1, dims=8)
    path = str(tmp_path / "idx")
    pq_ops.write_pq_index(books, codes, path, geometry={"dims": 8})
    assert read_pq_index_geometry(path) == {"dims": 8}
    pq_ops.write_pq_index(books, codes, path)  # geometry-less rebuild
    assert read_pq_index_geometry(path) is None


def test_pq_index_publish_is_atomic_generation_swap(spark, emb16, tmp_path):
    """r12 ADVICE: the old in-place write published books/codes and the
    geometry sidecar non-atomically — a reader between the parquet
    overwrite and the sidecar write could pair OLD geometry with NEW
    books. The writer now lands everything in a fresh gen-<token>/ and
    publishes with ONE CURRENT-pointer swap (sources/generations.py);
    the superseded generation stays readable (kept unconditionally as
    `prev`), so a reader that resolved before the swap keeps a
    consistent (books, codes, geometry) triple. A half-written
    generation whose pointer swap never happened stays invisible, and
    older generations retire only once `grace_seconds` old."""
    import os

    from khronus_spark.operators.pq import read_pq_index_geometry
    from khronus_spark.sources.generations import resolve_generation_dir

    prefix = emb16.select(
        "vec_id", F.expr("slice(embedding, 1, 8)").alias("embedding")
    )
    books, codes = pq_ops.pq_build_index(prefix, sub=4, k=8, iters=1, dims=8)
    path = str(tmp_path / "idx")
    pq_ops.write_pq_index(books, codes, path, geometry={"dims": 8})
    gen1 = resolve_generation_dir(path)
    assert gen1 != path and os.path.isfile(os.path.join(path, "CURRENT"))
    assert os.path.isfile(os.path.join(gen1, "geometry.json"))

    pq_ops.write_pq_index(books, codes, path, geometry={"dims": 8, "v": 2})
    gen2 = resolve_generation_dir(path)
    assert gen2 != gen1
    assert read_pq_index_geometry(path) == {"dims": 8, "v": 2}
    # the pre-swap generation keeps its complete, self-consistent view
    assert os.path.isdir(os.path.join(gen1, "books"))
    assert os.path.isdir(os.path.join(gen1, "codes"))
    import json

    with open(os.path.join(gen1, "geometry.json")) as fh:
        assert json.load(fh) == {"dims": 8}
    # and the published view reads end-to-end
    b2, c2 = pq_ops.read_pq_index(spark, path)
    assert b2.count() == books.count() and c2.count() == codes.count()

    # crash simulation: a generation written without the pointer swap
    # is invisible — serving stays on gen2
    os.makedirs(os.path.join(path, "gen-deadbeef0000"))
    assert resolve_generation_dir(path) == gen2

    # a third publish in quick succession must NOT retire gen1 under
    # the default age grace: a reader slower than one publish interval
    # may still hold it
    pq_ops.write_pq_index(books, codes, path, geometry={"dims": 8, "v": 3})
    gen3 = resolve_generation_dir(path)
    assert os.path.isdir(gen1) and os.path.isdir(gen2)

    # with the grace waived, every generation but the current and the
    # previous one retires — the unpublished crash leftover included
    pq_ops.write_pq_index(
        books, codes, path, geometry={"dims": 8, "v": 4}, grace_seconds=0
    )
    gens = sorted(n for n in os.listdir(path) if n.startswith("gen-"))
    assert gens == sorted(
        [os.path.basename(gen3), os.path.basename(resolve_generation_dir(path))]
    )


def test_recall_probe_rejects_absent_and_duplicate_probes(spark, emb16):
    """Review pin: probe_ids absent from the corpus (or duplicated)
    would contribute zero hits while still counting in the
    denominator — a healthy index would spuriously fail the build
    guard. Fail loudly instead."""
    with pytest.raises(ValueError, match="exist in the corpus"):
        pq_ops.matryoshka_recall_probe(
            emb16, [0, 1, 10**9], 3, prefix_dims=8, sub=4, k=8,
            iters=1, dims=16,
        )
    with pytest.raises(ValueError, match="duplicates"):
        pq_ops.matryoshka_recall_probe(
            emb16, [0, 0, 1], 3, prefix_dims=8, sub=4, k=8,
            iters=1, dims=16,
        )


@pytest.mark.parametrize(
    "corrupt, match",
    [
        # cid == k: would slice past the probe's subvector
        (lambda b: b.withColumn("cid", F.expr("IF(cid = 0, 8, cid)")),
         "out of range for k=8, sub=4"),
        # a repeated row: two LUT entries under one map key
        (lambda b: b.unionByName(b.where("s = 0 AND cid = 0")),
         "duplicate \\(s, cid\\) for k=8, sub=4"),
    ],
    ids=["cid_out_of_range", "duplicate_s_cid"],
)
def test_adc_lut_rejects_corrupt_codebook(spark, emb16, tmp_path, corrupt, match):
    """A corrupt persisted codebook fails while the query plan is
    built, with an error naming the geometry and the bad row."""
    books, codes = pq_ops.pq_build_index(emb16, sub=4, k=8, iters=1, dims=16)
    path = str(tmp_path / "idx")
    pq_ops.write_pq_index(books, codes, path)
    books, codes = pq_ops.read_pq_index(spark, path)
    pv = emb16.where("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    assert pq_ops.pq_topk_indexed(books, codes, pv, sub=4, k=8, dims=16).count() == 9
    with pytest.raises(ValueError, match=match):
        pq_ops.pq_topk_indexed(corrupt(books), codes, pv, sub=4, k=8, dims=16)


def test_pq_index_rejects_query_geometry_it_was_not_built_at(spark, emb16):
    """An index built at sub=4/dims=16 and queried at another geometry
    must fail while the plan is built, naming sub, k and dims — not
    return NULL distances and an id-ordered top-k. A different sub at
    the same dims changes the centroid width; fewer subspaces of the
    same width leave codebook rows with s >= sub; a codebook missing a
    subspace has no centroid to score it."""
    books, codes = pq_ops.pq_build_index(emb16, sub=4, k=8, iters=1, dims=16)
    pv = emb16.where("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    for sub in (2, 8):
        with pytest.raises(ValueError, match=f"width 4, .* for k=8, sub={sub}, dims=16"):
            pq_ops.pq_topk_indexed(books, codes, pv, 3, sub=sub, k=8, dims=16)
    with pytest.raises(ValueError, match="out of range for k=8, sub=2, dims=8"):
        pq_ops.pq_topk_indexed(books, codes, pv, 3, sub=2, k=8, dims=8)
    with pytest.raises(ValueError, match=r"subspaces \[1\] for k=8, sub=4, dims=16"):
        pq_ops.pq_topk_indexed(books.where("s <> 1"), codes, pv, 3, sub=4, k=8, dims=16)
