"""Random-projection (JL) operator tests: determinism, planted-neighbor
recall, plan shape — plus unit tests for the round-4b audit operators
(bigram surprisal, minhash calibration, component size profile)."""

from __future__ import annotations

import hashlib

from pq_index import pq_index
from pyspark.sql import functions as F

from khronus_spark.operators import projection as proj
from khronus_spark.operators.components import (
    component_size_profile,
    minhash_duplicate_components,
)
from khronus_spark.operators.dedup import minhash_calibration
from khronus_spark.operators.text import bigram_surprisal
from khronus_spark.sources.tables import load_table


def _py_sign(i: int, j: int) -> int:
    """Reference sign derivation — hashlib, independent of both engines."""
    h = hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()
    return (int(h[:15], 16) & 1) * 2 - 1


def test_rp_sign_matrix_matches_hashlib(spark):
    """The in-engine md5 sign matrix must equal the spec computed with
    hashlib — pinning the derivation, not just cross-engine agreement."""
    row = spark.range(1).select(F.expr(proj._sign_matrix_expr())).first()[0]
    for j in range(proj.DIM_OUT):
        for i in range(proj.DIM_IN):
            assert row[j][i] == _py_sign(i, j), (i, j)


def test_rp_project_is_linear_in_difference(spark, sf_dir):
    """P(a) - P(b) must equal P over the element difference — the property
    JL distance preservation rests on (the +1 quantization offset cancels
    in pairwise differences)."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 4)
    rows = proj.rp_project(emb).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, {})[r.j] = r.p
    q = emb.select(
        "vec_id", F.expr(proj._QUANT).alias("e")
    ).collect()
    qs = {r.vec_id: list(r.e) for r in q}
    for a in (0, 1):
        for b in (2, 3):
            diff = [qs[a][i] - qs[b][i] for i in range(proj.DIM_IN)]
            for j in range(proj.DIM_OUT):
                pd = sum(diff[i] * _py_sign(i, j) for i in range(proj.DIM_IN))
                assert by_vec[a][j] - by_vec[b][j] == pd


def test_rp_project_plan_is_map_only(spark, oracle_sf_dir):
    """The projection must be a broadcast-joined map pass: no hash
    exchange anywhere (the only Exchange is the one-row sign-matrix
    broadcast)."""
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    plan = proj.rp_project(emb)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rp_topk_planted_near_neighbor_recall(spark, oracle_sf_dir):
    """Two-stage retrieval must find PLANTED near neighbors (the
    near-duplicate regime RP retrieval exists for) at recall 1.0 with a
    small candidate budget. Uniform top-k over concentrated random
    distances is NOT the operating envelope — the measured uniform
    recall curve is recorded in ROUND4_NOTES.md."""
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 10)
    pert = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> "
            "x + 0.001 * (CAST(vec_id + i AS DOUBLE) % 7.0 - 3.0) / 3.0)"
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(pert)
    probes = [10000 + v for v in range(10)]
    got = proj.rp_topk(corpus, probes, k=1, n_candidates=10).collect()
    assert len(got) == 10
    for r in got:
        assert r.neighbor_id == r.probe_id - 10000, r


def test_rp_topk_matches_exact_when_candidates_cover(spark, sf_dir):
    """With n_candidates = corpus size the two-stage result must equal
    the exact integer-L2 top-k (rerank over everything)."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    probes = [0, 1, 2]
    full = proj.rp_topk(emb, probes, k=3, n_candidates=100).collect()
    exact = proj.exact_l2_topk(emb, probes, k=3).collect()
    key = lambda r: (r.probe_id, r.neighbor_id, r.d2)  # noqa: E731
    assert sorted(map(key, full)) == sorted(map(key, exact))


# ------------------------------------------------------------- bigram LM


def test_bigram_surprisal_hand_case(spark):
    """Tiny corpus checked by hand: bits(w2|w1) = bitlen(c1) - bitlen(c12)."""
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_surprisal(docs).collect()}
    # bigrams: doc0: "a b","b a","a b"; doc1: "a b","b c"; doc2: none
    # c12: "a b"->3, "b a"->1, "b c"->1 ; c1: a->3, b->2
    # bits: "a b": bitlen(3)-bitlen(3)=0; "b a": bitlen(2)-bitlen(1)=1
    #       "b c": bitlen(2)-bitlen(1)=1
    assert rows[0].n_bigrams == 3 and rows[0].surprisal_bits == 1
    assert rows[1].n_bigrams == 2 and rows[1].surprisal_bits == 1
    assert rows[1].mean_surprisal_mbits == 500
    assert rows[2].n_bigrams == 0 and rows[2].surprisal_bits == 0
    assert rows[2].mean_surprisal_mbits is None


def test_bigram_surprisal_flags_predictable_text(spark):
    """A doc that repeats one bigram is maximally predictable (every
    prefix has one continuation → 0 bits); a doc whose shared prefix
    fans out to many continuations must score strictly higher."""
    docs = spark.createDataFrame(
        [
            (0, " ".join(["ping pong"] * 30)),
            (1, "a b a c a d a e a f a g a h a i a j a k"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_surprisal(docs).collect()}
    assert rows[0].mean_surprisal_mbits < rows[1].mean_surprisal_mbits


def test_bigram_joins_are_salted(spark, oracle_sf_dir):
    docs = load_table(spark, oracle_sf_dir, "documents")
    plan = bigram_surprisal(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "_salt" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------- minhash calibration


def test_minhash_calibration_bounds_and_identity(spark):
    """Estimates and exact values live in [0, 1000]; an exact duplicate
    pair must show est = exact = 1000."""
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again"),
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "entirely different words appear in this other document here"),
        ],
        "doc_id long, text string",
    )
    rows = minhash_calibration(docs).collect()
    pair = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 1) in pair
    assert pair[(0, 1)].est_jaccard_pm == 1000
    assert pair[(0, 1)].exact_jaccard_pm == 1000
    for r in rows:
        assert 0 <= r.est_jaccard_pm <= 1000
        assert 0 <= r.exact_jaccard_pm <= 1000


def test_minhash_calibration_covers_all_candidates(spark, sf_dir):
    """One calibration row per LSH candidate pair — the audit must not
    drop or duplicate pairs."""
    from khronus_spark.operators.dedup import minhash_md5_pairs

    docs = load_table(spark, sf_dir, "documents")
    n_pairs = minhash_md5_pairs(docs).count()
    cal = minhash_calibration(docs)
    assert cal.count() == n_pairs
    assert cal.select("doc_a", "doc_b").distinct().count() == n_pairs


# --------------------------------------------------- component size profile


def test_component_size_profile_consistency(spark, sf_dir):
    """The histogram must tile the component map exactly: sizes >= 2,
    n_docs = size * n_clusters per row, totals match the map."""
    docs = load_table(spark, sf_dir, "documents")
    comps = minhash_duplicate_components(docs)
    prof = component_size_profile(docs).collect()
    assert all(r.cluster_size >= 2 for r in prof)
    assert all(r.n_docs == r.cluster_size * r.n_clusters for r in prof)
    assert sum(r.n_docs for r in prof) == comps.count()
    assert (
        sum(r.n_clusters for r in prof)
        == comps.select("component_id").distinct().count()
    )


# ------------------------------------------------------ incremental dedup


def test_incremental_dedup_sources_and_uniques(spark):
    """Corpus-duplicate, batch-duplicate, and unique new docs must each
    classify correctly, with dup_of = the smallest partner."""
    from khronus_spark.operators.dedup import incremental_dedup, minhash_md5_banded

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated corpus text about spark planning"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # corpus dup
            (11, "fresh new content that matches nothing else at all"),
            (12, "fresh new content that matches nothing else at all"),  # batch dup of 11
            (13, "another singleton document entirely of its own words"),
        ],
        "doc_id long, text string",
    )
    index = minhash_md5_banded(corpus)
    rows = {r.doc_id: r for r in incremental_dedup(index, batch).collect()}
    assert rows[10].dup_of == 1 and rows[10].dup_src == "corpus"
    assert rows[11].dup_of is None and rows[11].dup_src is None
    assert rows[12].dup_of == 11 and rows[12].dup_src == "batch"
    assert rows[13].dup_of is None and rows[13].dup_src is None


def test_incremental_dedup_matches_full_pair_scan(spark, sf_dir):
    """Batch-vs-index results must agree with the full-corpus pair scan
    restricted to (new, old) and (new, smaller-id new) partners."""
    from pyspark.sql import functions as F

    from khronus_spark.operators.dedup import (
        incremental_dedup,
        minhash_md5_banded,
        minhash_md5_pairs,
    )

    docs = load_docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    got = {
        r.doc_id: r.dup_of
        for r in incremental_dedup(minhash_md5_banded(corpus), batch).collect()
    }
    pairs = minhash_md5_pairs(docs).collect()
    partners: dict[int, set[int]] = {}
    for r in pairs:
        for d, other in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if d % 5 == 0 and (other % 5 != 0 or other < d):
                partners.setdefault(d, set()).add(other)
    expect = {d: (min(ps) if ps else None) for d, ps in partners.items()}
    for d, dup in got.items():
        assert dup == expect.get(d), (d, dup, expect.get(d))


def test_incremental_dedup_index_preaggregates(spark, sf_dir):
    """The new-vs-old probe must join a per-bucket MINIMUM (unique-key
    build side, partial_min in plan) — never the raw index rows."""
    from pyspark.sql import functions as F

    from khronus_spark.operators.dedup import incremental_dedup, minhash_md5_banded

    docs = load_docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    plan = (
        incremental_dedup(minhash_md5_banded(corpus), batch)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def load_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------------ vocab OOV


def test_vocab_oov_hand_case(spark):
    """top_v=1 vocabulary is the most frequent token; everything else is
    OOV, counted per source."""
    from khronus_spark.operators.text import vocab_oov_profile

    docs = spark.createDataFrame(
        [
            (0, "x x x y", "en", "s1", 7),
            (1, "x z", "en", "s2", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.source: r for r in vocab_oov_profile(docs, top_v=1).collect()}
    # vocab = {x}; s1: 4 tokens, 1 oov (y); s2: 2 tokens, 1 oov (z)
    assert rows["s1"].n_tokens == 4 and rows["s1"].oov_tokens == 1
    assert rows["s1"].oov_pm == 250
    assert rows["s2"].n_tokens == 2 and rows["s2"].oov_tokens == 1
    assert rows["s2"].oov_pm == 500
    assert rows["s1"].n_terms == 2 and rows["s1"].oov_terms == 1


def test_vocab_oov_vocab_broadcasts(spark, oracle_sf_dir):
    """The vocabulary probe must be a broadcast join (V rows), never a
    shuffle of the corpus-side term table against it."""
    from khronus_spark.operators.text import vocab_oov_profile

    docs = load_docs(spark, oracle_sf_dir)
    plan = vocab_oov_profile(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_bigram_surprisal_matches_python_reference_random_corpora(spark):
    """Seeded random small-alphabet corpora (maximum bigram-collision
    pressure) checked against an independent pure-Python computation of
    the spec: bits(w2|w1) = bitlen(c(w1 prefix)) - bitlen(c(w1 w2))."""
    import random
    from collections import Counter

    rng = random.Random(1234)
    for _ in range(3):
        docs = [
            (
                i,
                " ".join(
                    rng.choice("ab cd ef gh".split())
                    for _ in range(rng.randrange(1, 12))
                ),
            )
            for i in range(rng.randrange(3, 8))
        ]
        toks = {i: t.split() for i, t in docs}
        bigrams = {
            i: [f"{w[x]} {w[x+1]}" for x in range(len(w) - 1)]
            for i, w in toks.items()
        }
        c12 = Counter(b for bs in bigrams.values() for b in bs)
        c1 = Counter()
        for bg, c in c12.items():
            c1[bg.split(" ")[0]] += c
        expect = {}
        for i, bs in bigrams.items():
            total = sum(
                c1[b.split(" ")[0]].bit_length() - c12[b].bit_length() for b in bs
            )
            expect[i] = (
                len(bs),
                total,
                (total * 1000) // len(bs) if bs else None,
            )
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.surprisal_bits, r.mean_surprisal_mbits)
            for r in bigram_surprisal(sdf).collect()
        }
        assert got == expect


# -------------------------------------------------------- product quantization
# Every PQ query below builds the index in memory and reads it through
# the `*_indexed` faces (tests/pq_index.py) — the only PQ query path.


def test_pq_codes_pack_and_modes_agree(spark, sf_dir):
    """Codes live in [0, k^sub), one per vector."""
    from khronus_spark.operators.pq import pq_build_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 80)
    _, codes = pq_build_index(emb, 4, 8, 1)
    codes = {r.vec_id: r.pq_code for r in codes.collect()}
    assert all(0 <= c < 8**4 for c in codes.values())
    assert len(codes) == 80


def test_pq_identical_vectors_share_codes_and_rank_first(spark, sf_dir):
    """An exact copy of a vector must receive the same packed code, and
    ADC must rank it at distance == the probe's own quantization error
    (the minimum possible) — the planted-duplicate retrieval case."""
    from khronus_spark.operators.pq import pq_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    copies = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(copies)
    books, codes_df, probes = pq_index(
        corpus, [1000 + v for v in range(5)], 4, 8, 1
    )
    codes = {r.vec_id: r.pq_code for r in codes_df.collect()}
    for v in range(5):
        assert codes[v] == codes[v + 1000]
    top1 = {
        r.probe_id: r
        for r in pq_topk_indexed(books, codes_df, probes, 1, 4, 8).collect()
    }
    got = pq_topk_indexed(books, codes_df, probes, 60, 4, 8)
    by_probe = {}
    for r in got.collect():
        by_probe.setdefault(r.probe_id, {})[r.neighbor_id] = r.d2_adc
    for v in range(5):
        p = 1000 + v
        # the original is tied for the minimum ADC distance (same code)
        assert by_probe[p][v] == min(by_probe[p].values())
        assert top1[p].d2_adc == by_probe[p][v]


def _assert_adc_matches_restatement(corpus, probes, n_neighbors, sub, k, iters):
    """ADC distances from the built index equal an independent Python
    restatement keyed BY CID: probe-subvector to the neighbor's
    assigned centroid, summed per subspace."""
    from khronus_spark.operators.pq import _QUANT, pq_topk_indexed

    books_df, codes_df, pv = pq_index(corpus, probes, sub, k, iters)
    books = {(r.s, r.cid): list(r.c) for r in books_df.collect()}
    codes = {r.vec_id: r.pq_code for r in codes_df.collect()}
    qvecs = {
        r.vec_id: list(r.e)
        for r in corpus.select("vec_id", F.expr(_QUANT).alias("e")).collect()
    }
    subdim = 64 // sub
    got = {
        (r.probe_id, r.neighbor_id): r.d2_adc
        for r in pq_topk_indexed(
            books_df, codes_df, pv, n_neighbors, sub, k
        ).collect()
    }
    for p in probes:
        for n, code in codes.items():
            if n == p:
                continue
            expect = 0
            for s in range(sub):
                cid = (code // (k**s)) % k
                c = books[(s, cid)]
                pe = qvecs[p][s * subdim : (s + 1) * subdim]
                expect += sum((a - b) * (a - b) for a, b in zip(pe, c))
            assert got[(p, n)] == expect, (p, n)
    return books


def test_pq_adc_equals_lut_free_restatement(spark, sf_dir):
    """The broadcast-LUT scoring must equal the relational restatement
    (probe-subvector to assigned-centroid distance summed per subspace)
    computed independently in Python."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 40)
    _assert_adc_matches_restatement(emb, [0, 1], 39, 4, 8, 1)


def test_ivfpq_is_subset_of_full_adc_ranking(spark, sf_dir):
    """Every IVF-PQ result must carry the same ADC distance the full
    PQ scan assigns to that (probe, neighbor) pair — the IVF stage only
    restricts candidates, never changes scores — and results only come
    from the probed lists."""
    from khronus_spark.operators.pq import (
        ivf_pq_build_index,
        ivf_pq_topk_indexed,
        pq_topk_indexed,
    )
    from khronus_spark.operators.similarity import ivf_assignments, ivf_probe_lists

    emb = load_table(spark, sf_dir, "embeddings")
    probes = [0, 1, 2]
    books, codes, pv = pq_index(emb, probes, 4, 8, 1)
    full = {
        (r.probe_id, r.neighbor_id): r.d2_adc
        for r in pq_topk_indexed(books, codes, pv, 500, 4, 8).collect()
    }
    ivf = ivf_pq_topk_indexed(
        *ivf_pq_build_index(emb, stride=50, sub=4, k=8, iters=1),
        pv, 3, nprobe=2, sub=4, k=8,
    )
    lists = {}
    for r in ivf_probe_lists(emb, probes, 2, 50).collect():
        lists.setdefault(r.probe_id, set()).add(r.probe_centroid)
    assign = {r.vec_id: r.centroid_id for r in ivf_assignments(emb, 50).collect()}
    rows = ivf.collect()
    assert rows
    for r in rows:
        assert full[(r.probe_id, r.neighbor_id)] == r.d2_adc
        assert assign[r.neighbor_id] in lists[r.probe_id]


def test_pq_rerank_recovers_exact_when_candidates_cover(spark, sf_dir):
    """With n_candidates = corpus size the two-stage PQ result must
    equal the exact integer-L2 top-k, and planted identical vectors
    must come back at distance 0 rank 1."""
    from khronus_spark.operators.pq import pq_rerank_topk_indexed
    from khronus_spark.operators.projection import exact_l2_topk

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    probes = [0, 1]
    books, codes, pv = pq_index(emb, probes, 4, 8, 1)
    full = pq_rerank_topk_indexed(books, codes, pv, emb, 3, 100, 4, 8).collect()
    exact = exact_l2_topk(emb, probes, 3).collect()
    key = lambda r: (r.probe_id, r.neighbor_id, r.d2)  # noqa: E731
    assert sorted(map(key, full)) == sorted(map(key, exact))

    copies = emb.where(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(copies)
    books, codes, pv = pq_index(corpus, [1000, 1001], 4, 8, 1)
    top1 = {
        r.probe_id: r
        for r in pq_rerank_topk_indexed(
            books, codes, pv, corpus, 1, 10, 4, 8
        ).collect()
    }
    assert top1[1000].neighbor_id == 0 and top1[1000].d2 == 0
    assert top1[1001].neighbor_id == 1 and top1[1001].d2 == 0


def test_pq_adc_correct_with_non_dense_codebook(spark, sf_dir):
    """Regression for the positional-LUT bug: duplicate initial points
    (vec 0 == vec 1) make cluster 1 lose every member at the first
    assignment (ties go to the smaller cid), so after a mean update the
    codebook has a cid GAP. ADC must still return distances identical
    to an independent Python restatement keyed BY CID — a positional
    lookup table would shift every row above the gap (or throw on the
    top surviving cid)."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 30)
    dup0 = emb.where(F.col("vec_id") == 0).select(
        F.lit(1).cast("long").alias("vec_id"), "embedding", "label"
    )
    corpus = emb.where(F.col("vec_id") != 1).unionByName(dup0)
    sub, k = 4, 4
    books = _assert_adc_matches_restatement(corpus, [0, 2], 40, sub, k, 2)
    cids_per_sub = {
        s: sorted(c for (ss, c) in books if ss == s) for s in range(sub)
    }
    assert any(
        cids != list(range(len(cids))) or len(cids) < k
        for cids in cids_per_sub.values()
    ), f"fixture no longer produces a cid gap: {cids_per_sub}"


def test_ivfpq_rerank_exact_distances_within_probed_lists(spark, sf_dir):
    """The full IVF->ADC->rerank composition must return EXACT full-
    space distances, each neighbor must come from a probed list, and
    with the candidate budget covering all listed vectors it must equal
    the exact top-k restricted to those lists."""
    from khronus_spark.operators.pq import (
        ivf_pq_build_index,
        ivf_pq_rerank_topk_indexed,
    )
    from khronus_spark.operators.projection import exact_l2_topk
    from khronus_spark.operators.similarity import ivf_assignments, ivf_probe_lists

    emb = load_table(spark, sf_dir, "embeddings")
    probes = [0, 1, 2]
    pv = emb.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = ivf_pq_rerank_topk_indexed(
        *ivf_pq_build_index(emb, stride=50, sub=4, k=8, iters=1),
        pv, emb, 3, n_candidates=10_000, nprobe=2, sub=4, k=8,
    ).collect()
    assert got
    lists = {}
    for r in ivf_probe_lists(emb, probes, 2, 50).collect():
        lists.setdefault(r.probe_id, set()).add(r.probe_centroid)
    assign = {r.vec_id: r.centroid_id for r in ivf_assignments(emb, 50).collect()}
    exact = {
        (r.probe_id, r.neighbor_id): r.d2
        for r in exact_l2_topk(emb, probes, 10_000).collect()
    }
    by_probe: dict = {}
    for r in got:
        assert assign[r.neighbor_id] in lists[r.probe_id]
        assert exact[(r.probe_id, r.neighbor_id)] == r.d2
        by_probe.setdefault(r.probe_id, []).append(r)
    # top-3 of the listed candidates by exact distance
    for p, rows in by_probe.items():
        listed = sorted(
            (d, n) for (pp, n), d in exact.items()
            if pp == p and assign[n] in lists[p]
        )[:3]
        assert sorted((r.d2, r.neighbor_id) for r in rows) == listed


# ------------------------------------------------- PQ/IVF build-query split


def test_pq_indexed_query_same_after_persist_roundtrip(spark, sf_dir, tmp_path):
    """Persisting the index must not change a single value: build the
    index, write it to parquet, read it back, query — identical rows to
    the same query over the in-memory index."""
    from khronus_spark.operators.pq import (
        pq_topk_indexed,
        read_pq_index,
        write_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 80)
    books, codes, probes = pq_index(emb, [0, 1, 2, 3, 4], 4, 8, 1)
    write_pq_index(books, codes, str(tmp_path / "pqidx"))
    books2, codes2 = read_pq_index(spark, str(tmp_path / "pqidx"))
    got = {
        (r.probe_id, r.neighbor_id): r.d2_adc
        for r in pq_topk_indexed(books2, codes2, probes, 3, sub=4, k=8).collect()
    }
    expect = {
        (r.probe_id, r.neighbor_id): r.d2_adc
        for r in pq_topk_indexed(books, codes, probes, 3, sub=4, k=8).collect()
    }
    assert got == expect and len(got) == 15


def test_pq_encode_new_vectors_into_existing_index(spark, sf_dir):
    """pq_encode against a FIXED codebook is the incremental-ingest
    path: vectors added after training must receive the same code as
    identical vectors encoded at build time — and the codebook must not
    shift (books are an input, not retrained)."""
    from khronus_spark.operators.pq import pq_build_index, pq_encode

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    books, codes = pq_build_index(emb, sub=4, k=8, iters=1)
    base = {r.vec_id: r.pq_code for r in codes.collect()}
    newcomers = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 7000).alias("vec_id"), "embedding"
    )
    got = {r.vec_id: r.pq_code for r in pq_encode(newcomers, books, 4, 8).collect()}
    for v in range(5):
        assert got[7000 + v] == base[v]


def test_pq_sample_trained_index_bounds_training_and_stays_valid(spark, sf_dir):
    """train_sample_mod trains codebooks on the deterministic slice
    vec_id % mod == 0 but must still encode EVERY vector; planted exact
    copies still collide to the same code and retrieve at the minimum
    ADC distance (training-set membership must not matter for encode)."""
    from khronus_spark.operators.pq import pq_build_index, pq_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 80)
    copies = emb.where(F.col("vec_id").isin([1, 3])).select(
        (F.col("vec_id") + 2000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(copies)
    books, codes = pq_build_index(corpus, sub=4, k=8, iters=1, train_sample_mod=4)
    by_id = {r.vec_id: r.pq_code for r in codes.collect()}
    assert len(by_id) == 82  # every vector encoded, not just the sample
    assert by_id[2001] == by_id[1] and by_id[2003] == by_id[3]
    probes = corpus.where(F.col("vec_id").isin([2001, 2003])).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    top1 = {
        r.probe_id: r.neighbor_id
        for r in pq_topk_indexed(books, codes, probes, 1, sub=4, k=8).collect()
    }
    # identical codes -> the original is the (tie-min) nearest neighbor
    assert top1[2001] == 1 and top1[2003] == 3


def test_ivf_kmeans_indexed_equals_inline(spark, sf_dir):
    """The trained-IVF split: build (centroids + inverted lists) once,
    query through ivf_kmeans_topk_indexed — identical to the inline
    ivf_kmeans_topk that trains per call."""
    from khronus_spark.operators.similarity import (
        ivf_kmeans_build_index,
        ivf_kmeans_topk,
        ivf_kmeans_topk_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 120)
    cents, assign = ivf_kmeans_build_index(emb)
    got = {
        (r.probe_id, r.neighbor_id): r.cosine
        for r in ivf_kmeans_topk_indexed(emb, cents, assign, [0, 1, 2], 3).collect()
    }
    expect = {
        (r.probe_id, r.neighbor_id): r.cosine
        for r in ivf_kmeans_topk(emb, [0, 1, 2], 3).collect()
    }
    assert got == expect


def test_pq_encode_plan_is_map_only(spark, sf_dir):
    """The encode both index builders use is one Arrow pass: no
    exchange, no aggregate."""
    from khronus_spark.operators.pq import pq_build_index, pq_encode

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 80)
    books, _ = pq_build_index(emb, sub=4, k=8, iters=1)
    plan = pq_encode(emb, books, 4, 8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


def test_pq_encode_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The encode is the streaming index 'add' path: running the SAME
    plan over a file stream of arriving vectors must emit exactly the
    batch codes (stream == batch)."""
    from khronus_spark.operators.pq import pq_build_index, pq_encode

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    books, _ = pq_build_index(emb, sub=4, k=8, iters=1)
    batch = {r.vec_id: r.pq_code for r in pq_encode(emb, books, 4, 8).collect()}

    src = str(tmp_path / "arriving")
    emb.select("vec_id", "embedding").write.parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
        src
    )
    out = str(tmp_path / "codes")
    q = (
        pq_encode(stream, books, 4, 8)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.vec_id: r.pq_code for r in spark.read.parquet(out).collect()}
    assert got == batch


def test_lm_reference_joins_are_salted_and_model_broadcast(spark, oracle_sf_dir):
    """The frozen-LM scorer inherits bigram_surprisal's skew
    discipline: both model probe joins salted, the T scalar broadcast,
    no cartesian expansion."""
    from khronus_spark.operators.text import lm_model_build, lm_reference_surprisal

    docs = load_table(spark, oracle_sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    scored = docs.where(F.col("doc_id") % 3 != 0)
    c1, c2 = lm_model_build(ref)
    plan = lm_reference_surprisal(scored, c1, c2)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "_psalt" in plan and "_bsalt" in plan
    assert "BroadcastHashJoin" in plan  # the T scalar
    assert "CartesianProduct" not in plan


def test_drift_detector_flags_shifted_batch_not_control(spark, tmp_path):
    """On the hard anisotropic corpus, a same-distribution half of the
    training vectors raises no drift flag, while a batch collapsed
    into [0.85, 0.95]^dim flags every dimension's mean."""
    from khronus_spark.operators.quantize import (
        embedding_dim_stats,
        embedding_drift_flags,
    )
    from khronus_spark.operators.similarity import anisotropic_corpus

    corpus = anisotropic_corpus(spark, 600, dim=64)
    corpus.where("vec_id < 400").write.parquet(f"{tmp_path}/A")
    corpus.where("vec_id >= 400").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(least(1.0D, greatest(-1.0D, "
            "0.9D + 0.05D * CAST(x AS DOUBLE))) AS FLOAT))"
        ).alias("embedding"),
    ).write.parquet(f"{tmp_path}/B")
    A = spark.read.parquet(f"{tmp_path}/A")
    B = spark.read.parquet(f"{tmp_path}/B")
    train_stats = embedding_dim_stats(A)
    # control: the 5-sigma standard-error gate must stay silent
    ctrl = embedding_drift_flags(
        train_stats, embedding_dim_stats(A.where("vec_id % 2 = 0"))
    )
    assert ctrl.where("drifted").count() == 0
    # the shifted batch: every dimension's mean moved ~0.9 at a
    # standard error of ~0.03 — all 64 dims must flag
    drift = embedding_drift_flags(train_stats, embedding_dim_stats(B))
    assert drift.where("drifted").count() == 64
    assert drift.where("mean_shift").count() == 64


def test_embedding_dim_stats_flags_dead_and_clipped(spark):
    """A constant dimension flags dead; a dimension pinned at ±1 for
    ≥1% of vectors flags clipped; a healthy dimension flags neither;
    var_num is 0 exactly for the dead dim and positive otherwise."""
    from khronus_spark.operators.quantize import embedding_dim_stats

    import math

    rows = []
    for i in range(200):
        v = [math.sin(i * 7.0 + d) * 0.5 for d in range(64)]
        v[0] = 0.25          # dead dim
        v[1] = 1.0 if i < 5 else 0.1  # 2.5% pinned -> clipped
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.dim: r for r in embedding_dim_stats(emb).collect()}
    assert len(got) == 64 and all(r.n == 200 for r in got.values())
    assert got[0].dead and int(got[0].var_num) == 0 and not got[0].clipped
    assert got[1].clipped and not got[1].dead
    assert not got[2].dead and not got[2].clipped and int(got[2].var_num) > 0
    # r13: the driver-facing var_num is the exact integer's canonical
    # DIGIT STRING (DECIMAL(38,0) has no cross-engine materialization —
    # the r12 driver hash split on equal values), never a float/decimal
    assert all(isinstance(r.var_num, str) for r in got.values())
    assert all(r.var_num == str(int(r.var_num)) for r in got.values())


def test_decimal_to_string_is_plain_digits_at_the_38_digit_bound(spark):
    """The canonicalization claim behind the r13 var_num face, pinned
    at the operator's own documented ceiling (~1e12 rows per dim ⇒
    var_num ≈ 4e36, one digit shy of DECIMAL(38,0)'s capacity): BOTH
    engines must render a full-width 38-digit DECIMAL(38,0) as plain
    digits — no exponent, no grouping, no sign quirks — or the digit
    string would stop being a canonical cross-engine face exactly
    where the BIGINT alternative re-wraps."""
    import duckdb

    digits = "9" * 38          # DECIMAL(38,0) max
    mid = "4" + "0" * 36       # ~4e36, the documented operating bound
    for v in (digits, mid, "0"):
        got = spark.sql(
            f"SELECT CAST(CAST('{v}' AS DECIMAL(38,0)) AS STRING) AS s"
        ).collect()[0]["s"]
        assert got == v, (v, got)
        duck = duckdb.sql(
            f"SELECT CAST(CAST('{v}' AS DECIMAL(38,0)) AS VARCHAR)"
        ).fetchone()[0]
        assert duck == v, (v, duck)
    # and the round-trip the drift-flags consumer relies on is exact
    back = spark.sql(
        f"SELECT CAST('{digits}' AS DECIMAL(38,0)) = "
        f"CAST(CAST(CAST('{digits}' AS DECIMAL(38,0)) AS STRING)"
        " AS DECIMAL(38,0)) AS ok"
    ).collect()[0]["ok"]
    assert back is True


def test_embedding_dim_stats_survives_int64_overflow_scale(spark):
    """The int64 variance numerator n·Σv² − (Σv)² overflows at
    n ≈ 2,300 rows per dim (v ≤ 2e6), so a training profile over a
    larger corpus threw. The numerator now evaluates in DECIMAL(38,0); pin it
    at an n where the old form provably wrapped, value-checked against
    exact Python integers."""
    from khronus_spark.operators.quantize import embedding_dim_stats

    n = 5000  # n² · 4e12 ≈ 1e20 >> int64 max
    emb = spark.range(n).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 3), d -> CAST("
        "  (pmod(xxhash64(id, d, 11), 2001) - 1000) / 1000.0D AS FLOAT"
        ")) AS embedding",
    )
    got = {r.dim: r for r in embedding_dim_stats(emb).collect()}
    assert all(r.n == n for r in got.values())

    rows = emb.selectExpr(
        "transform(embedding, x -> "
        "CAST(floor((CAST(x AS DOUBLE) + 1.0D) * 1000000.0D) AS LONG)) AS e"
    ).collect()
    for d in range(4):
        vs = [r.e[d] for r in rows]
        want = n * sum(v * v for v in vs) - sum(vs) ** 2
        # the old int64 form wrapped in its INTERMEDIATES (n·Σv² and
        # (Σv)² both exceed int64 here) even where the centered result
        # squeaks under — exactly how the soak's refresh threw
        assert n * sum(v * v for v in vs) > 2**63
        assert sum(vs) ** 2 > 2**63
        assert int(got[d].var_num) == want
