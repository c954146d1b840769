"""Hybrid retrieval (RRF fusion): fusion semantics, branch agreement,
and the plan shape of the composed retriever; the persisted BM25 index
(build/query split identity, the degenerate empty build)."""

from __future__ import annotations

from pyspark.sql import functions as F

from khronus_spark.operators import retrieval as ret


def _ranks(rows):
    return [(r["query_id"], r["doc_id"], r["rank"]) for r in rows]


def test_rrf_consensus_beats_single_list_winner(spark):
    """A doc ranked moderately by BOTH retrievers must outrank a doc
    that tops ONE list and is absent from the other — the property
    that makes RRF the standard fusion (1e6/61 = 16393 for a lone #1
    vs 2·1e6/68 = 29410 for a double #8)."""
    lex = spark.createDataFrame(
        [(1, 100, 1)] + [(1, 200, 8)], "query_id long, doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(1, 300, 1)] + [(1, 200, 8)], "query_id long, doc_id long, rank long"
    )
    out = ret.rrf_fuse(lex, sem, k=3).orderBy("rank").collect()
    assert [r["doc_id"] for r in out] == [200, 100, 300]
    assert out[0]["rrf_score"] == 2 * (1_000_000 // 68)
    # absent-list sentinel: doc 100 has sem_rank 0, doc 300 lex_rank 0
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc[100]["sem_rank"] == 0 and by_doc[100]["lex_rank"] == 1
    assert by_doc[300]["lex_rank"] == 0 and by_doc[300]["sem_rank"] == 1
    # equal-score tie (100 vs 300, both lone #1) breaks by doc_id
    assert by_doc[100]["rank"] < by_doc[300]["rank"]


def test_rrf_k_rrf_zero_lists_disjoint_queries(spark):
    """Queries present in only one branch still fuse (full-outer)."""
    lex = spark.createDataFrame([(1, 10, 1)], "query_id long, doc_id long, rank long")
    sem = spark.createDataFrame([(2, 20, 1)], "query_id long, doc_id long, rank long")
    out = ret.rrf_fuse(lex, sem, k=5).collect()
    assert sorted(_ranks(out)) == [(1, 10, 1), (2, 20, 1)]


def test_semantic_rank_matches_brute_force_on_eval_carve(spark, sf_dir):
    """The semantic branch must agree with the proven brute-force ANN
    ordering when restricted to the same probe/corpus carve."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sem = ret.semantic_eval_rank(emb, eval_mod=97, pool=5)
    rows = sem.collect()
    probes = [r[0] for r in emb.where("vec_id % 97 = 0").select("vec_id").collect()]
    assert {r["query_id"] for r in rows} == set(probes)
    # per query: 5 ranks, each 1..5, all neighbors outside the eval carve
    for q in probes:
        mine = sorted(r["rank"] for r in rows if r["query_id"] == q)
        assert mine == [1, 2, 3, 4, 5]
    assert all(r["doc_id"] % 97 != 0 for r in rows)


def test_hybrid_plan_shape(spark, oracle_sf_dir):
    """Corpus-side discipline of the composed retriever: documents are
    scanned once (checkpointed postings feed probe + df), the BM25
    query side broadcasts, and no cartesian/nested-loop join appears
    on a corpus-sized frame (the only BroadcastNestedLoopJoin is the
    cosine branch's broadcast-probes cross, by design)."""
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    df = ret.hybrid_rrf_topk(docs, emb)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("documents.parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # pool-frame fusion may sort-merge (full outer over #queries × pool
    # rows — query-load-sized, never corpus-sized); final per-query
    # top-k must stay group-limit bounded
    assert "WindowGroupLimit" in plan


def test_hybrid_rrf_end_to_end_values(spark, sf_dir):
    """End-to-end on the sf0.001 tables: fused ranks are a permutation
    of 1..k per query and rrf_score is consistent with the reported
    branch ranks."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ret.hybrid_rrf_topk(docs, emb, pool=10, k=5).collect()
    assert out
    for r in out:
        expect = 0
        if r["lex_rank"]:
            expect += 1_000_000 // (60 + r["lex_rank"])
        if r["sem_rank"]:
            expect += 1_000_000 // (60 + r["sem_rank"])
        assert r["rrf_score"] == expect
    qs = {r["query_id"] for r in out}
    for q in qs:
        ranks = sorted(r["rank"] for r in out if r["query_id"] == q)
        assert ranks == list(range(1, len(ranks) + 1))


def test_hybrid_indexed_matches_inline_index_composition(spark, sf_dir, tmp_path):
    """The persisted-index round trip must be invisible: fusing the
    branches from parquet-persisted indexes (postings + PQ books/codes)
    yields bit-identical rows to fusing the same branches built inline
    — the write/read identity the other indexed faces pin."""
    from khronus_spark.operators import pq as pq_ops
    from khronus_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    probes = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    books_i, codes_i = pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)
    inline = ret.hybrid_rrf_topk_indexed(
        text_ops.bm25_build_postings(corpus), books_i, codes_i, queries, probes
    )

    text_ops.write_bm25_index(
        text_ops.bm25_build_postings(corpus), str(tmp_path / "bm25")
    )
    pq_ops.write_pq_index(books_i, codes_i, str(tmp_path / "pq"))
    postings = text_ops.read_bm25_index(spark, str(tmp_path / "bm25"))
    df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(
        spark, str(tmp_path / "bm25")
    )
    books, codes = pq_ops.read_pq_index(spark, str(tmp_path / "pq"))
    persisted = ret.hybrid_rrf_topk_indexed(
        postings,
        books,
        codes,
        queries,
        probes,
        df_t=df_t,
        collection_stats=(n_docs, avgdl_m),
    )
    a = sorted(map(tuple, inline.collect()))
    b = sorted(map(tuple, persisted.collect()))
    assert a and a == b


def test_hybrid_indexed_semantic_branch_is_pq_ranks(spark, sf_dir):
    """The indexed face's semantic list must be exactly the PQ ADC
    retriever's ranks over the corpus carve (d2_adc asc, doc_id asc) —
    not exact cosine; fusing the production retriever's OWN ranks is
    the design point."""
    from khronus_spark.operators import pq as pq_ops

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books, codes = pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)
    probes = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    sem = ret.semantic_pq_rank(books, codes, probes, pool=5).collect()
    raw = pq_ops.pq_topk_indexed(
        books, codes.where(F.col("vec_id") % 97 != 0), probes, 5, 4, 8
    ).collect()
    expect = {}
    for r in raw:
        expect.setdefault(r["probe_id"], []).append(
            (r["d2_adc"], r["neighbor_id"])
        )
    want = set()
    for q, lst in expect.items():
        for rank, (_, nid) in enumerate(sorted(lst), start=1):
            want.add((q, nid, rank))
    got = {(r["query_id"], r["doc_id"], r["rank"]) for r in sem}
    assert got == want
    assert all(d % 97 != 0 for _, d, _ in got)


def test_indexed_query_equals_inline_rank(spark, oracle_sf_dir, tmp_path):
    """`bm25_rank_indexed` over a parquet-round-tripped
    `bm25_build_postings` table equals `bm25_rank` over the raw corpus,
    row for row: the build/query split changes no value."""
    from khronus_spark.operators.text import (
        bm25_build_postings,
        bm25_rank,
        bm25_rank_indexed,
        read_bm25_index,
        write_bm25_index,
    )
    from khronus_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    write_bm25_index(bm25_build_postings(corpus), f"{tmp_path}/postings")
    got = bm25_rank_indexed(
        read_bm25_index(spark, f"{tmp_path}/postings"), queries
    )
    want = bm25_rank(docs, eval_mod=97)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_empty_corpus_index_builds_and_reads(spark, sf_dir, tmp_path):
    """Degenerate but reachable (an empty carve): the index build and
    the stats read-back must complete with (0, 0) instead of dying on
    a NULL avgdl."""
    from khronus_spark.operators.text import (
        bm25_build_postings,
        read_bm25_max_impact,
        read_bm25_stats,
        write_bm25_index,
    )
    from khronus_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "empty_idx")
    write_bm25_index(bm25_build_postings(docs.where("doc_id < 0")), path)
    df_t, n_docs, avgdl_m = read_bm25_stats(spark, path)
    assert (n_docs, avgdl_m) == (0, 0) and df_t.count() == 0
    assert read_bm25_max_impact(spark, path).count() == 0


def test_bm25_chunk_rank_finds_needle_in_long_doc(spark):
    """The long-document fix: a relevant paragraph buried in a long
    doc must score like the paragraph (chunk-level dl normalization),
    and the returned span must point AT the buried paragraph."""
    from khronus_spark.operators.text import bm25_chunk_rank

    filler = " ".join(f"filler{i % 37}" for i in range(400))
    needle = "zebra quagga okapi zebra quagga okapi"
    rows = [
        # query doc (doc_id % 97 == 0)
        (0, "zebra quagga okapi", "en", "s", 20),
        # long doc: needle buried after 400 filler tokens
        (1, filler + " " + needle + " " + filler, "en", "s", 100),
        # distractor docs sharing no terms
        (2, "lorem ipsum dolor sit amet", "en", "s", 30),
        (3, "alpha beta gamma delta", "en", "s", 25),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = bm25_chunk_rank(docs, eval_mod=97, k=3, pool=10).collect()
    assert out, "needle doc not retrieved"
    top = sorted(out, key=lambda r: r["rank"])[0]
    assert top["query_id"] == 0 and top["doc_id"] == 1
    # the winning chunk must cover the needle (tokens 401..406): its
    # 64-token window starting at best_chunk_start must intersect it
    start = top["best_chunk_start"]
    assert start <= 401 <= start + 63 or start <= 406 <= start + 63, top


# ---------------------------------------------------------------------------
# exact WAND-style pruned BM25 (operators/text.py::bm25_rank_indexed_pruned)
# ---------------------------------------------------------------------------


def _build_index(spark, corpus, tmp_path, name):
    from khronus_spark.operators import text as text_ops

    path = str(tmp_path / name)
    text_ops.write_bm25_index(text_ops.bm25_build_postings(corpus), path)
    postings = text_ops.read_bm25_index(spark, path)
    df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(spark, path)
    mi = text_ops.read_bm25_max_impact(spark, path)
    return postings, df_t, (n_docs, avgdl_m), mi


def _zipf_docs(spark):
    """200 docs, 3 stop words in every doc + one rare term per doc
    (df=5 each): the Zipf shape where the ceiling cut must fire."""
    rows = [
        (i, f"the of and r{i % 40}", "en", "s", 20) for i in range(1, 201)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_bm25_pruned_hash_identical_on_uniform_gate_vocab(
    spark, oracle_sf_dir, tmp_path
):
    """The pruning-hostile corner: the gate corpus's near-uniform df
    vocabulary gives flat ceilings, so almost nothing is prunable —
    and the pruned face must return the EXACT same top-k anyway (this
    is also what the shared driver oracle pins at sf0.01)."""
    from khronus_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    postings, df_t, stats, mi = _build_index(spark, corpus, tmp_path, "gate")
    a = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed(
                postings,
                queries,
                share_postings=False,
                df_t=df_t,
                collection_stats=stats,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed_pruned(
                postings, mi, queries, df_t=df_t, collection_stats=stats
            ).collect(),
        )
    )
    assert a and a == b


def test_bm25_pruned_cuts_stop_words_and_stays_exact_on_zipf_vocab(
    spark, tmp_path
):
    """On a Zipf-shaped vocabulary the cut must actually FIRE: the
    stop words (df=200, ceiling ~1k) fall to the seed threshold
    (T ≈ 9k from docs matching a rare query term), the survival face
    reports them dropped, and the ranked result is still identical
    to the unpruned face (non-candidate docs score 3k < T)."""
    from khronus_spark.operators import text as text_ops

    docs = _zipf_docs(spark)
    queries = spark.createDataFrame(
        [(1000, "the of and r1 r2"), (1001, "the of and r7")],
        "query_id long, text string",
    )
    postings, df_t, stats, mi = _build_index(spark, docs, tmp_path, "zipf")
    kw = dict(df_t=df_t, collection_stats=stats, seed_df_budget=20)
    a = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed(
                postings,
                queries,
                share_postings=False,
                df_t=df_t,
                collection_stats=stats,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed_pruned(
                postings, mi, queries, **kw
            ).collect(),
        )
    )
    assert a and a == b
    surv = text_ops.bm25_pruned_term_survival(
        postings, mi, queries, **kw
    ).collect()
    by_q = {}
    for r in surv:
        by_q.setdefault(r["query_id"], {})[r["w"]] = r
    # query 1000 has >= k seed docs via r1/r2 (df=5 each): stop words drop
    q = by_q[1000]
    assert q["r1"]["kept"] and q["r2"]["kept"]
    assert not q["the"]["kept"] and not q["of"]["kept"] and not q["and"]["kept"]
    # scoring-mass ledger: kept posting mass is a small fraction
    total = sum(r["df"] for r in surv if r["query_id"] == 1000)
    kept = sum(r["df"] for r in surv if r["query_id"] == 1000 and r["kept"])
    assert kept * 10 < total  # 10 vs 610


def test_bm25_pruned_ceiling_is_sound(spark, tmp_path):
    """Per-term ceiling property behind the exactness proof: u(w)
    upper-bounds every doc's actual contribution idf_bits·tf_micro
    for w (checked exhaustively on the Zipf corpus)."""
    from khronus_spark.operators import text as text_ops

    docs = _zipf_docs(spark)
    postings, df_t, stats, mi = _build_index(spark, docs, tmp_path, "sound")
    contrib = (
        postings.join(df_t, "w")
        .withColumn(
            "idf_bits",
            F.expr(f"CAST(length(bin({stats[0]} div df)) AS BIGINT)"),
        )
        .withColumn(
            "denom_m",
            F.expr(
                "1000L * tf + 1200L * "
                f"(1000L - 750 + 750L * 1000L * dl div {stats[1]}) div 1000L"
            ),
        )
        .withColumn("tf_micro", F.expr("1000L * 2200 * tf div denom_m"))
        .select("w", F.expr("idf_bits * tf_micro").alias("c"))
    )
    bad = contrib.join(mi, "w").where(F.col("c") > F.col("u")).count()
    assert bad == 0


def test_bm25_pruned_under_k_seed_docs_falls_back_unpruned(spark, tmp_path):
    """A query whose terms match fewer than k docs gets no threshold:
    every term survives and the result equals the unpruned face (2
    matching docs, both returned)."""
    from khronus_spark.operators import text as text_ops

    docs = _zipf_docs(spark)
    queries = spark.createDataFrame(
        # r1..r40 have df=5 == k; use a term matching only 2 docs by
        # querying a rare term pair no doc shares -> per-term df 5 but
        # seed covers 10 docs... instead: term absent + unique stop-free
        [(2000, "r39")],
        "query_id long, text string",
    )
    # r39 matches exactly 5 docs == k -> threshold exists but equals the
    # 5th candidate score; with a df budget below df(r39) the seed still
    # includes the top term (rn == 1 override), so exactness must hold
    postings, df_t, stats, mi = _build_index(spark, docs, tmp_path, "fb")
    kw = dict(df_t=df_t, collection_stats=stats, seed_df_budget=1)
    a = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed(
                postings,
                queries,
                share_postings=False,
                df_t=df_t,
                collection_stats=stats,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed_pruned(
                postings, mi, queries, **kw
            ).collect(),
        )
    )
    assert len(a) == 5 and a == b
    # and a genuinely-under-k query: one term, df < k via unique token
    q2 = spark.createDataFrame(
        [(3000, "the")], "query_id long, text string"
    )
    a2 = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed(
                postings,
                q2,
                share_postings=False,
                df_t=df_t,
                collection_stats=stats,
            ).collect(),
        )
    )
    b2 = sorted(
        map(
            tuple,
            text_ops.bm25_rank_indexed_pruned(
                postings, mi, q2, **kw
            ).collect(),
        )
    )
    assert a2 == b2
    surv = text_ops.bm25_pruned_term_survival(postings, mi, q2, **kw).collect()
    assert all(r["kept"] for r in surv)  # single term always survives


def test_bm25_max_impact_param_mismatch_raises(spark, tmp_path):
    """The ceilings are (k1, b)-specific; a mismatched read would
    silently break the pruning proof, so it must raise instead."""
    import pytest

    from khronus_spark.operators import text as text_ops

    docs = _zipf_docs(spark)
    path = str(tmp_path / "mm")
    text_ops.write_bm25_index(text_ops.bm25_build_postings(docs), path)
    with pytest.raises(ValueError, match="max-impact"):
        text_ops.read_bm25_max_impact(spark, path, k1_pm=900, b_pm=400)


def test_hybrid_indexed_pruned_branch_is_bit_identical(
    spark, oracle_sf_dir, tmp_path
):
    """Passing max_impact switches the hybrid's BM25 branch to the
    exact-pruned path: the fused output must be BIT-identical (the
    pruning proof lifted through RRF) — which is why the knob needs
    no oracle of its own."""
    from khronus_spark.operators import pq as pq_ops
    from khronus_spark.operators import retrieval as ret
    from khronus_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    path = str(tmp_path / "hyb")
    text_ops.write_bm25_index(text_ops.bm25_build_postings(corpus), f"{path}/bm25")
    books, codes = pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)
    pq_ops.write_pq_index(books, codes, f"{path}/pq")
    postings = text_ops.read_bm25_index(spark, f"{path}/bm25")
    df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(spark, f"{path}/bm25")
    mi = text_ops.read_bm25_max_impact(spark, f"{path}/bm25")
    books, codes = pq_ops.read_pq_index(spark, f"{path}/pq")
    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    probes = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    kw = dict(df_t=df_t, collection_stats=(n_docs, avgdl_m))
    plain = sorted(
        map(
            tuple,
            ret.hybrid_rrf_topk_indexed(
                postings, books, codes, queries, probes, **kw
            ).collect(),
        )
    )
    pruned = sorted(
        map(
            tuple,
            ret.hybrid_rrf_topk_indexed(
                postings, books, codes, queries, probes, max_impact=mi, **kw
            ).collect(),
        )
    )
    assert plain and plain == pruned


def test_bm25_chunk_indexed_pruned_matches_inline(spark, tmp_path):
    """Chunk ranking from the persisted chunk index through the
    exact-pruned path must be bit-identical to the inline
    bm25_chunk_rank — on a Zipf-shaped corpus where the cut FIRES
    (stop words in every chunk, rare needles in few), covering
    max-pooling and citation spans, not just flat ranks."""
    from khronus_spark.operators import text as text_ops

    filler = " ".join(
        f"the of and w{i % 9}" for i in range(60)
    )  # stop-heavy long docs -> several chunks each
    rows = [
        (0, "needle7 quagga", "en", "s", 10),  # query (doc_id % 97 == 0)
        (97, "needle0 okapi", "en", "s", 10),  # query
    ] + [
        (
            i,
            filler + (f" needle{i % 11} quagga okapi" if i % 3 == 0 else ""),
            "en",
            "s",
            100,
        )
        for i in range(1, 97)
        if i % 97 != 0
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    inline = sorted(map(tuple, text_ops.bm25_chunk_rank(docs).collect()))
    path = str(tmp_path / "ci")
    text_ops.bm25_chunk_build_index(docs.where("doc_id % 97 != 0"), path)
    postings = text_ops.read_bm25_index(spark, path)
    df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(spark, path)
    mi = text_ops.read_bm25_max_impact(spark, path)
    queries = docs.where("doc_id % 97 = 0").selectExpr(
        "doc_id as query_id", "text"
    )
    kw = dict(df_t=df_t, collection_stats=(n_docs, avgdl_m))
    plain = sorted(
        map(
            tuple,
            text_ops.bm25_chunk_rank_indexed(postings, queries, **kw).collect(),
        )
    )
    pruned = sorted(
        map(
            tuple,
            text_ops.bm25_chunk_rank_indexed(
                postings, queries, max_impact=mi, seed_df_budget=30, **kw
            ).collect(),
        )
    )
    assert inline and inline == plain == pruned
    # and the cut CAN fire on the chunk postings (k=3: the needle
    # terms seed a threshold; at the pool size the small fixture has
    # too few seed docs, which correctly falls back unpruned)
    surv = text_ops.bm25_pruned_term_survival(
        postings, mi, queries, k=3, seed_df_budget=30, **kw
    ).collect()
    assert any(not r["kept"] for r in surv)


def test_wand_route_decision_boundaries():
    """The routing decision is pure in (n_docs, pool, crossover):
    pinned at the measured constants — 50k for small-k faces, 100k
    for pooled (pool=20 hybrid/chunk) faces — with the explicit
    crossover overriding both. The constants cite the wand/hybrid
    sweep tables (ROUND8_NOTES.md); this pin fails loudly if anyone
    moves them without re-measuring."""
    from khronus_spark.operators.text import (
        WAND_CROSSOVER_DOCS,
        WAND_CROSSOVER_DOCS_POOLED,
        wand_should_prune,
    )

    assert WAND_CROSSOVER_DOCS == 50_000
    assert WAND_CROSSOVER_DOCS_POOLED == 100_000
    assert not wand_should_prune(49_999, pool=5)
    assert wand_should_prune(50_000, pool=5)
    assert not wand_should_prune(99_999, pool=20)
    assert wand_should_prune(100_000, pool=20)
    # the k=5 measurement applies through pool<=5; pooled above
    assert wand_should_prune(60_000, pool=5)
    assert not wand_should_prune(60_000, pool=20)
    # explicit crossover overrides the constants in both directions
    assert wand_should_prune(10, pool=20, crossover=10)
    assert not wand_should_prune(99_999_999, pool=5, crossover=10**9)


def test_hybrid_and_chunk_auto_route(spark, oracle_sf_dir, tmp_path):
    """`auto_max_impact` is the production call shape: ceilings passed
    unconditionally, the face routing by the persisted n_docs. Below
    the crossover the routed output equals the plain face (and the
    forced-pruned face — exactness makes routing invisible in
    values); with the crossover pinned low the routed face takes the
    pruned branch and stays bit-identical."""
    from khronus_spark.operators import pq as pq_ops
    from khronus_spark.operators import retrieval as ret
    from khronus_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    path = str(tmp_path / "route")
    text_ops.write_bm25_index(
        text_ops.bm25_build_postings(corpus), f"{path}/bm25"
    )
    books, codes = pq_ops.pq_build_index(emb, sub=4, k=8, iters=1)
    pq_ops.write_pq_index(books, codes, f"{path}/pq")
    postings = text_ops.read_bm25_index(spark, f"{path}/bm25")
    df_t, n_docs, avgdl_m = text_ops.read_bm25_stats(spark, f"{path}/bm25")
    mi = text_ops.read_bm25_max_impact(spark, f"{path}/bm25")
    books, codes = pq_ops.read_pq_index(spark, f"{path}/pq")
    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    probes = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    kw = dict(
        df_t=df_t, collection_stats=(n_docs, avgdl_m), auto_max_impact=mi
    )
    plain = sorted(
        map(
            tuple,
            ret.hybrid_rrf_topk_indexed(
                postings, books, codes, queries, probes,
                df_t=df_t, collection_stats=(n_docs, avgdl_m),
            ).collect(),
        )
    )
    routed_below = sorted(
        map(
            tuple,
            ret.hybrid_rrf_topk_indexed(
                postings, books, codes, queries, probes, **kw
            ).collect(),
        )
    )
    routed_above = sorted(
        map(
            tuple,
            ret.hybrid_rrf_topk_indexed(
                postings, books, codes, queries, probes, crossover=1, **kw
            ).collect(),
        )
    )
    assert plain and plain == routed_below == routed_above

    # chunk face: same routed knob over the chunk index (n_docs =
    # chunk count, the index's retrieval unit)
    cpath = str(tmp_path / "chunkroute")
    text_ops.bm25_chunk_build_index(corpus, cpath)
    cpost = text_ops.read_bm25_index(spark, cpath)
    cdf_t, cn, cavg = text_ops.read_bm25_stats(spark, cpath)
    cmi = text_ops.read_bm25_max_impact(spark, cpath)
    ckw = dict(df_t=cdf_t, collection_stats=(cn, cavg))
    cplain = sorted(
        map(
            tuple,
            text_ops.bm25_chunk_rank_indexed(cpost, queries, **ckw).collect(),
        )
    )
    crouted = sorted(
        map(
            tuple,
            text_ops.bm25_chunk_rank_indexed(
                cpost, queries, auto_max_impact=cmi, crossover=1, **ckw
            ).collect(),
        )
    )
    assert cplain and cplain == crouted
