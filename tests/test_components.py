"""Connected components (large-star/small-star) vs a Python union-find,
plus the curation pipeline's stage-by-stage row accounting."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from khronus_spark.operators.components import connected_components
from khronus_spark.operators.curation import curated_docs


def _union_find(edges):
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comps.values() for n in members}


CASES = {
    # seeded random graph: mix of small components and singleton pairs
    "random": [
        (random.Random(7).randrange(200), random.Random(i).randrange(200))
        for i in range(150)
    ],
    # path graph: worst case for plain min-propagation (diameter = n);
    # large/small-star must still converge in O(log² n) rounds
    "path": [(i, i + 1) for i in range(60)],
    "two_cliques": [(i, j) for i in range(10) for j in range(i + 1, 10)]
    + [(100 + i, 100 + j) for i in range(8) for j in range(i + 1, 8)],
    "star_from_max": [(99, i) for i in range(40)],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_components_match_union_find(spark, monkeypatch, name):
    """Both paths: the driver union-find (every case is under the
    size constant) and the contraction loop (constant forced to 0)."""
    from khronus_spark.operators import components

    edges = [(a, b) for a, b in CASES[name] if a != b]
    expected = _union_find(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    for limit in (components.DRIVER_SOLVE_MAX_EDGES, 0):
        monkeypatch.setattr(components, "DRIVER_SOLVE_MAX_EDGES", limit)
        got = {
            r["node_id"]: r["component_id"]
            for r in connected_components(df).collect()
        }
        assert got == expected, limit


def test_components_empty_edges(spark):
    from khronus_spark.operators.components import star_contraction

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
    assert star_contraction(empty).count() == 0


def test_curation_stages_monotonic(spark, oracle_sf_dir):
    """Each curation stage only removes rows, and the final corpus is a
    subset of the quality-gated set."""
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    final = curated_docs(docs)
    n_final = final.count()
    assert 0 < n_final < docs.count()
    # no duplicate survivors: every kept doc is unclustered or a root
    assert final.where(
        F.col("component_id").isNotNull()
        & (F.col("doc_id") != F.col("component_id"))
    ).count() == 0
    # quality gate actually holds on the output
    assert final.where(F.col("quality_bp") < 5000).count() == 0


def test_kmeans_deterministic_and_partition_invariant(spark, oracle_sf_dir):
    """Integer k-means must be a pure function of the value set."""
    from khronus_spark.operators.clustering import kmeans_assignments

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    a = sorted(tuple(r) for r in kmeans_assignments(emb).collect())
    b = sorted(tuple(r) for r in kmeans_assignments(emb.repartition(7)).collect())
    assert a == b
    clusters = {c for _, c, _ in a}
    assert clusters == {0, 1, 2, 3}  # no cluster collapsed
    # Lloyd's with k=4 on 500 vectors: no degenerate giant cluster
    from collections import Counter

    sizes = Counter(c for _, c, _ in a)
    assert max(sizes.values()) < 500 * 0.8


def test_kmeans_ties_go_to_the_smaller_centroid_like_the_oracle(spark):
    """A hand-built table whose vec_id 2 sits exactly between the two
    initial centroids (vec_ids 0 and 1) in every iteration: the 2-means
    here is a fixed point only if ties go to the smaller centroid id
    (c0 = mean(-0.25, 0, -0.5), c1 = mean(0.25, 0.25, 0.25) on dim 0).
    Sending the tie to c1 moves both centroids, so the Spark assignment
    must equal the DuckDB oracle's at every iteration count, and the
    tied vector must land in cluster 0 at distance 250000²."""
    import duckdb
    import pandas as pd

    from khronus_spark.operators.clustering import DIMS, kmeans_assignments, kmeans_sql

    dim0 = [-0.25, 0.25, 0.0, -0.5, 0.25, 0.25]  # exact in float32
    rows = [(v, [x] + [0.0] * (DIMS - 1)) for v, x in enumerate(dim0)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.register("pdf", pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    con.execute(
        "CREATE TABLE embeddings AS SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding FROM pdf"
    )
    for iters in (0, 1, 2):
        got = sorted(tuple(r) for r in kmeans_assignments(emb, 2, iters).collect())
        want = sorted(con.execute(kmeans_sql(2, iters)).fetchall())
        assert got == want, iters
        assert got[2] == (2, 0, 250_000**2), iters


def test_empty_input_edge_cases(spark):
    """New operators must degrade to empty outputs, not crash, on empty
    inputs (the first thing a malformed upstream filter produces)."""
    from khronus_spark.operators.curation import curated_docs, curation_stats
    from khronus_spark.operators.sketches import hll_distinct
    from khronus_spark.operators.skew import salted_distinct
    from khronus_spark.operators.text import repetition, top_terms_tfidf

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    empty_events = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, value double"
    )
    assert curated_docs(empty_docs).count() == 0
    assert curation_stats(empty_docs).count() == 0
    assert repetition(empty_docs).count() == 0
    assert top_terms_tfidf(empty_docs).count() == 0
    assert hll_distinct(empty_events, "event_type", "user_id").count() == 0
    assert salted_distinct(empty_events, "event_type", "user_id").count() == 0

    from khronus_spark.operators.curation import curriculum_shards
    from khronus_spark.operators.text import dup_ngram_fraction, gopher_rules

    assert gopher_rules(empty_docs).count() == 0
    assert dup_ngram_fraction(empty_docs).count() == 0
    assert curriculum_shards(empty_docs).count() == 0
    # semantic_dedup needs >= k seed vectors by construction (centroids
    # are vec_id 0..k-1) — pin the contract that an all-empty embedding
    # table yields an empty result rather than a crash.
    from khronus_spark.operators.clustering import semantic_dedup

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert semantic_dedup(empty_emb).count() == 0


def test_bucket_pairs_star_cap_preserves_components(spark):
    """Over-cap buckets emit star edges instead of all pairs: fewer
    edges, same connected components."""
    from khronus_spark.operators.dedup import bucket_pairs

    rows = [(d, 0, 7) for d in range(10)] + [(20, 0, 9), (21, 0, 9)]
    banded = spark.createDataFrame(rows, "doc_id long, band long, bucket long")
    full = bucket_pairs(banded, star_cap=10_000)
    capped = bucket_pairs(banded, star_cap=5)
    assert full.count() == 45 + 1   # C(10,2) + the pair bucket
    assert capped.count() == 9 + 1  # star over the big bucket
    cc_full = {
        (r["node_id"], r["component_id"])
        for r in connected_components(
            full.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ).collect()
    }
    cc_capped = {
        (r["node_id"], r["component_id"])
        for r in connected_components(
            capped.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ).collect()
    }
    assert cc_full == cc_capped


def test_bucket_pairs_mega_bucket_bounded_memory(spark):
    """Round-4 verdict directive 3 worst case: ONE synthetic bucket with
    1M ids. The hardened bucket_pairs must (a) emit exactly the B-1
    star edges from the bucket minimum, (b) never build a B-element
    aggregation buffer — there is no collect_list anywhere in the plan
    (pair enumeration is a co-partitioned join whose per-key buffer is
    Spark's spillable row array), and the probe side of the join keeps
    only the bucket-min row for the over-cap bucket."""
    from khronus_spark.operators.dedup import bucket_pairs

    n = 1_000_000
    banded = spark.range(n).select(
        F.lit(0).cast("long").alias("band"),
        F.lit(7).cast("long").alias("bucket"),
        (F.col("id") + 5).alias("doc_id"),
    )
    pairs = bucket_pairs(banded, star_cap=10_000)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert pairs.count() == n - 1
    agg = pairs.agg(
        F.min("doc_a"), F.max("doc_a"), F.min("doc_b"), F.max("doc_b")
    ).first()
    assert tuple(agg) == (5, 5, 6, n + 4)  # every edge from the min id


def test_bucket_pairs_mixed_buckets_match_reference_semantics(spark):
    """Under-cap buckets still yield ALL pairs with exact shared-band
    counts; an over-cap bucket in the same frame yields star edges —
    the pair SET must equal the pre-hardening formulation's."""
    from khronus_spark.operators.dedup import bucket_pairs

    rows = (
        [(d, 0, 7) for d in range(50)]      # over-cap at star_cap=10
        + [(100, 0, 9), (101, 0, 9)]        # pair bucket
        + [(100, 1, 3), (101, 1, 3), (102, 1, 3)]  # triangle bucket
        + [(200, 1, 4)]                      # singleton: no pairs
    )
    banded = spark.createDataFrame(rows, "doc_id long, band long, bucket long")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in bucket_pairs(banded, star_cap=10).collect()
    }
    expect = {(0, d): 1 for d in range(1, 50)}  # star over the big bucket
    expect[(100, 101)] = 2  # shares the pair bucket AND the triangle
    expect[(100, 102)] = 1
    expect[(101, 102)] = 1
    assert got == expect


def test_near_dup_jaccard_lsh_is_candidate_bounded_and_exact(spark):
    """The rewired near_duplicates_jaccard: (a) every emitted pair's
    jaccard_bp equals the brute-force token-set Jaccard, (b) planted
    near-identical docs (one token changed) are all found, (c) the
    output is a subset of the brute-force above-threshold pair set
    (LSH bounds candidates; it never invents pairs). Banding here is
    8 bands × 1 row — the high-recall end of the curve (collision
    probability 1-(1-J)^8 ≈ 0.998 at the twins' shingle J ≈ 0.54), so
    every planted twin must surface; the registry entry's 2×4 default
    targets near-identical docs and its measured recall curve lives in
    the minhash_calibration entry."""
    from khronus_spark.operators.dedup import near_duplicates_jaccard

    texts = {}
    for i in range(8):
        base = " ".join(f"w{i}t{j}" for j in range(12))
        texts[2 * i] = base
        texts[2 * i + 1] = base.replace(f"w{i}t3", "CHANGED")  # near-dup twin
    docs = spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard_bp"]
        for r in near_duplicates_jaccard(
            docs, threshold_bp=3000, num_hashes=8, bands=8
        ).collect()
    }

    def jac_bp(a, b):
        sa, sb = set(texts[a].lower().split()), set(texts[b].lower().split())
        return len(sa & sb) * 10000 // len(sa | sb)

    brute = {
        (a, b): jac_bp(a, b)
        for a in texts
        for b in texts
        if a < b and jac_bp(a, b) >= 3000
    }
    for pair, bp in got.items():
        assert brute[pair] == bp, pair  # exact value on every emitted pair
    for i in range(8):  # every planted twin found
        assert (2 * i, 2 * i + 1) in got, i
    assert set(got) <= set(brute)


def test_pagerank_matches_python_recurrence_and_ranks_hubs(spark):
    """The engine's PageRank must equal a pure-Python evaluation of the
    integer recurrence over the same edge set, and members of the
    bigger clique (higher degree) must outrank the pair."""
    from khronus_spark.operators.components import (
        PR_DAMPING_PM,
        PR_ITERS,
        PR_SCALE,
        dedup_graph_pagerank,
    )
    from khronus_spark.operators.dedup import minhash_md5_pairs

    rows = [(i, "five identical documents share this exact text", None) for i in range(5)]
    rows += [(i, "a different duplicated pair lives right here", None) for i in (10, 11)]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    pairs = [(r.doc_a, r.doc_b) for r in minhash_md5_pairs(docs).collect()]
    sym: dict[int, list[int]] = {}
    for a, b in pairs:
        sym.setdefault(a, []).append(b)
        sym.setdefault(b, []).append(a)
    deg = {u: len(vs) for u, vs in sym.items()}
    pr = {u: PR_SCALE for u in sym}
    base = PR_SCALE * (1000 - PR_DAMPING_PM)
    for _ in range(PR_ITERS):
        mass = {u: 0 for u in sym}
        for u, vs in sym.items():
            share = pr[u] // deg[u]
            for v in vs:
                mass[v] += share
        pr = {
            u: (base + PR_DAMPING_PM * mass[u]) // 1000 for u in sym
        }
    got = {r.doc_id: (r.degree, r.pr_ppm) for r in dedup_graph_pagerank(docs).collect()}
    assert got == {u: (deg[u], pr[u]) for u in sym}
    # spec pin: on REGULAR components (cliques) the integer recurrence
    # is exactly uniform — every node keeps pr = PR_SCALE, floor-exact
    assert all(p == PR_SCALE for _, p in got.values())


def test_pagerank_varies_on_irregular_corpus_graph(spark, sf_dir):
    """The real corpus near-dup graph is irregular, so scores must
    actually spread (a constant column would mean the recurrence
    degenerated)."""
    from khronus_spark.operators.components import dedup_graph_pagerank
    from khronus_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = dedup_graph_pagerank(docs).collect()
    assert rows
    prs = [r.pr_ppm for r in rows]
    assert min(prs) < max(prs)


def test_keep_star_preserves_connectivity_under_verification(spark):
    """ADVICE r5: in an over-cap bucket only (min, x) star edges become
    candidates, and Jaccard verification can drop every one of them —
    disconnecting genuine exact duplicates that never get a direct
    pair. keep_star=True (the duplicate_components setting) exempts
    star-only edges from the threshold so the cluster survives; the
    default pair-listing path keeps the strict threshold and the
    documented recall loss."""
    from khronus_spark.operators.dedup import near_duplicates_jaccard

    base = " ".join(f"tok{j}" for j in range(12))
    clone = base.replace("tok11", "CHANGED")  # J = 11/13 ≈ 8461 bp
    texts = {0: base, 1: clone, 2: clone, 3: clone, 4: clone}
    docs = spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kw = dict(threshold_bp=9000, num_hashes=8, bands=8, star_cap=2)

    strict = {
        (r["doc_a"], r["doc_b"]) for r in near_duplicates_jaccard(docs, **kw).collect()
    }
    # every (0, x) star edge fails the 9000 threshold and is dropped
    assert not any(a == 0 for a, _ in strict)

    kept = near_duplicates_jaccard(docs, keep_star=True, **kw)
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard_bp"] for r in kept.collect()}
    # star-only edges survive AND report their true (sub-threshold) value
    assert any(a == 0 and bp < 9000 for (a, _), bp in rows.items()), rows
    comp = connected_components(
        kept.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comps = {r["node_id"]: r["component_id"] for r in comp.collect()}
    assert set(comps) | {min(comps.values())} >= {0, 1, 2, 3, 4}
    assert len(set(comps.values())) == 1  # one cluster, rooted at the min


def test_lpa_splits_bridged_cliques_components_do_not(spark):
    """The selling point vs connected components: a barbell (two
    4-cliques bridged by one edge) is ONE component but TWO LPA
    communities — majority support, not reachability."""
    from khronus_spark.operators.components import (
        connected_components,
        lpa_communities,
    )

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = spark.createDataFrame(
        clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)],
        "id_a long, id_b long",
    )
    comp = connected_components(edges.selectExpr("id_a AS src", "id_b AS dst"))
    assert comp.select("component_id").distinct().count() == 1

    lpa = lpa_communities(edges, iters=4).collect()
    by_comm = {}
    for r in lpa:
        by_comm.setdefault(r["community"], set()).add(r["node_id"])
    assert len(by_comm) == 2
    assert sorted(map(sorted, by_comm.values())) == [[0, 1, 2, 3], [10, 11, 12, 13]]
    assert all(r["community_size"] == 4 for r in lpa)


def test_lpa_is_deterministic_and_stable_on_a_clique(spark):
    from khronus_spark.operators.components import lpa_communities

    edges = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a < b],
        "id_a long, id_b long",
    )
    out1 = sorted(map(tuple, lpa_communities(edges, iters=3).collect()))
    out2 = sorted(map(tuple, lpa_communities(edges, iters=3).collect()))
    assert out1 == out2
    # a clique converges to the min label
    assert {t[1] for t in out1} == {0}


def test_lpa_matches_python_reference_on_random_graphs(spark):
    """Seeded random graphs: the distributed LPA must equal a direct
    Python transcription of the spec (synchronous rounds, argmax by
    count desc / label asc) node-for-node — the same
    reference-transcription device as the winnowing and BM25 specs."""
    import random
    from collections import Counter, defaultdict

    from khronus_spark.operators.components import lpa_communities

    rng = random.Random(20260815)
    for trial in range(4):
        n = rng.randint(8, 14)
        edges = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(a + 1, n)
                if rng.random() < 0.3
            }
        )
        if not edges:
            continue

        adj = defaultdict(list)
        for a, b in edges:
            adj[a].append(b)
            adj[b].append(a)
        labels = {v: v for v in adj}
        iters = 3
        for _ in range(iters):
            labels = {
                v: min((-c, l) for l, c in Counter(
                    labels[u] for u in adj[v]
                ).items())[1]
                for v in adj
            }

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node_id"]: r["community"]
            for r in lpa_communities(df, iters=iters).collect()
        }
        assert got == labels, (trial, edges)


def test_wave5_operators_degrade_on_empty_inputs(spark):
    """The empty-input battery for the round-6 fifth-wave operators:
    empty frames yield empty results, never a crash."""
    from khronus_spark.operators.components import lpa_communities
    from khronus_spark.operators.expectations import k_anonymity_audit
    from khronus_spark.operators.retrieval import rrf_fuse
    from khronus_spark.operators.sketches import hll_overlap_estimate
    from khronus_spark.operators.text import perplexity_split

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    empty_events = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, value double"
    )
    empty_ranks = spark.createDataFrame([], "query_id long, doc_id long, rank long")

    assert perplexity_split(empty_docs).count() == 0
    assert lpa_communities(empty_edges).count() == 0
    assert hll_overlap_estimate(empty_events, "event_type", "user_id").count() == 0
    assert k_anonymity_audit(empty_events, ["event_type"], "user_id").count() == 0
    assert rrf_fuse(empty_ranks, empty_ranks).count() == 0


def test_cc_chain_converges_in_log_rounds(spark):
    """The O(log² n) convergence pin behind the 8M-edge sweep
    (scripts/cc_sweep.py): a pure chain — the diameter-maximizing
    shape content-drifted copies produce, where plain min-propagation
    needs O(diameter) rounds — must collapse in a handful of
    large-star/small-star rounds. 4096 nodes = diameter 4095; the
    alternating algorithm MEASURES 13 rounds here (~log2(diameter)+1,
    far under the O(diameter)=4095 of plain propagation and under
    MAX_ROUNDS=25, which therefore covers diameters to ~2^23). The
    pin is log2(n)+4 so a regression toward propagation-shaped
    round counts cannot hide behind the cap."""
    from khronus_spark.operators.components import star_contraction

    n = 4096
    chain = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    stats: dict = {}
    comp = star_contraction(chain, stats=stats)
    rows = comp.collect()
    assert len(rows) == n
    assert {r["component_id"] for r in rows} == {0}
    assert stats["rounds"] <= 16, stats  # log2(4096)=12, measured 13
    traj = stats["edge_counts"]
    assert traj[-1] == n - 1  # star forest: one edge per non-root
