"""Connected components + duplicate clustering for corpus dedup at scale.

Pairwise near-duplicate candidates (``dedup.near_duplicates_jaccard``,
``dedup.minhash_md5_pairs``) are only half of deduplication: a corpus
cleaner must group transitively-linked docs into CLUSTERS and keep one
canonical doc per cluster. The size rule: the first checksum counts the
distinct edges; a graph of at most ``DRIVER_SOLVE_MAX_EDGES`` (1M) is
collected and solved by union-find on the driver, returned as a local
relation (measured faster than the loop at every size from 1k to 1M
edges, sweeps/r20/cc_crossover.json; the benchmark's curation graph has
a few hundred edges). At 100 TB the duplicate graph has billions of
edges, so above the constant clustering is a bounded number of shuffle
rounds (``star_contraction``).

We implement the alternating large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14), which
converges in O(log² n) rounds regardless of component diameter — a plain
min-label propagation needs O(diameter) rounds and dies on chain-shaped
duplicate clusters (doc A ~ B ~ C ~ ... arises naturally from
content-drifted copies). Each round is two DataFrame self-aggregations
(map-side combinable groupBy min + a join), fully JVM-side; lineage is
truncated per round with a ``localCheckpoint`` so the plan stays
O(1) deep (on a cluster this would be ``checkpoint()`` to durable
storage for fault tolerance).

Scale notes:
- shuffle volume per round is O(|E|), and |E| SHRINKS monotonically
  toward one star edge per non-root node;
- the convergence check is a count+hash-sum checksum (two scalar
  aggregates), never a driver-side collect of edges above the size
  rule;
- the final (doc_id → component_id) map is tiny relative to the corpus
  (only docs that appear in some duplicate pair), so downstream
  canonical-doc filters broadcast it.

No reference counterpart (khronus has no graph operators); this is part
of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.operators.dedup import near_duplicates_jaccard
from khronus_spark.session import local_frame

#: more than enough for convergence at any realistic n: measured on a
#: pure chain (the diameter-maximizing worst case), rounds ≈
#: log2(diameter)+1 — 13 rounds at diameter 4095 (test-pinned), so 25
#: covers diameters to ~2^23 (≈8M-doc chained near-dup runs; real
#: duplicate clusters have diameters in the tens). Exceeded only if
#: the implementation regresses toward O(diameter) propagation.
MAX_ROUNDS = 25

#: distinct-edge count at or below which `connected_components` collects
#: the graph and solves it on the driver. sweeps/r20/cc_crossover.json
#: (local[4]) found no crossover from 1k to 1M edges: the driver solve
#: wins at every size, by 9x at 1k random edges and still 2.6x at 1M
#: (8x on a 1M chain, where the loop needs 21 rounds). So the constant
#: sits at the top of the measured range; past it the driver's memory,
#: not its speed, is the limit (0.39 GB peak Python RSS at 1M edges),
#: and on a cluster the loop scales out where the driver cannot.
DRIVER_SOLVE_MAX_EDGES = 1_000_000


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """Cheap order-insensitive fingerprint of an edge set: (count,
    sum of xxhash64(src, dst)). Collision odds are ~2⁻⁶⁴ per round."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: immune to ANSI long-overflow on the hash sum
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u over the SYMMETRIZED edge set: connect every
    strictly-larger neighbor to m = min(Γ(u) ∪ {u}).

    The per-u min label rides a WINDOW over the symmetrized set (one
    exchange on src) instead of the former groupBy + self-join (an
    aggregate exchange plus a second full-edge exchange for the join):
    identical rows out, one shuffle of the edge set instead of two
    (guide §2.4 — two operations keyed the same way share one
    exchange). The window needs no ordering, only the partition key,
    so no sort-cost trap hides here."""
    from pyspark.sql import Window

    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    # No trailing distinct here (guide §2.1): `_small_star` immediately
    # re-keys these rows for its own window — whose min() is duplicate-
    # insensitive — and ends with the round's distinct, so the per-round
    # OUTPUT row set is identical while the round runs one exchange
    # fewer (duplicate relink rows ride the next shuffle instead of
    # paying a dedup exchange of their own; they are bounded by the
    # multi-path relinks of a single round).
    return (
        sym.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small; for each node u connect u and all
    its smaller neighbors to m = min of those neighbors. Same
    window-for-groupBy+join swap as `_large_star`: the self-edge
    (u, m) emerges as the rewrite of the minimum neighbor's own row
    (dst == m → (m, m) would be dropped; instead keep (src, m) for the
    minimal row), so no separate label frame and no union are needed —
    identical output rows, one exchange of the oriented set."""
    from pyspark.sql import Window

    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src")
    labeled = oriented.withColumn("m", F.min("dst").over(w))
    # every oriented row (u, v) contributes (v, m_u); the former
    # self-edge union (u, m_u) is recovered from u's minimal row
    # (v == m_u) by emitting (u, m_u) alongside — exactly the rows
    # relinked ∪ self_edge produced, then the same src!=dst + distinct
    relinked = labeled.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edge = labeled.where(F.col("dst") == F.col("m")).select(
        "src", F.col("m").alias("dst")
    )
    return (
        relinked.union(self_edge)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) long-id edge list → (node_id, component_id) where
    component_id is the minimum node id in the component.

    Isolated nodes don't appear in an edge list, hence not in the
    output; callers union them back if needed.

    The first checksum counts the distinct edges; at or below
    `DRIVER_SOLVE_MAX_EDGES` the edges are collected and solved by
    union-find on the driver, above it `star_contraction` runs."""
    cur = _edge_set(edges)
    sig = _checksum(cur)
    if sig[0] <= DRIVER_SOLVE_MAX_EDGES:
        return _driver_components(cur)
    return _contract(cur, sig)


def star_contraction(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """`connected_components` by the large-star/small-star loop at any
    size — the path every graph above `DRIVER_SOLVE_MAX_EDGES` takes.

    `stats` (optional out-param) records `rounds` and the per-round
    edge counts — the O(log² n) convergence evidence sweep scripts
    and tests pin (scripts/cc_sweep.py)."""
    cur = _edge_set(edges)
    return _contract(cur, _checksum(cur), stats)


def _edge_set(edges: DataFrame) -> DataFrame:
    """Distinct non-loop long edges, checkpointed lazily: the checksum
    that follows materializes the checkpoint in the SAME action, so the
    first count is one job, not two."""
    return (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _driver_components(cur: DataFrame) -> DataFrame:
    """Union-find (min-id root, path halving) over the collected edge
    set, returned as a local relation — one collect instead of the
    loop's jobs per round."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    t = cur.toArrow()
    for a, b in zip(t.column("src").to_pylist(), t.column("dst").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return local_frame(
        cur.sparkSession,
        [(v, find(v)) for v in parent],
        "node_id long, component_id long",
    )


def _contract(
    cur: DataFrame, sig: tuple[int, int], stats: dict | None = None
) -> DataFrame:
    """The contraction loop from a checkpointed edge set and its
    checksum `sig`; lazy checkpoints again make each round one job
    (the checksum materializes the round's checkpoint)."""
    prev_sig = sig
    edge_counts = [prev_sig[0]]
    rounds = 0
    for _ in range(MAX_ROUNDS):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        sig = _checksum(nxt)
        cur = nxt
        rounds += 1
        edge_counts.append(sig[0])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {MAX_ROUNDS} rounds")
    if stats is not None:
        stats["rounds"] = rounds
        stats["edge_counts"] = edge_counts
    # fixpoint is a depth-1 star forest: (v, m) for every non-root v.
    roots = cur.select(F.col("dst").alias("node_id")).distinct().withColumn(
        "component_id", F.col("node_id")
    )
    members = cur.select(
        F.col("src").alias("node_id"), F.col("dst").alias("component_id")
    )
    return members.union(roots)


def duplicate_components(docs: DataFrame, threshold_bp: int = 3000) -> DataFrame:
    """Cluster near-duplicate documents: exact-Jaccard-verified pairs →
    connected components. Output (doc_id, component_id); only docs that
    participate in at least one duplicate pair appear.

    Edges are the candidate-bounded `near_duplicates_jaccard` (banded
    LSH candidates, exact Jaccard ≥ threshold on candidates only) — the
    MinHash-then-verify recipe; vs `minhash_duplicate_components`,
    which clusters the UNVERIFIED band-collision graph, this drops
    band-collision false positives at the cost of the token-set
    intersection per candidate. `keep_star=True` exempts over-cap
    buckets' star-only edges from the Jaccard threshold: in a
    >star_cap bucket only (min, x) edges exist, and filtering them
    would disconnect genuine near-dup pairs that fail the threshold
    against the bucket minimum — connectivity beats precision for the
    clustering use (an over-cap bucket is near-certain boilerplate
    anyway, and `minhash_duplicate_components` clusters the fully
    unverified graph). Unreachable at oracle scale (no sf0.01 bucket
    nears the cap), so the DuckDB oracle needs no cap branch; the
    behavior is pinned by the tiny-star_cap fixture in
    tests/test_components.py instead."""
    pairs = near_duplicates_jaccard(docs, threshold_bp, keep_star=True).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(pairs).select(
        F.col("node_id").alias("doc_id"), "component_id"
    )


def _jaccard_pairs_ctes(threshold_bp: int = 3000) -> str:
    """CTE chain ending in `jp` (candidate pairs with exact jaccard_bp)
    — shared verbatim with the near_dup_jaccard oracle."""
    from khronus_spark.operators.dedup import near_dup_jaccard_sql

    base = near_dup_jaccard_sql(threshold_bp).strip()
    assert base.startswith("WITH ")
    head, _ = base.rsplit("SELECT doc_a, doc_b, jaccard_bp FROM jp", 1)
    return head[len("WITH"):].strip().rstrip(",").rstrip()


#: DuckDB oracle: the candidate-bounded Jaccard pair chain (banded-LSH
#: candidates + exact-Jaccard filter, shared with near_dup_jaccard_sql)
#: + transitive closure by recursive CTE (fine at oracle scale; the
#: Spark side is the one that must scale).
DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes()},
pairs AS (SELECT doc_a, doc_b FROM jp WHERE jaccard_bp >= 3000),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT DISTINCT src, src AS dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src
"""


def minhash_duplicate_components(docs: DataFrame) -> DataFrame:
    """Clusters over the UNVERIFIED MinHash+LSH collision graph —
    banding keeps edge generation ~linear in corpus size; vs
    `duplicate_components`, which verifies the same candidates with
    exact Jaccard first. Same star-contraction core."""
    from khronus_spark.operators.dedup import minhash_md5_pairs

    pairs = minhash_md5_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(pairs).select(
        F.col("node_id").alias("doc_id"), "component_id"
    )


def minhash_components_ctes() -> str:
    """CTE chain (toks … reach) for the minhash component closure,
    reusable inside a larger WITH RECURSIVE (see curation oracles)."""
    from khronus_spark.operators.dedup import minhash_md5_pairs_sql

    base = minhash_md5_pairs_sql().strip()
    assert base.startswith("WITH ")
    head, final = base.split("SELECT a.doc_id AS doc_a", 1)
    ctes = head[len("WITH"):].strip().rstrip(",")
    return f"""{ctes},
mh AS (SELECT a.doc_id AS doc_a{final}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b, doc_a FROM mh
),
reach AS (
  SELECT DISTINCT src, src AS dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)"""


def minhash_components_sql() -> str:
    """Oracle: the minhash pair CTE chain + recursive closure."""
    return f"""
WITH RECURSIVE {minhash_components_ctes()}
SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src
"""


def component_size_profile(docs: DataFrame) -> DataFrame:
    """Duplicate-cluster size histogram over the MinHash near-dup graph:
    (cluster_size, n_clusters, n_docs). The curation diagnostic read
    before deduplicating — a power-law tail of huge clusters means
    boilerplate/mirror content dominates (dedup will shrink the corpus
    far more than the pair count suggests), while all-size-2 clusters
    mean simple copies. Singleton docs never enter an edge list, so the
    profile covers clustered docs only (size ≥ 2 by construction).

    Scale shape: inherits the star-contraction component map (O(log² n)
    rounds, edges never collected); both rollups here are map-side-
    combinable groupBys whose output is bounded by the number of
    DISTINCT cluster sizes — tiny at any corpus scale."""
    comps = minhash_duplicate_components(docs)
    sizes = comps.groupBy("component_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            "n_docs",
        )
    )


def component_size_profile_sql() -> str:
    return f"""
WITH RECURSIVE {minhash_components_ctes()},
comp AS (SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src),
sizes AS (SELECT component_id, count(*) AS sz FROM comp GROUP BY component_id)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz
"""


#: PageRank constants: damping in per-mille, mass scale in ppm-per-node
#: (unnormalized — scores are comparable within a graph), iterations
#: fixed so the oracle can unroll them like the k-means CTE chain.
PR_DAMPING_PM = 850
PR_SCALE = 1_000_000
PR_ITERS = 2


def dedup_graph_pagerank(docs: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-exact PageRank over the MinHash near-dup graph:
    (doc_id, degree, pr_ppm) for every doc that appears in a candidate
    pair. The centrality-based canonical-pick policy — inside a dup
    cluster the best-connected doc is the natural representative (the
    min-doc_id rule is arbitrary; a hub that near-matches every copy is
    the template original) — and a boilerplate detector (hub scores
    spike on template pages).

    Bit-exact cross-engine by the same discipline as k-means: all mass
    in integer ppm units, pr₀ = 10⁶ per node, and

        pr_{t+1}(v) = (10⁶·(1000−d) + d·Σ_{u~v} (pr_t(u) div deg(u)))
                      div 1000

    with d = 850‰ and floor divisions ordered identically on both
    engines; the oracle unrolls the fixed iteration count into a CTE
    chain.

    Scale shape: edges come from the banded LSH join (linear, never
    all-pairs); each iteration is ONE map-side-combinable
    groupBy(neighbor).sum over the edge list plus a broadcast-size
    join of the ≤|nodes| score table — O(|E|) shuffle per iteration,
    the textbook distributed PageRank."""
    from khronus_spark.operators.dedup import minhash_md5_pairs

    pairs = minhash_md5_pairs(docs).select("doc_a", "doc_b")
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pr = deg.select(F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("pr"))
    base = PR_SCALE * (1000 - PR_DAMPING_PM)
    for _ in range(iters):
        outflow = (
            sym.join(pr, sym.src == pr.node)
            .join(deg, "src")
            .select("dst", F.expr("pr div deg").alias("share"))
        )
        inflow = outflow.groupBy("dst").agg(F.sum("share").alias("mass"))
        pr = (
            deg.select(F.col("src").alias("node"))
            .join(inflow, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                F.expr(
                    f"CAST(({base} + {PR_DAMPING_PM} * coalesce(mass, 0L)) "
                    "div 1000 AS BIGINT)"
                ).alias("pr"),
            )
        )
    return (
        pr.join(deg, pr.node == deg.src)
        .select(F.col("node").alias("doc_id"), "deg", F.col("pr").alias("pr_ppm"))
        .withColumnRenamed("deg", "degree")
    )


def dedup_graph_pagerank_sql(iters: int = PR_ITERS) -> str:
    """The identical integer recurrence unrolled as CTEs over the
    minhash pair graph."""
    from khronus_spark.operators.dedup import minhash_md5_pairs_sql

    basep = minhash_md5_pairs_sql().strip()
    assert basep.startswith("WITH ")
    head, final = basep.split("SELECT a.doc_id AS doc_a", 1)
    ctes = head[len("WITH"):].strip().rstrip(",")
    base = PR_SCALE * (1000 - PR_DAMPING_PM)
    parts = [
        f"""{ctes},
mh AS (SELECT a.doc_id AS doc_a{final}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b, doc_a FROM mh
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
pr0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg)"""
    ]
    for t in range(iters):
        parts.append(
            f"""m{t} AS (
  SELECT sym.dst, CAST(sum(p.pr // d.deg) AS BIGINT) AS mass
  FROM sym JOIN pr{t} p ON p.node = sym.src JOIN deg d ON d.src = sym.src
  GROUP BY sym.dst
),
pr{t + 1} AS (
  SELECT deg.src AS node,
         CAST(({base} + {PR_DAMPING_PM} * coalesce(m{t}.mass, 0))
              // 1000 AS BIGINT) AS pr
  FROM deg LEFT JOIN m{t} ON m{t}.dst = deg.src
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT p.node AS doc_id, d.deg AS degree, p.pr AS pr_ppm
FROM pr{iters} p JOIN deg d ON d.src = p.node
"""
    )


def lpa_communities(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iters: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list — community detection for duplicate graphs:
    each node repeatedly adopts the most frequent label among its
    neighbors (ties → smallest label), starting from its own id.
    Output: (node_id, community, community_size) after `iters` rounds.

    Why next to connected_components: components answer "is there ANY
    path" — a single template/hub record chains unrelated clusters
    into one giant component (the low-cc_bp artifact
    part_edit_graph_clustering flags). LPA requires majority support,
    so a barbell (two cliques bridged by one edge) SPLITS into two
    communities while components merge it — the principled giant-
    component breakup before canonical selection.

    Determinism: fixed iteration count, integer labels, argmax by
    (count DESC, label ASC) via one min(struct(-count, label))
    aggregate — no collect_list, no float. The oracle unrolls the same
    rounds as CTEs (the kmeans/pagerank device).

    Shape at 100 TB: per round, ONE shuffle of the edge list joined to
    the label table on the neighbor id (co-partitioned, both sides
    keyed) + a map-side-combinable (node, label) count + the argmax
    aggregate. Label state is one row per node. Rounds are lineage-cut
    with eager localCheckpoints like the large/small-star loop —
    without them the self-referential plan doubles per round."""
    # checkpoint the INPUT edge list, not the symmetrized union: the
    # union's two branches would each re-run the (often expensive)
    # edge-generating pipeline inside one job; from a checkpointed
    # frame the swap projection is a memory read, and each LPA round
    # re-derives sym for free
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    sym = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        sym.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("label", F.col("node_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        counts = (
            sym.join(labels, sym["dst"] == labels["node_id"])
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counts.groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("m")
            )
            .select(
                F.col("src").alias("node_id"), F.col("m.l").alias("label")
            )
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "node_id",
        F.col("label").alias("community"),
        "community_size",
    )


def lpa_rounds_ctes(edges_cte: str, iters: int = 4) -> str:
    """Oracle: the same rounds unrolled as CTEs over `edges_cte` (a CTE
    named `pairs` with id_a/id_b columns)."""
    parts = [
        edges_cte,
        """
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node_id, src AS label FROM edges)""",
    ]
    for i in range(iters):
        parts.append(
            f"""
c{i + 1} AS (
  SELECT e.src AS node_id, l.label, count(*) AS cnt
  FROM edges e JOIN l{i} l ON l.node_id = e.dst
  GROUP BY e.src, l.label
),
l{i + 1} AS (
  SELECT node_id, label FROM c{i + 1}
  QUALIFY row_number() OVER (
    PARTITION BY node_id ORDER BY cnt DESC, label ASC) = 1
)"""
        )
    return ",".join(parts) + f"""
, sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
            FROM l{iters} GROUP BY label)
"""
