"""Bit-exact cross-engine k-means over embedding vectors.

Float k-means can never hash-match across engines (mean computation is
float summation, whose result depends on reduction order). This module
instead specifies Lloyd's algorithm on an INTEGER-QUANTIZED domain, so
every iteration — distances, argmin assignment, centroid update — is
exact integer arithmetic that Spark and DuckDB reproduce bit-for-bit:

- quantize: e_i = floor((x_i + 1.0) · 10⁶) — the +1 shift makes all
  quantized values positive, so integer mean (`sum div count`) never
  hits the negative-division corner, and `floor` (not CAST) avoids the
  engines' different double→int rounding (Spark truncates, DuckDB
  rounds half-even);
- init: centroids = the embeddings of vec_id 0..k-1 (deterministic);
- assign: argmin of Σ(e_i − c_i)² (≤ 64·(2·10⁶)² ≈ 2.6e14, inside
  int64), ties to the smaller centroid id;
- update: per-dimension integer mean — floor division, identical
  truncation on both engines for positive sums;
- output: assignment under the final centroids.

The oracle unrolls the fixed iteration count into a CTE chain (assign →
per-dim mean → rebuild centroid arrays, repeated), so the whole
clustering is value-checked end-to-end — an iterative ML primitive
under the same correctness gate as the SQL operators.

Scale shape (the standard distributed Lloyd's): centroids are k×64
longs → BROADCAST to the assignment pass (map-only over the corpus);
the update is one map-side-combinable shuffle keyed (cluster, dim)
emitting k·64 rows; per-iteration lineage is truncated with an eager
localCheckpoint (components.py has the full rationale). Iteration
count is a fixed hyperparameter, not data-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.session import local_frame

K = 4
ITERS = 2
DIMS = 64

_QUANT = "transform(embedding, x -> floor((CAST(x AS DOUBLE) + 1.0D) * 1000000.0D))"
_DIST = (
    "aggregate(zip_with(e, c, (a, b) -> (a - b) * (a - b)), "
    "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)


#: default assignment implementation: 'arrow' computes every distance
#: as one exact int64 matmul per Arrow batch — zero row expansion, zero
#: shuffle; 'sql' is the pure-JVM expression path (broadcast cross +
#: map-side min_by), the DuckDB oracle's structural twin. Both are
#: bit-identical (equality-tested); the driver verifies the default.
ASSIGN_MODE = "arrow"


def _kmeans_state(
    embeddings: DataFrame, k: int = K, iters: int = ITERS, mode: str = ASSIGN_MODE
) -> tuple[DataFrame, DataFrame]:
    """(quantized vectors, final centroids) after `iters` Lloyd updates.
    Centroids: (cid, c: array<long>)."""
    q = embeddings.select("vec_id", F.expr(_QUANT).alias("e"))
    cents = q.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )

    for _ in range(iters):
        if mode == "arrow":
            # fused assignment + per-batch partial sums: only k short
            # rows per Arrow batch cross the Python boundary (vs the
            # whole assigned corpus), the N×dims posexplode expansion
            # disappears, and ONE cid-keyed exchange carries the
            # k×n_batches partials (the former path exchanged twice:
            # (cid, dim) then cid). Integer sums are associative, so
            # folding the per-batch sum vectors element-wise and then
            # `div` by the total count is bit-identical to the
            # row-expanded per-dimension mean.
            part = _mean_partials_arrow(q, cents)
            cents = (
                part.groupBy("cid")
                .agg(
                    F.collect_list("s").alias("ss"),
                    F.sum("n").alias("n"),
                )
                .select(
                    "cid",
                    F.expr(
                        "transform(aggregate(ss, "
                        "array_repeat(CAST(0 AS BIGINT), "
                        "size(element_at(ss, 1))), "
                        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b)), "
                        "v -> v div n)"
                    ).alias("c"),
                )
            )
        else:
            best = _assign(q, cents, mode).select("cid", "e")
            ex = best.select("cid", F.posexplode("e").alias("dim", "v"))
            means = ex.groupBy("cid", "dim").agg(
                F.expr("sum(v) div count(1)").alias("m")
            )
            cents = means.groupBy("cid").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
                ).alias("c")
            )
        # lazy checkpoint: the NEXT action that touches cents (the
        # following iteration's centroid collect, or the caller's first
        # use) materializes it — same lineage truncation as eager=True
        # with one fewer job per iteration
        cents = cents.localCheckpoint(eager=False)

    return q, cents


def _assign(q: DataFrame, centroids: DataFrame, mode: str = ASSIGN_MODE) -> DataFrame:
    """Nearest-centroid assignment, (vec_id, e, cid, d) — ties to the
    smaller centroid id, identical in both modes (equality-tested in
    tests/test_components.py)."""
    return _assign_arrow(q, centroids) if mode == "arrow" else _assign_sql(q, centroids)


def _assign_sql(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Expression-path assignment as a map-side-combinable aggregate.

    The broadcast cross join expands each vector to k scored rows, but
    the argmin is taken with ``min_by`` keyed on the ``(d, cid)`` struct
    (distance first, ties to the smaller centroid id — bit-identical to
    the former ``row_number`` window). A hash aggregate combines the k
    rows per vector map-side BEFORE the exchange, so the shuffle carries
    ≤N rows — a window argmin would shuffle the full N×k expansion,
    which at SemDeDup's derived k=⌈√N⌉ is an N^1.5-row exchange."""
    scored = q.crossJoin(F.broadcast(centroids)).withColumn("d", F.expr(_DIST))
    best = scored.groupBy("vec_id").agg(
        F.min_by(F.struct("cid", "d", "e"), F.struct("d", "cid")).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.e").alias("e"),
        F.col("b.cid").alias("cid"),
        F.col("b.d").alias("d"),
    )


def _assign_arrow(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Vectorized assignment: ZERO row expansion and ZERO shuffle.

    The centroid table collects once per iteration (k×DIMS int64 — at
    the derived k=⌈√N⌉ that is ~16 MB for 10⁹ vectors) and ships in the
    task closure; each Arrow batch then scores all its vectors against
    all centroids with one exact int64 matmul (d = |e|² − 2·E·Cᵀ + |c|²
    — every intermediate ≤ 64·(2·10⁶)² ≈ 2.6e14, inside int64, so numpy
    integer arithmetic reproduces the SQL path bit-for-bit) and takes
    the row-wise argmin (first minimum over cid-ascending columns = the
    ties-to-smaller-cid rule). Why this beats the expression path: the
    SQL distance runs Catalyst's interpreted higher-order lambdas over
    the N×k expansion — measured 301 s for N=100 k, k=317 on local[32]
    vs ~2 s here (scripts/semdedup_sweep.py) — and the argmin aggregate
    still shuffles N rows, where this path shuffles none."""
    import numpy as np
    import pandas as pd

    # k tiny rows: collect + driver-side sort (no range-exchange/
    # sampling job per iteration; guide §2.1)
    rows = sorted(centroids.collect(), key=lambda r: int(r["cid"]))
    out_schema = "vec_id long, e array<long>, cid long, d long"
    if not rows:
        return local_frame(q.sparkSession, [], out_schema)
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([list(r["c"]) for r in rows], dtype=np.int64)
    c_sq = (cmat * cmat).sum(axis=1)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            emat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["e"]])
            d = (
                (emat * emat).sum(axis=1, keepdims=True)
                - 2 * (emat @ cmat.T)
                + c_sq[None, :]
            )
            idx = d.argmin(axis=1)  # first min → smallest cid (sorted)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "e": pdf["e"],
                    "cid": cids[idx],
                    "d": d[np.arange(len(idx)), idx],
                }
            )

    return q.mapInPandas(run, out_schema)


def _mean_partials_arrow(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assignment + per-batch partial mean state in ONE Arrow pass:
    (cid, s: per-dimension int64 sum over the batch's members, n:
    member count). The distance/argmin math is `_assign_arrow`'s
    verbatim (exact int64, ties to the smaller cid); only the OUTPUT
    changes — k short rows per batch instead of the whole assigned
    corpus, so the mean update never ships vectors back through the
    Python boundary (guide §4: control what crosses). Per-batch sums
    stay inside int64: |e| ≤ 2·10⁶ and a batch is ≤ arrow
    maxRecordsPerBatch rows."""
    import numpy as np
    import pandas as pd

    # k tiny rows: collect + driver-side sort (no range-exchange/
    # sampling job per iteration; guide §2.1)
    rows = sorted(centroids.collect(), key=lambda r: int(r["cid"]))
    out_schema = "cid long, s array<long>, n long"
    if not rows:
        return local_frame(q.sparkSession, [], out_schema)
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([list(r["c"]) for r in rows], dtype=np.int64)
    c_sq = (cmat * cmat).sum(axis=1)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            emat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["e"]])
            d = (
                (emat * emat).sum(axis=1, keepdims=True)
                - 2 * (emat @ cmat.T)
                + c_sq[None, :]
            )
            idx = d.argmin(axis=1)  # first min → smallest cid (sorted)
            out_cid, out_s, out_n = [], [], []
            for ci in np.unique(idx):
                m = idx == ci
                out_cid.append(int(cids[ci]))
                out_s.append(emat[m].sum(axis=0).tolist())
                out_n.append(int(m.sum()))
            yield pd.DataFrame({"cid": out_cid, "s": out_s, "n": out_n})

    return q.select("e").mapInPandas(run, out_schema)


def kmeans_assignments(
    embeddings: DataFrame, k: int = K, iters: int = ITERS, mode: str = ASSIGN_MODE
) -> DataFrame:
    """(vec_id, cluster, dist_q) after `iters` Lloyd updates."""
    q, cents = _kmeans_state(embeddings, k, iters, mode)
    return _assign(q, cents, mode).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("d").alias("dist_q")
    )


#: ε for SemDeDup-style semantic dedup: two embeddings are duplicates
#: when their quantized squared L2 distance is ≤ this (≈ the 0.1th
#: percentile of within-cluster pair distances on the test corpus —
#: drops ~12% of vectors at sf0.01). Squared distance instead of the
#: paper's cosine keeps the criterion pure int64 (cosine needs a sqrt
#: or an int128 cross-multiply), so both engines agree bit-for-bit.
D2_DEDUP_THRESH = 1_250_000_000_000

_PAIR_D2 = (
    "aggregate(zip_with(ae, be, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def derive_k(n_vectors: int, floor_k: int = K) -> int:
    """Cluster count for SemDeDup: k ≈ ⌈√N⌉ keeps the within-cluster
    pair count ~N^1.5 total (N²/2k with k=√N) instead of quadratic —
    the standard nlist heuristic. Never below the test-corpus floor."""
    import math

    return max(floor_k, math.isqrt(max(n_vectors, 1) - 1) + 1)


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = None,
    iters: int = ITERS,
    d2_thresh: int = D2_DEDUP_THRESH,
    mode: str = ASSIGN_MODE,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): Lloyd
    cluster the corpus, compare pairs only WITHIN a cluster, and drop
    every vector that has a lower-id ε-close neighbor (the paper's
    keep-one-representative rule, with vec_id as the deterministic
    priority). Returns (vec_id, cluster, kept).

    Scale shape: the all-pairs comparison is confined to clusters.
    `k=None` (the default) derives k ≈ ⌈√N⌉ from one cheap count, which
    bounds expected per-cluster pairs at ~N^1.5/2 total — a FIXED k
    would leave the per-cluster work N²/k, i.e. quadratic at any fixed
    setting. Pass an explicit k only when the cluster count must be
    reproducible independent of corpus size (the oracle-checked
    registry entry pins k=4 to keep the DuckDB CTE chain tractable).
    The assignment table is eagerly checkpointed first: the pair join
    reads it twice, and without truncation each side would re-run the
    whole Lloyd iteration subtree.

    `mode='arrow'` (default) runs both stages vectorized — assignment
    as zero-shuffle batch matmuls, the pair search as per-cluster
    blocked int64 matmuls under one cluster-key shuffle
    (_dedup_within_clusters_arrow); `mode='sql'` is the pure-expression
    twin of the DuckDB oracle. Bit-identical, equality-tested."""
    import logging

    if k is None:
        n_vectors = embeddings.count()
        k = derive_k(n_vectors)
        exp_pairs = n_vectors * n_vectors // max(2 * k, 1)
        logging.getLogger(__name__).info(
            "semantic_dedup: N=%d -> k=%d, expected within-cluster pairs "
            "~%d (N^2/2k)", n_vectors, k, exp_pairs,
        )
        if exp_pairs > 10_000_000_000:
            logging.getLogger(__name__).warning(
                "semantic_dedup: expected pair count %d exceeds 1e10; "
                "raise k or pre-shard the corpus", exp_pairs,
            )
    q, cents = _kmeans_state(embeddings, k, iters, mode)
    a = _assign(q, cents, mode).select(
        "vec_id", "e", F.col("cid").alias("cluster")
    )
    if mode == "arrow":
        # single consumer (the grouped Arrow pair search) — no
        # checkpoint needed: the assignment pipe feeds the cluster-key
        # shuffle directly, one job instead of materialize + replay
        return _dedup_within_clusters_arrow(a, d2_thresh)
    # the SQL pair join reads `a` three times (left, right, final join)
    # — truncate once; lazily, so the consumer's own action materializes
    a = a.localCheckpoint(eager=False)
    left = a.select(F.col("vec_id").alias("a_id"), F.col("e").alias("ae"), "cluster")
    right = a.select(F.col("vec_id").alias("b_id"), F.col("e").alias("be"), "cluster")
    dropped = (
        left.join(right, "cluster")
        .where(F.col("a_id") < F.col("b_id"))
        .where(F.expr(_PAIR_D2) <= F.lit(d2_thresh))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return a.join(dropped, "vec_id", "left").select(
        "vec_id", "cluster", F.col("is_dup").isNull().alias("kept")
    )


def _dedup_within_clusters_arrow(a: DataFrame, d2_thresh: int) -> DataFrame:
    """Within-cluster ε-ball keep-one as a grouped Arrow computation:
    one shuffle on the cluster key (same as the SQL pair join), then
    each cluster's pairwise distances run as blocked exact-int64 numpy
    matmuls instead of ~(cluster size)²/2 interpreted higher-order
    expressions. A vector drops iff ANY lower-id cluster-mate is within
    ε — compared against all predecessors, dropped or not, exactly like
    the SQL path's a_id < b_id join. Row blocks bound peak memory at
    ~block × cluster_size int64s; at the derived k=⌈√N⌉ a cluster is
    ~√N rows, so the per-task group stays small (~31 k rows at 10⁹)."""
    import numpy as np
    import pandas as pd

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        emat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["e"]])
        sq = (emat * emat).sum(axis=1)
        dropped = np.zeros(m, dtype=bool)
        block = 256
        for s in range(1, m, block):
            e_end = min(s + block, m)
            d = (
                sq[s:e_end, None]
                - 2 * (emat[s:e_end] @ emat[:e_end].T)
                + sq[None, :e_end]
            )
            for off in range(e_end - s):
                i = s + off
                if (d[off, :i] <= d2_thresh).any():
                    dropped[i] = True
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cluster": pdf["cluster"], "kept": ~dropped}
        )

    return a.select("vec_id", "e", "cluster").groupBy("cluster").applyInPandas(
        lambda _, pdf: run(pdf), "vec_id long, cluster long, kept boolean"
    )


def semantic_dedup_sql(
    k: int = K, iters: int = ITERS, d2_thresh: int = D2_DEDUP_THRESH
) -> str:
    pair_d2 = (
        f"list_sum(list_transform(range(1, {DIMS + 1}), "
        "i -> (lq.e[i] - rq.e[i]) * (lq.e[i] - rq.e[i])))"
    )
    return f"""
WITH {kmeans_ctes(k, iters)},
pairs AS (
  SELECT l.vec_id AS a_id, r.vec_id AS b_id, {pair_d2} AS d2
  FROM final l JOIN final r ON l.cid = r.cid AND l.vec_id < r.vec_id
  JOIN q lq ON lq.vec_id = l.vec_id
  JOIN q rq ON rq.vec_id = r.vec_id
),
drops AS (SELECT DISTINCT b_id AS vec_id FROM pairs WHERE d2 <= {d2_thresh})
SELECT f.vec_id, f.cid AS cluster, d.vec_id IS NULL AS kept
FROM final f LEFT JOIN drops d ON d.vec_id = f.vec_id
"""


#: quantized distance between q.e and c.c — shared by the CTE chain and
#: the IVF-over-kmeans oracle
KMEANS_DIST_SQL = (
    f"list_sum(list_transform(range(1, {DIMS + 1}), "
    "i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i])))"
)


def kmeans_ctes(k: int = K, iters: int = ITERS) -> str:
    """CTE chain `q, c0, a0, m0, …, c{iters}, final` (no leading WITH,
    no trailing comma): `final` is the per-vector argmin assignment
    under the last centroids, `c{iters}` the centroid arrays — reusable
    inside larger oracles (IVF-over-kmeans)."""
    quant = (
        "list_transform(embedding, x -> "
        "CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT))"
    )
    dist = KMEANS_DIST_SQL
    parts = [
        f"q AS (\n  SELECT vec_id, {quant} AS e FROM embeddings\n),",
        f"c0 AS (SELECT vec_id AS cid, e AS c FROM q WHERE vec_id < {k}),",
    ]
    for it in range(iters):
        parts.append(
            f"""a{it} AS (
  SELECT q.vec_id, q.e, c.cid, {dist} AS d
  FROM q CROSS JOIN c{it} c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY d ASC, cid ASC) = 1
),
m{it} AS (
  SELECT cid, i, sum(e[i]) // count(*) AS m
  FROM a{it} CROSS JOIN range(1, {DIMS + 1}) t(i)
  GROUP BY cid, i
),
c{it + 1} AS (SELECT cid, list(m ORDER BY i) AS c FROM m{it} GROUP BY cid),"""
        )
    parts.append(
        f"""final AS (
  SELECT q.vec_id, c.cid, {dist} AS d
  FROM q CROSS JOIN c{iters} c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY d ASC, cid ASC) = 1
)"""
    )
    return "\n".join(parts)


def kmeans_sql(k: int = K, iters: int = ITERS) -> str:
    """The identical algorithm as DuckDB SQL — the fixed iteration count
    unrolled into an assign/mean/rebuild CTE chain."""
    return (
        f"WITH {kmeans_ctes(k, iters)}\n"
        "SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist_q FROM final"
    )


def kmeans_inertia(
    embeddings: DataFrame, k: int = K, iters: int = ITERS, mode: str = ASSIGN_MODE
) -> DataFrame:
    """Cluster-quality audit: per final cluster, its population and the
    exact integer inertia (sum / mean / max of the quantized squared L2
    distance to the centroid). The numbers a pipeline watches to decide
    whether k or the iteration budget is adequate before trusting
    SemDeDup's within-cluster pair stage — an oversized max_d flags a
    catch-all cluster whose pair stage will blow past the ~N^1.5 bound.

    Shape at 100 TB: one map-side-combinable aggregation over the
    assignment output (≤ k rows out); inherits the zero-expansion Arrow
    assignment, so nothing here shuffles more than N rows."""
    a = kmeans_assignments(embeddings, k, iters, mode)
    return (
        a.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("dist_q").alias("inertia_q"),
            F.max("dist_q").alias("max_d_q"),
        )
        .withColumn("mean_d_q", F.expr("inertia_q div n_vectors"))
    )


def kmeans_inertia_sql(k: int = K, iters: int = ITERS) -> str:
    return (
        f"WITH {kmeans_ctes(k, iters)}\n"
        "SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vectors,\n"
        "       CAST(sum(d) AS BIGINT) AS inertia_q,\n"
        "       CAST(max(d) AS BIGINT) AS max_d_q,\n"
        "       CAST(sum(d) // count(*) AS BIGINT) AS mean_d_q\n"
        "FROM final GROUP BY cid"
    )
