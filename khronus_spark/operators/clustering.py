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
longs, collected and shipped in the task closure of one Arrow
assignment pass (map-only over the corpus); the update is one
cid-keyed shuffle of per-batch partial sums; per-iteration lineage is
truncated with a lazy localCheckpoint (components.py has the full
rationale). Iteration count is a fixed hyperparameter, not
data-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.session import local_frame

K = 4
ITERS = 2
DIMS = 64

#: The ×10⁶ integer grid every integer-vector operator shares (k-means,
#: PQ, IVF, coreset, projection, quantize, MMR): the Spark spelling over
#: any array column, the DuckDB spelling of one element, and the numpy
#: mirror the Arrow passes use. Oracle and plan text is built from these
#: strings, so they must not change by a byte.
_QUANT_COL = "transform({c}, x -> floor((CAST(x AS DOUBLE) + 1.0D) * 1000000.0D))"
_QUANT = _QUANT_COL.format(c="embedding")
_QUANT_DUCK_X = "CAST(floor((CAST({x} AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT)"
_QUANT_DUCK = "list_transform(embedding, x -> " + _QUANT_DUCK_X.format(x="x") + ")"

#: int64-exact squared L2 between two equal-length long array columns
_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _quantize_np(emat):
    """numpy image of `_QUANT` over a float64 matrix."""
    import numpy as np

    return np.floor((emat + 1.0) * 1000000.0).astype(np.int64)


def _nearest(emat, cmat, c_sq):
    """(row-wise argmin index, its distance) of the exact int64
    d = |e|² − 2·E·Cᵀ + |c|² — every intermediate ≤ 64·(2·10⁶)² ≈
    2.6e14, inside int64. The first minimum over cid-ascending columns
    is the ties-to-smaller-cid rule."""
    import numpy as np

    d = (
        (emat * emat).sum(axis=1, keepdims=True)
        - 2 * (emat @ cmat.T)
        + c_sq[None, :]
    )
    idx = d.argmin(axis=1)
    return idx, d[np.arange(len(idx)), idx]


def _kmeans_state(
    embeddings: DataFrame, k: int = K, iters: int = ITERS
) -> tuple[DataFrame, DataFrame]:
    """(quantized vectors, final centroids) after `iters` Lloyd updates.
    Centroids: (cid, c: array<long>).

    Each update is one fused Arrow pass (`_mean_partials`): only k
    short partial-sum rows per batch cross the Python boundary, and ONE
    cid-keyed exchange carries the k×n_batches partials. Integer sums
    are associative, so folding the per-batch sum vectors element-wise
    and then `div` by the total count is the per-dimension integer mean
    of the spec, bit for bit."""
    q = embeddings.select("vec_id", F.expr(_QUANT).alias("e"))
    cents = q.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )

    for _ in range(iters):
        cents = (
            _mean_partials(q, cents)
            .groupBy("cid")
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
        # lazy checkpoint: the NEXT action that touches cents (the
        # following iteration's centroid collect, or the caller's first
        # use) materializes it — same lineage truncation as eager=True
        # with one fewer job per iteration
        cents = cents.localCheckpoint(eager=False)

    return q, cents


def _map_nearest(
    q: DataFrame, centroids: DataFrame, emit, out_schema: str
) -> DataFrame:
    """Score every Arrow batch of `q` (with an `e` column) against all
    centroids and yield `emit(pdf, emat, cid, d)` per batch — ZERO row
    expansion and ZERO shuffle.

    The centroid table collects once per call (k×DIMS int64 — at the
    derived k=⌈√N⌉ that is ~16 MB for 10⁹ vectors; collect + driver-
    side sort, no range-exchange/sampling job per iteration) and ships
    in the task closure; each batch then scores with one exact int64
    matmul (`_nearest`). The SQL spelling of the same distance runs
    Catalyst's interpreted higher-order lambdas over the N×k expansion
    — measured 317.7 s against 5.06 s here for N=100 k, k=317
    (ROUND4_NOTES.md, scaling measurement)."""
    import numpy as np

    rows = sorted(centroids.collect(), key=lambda r: int(r["cid"]))
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
            idx, d = _nearest(emat, cmat, c_sq)
            yield emit(pdf, emat, cids[idx], d)

    return q.mapInPandas(run, out_schema)


def _assign(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, (vec_id, e, cid, d) — ties to the
    smaller centroid id."""
    import pandas as pd

    def emit(pdf, emat, cid, d):
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "e": pdf["e"], "cid": cid, "d": d}
        )

    return _map_nearest(
        q, centroids, emit, "vec_id long, e array<long>, cid long, d long"
    )


def _mean_partials(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assignment + per-batch partial mean state in ONE Arrow pass:
    (cid, s: per-dimension int64 sum over the batch's members, n:
    member count) — k short rows per batch instead of the whole
    assigned corpus, so the mean update never ships vectors back
    through the Python boundary. Per-batch sums stay inside int64:
    |e| ≤ 2·10⁶ and a batch is ≤ arrow maxRecordsPerBatch rows."""
    import numpy as np
    import pandas as pd

    def emit(pdf, emat, cid, d):
        out_cid, out_s, out_n = [], [], []
        for c in np.unique(cid):
            m = cid == c
            out_cid.append(int(c))
            out_s.append(emat[m].sum(axis=0).tolist())
            out_n.append(int(m.sum()))
        return pd.DataFrame({"cid": out_cid, "s": out_s, "n": out_n})

    return _map_nearest(
        q.select("e"), centroids, emit, "cid long, s array<long>, n long"
    )


def kmeans_assignments(
    embeddings: DataFrame, k: int = K, iters: int = ITERS
) -> DataFrame:
    """(vec_id, cluster, dist_q) after `iters` Lloyd updates."""
    q, cents = _kmeans_state(embeddings, k, iters)
    return _assign(q, cents).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("d").alias("dist_q")
    )


#: ε for SemDeDup-style semantic dedup: two embeddings are duplicates
#: when their quantized squared L2 distance is ≤ this (≈ the 0.1th
#: percentile of within-cluster pair distances on the test corpus —
#: drops ~12% of vectors at sf0.01). Squared distance instead of the
#: paper's cosine keeps the criterion pure int64 (cosine needs a sqrt
#: or an int128 cross-multiply), so both engines agree bit-for-bit.
D2_DEDUP_THRESH = 1_250_000_000_000


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
    Both stages run vectorized: the assignment as zero-shuffle batch
    matmuls, the pair search as per-cluster blocked int64 matmuls under
    one cluster-key shuffle (`_dedup_within_clusters`)."""
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
    q, cents = _kmeans_state(embeddings, k, iters)
    a = _assign(q, cents).select("vec_id", "e", F.col("cid").alias("cluster"))
    # single consumer (the grouped Arrow pair search) — no checkpoint
    # needed: the assignment pipe feeds the cluster-key shuffle directly
    return _dedup_within_clusters(a, d2_thresh)


def _dedup_within_clusters(a: DataFrame, d2_thresh: int) -> DataFrame:
    """Within-cluster ε-ball keep-one as a grouped Arrow computation:
    one shuffle on the cluster key, then each cluster's pairwise
    distances run as blocked exact-int64 numpy matmuls instead of
    ~(cluster size)²/2 interpreted higher-order expressions. A vector
    drops iff ANY lower-id cluster-mate is within ε — compared against
    all predecessors, dropped or not, exactly like the oracle's
    l.vec_id < r.vec_id pair join. Row blocks bound peak memory at
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
    dist = KMEANS_DIST_SQL
    parts = [
        f"q AS (\n  SELECT vec_id, {_QUANT_DUCK} AS e FROM embeddings\n),",
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
    embeddings: DataFrame, k: int = K, iters: int = ITERS
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
    a = kmeans_assignments(embeddings, k, iters)
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
