"""Johnson–Lindenstrauss random projection for embedding pipelines.

Dimensionality reduction is the standard pre-pass for 100 TB-scale
vector work: a 64-dim embedding projected to 16 dims cuts every
downstream distance computation (ANN candidate generation, clustering
assignment, near-dup blocking) 4× in both FLOPs and shuffle bytes,
while JL guarantees pairwise distances distort by at most ~1/√d_out.
The reference has no embedding surface (khronus is a metrics store);
this extends the training-data side like operators/quantize.py.

Cross-engine determinism (the repo's integer-spec-both-engines
discipline):

- embeddings quantize to non-negative int64 exactly as the k-means
  family does: e_i = floor((x_i + 1.0) · 10⁶) (clustering.py:43);
- the projection matrix is a ±1 Rademacher matrix DERIVED IN-ENGINE
  from the md5-60 hash family (dedup.py:283): sign(i, j) = 2·(h & 1)−1
  with h = md5_60('rp:<i>:<j>') — both engines compute the same 16×64
  matrix independently, nothing is shipped as literals;
- p_j = Σ_i e_i · sign(i, j) is exact int64 (|p_j| ≤ 64·2·10⁶ ≈ 1.3e8).

Scale shape: the sign matrix builds ONCE (1 024 md5 calls in a single
one-row expression) and broadcasts; the projection itself is a map-only
pass — zero shuffle, zero row expansion, embarrassingly parallel.
`rp_topk` then runs classic two-stage retrieval: candidate generation
in the 16-dim projected space (4× cheaper scan), exact rerank of the
surviving candidates in the full 64-dim quantized space. Recall of the
two-stage path vs the exact integer-L2 top-k is measured, not guessed
(tests/test_projection.py::test_rp_topk_planted_near_neighbor_recall,
::test_rp_topk_matches_exact_when_candidates_cover; the uniform-data
recall curve is in ROUND4_NOTES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from khronus_spark.operators.clustering import _D2, _QUANT, _QUANT_DUCK

DIM_IN = 64
DIM_OUT = 16

#: 16-dim projected-space squared L2 (int64-exact)
_D2_PROJ = _D2.format(a="pa", b="pb")

#: 64-dim full-space squared L2 over quantized vectors (int64-exact)
_D2_FULL = _D2.format(a="ea", b="eb")


def _sign_matrix_expr(dim_in: int = DIM_IN, dim_out: int = DIM_OUT) -> str:
    """Spark SQL for the dim_out×dim_in ±1 matrix: row j, column i is
    2·(md5_60('rp:i:j') & 1) − 1. Evaluated once on a one-row frame."""
    h60 = (
        "CAST(conv(substring(md5(concat('rp:', CAST(i AS STRING), ':', "
        "CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        f"transform(sequence(0, {dim_out - 1}), j -> "
        f"transform(sequence(0, {dim_in - 1}), i -> ({h60} & 1L) * 2 - 1))"
    )


def _smat(embeddings: DataFrame) -> DataFrame:
    """One-row (smat: array<array<long>>) frame, built in-engine."""
    return (
        embeddings.sparkSession.range(1)
        .select(F.expr(_sign_matrix_expr()).alias("smat"))
    )


#: p = E·Sᵀ as one fold per output dim — THE single projection spec;
#: both surfaces (rp_project, rp_topk) build from _rp_vectors
_PROJ = (
    "transform(smat, srow -> aggregate(zip_with(e, srow, (a, s) -> a * s), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v))"
)


def _rp_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, e: array<long>[64], p: array<long>[16]) — quantized full
    vector plus its projection, one map pass (broadcast one-row sign
    matrix, no shuffle)."""
    from khronus_spark.sources.tables import spread

    q = spread(embeddings, max_partitions=8).select(
        "vec_id", F.expr(_QUANT).alias("e")
    )
    return q.crossJoin(F.broadcast(_smat(embeddings))).select(
        "vec_id", "e", F.expr(_PROJ).alias("p")
    )


def rp_project(embeddings: DataFrame) -> DataFrame:
    """(vec_id, j, p) — the 16 projected coordinates per vector, long
    format (exploded; array columns don't value-hash stably across the
    engines' pandas conversions — see quantize.quantize_stats).

    Plan shape: broadcast the one-row sign matrix, then a single
    map-only projection — no shuffle anywhere."""
    return (
        _rp_vectors(embeddings)
        .select("vec_id", F.posexplode("p").alias("j", "p"))
        .select("vec_id", F.col("j").cast("long").alias("j"), "p")
    )


def rp_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 3,
    n_candidates: int = 20,
) -> DataFrame:
    """Two-stage exact-integer retrieval: (probe_id, neighbor_id, d2).

    Stage 1 scans the corpus in PROJECTED space (16-dim int64 L2 — 4×
    cheaper than full-dim) and keeps the `n_candidates` closest per
    probe; stage 2 reranks only those candidates with the full 64-dim
    quantized distance and emits the top `k`. Ties break to the smaller
    neighbor id at both stages.

    Scale shape: probes broadcast both times; stage 1's per-probe top-C
    is a row_number window whose shuffle Spark 4 bounds map-side
    (WindowGroupLimit pushes the group limit below the exchange), and
    stage 2's windows are over ≤ n_candidates rows per probe."""
    vecs = _rp_vectors(embeddings)
    probes = vecs.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("ea"),
        F.col("p").alias("pa"),
    )
    scan = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("eb"),
        F.col("p").alias("pb"),
    )
    stage1 = (
        scan.join(F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("_dp", F.expr(_D2_PROJ))
    )
    w1 = Window.partitionBy("probe_id").orderBy(
        F.col("_dp").asc(), F.col("neighbor_id").asc()
    )
    cands = stage1.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= n_candidates
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("d2", F.expr(_D2_FULL))
        .withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "d2")
    )


def exact_l2_topk(embeddings: DataFrame, probe_ids: list[int], k: int = 3) -> DataFrame:
    """Exact full-space integer-L2 top-k — the recall baseline for
    rp_topk (test-side only; brute_force_topk is the cosine flagship)."""
    vecs = _rp_vectors(embeddings).select("vec_id", "e")
    probes = vecs.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("ea")
    )
    scan = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("eb"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scan.join(F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("d2", F.expr(_D2_FULL))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "d2")
    )


# ---------------------------------------------------------------- oracles

_H60_DUCK = "(('0x' || substr(md5('rp:' || i || ':' || j), 1, 15))::UBIGINT::BIGINT)"

def _smat_ctes(dim_in: int = DIM_IN, dim_out: int = DIM_OUT) -> str:
    """CTEs `srows, smat` — the identical sign matrix derived with
    DuckDB's own md5 (no literals shipped between engines)."""
    return f"""srows AS (
  SELECT j, list(({_H60_DUCK} & 1) * 2 - 1 ORDER BY i) AS srow
  FROM range(0, {dim_out}) t(j) CROSS JOIN range(0, {dim_in}) u(i)
  GROUP BY j
),
smat AS (SELECT list(srow ORDER BY j) AS m FROM srows)"""


def rp_project_sql() -> str:
    return f"""
WITH {_smat_ctes()},
q AS (SELECT vec_id, {_QUANT_DUCK} AS e FROM embeddings)
SELECT q.vec_id,
       CAST(j AS BIGINT) AS j,
       CAST(list_sum(list_transform(range(1, {DIM_IN + 1}),
            i -> q.e[i] * (smat.m[j + 1])[i])) AS BIGINT) AS p
FROM q CROSS JOIN smat CROSS JOIN range(0, {DIM_OUT}) t(j)
"""


def rp_topk_sql(probe_ids: list[int], k: int = 3, n_candidates: int = 20) -> str:
    ids = ", ".join(str(i) for i in probe_ids)
    d2 = "list_sum(list_transform(range(1, {n} + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    dp = d2.format(n=DIM_OUT, a="pr.p", b="sc.p")
    df = d2.format(n=DIM_IN, a="pr.e", b="sc.e")
    return f"""
WITH {_smat_ctes()},
q AS (SELECT vec_id, {_QUANT_DUCK} AS e FROM embeddings),
v AS (
  SELECT q.vec_id, q.e,
         list_transform(range(1, {DIM_OUT + 1}), j ->
             list_sum(list_transform(range(1, {DIM_IN + 1}),
                      i -> q.e[i] * (smat.m[j])[i]))) AS p
  FROM q CROSS JOIN smat
),
cand AS (
  SELECT pr.vec_id AS probe_id, sc.vec_id AS neighbor_id, sc.e AS eb, pr.e AS ea
  FROM v pr JOIN v sc ON sc.vec_id <> pr.vec_id
  WHERE pr.vec_id IN ({ids})
  QUALIFY row_number() OVER (
      PARTITION BY pr.vec_id ORDER BY {dp} ASC, sc.vec_id ASC) <= {n_candidates}
),
rr AS (
  SELECT probe_id, neighbor_id,
         CAST(list_sum(list_transform(range(1, {DIM_IN + 1}),
              i -> (ea[i] - eb[i]) * (ea[i] - eb[i]))) AS BIGINT) AS d2
  FROM cand
)
SELECT probe_id, neighbor_id, d2
FROM rr
QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY d2 ASC, neighbor_id ASC) <= {k}
"""
