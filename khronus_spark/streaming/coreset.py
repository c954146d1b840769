"""The single-pass (streaming) k-center fold — the twin of
`operators/coreset.py::kcenter_select` (Gonzalez needs m passes over
the full corpus; a stream gets ONE look at each vector).

Algorithm: the doubling algorithm (Charikar, Chekuri, Feder, Motwani
— "Incremental clustering and dynamic information retrieval", STOC
1997), deterministic variant on the shared ×10⁶ integer grid:

    state = (centers C, |C| ≤ m, squared threshold T2)
    invariant: every point seen so far is within √T2·(expansion) of
    some center, and centers are pairwise > √T2 apart.

    per batch:
      - fold the batch against C (ONE broadcast map pass: running
        mind2 = least over the ≤ m centers);
      - while some point sits farther than T2:
          - room in C  → admit the FARTHEST such point (argmax mind2,
            ties to smaller vec_id — the Gonzalez pick, one
            map-side-combinable aggregate), fold only the new center
            into the running mind2;
          - C full     → RAISE the scale: T2 ← max(4·T2, min pairwise
            d² among C) and greedily merge centers within the new T2
            (keep smaller vec_id; driver-side over ≤ m rows). The max
            guarantees ≥ 1 merge, so the loop always makes progress.

Approximation: the distance-domain algorithm guarantees radius ≤
8·OPT(m) over any arrival order; the d²-domain variant inherits it
(4·T2 is exactly the doubled distance). The MEASURED factor vs batch
Gonzalez on the anisotropic corpus is pinned in
tests/test_streaming_coreset.py — far tighter than the worst case.

Scale shape per batch: one broadcast-assign map pass over the batch +
one small aggregate per admitted center (≤ m per batch, usually 0
once the scale settles) — the bpe_merges driver-loop class with
batch-sized frames. Driver state is ≤ m quantized vectors; nothing
ever re-reads earlier batches, which is the point.

`replay_kcenter` folds fixed chunks of a corpus through `_fold_batch`;
the `coreset_streaming_kcenter_audit` registry entry drives it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.operators.clustering import _D2, _QUANT


def _arr(e: list[int]) -> str:
    return "array(" + ", ".join(f"{int(x)}L" for x in e) + ")"


def _fold_batch(
    spark,
    batch: DataFrame,
    centers: list[tuple[int, list[int]]],
    t2: int,
    m: int,
) -> tuple[list[tuple[int, list[int]]], int]:
    """Fold one batch into (centers, t2) — the per-batch body of the
    stream, module-level so tests drive it directly."""
    q = batch.select("vec_id", F.expr(_QUANT).alias("e"))
    if centers:
        folds = [
            F.expr(_D2.format(a="e", b=_arr(e))) for _, e in centers
        ]
        mind2 = folds[0]
        for f_ in folds[1:]:
            mind2 = F.least(mind2, f_)
        state = q.select("vec_id", "e", mind2.alias("mind2"))
    else:
        first = q.orderBy(F.col("vec_id").asc()).limit(1).collect()
        if not first:
            return centers, t2
        centers = [(int(first[0]["vec_id"]), list(first[0]["e"]))]
        d0 = F.expr(_D2.format(a="e", b=_arr(centers[0][1])))
        state = q.where(F.col("vec_id") != centers[0][0]).select(
            "vec_id", "e", d0.alias("mind2")
        )
    state = state.localCheckpoint(eager=False)
    while True:
        win = (
            state.where(F.col("mind2") > t2)
            .agg(
                F.max_by(
                    F.struct("vec_id", "mind2", "e"),
                    F.struct(F.col("mind2"), -F.col("vec_id")),
                ).alias("b")
            )
            .select("b.vec_id", "b.mind2", "b.e")
            .collect()
        )
        if not win or win[0]["vec_id"] is None:
            return centers, t2
        # ADMIT FIRST (transiently allowing m+1 centers), merge after
        # — the classic phase order. Merging before admitting (the
        # first cut of this fold) raised the scale without giving the
        # far region a center: at N=20k the stream collapsed to ONE
        # center with T² far above the realized radius, still inside
        # the guarantee but wasting the whole budget.
        vid, e = int(win[0]["vec_id"]), list(win[0]["e"])
        centers.append((vid, e))
        d_new = F.expr(_D2.format(a="e", b=_arr(e)))
        state = (
            state.where(F.col("vec_id") != vid)
            .select(
                "vec_id", "e",
                F.least(F.col("mind2"), d_new).alias("mind2"),
            )
            .localCheckpoint(eager=False)
        )
        merged = False
        while len(centers) > m:
            # over budget: raise the scale until a pair collapses
            # (max() guarantees ≥ 1 merge per phase since the closest
            # pair lands within the new T²), greedy keep by vec_id —
            # deterministic, driver-side over ≤ (m+1)² pairs
            merged = True
            min_pair = min(
                sum((a - b) * (a - b) for a, b in zip(e1, e2))
                for i, (_, e1) in enumerate(centers)
                for _, e2 in centers[i + 1 :]
            )
            t2 = max(4 * t2, min_pair)
            kept: list[tuple[int, list[int]]] = []
            for cvid, ce in sorted(centers):
                if all(
                    sum((a - b) * (a - b) for a, b in zip(ce, ke)) > t2
                    for _, ke in kept
                ):
                    kept.append((cvid, ce))
            centers = kept
        if merged:
            # recompute the running mind2 against the merged center
            # set so the next far-point check sees the true coverage
            # (the incremental least() fold only knows admits; the
            # isin list here is ≤ m entries — a constant, not a
            # corpus-scaling list)
            folds = [
                F.expr(_D2.format(a="e", b=_arr(ce))) for _, ce in centers
            ]
            mind2 = folds[0]
            for f_ in folds[1:]:
                mind2 = F.least(mind2, f_)
            state = (
                state.where(
                    ~F.col("vec_id").isin([cv for cv, _ in centers])
                )
                .select("vec_id", "e", mind2.alias("mind2"))
                .localCheckpoint(eager=False)
            )


def replay_kcenter(
    spark, embeddings: DataFrame, m: int = 6, n_chunks: int = 4
) -> tuple[list[tuple[int, list[int]]], int]:
    """Deterministic BATCH REPLAY of the streaming fold: chunk the
    corpus by `vec_id % n_chunks` and fold the chunks in order 0..n-1
    through `_fold_batch` — the state evolution a stream delivering
    the same chunks as micro-batches would see, without a checkpoint
    dir or a query lifecycle. Returns (centers, t2): the stream's
    realized selection and its internal squared scale.

    This is the face the `coreset_streaming_kcenter_audit` registry
    entry drives, so the DRIVER hash pins the streamed selection's
    realized radius the way the batch Gonzalez one is pinned. Every
    number out of here is deterministic: the
    argmax tie-breaks on (mind2, -vec_id), merges keep the smaller
    vec_id, and chunk membership is a pure function of vec_id."""
    centers: list[tuple[int, list[int]]] = []
    t2 = 0
    for chunk in range(n_chunks):
        batch = embeddings.where(
            F.pmod(F.col("vec_id"), F.lit(n_chunks)) == chunk
        )
        centers, t2 = _fold_batch(spark, batch, centers, t2, m)
    return centers, t2
