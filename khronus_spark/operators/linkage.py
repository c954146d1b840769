"""Record linkage: blocked edit-distance matching + graph triangle QA.

Entity resolution over dirty catalogs (near-identical product names,
re-keyed customer records) needs a *string-distance* dedup modality in
addition to the token-set family (MinHash/Jaccard in ``dedup.py``) —
two records one typo apart share almost every shingle, but two records
with a swapped word order share none of the edit budget. The classic
shape (Fellegi-Sunter / Magellan style) is:

  1. BLOCK: partition candidates by a cheap deterministic key so the
     quadratic verify step only runs within bounded blocks;
  2. FILTER: apply necessary-condition predicates (length difference
     bounds edit distance from below) before the expensive measure;
  3. VERIFY: exact Levenshtein on the surviving candidates only.

Scale notes:
- blocking is ONE hash shuffle on the block key; within-block pairing
  is quadratic only in the block size, which the block-key choice
  bounds (brand ~ |parts|/|brands|; at higher SF compose the key —
  (brand, size) — exactly like ``bucket_pairs``'s star-cap convention
  bounds LSH buckets);
- the length filter is applied INSIDE the join condition so Catalyst
  evaluates it before ``levenshtein`` (a necessary condition:
  |len(a)-len(b)| ≤ k whenever edit distance ≤ k), cutting the
  verify cost on typical blocks by ~an order of magnitude;
- ``levenshtein`` is a JVM built-in (whole-stage codegen), not a UDF.

Triangle counting grades the *quality* of a candidate graph: a healthy
near-dup graph is a union of dense cliques (exact-duplicate groups),
so a collapsing triangle count under a threshold change signals the
verifier is shredding clusters. We orient edges by id (a < b < c), the
standard trick that enumerates each triangle exactly once with two
joins; at 100 TB scale the classical refinement is to orient by
DEGREE (low→high) so no join side is a high-degree star — noted here,
id-orientation is used for cross-engine determinism.

No reference counterpart (khronus has no linkage operators); this is
part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_edit_pairs(
    df: DataFrame,
    block_cols: Sequence[str],
    text_col: str,
    id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Within-block record pairs whose ``text_col`` edit distance is
    ≤ ``max_dist``: (block cols, id_a, id_b, dist), id_a < id_b.

    One shuffle on the block key; the length necessary-condition and
    the id-ordering live in the join condition so they prune before
    Levenshtein runs.
    """
    cols = list(block_cols)
    # Spread the probe side by row count BEFORE the join: a small
    # dimension read arrives as one input split, and AQE coalesces a
    # keyed repartition right back to one partition because the shuffle
    # BYTES are tiny — but the cost here is the within-block Levenshtein
    # residual (quadratic in block size), which the optimizer can't see.
    # An explicit-count round-robin repartition survives AQE
    # (REPARTITION_BY_NUM is never coalesced) and is correct regardless
    # of join strategy: a broadcast join meets the full build side from
    # every partition, and a sort-merge join re-shuffles on the block
    # key anyway. Measured at sf0.1: 14.8 s -> ~1 s on local[32].
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    a = df.select(
        *cols,
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    ).repartition(n_parts)
    b = df.select(
        *[F.col(c).alias(f"_b_{c}") for c in cols],
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    cond = (
        (F.col("id_a") < F.col("id_b"))
        & (
            F.abs(F.length("text_a") - F.length("text_b"))
            <= F.lit(max_dist)
        )
    )
    for c in cols:
        cond = cond & (F.col(c) == F.col(f"_b_{c}"))
    # bounded levenshtein (Spark 3.5+): the threshold form runs the
    # banded O(max_dist·n) algorithm and returns -1 past the bound —
    # exact for every surviving pair, so the kept set and the reported
    # distances are identical to the unbounded form, at a fraction of
    # the per-pair CPU (the verify step dominates this operator's cost)
    return (
        a.join(b, on=cond)
        .withColumn(
            "dist", F.expr(f"levenshtein(text_a, text_b, {int(max_dist)})")
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= F.lit(max_dist)))
        .select(*cols, "id_a", "id_b", "dist")
    )


def sorted_neighbor_pairs(
    df: DataFrame,
    block_cols: Sequence[str],
    text_col: str,
    id_col: str,
    window: int = 5,
    max_dist: int = 2,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández-Stolfo): the
    LINEAR-cost scale path of blocked matching. Within each block,
    records sort by ``text_col`` and each record pairs with its next
    ``window`` neighbors via ``lead`` — candidate volume is O(n·w),
    not O(block²), and after the one block-key shuffle the whole pass
    is map-side window algebra with NO self-join.

    The trade is recall, with TWO distinct failure modes the round-7
    sweep separates: (a) edits near the string head break sort
    adjacency (measured at sf0.01: w=5 finds ~59% of the pairs the
    full within-block join finds; a second pass sorted by the
    reversed text recovered it to ~87%), and
    (b) WINDOW CROWDING: when block size grows while w stays fixed,
    lexically-close non-matches crowd true matches out of the window
    (the sweep's recall falls 0.34 → 0.14 across an 8× size-up and
    multi-pass recovers only +1–3 pp there, because crowding is not a
    sort-key problem). Production remedies for (b): scale w with
    expected block size, add a pass on a crowding-resistant key
    (token-sorted name), or refine the block key — rather than
    treating more passes as a cure-all.

    Output (block cols, id_a, id_b, dist): id_a is the sort-order
    predecessor, not necessarily the smaller id.
    """
    from pyspark.sql import Window as W

    cols = list(block_cols)
    base = df.select(
        *cols, F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")
    )
    w_blk = W.partitionBy(*cols).orderBy("text_a", "id_a")
    # window expressions can't live inside a generator: materialize the
    # lead columns first (all share one window sort), then explode
    led = base.select(
        *cols,
        "id_a",
        "text_a",
        *[
            c
            for k in range(1, window + 1)
            for c in (
                F.lead("id_a", k).over(w_blk).alias(f"_id_{k}"),
                F.lead("text_a", k).over(w_blk).alias(f"_text_{k}"),
            )
        ],
    )
    neighbor = F.array(
        *[
            F.struct(
                F.col(f"_id_{k}").alias("id_b"),
                F.col(f"_text_{k}").alias("text_b"),
            )
            for k in range(1, window + 1)
        ]
    )
    exploded = led.select(
        *cols, "id_a", "text_a", F.explode(neighbor).alias("nb")
    ).select(
        *cols,
        "id_a",
        "text_a",
        F.col("nb.id_b").alias("id_b"),
        F.col("nb.text_b").alias("text_b"),
    )
    # bounded levenshtein: see blocked_edit_pairs — banded evaluation,
    # exact on survivors, and the distance computes ONCE instead of
    # once in the filter and again in the projection
    return (
        exploded.where(F.col("id_b").isNotNull())
        .where(
            F.abs(F.length("text_a") - F.length("text_b"))
            <= F.lit(max_dist)
        )
        .withColumn(
            "dist", F.expr(f"levenshtein(text_a, text_b, {int(max_dist)})")
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= F.lit(max_dist)))
        .select(*cols, "id_a", "id_b", "dist")
    )


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node triangle participation counts over an id-oriented edge
    set (every edge has src < dst): (node_id, n_triangles), nodes with
    at least one triangle.

    Two shuffled joins — e2 keyed on the wedge midpoint, e3 on the
    closing (a, c) pair — then a map-side-combinable count over the
    exploded corners. Each triangle a<b<c is produced exactly once.

    The edge list is checkpointed on entry (it feeds three join sides;
    an expensive edge GENERATOR — e.g. the Levenshtein verify — would
    otherwise run once per side) and the triangle set is checkpointed
    before the corner explode (three union branches)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e.join(e2, on="b")
        .join(
            e3,
            on=(F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
        .localCheckpoint(eager=False)
    )
    corners = (
        tri.select(F.col("a").alias("node_id"))
        .unionAll(tri.select(F.col("b").alias("node_id")))
        .unionAll(tri.select(F.col("c").alias("node_id")))
    )
    return corners.groupBy("node_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def golden_records(
    records: DataFrame,
    assignment: DataFrame,
    id_col: str,
    attr_cols: list[str],
    broadcast_component_limit: int | None = None,
) -> DataFrame:
    """Survivorship — the last stage of entity resolution: after
    pair matching (`blocked_edit_pairs`) and transitive clustering
    (`components.connected_components`) assign every entity ONE
    canonical value per attribute. The rule is mode-with-deterministic
    -ties: the most frequent value within the entity wins, ties break
    to the lexicographically smallest — the same shape every MDM
    survivorship engine defaults to, and deterministic across engines
    and partitionings (no arbitrary first()).

    `records`: the full source table (one row per record).
    `assignment`: (node_id, component_id) from connected_components —
    records absent from it (never matched to anything) become
    singleton entities of themselves, so the output covers EVERY
    source record exactly once via entity membership.

    Returns (entity_id, n_members, canonical_<attr>...). Attribute
    values are compared as strings (the melt below needs one value
    type); pre-cast upstream if an attribute's string form is not its
    identity.

    Scale shape — the round-6 scan-budget discipline applied from the
    start: the per-attribute survivorship is MELTED into one
    (entity, attr, value) frame, so the corpus is scanned ONCE no
    matter how many attributes survive (a per-attribute aggregation
    loop would re-run the corpus join per attribute). One wide
    map-side-combinable count shuffle, then everything downstream is
    count-table-sized; the assignment map (duplicate-graph nodes only)
    broadcasts WHILE IT FITS — the same count-gated hint as
    `curation.leakage_safe_kfold` (the CC output ends localCheckpointed
    so the count is a cheap cached read): a duplicate graph with
    hundreds of millions of matched nodes must shuffle-join on the id,
    not OOM the driver on an unconditional broadcast. The
    min(struct(-cnt, value)) argmax keeps ties exact-integer instead of
    float-score.
    """
    from .curation import BROADCAST_COMPONENT_LIMIT

    limit = (
        BROADCAST_COMPONENT_LIMIT
        if broadcast_component_limit is None
        else broadcast_component_limit
    )
    amap = assignment.select(
        F.col("node_id").alias(id_col),
        F.col("component_id").alias("entity_id"),
    )
    if assignment.count() <= limit:
        amap = F.broadcast(amap)
    members = records.join(amap, id_col, "left").withColumn(
        "entity_id", F.coalesce("entity_id", F.col(id_col))
    )

    melted = members.select(
        "entity_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("attr"),
                        F.col(a).cast("string").alias("val"),
                    )
                    for a in attr_cols
                ]
            )
        ).alias("kv"),
    ).select("entity_id", "kv.attr", "kv.val")
    counts = melted.groupBy("entity_id", "attr", "val").agg(
        F.count(F.lit(1)).alias("_c")
    )
    picked = counts.groupBy("entity_id", "attr").agg(
        F.min(F.struct((-F.col("_c")).alias("_nc"), F.col("val"))).alias("_m"),
        # every record contributes one row per attr, so the per-attr
        # count sum IS the member count (identical for every attr)
        F.sum("_c").alias("_n"),
    )
    return picked.groupBy("entity_id").agg(
        F.max("_n").alias("n_members"),
        *[
            F.max(F.when(F.col("attr") == a, F.col("_m.val"))).alias(
                f"canonical_{a}"
            )
            for a in attr_cols
        ],
    )
