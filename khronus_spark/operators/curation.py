"""End-to-end corpus curation: the flagship training-data pipeline.

Composes the pipeline a pre-training data team actually runs over raw
web-scale text — quality gate → near-dup clustering → canonical-doc
selection → deterministic content sampling → per-language accounting —
as ONE declarative Spark plan:

1. quality gate: ``text.quality_score`` ≥ threshold and a minimum token
   count (map-only column expressions);
2. dedup: near-dup clusters from large-star/small-star connected
   components over MinHash+LSH banded candidate pairs by default
   (``components.minhash_duplicate_components`` — edge generation is
   ~linear in corpus size); ``edge_gen="jaccard"`` routes to the
   candidate-bounded ``duplicate_components`` (same banded-LSH
   candidates, exact-Jaccard verification on candidates only — the
   round-1 length-blocked self-join was deleted in round 5, both
   generators are ~linear now). Only the cluster's min doc_id survives;
3. sampling: deterministic md5-keyed Bernoulli (reproducible across
   runs and engines; identical texts sample together);
4. accounting: per-language doc counts, token totals, integer mean
   quality, distinct sources.

Scale shape: steps 1 and 3 are map-only over the corpus; step 2's
component map only contains docs that appear in a duplicate pair — a
tiny fraction of the corpus — so the canonical filter is a BROADCAST
left join (no corpus shuffle); step 4 is one map-side-combinable
groupBy on a low-cardinality key. Net: the 100 TB table is shuffled
exactly once (the final tiny aggregation), everything heavy is
scan+filter or the banded LSH equi-join (shuffle ∝ docs × bands).

All ratios/means are integer basis points (cross-engine bit-stable; see
``operators/text.py`` docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from khronus_spark.operators.components import (
    duplicate_components,
    minhash_components_ctes,
    minhash_duplicate_components,
)
from khronus_spark.operators.text import (
    QUALITY_SCORE_SQL,
    quality_score,
    with_gopher_keep,
    with_quality,
)
from khronus_spark.operators.text import _tokens as _mix_tokens
from khronus_spark.sources.tables import spread

#: defaults for the registry entry — chosen so each stage visibly drops
#: docs at sf0.01 (quality ~ keeps most, dedup drops ~180, sample ~20%).
QUALITY_MIN_BP = 5000
MIN_TOKENS = 10
SAMPLE_PCT = 80
JACCARD_THRESHOLD_BP = 3000

#: Max duplicate-component map rows eligible for an explicit broadcast in
#: `curated_docs`. (doc_id, component_id) is 16 bytes/row, so 10M rows is
#: ~160 MB — comfortably inside executor/driver broadcast budgets. At
#: web-crawl dup rates the map is a large fraction of the corpus
#: (billions of rows at 100 TB): broadcasting it would OOM the driver,
#: so past the threshold the hint is dropped and the join shuffles on
#: doc_id (AQE may still pick broadcast if runtime stats allow).
BROADCAST_COMPONENT_LIMIT = 10_000_000


def curated_docs(
    docs: DataFrame,
    quality_min_bp: int = QUALITY_MIN_BP,
    min_tokens: int = MIN_TOKENS,
    sample_pct: int = SAMPLE_PCT,
    jaccard_threshold_bp: int = JACCARD_THRESHOLD_BP,
    edge_gen: str = "minhash",
    broadcast_component_limit: int = BROADCAST_COMPONENT_LIMIT,
) -> DataFrame:
    """The surviving documents with their quality metrics attached.

    ``edge_gen`` picks the duplicate-candidate generator: "minhash"
    (default — the unverified banded-LSH collision graph), "jaccard"
    (the same banded-LSH candidates with exact-Jaccard verification,
    ``components.duplicate_components`` — both ~linear), or a
    callable docs → (doc_id, component_id) DataFrame.

    The component map joins back onto the corpus broadcast only while it
    fits ``broadcast_component_limit`` rows (the count is cheap: the CC
    loop ends localCheckpointed); beyond that the canonical-keep filter
    becomes a shuffle join on doc_id — dup-heavy corpora must not ride
    a driver-side broadcast.
    """
    if callable(edge_gen):
        comps = edge_gen(docs)
    elif edge_gen == "minhash":
        comps = minhash_duplicate_components(docs)
    elif edge_gen == "jaccard":
        comps = duplicate_components(docs, jaccard_threshold_bp)
    else:
        raise ValueError(f"unknown edge_gen {edge_gen!r}")
    # lazy checkpoint for EVERY branch: the size-guard count below
    # materializes it in its own job, and the canonical-keep join then
    # replays the cached map instead of re-deriving the star-forest
    # projection (the built-in generators checkpoint only their CC
    # fixpoint EDGES — the members∪roots projection on top was being
    # computed once for the count and again for the join)
    comps = comps.localCheckpoint(eager=False)
    if comps.count() <= broadcast_component_limit:
        comps = F.broadcast(comps)
    sample_threshold = (1 << 32) * sample_pct // 100
    sample_key = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
    # quality attaches as map-side columns (text.with_quality) — joining
    # quality_score(docs) back on doc_id would be a full-corpus
    # sort-merge self-join once the derived side outgrows broadcast
    return (
        with_quality(docs)
        .where(
            (F.col("quality_bp") >= quality_min_bp)
            & (F.col("n_tokens") >= min_tokens)
        )
        .join(comps, "doc_id", "left")
        .where(
            F.col("component_id").isNull()
            | (F.col("doc_id") == F.col("component_id"))
        )
        .where(sample_key < sample_threshold)
    )


def curation_stats(docs: DataFrame, **kwargs) -> DataFrame:
    """Per-language accounting of the curated corpus."""
    kept = curated_docs(docs, **kwargs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.expr("sum(quality_bp) div count(1)").alias("avg_quality_bp"),
        F.countDistinct("source").alias("n_sources"),
    )


_SAMPLE_THRESHOLD = (1 << 32) * SAMPLE_PCT // 100


#: WITH-chain ending in the `kept` CTE (the curated doc set) — matches
#: curated_docs(edge_gen="minhash"), the default
CURATION_KEPT_PREFIX = rf"""
WITH RECURSIVE {minhash_components_ctes()},
comp AS (
  SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src
),
q AS ({QUALITY_SCORE_SQL}),
kept AS (
  SELECT d.doc_id, d.lang, d.source, q.n_tokens, q.quality_bp
  FROM documents d
  JOIN q USING (doc_id)
  LEFT JOIN comp USING (doc_id)
  WHERE q.quality_bp >= {QUALITY_MIN_BP}
    AND q.n_tokens >= {MIN_TOKENS}
    AND (comp.component_id IS NULL OR comp.component_id = d.doc_id)
    AND CAST(('0x' || substr(md5(d.text), 1, 8))::UINTEGER AS BIGINT) < {_SAMPLE_THRESHOLD}
)"""

CURATION_STATS_SQL = (
    CURATION_KEPT_PREFIX
    + """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(quality_bp) // count(*) AS BIGINT) AS avg_quality_bp,
       count(DISTINCT source) AS n_sources
FROM kept
GROUP BY lang
"""
)

TRAINING_BATCH_SQL = (
    CURATION_KEPT_PREFIX
    + """
SELECT k.doc_id, k.lang, k.quality_bp,
       len(e.embedding) AS n_dims,
       round(list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), 6) AS norm2_r6
FROM kept k JOIN embeddings e ON e.vec_id = k.doc_id
"""
)


def training_batch(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Training-batch assembly: the curated corpus joined to its
    embedding vectors with per-example features attached — the handoff
    point from data curation to model training. The join keys both
    sides by doc id (at 100 TB: two co-partitionable scans — bucket
    both tables by id at write time and this is exchange-free, see
    tests/test_bucketed_join.py)."""
    kept = curated_docs(docs).select("doc_id", "lang", "quality_bp")
    emb = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding")
    norm2 = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    return kept.join(emb, "doc_id").select(
        "doc_id",
        "lang",
        "quality_bp",
        F.size("embedding").alias("n_dims"),
        F.round(norm2, 6).alias("norm2_r6"),
    )


def reservoir_sample_per_lang(docs: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic fixed-size-per-stratum sample: the k docs per
    language with the smallest md5(text) — a reproducible stand-in for
    per-stratum reservoir sampling (uniform given the hash, stable
    across runs/partitionings; identical texts rank adjacently).
    One shuffle on the stratum key; the window sort is per-stratum.
    At scale, replace row_number over huge strata with a two-phase
    per-partition top-k + merge — Spark's window with a k-filter
    already executes as a partial top-k under the hood."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "lang", F.col("rk").alias("rank_in_lang"))
    )


def reservoir_sample_per_lang_sql(k: int = 10) -> str:
    return f"""
SELECT doc_id, lang,
       row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rank_in_lang
FROM documents
QUALIFY rank_in_lang <= {k}
"""


#: per-language keep rates (percent) for corpus rebalancing: downsample
#: the over-represented language, keep the rest.
STRATA_RATES = {"en": 25}
DEFAULT_RATE = 75


def stratified_sample_by_lang(docs: DataFrame) -> DataFrame:
    """Hash-keyed Bernoulli sampling with a per-stratum rate (corpus
    rebalancing: downsample dominant languages). Map-only over the
    corpus + one tiny groupBy on lang for the accounting output
    (lang, n_total, n_kept)."""
    rate = F.lit(DEFAULT_RATE)
    for lang, pct in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    key = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
    kept = key * 100 < rate.cast("long") * (1 << 32)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept.cast("long")).alias("n_kept"),
    )


def stratified_sample_by_lang_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in STRATA_RATES.items()
    )
    return f"""
WITH flagged AS (
  SELECT lang,
         CASE WHEN CAST(('0x' || substr(md5(text), 1, 8))::UINTEGER AS BIGINT) * 100
                   < (CASE {cases} ELSE {DEFAULT_RATE} END) * {1 << 32}::BIGINT
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept
FROM flagged
GROUP BY lang
"""


def domain_mixture(docs: DataFrame) -> DataFrame:
    """Temperature-sampled domain (language) mixture for a training mix:
    each language's sampling weight is sqrt of its token count (the
    alpha=0.5 temperature that upweights low-resource domains), with
    both the natural and the tempered shares reported in basis points,
    plus the resulting per-domain boost (x100).

    sqrt is the one power IEEE 754 requires correctly rounded, so
    floor(sqrt(bigint)) is bit-identical on Spark and DuckDB — unlike
    pow(x, alpha), which depends on libm. That makes the tempered mix
    oracle-checkable end-to-end in integer space.

    Shape at 100 TB: one map-side-combinable groupBy(lang) shrinks the
    corpus to a handful of rows; the share normalization is a broadcast
    of the 1-row total over those.
    """
    per_lang = spread(docs).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_mix_tokens())).alias("n_tokens"),
    ).select(
        "lang",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.sqrt(F.col("n_tokens"))).cast("long").alias("w_sqrt"),
    )
    totals = per_lang.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w_sqrt").alias("tot_w")
    )
    return (
        per_lang.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 10000L div tot_tokens").alias("natural_bp"),
            F.expr("w_sqrt * 10000L div tot_w").alias("tempered_bp"),
            F.expr(
                "(w_sqrt * 10000L div tot_w) * 100 div (n_tokens * 10000L div tot_tokens)"
            ).alias("boost_x100"),
        )
    )


DOMAIN_MIXTURE_SQL = r"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents
  GROUP BY lang
),
w AS (
  SELECT lang, n_docs, n_tokens,
         CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt
  FROM per_lang
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(sum(w_sqrt) AS BIGINT) AS tot_w
  FROM w
)
SELECT lang, n_docs, n_tokens,
       CAST(n_tokens * 10000 // tot_tokens AS BIGINT) AS natural_bp,
       CAST(w_sqrt * 10000 // tot_w AS BIGINT) AS tempered_bp,
       CAST((w_sqrt * 10000 // tot_w) * 100 // (n_tokens * 10000 // tot_tokens)
            AS BIGINT) AS boost_x100
FROM w CROSS JOIN tot
"""


def corpus_prep(
    docs: DataFrame,
    eval_mod: int = 11,
    quality_min_bp: int = 3000,
    contamination_max_bp: int = 5000,
    budget: int = 512,
) -> DataFrame:
    """End-to-end training-corpus preparation accounting — the composed
    pipeline a data team runs before tokenization:

      1. quality gate   (quality_bp >= quality_min_bp)
      2. decontaminate  (n-gram overlap with the eval split below
                         contamination_max_bp; eval docs excluded)
      3. exact dedup    (canonical keep: min doc_id per md5(text))
      4. accounting     per language: kept docs/tokens, tokens dropped
                        by each gate, and the packed-sequence count at
                        `budget` tokens.

    Output: (lang, n_docs_kept, n_tokens_kept, n_docs_quality_drop,
    n_docs_contaminated_drop, n_docs_dup_drop, n_packs).

    Shape at 100 TB: quality is map-only; decontamination is a
    broadcast join + one per-doc shuffle; the dedup canonical pick is
    one window keyed md5(text) (skew-free: identical texts share a
    hash, and pathological mega-groups are exactly the dup clusters
    the gate removes); the final accounting collapses to one row per
    language. No corpus self-join anywhere.
    """
    from khronus_spark.operators.dedup import decontamination
    from pyspark.sql import Window

    base = spread(docs).where(F.col("doc_id") % eval_mod != 0)
    d = decontamination(docs, eval_mod).select("doc_id", "contamination_bp")
    w = Window.partitionBy(F.md5(F.col("text")))
    # quality is a map-side projection (text.with_quality), not a join;
    # the contamination join stays — its per-doc score is an aggregate
    flagged = (
        with_quality(base)
        .join(d, "doc_id")
        .withColumn("keep_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("quality_bp") < quality_min_bp).alias("q_drop"),
            (F.col("contamination_bp") >= contamination_max_bp).alias("c_drop"),
            (F.col("doc_id") != F.col("keep_id")).alias("dup_drop"),
        )
    )
    kept = ~F.col("q_drop") & ~F.col("c_drop") & ~F.col("dup_drop")
    return flagged.groupBy("lang").agg(
        F.sum(kept.cast("long")).alias("n_docs_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("n_tokens_kept"),
        F.sum(F.col("q_drop").cast("long")).alias("n_docs_quality_drop"),
        F.sum((~F.col("q_drop") & F.col("c_drop")).cast("long")).alias(
            "n_docs_contaminated_drop"
        ),
        F.sum(
            (~F.col("q_drop") & ~F.col("c_drop") & F.col("dup_drop")).cast("long")
        ).alias("n_docs_dup_drop"),
        F.expr(
            f"CAST((sum(CASE WHEN q_drop OR c_drop OR dup_drop THEN 0 "
            f"ELSE n_tokens END) + {budget} - 1) div {budget} AS BIGINT)"
        ).alias("n_packs"),
    )


def corpus_prep_sql(
    eval_mod: int = 11,
    quality_min_bp: int = 3000,
    contamination_max_bp: int = 5000,
    budget: int = 512,
) -> str:
    from khronus_spark.operators.dedup import decontamination_sql
    from khronus_spark.operators.text import QUALITY_SCORE_SQL

    return rf"""
WITH q AS (SELECT doc_id, quality_bp FROM ({QUALITY_SCORE_SQL}) qq),
d AS (SELECT doc_id, contamination_bp FROM ({decontamination_sql(eval_mod)}) dd),
flagged AS (
  SELECT b.doc_id, b.lang,
         CAST(len(regexp_split_to_array(trim(lower(b.text)), '\s+')) AS BIGINT)
           AS n_tokens,
         q.quality_bp < {quality_min_bp} AS q_drop,
         d.contamination_bp >= {contamination_max_bp} AS c_drop,
         b.doc_id <> min(b.doc_id) OVER (PARTITION BY md5(b.text)) AS dup_drop
  FROM documents b JOIN q USING (doc_id) JOIN d USING (doc_id)
  WHERE b.doc_id % {eval_mod} <> 0
)
SELECT lang,
       CAST(sum(CASE WHEN NOT (q_drop OR c_drop OR dup_drop) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(CASE WHEN NOT (q_drop OR c_drop OR dup_drop) THEN n_tokens ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       CAST(sum(CASE WHEN q_drop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_quality_drop,
       CAST(sum(CASE WHEN NOT q_drop AND c_drop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_contaminated_drop,
       CAST(sum(CASE WHEN NOT q_drop AND NOT c_drop AND dup_drop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_dup_drop,
       CAST((sum(CASE WHEN q_drop OR c_drop OR dup_drop THEN 0 ELSE n_tokens END)
             + {budget} - 1) // {budget} AS BIGINT) AS n_packs
FROM flagged
GROUP BY lang
"""


def curriculum_shards(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Deterministic training-shard plan with quality curriculum: each
    document hashes to a shard (md5 of doc_id — stable across runs,
    engines, and partitionings), and within its shard is ranked
    best-quality-first with a running token total, so a trainer can cut
    any per-shard token budget at a rank boundary.

    Scale shape: the hash is map-only; the ranking is ONE shuffle on
    the shard key followed by a per-shard sort bounded by shard size
    (N / n_shards). `n_shards` is the parallelism dial — a 100 TB run
    uses thousands of shards, so no single sorted partition exceeds
    executor memory; 8 here keeps the oracle's window tractable."""
    from pyspark.sql import Window

    q = quality_score(docs).select("doc_id", "n_tokens", "quality_bp")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % n_shards
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("quality_bp").desc(), F.col("doc_id").asc())
    )
    return (
        q.withColumn("shard", shard)
        .withColumn("curriculum_rank", F.row_number().over(w))
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select(
            "doc_id", "shard", "quality_bp", "curriculum_rank", "cum_tokens"
        )
    )


def curriculum_shards_sql(n_shards: int = 8) -> str:
    return f"""
WITH q AS ({QUALITY_SCORE_SQL}),
s AS (
  SELECT doc_id, n_tokens, quality_bp,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UINTEGER
              AS BIGINT) % {n_shards} AS shard
  FROM q
)
SELECT doc_id, shard, quality_bp,
       row_number() OVER (PARTITION BY shard
                          ORDER BY quality_bp DESC, doc_id ASC)
         AS curriculum_rank,
       CAST(sum(n_tokens) OVER (PARTITION BY shard
                                ORDER BY quality_bp DESC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens
FROM s
"""


def source_cap_sample(docs: DataFrame, cap_bp: int = 2000) -> DataFrame:
    """Domain-domination control: no source may exceed `cap_bp` basis
    points of the corpus. Each source keeps at most
    floor(total · cap_bp / 10000) documents, chosen deterministically by
    md5(text) order (stable across runs, engines, and partitionings —
    and identical texts keep/drop together). Returns per-source
    accounting: (source, n_docs, n_kept, capped).

    Scale shape: the corpus total is a 1-row broadcast; ranking is one
    shuffle on the source key with the per-source sort bounded by that
    source's size — exactly the skew the cap then removes. The final
    accounting is a map-side-combinable groupBy on the low-cardinality
    source key."""
    from pyspark.sql import Window

    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    ranked = (
        docs.select("doc_id", "source", "text")
        .crossJoin(F.broadcast(total))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("budget", F.expr(f"n_total * {cap_bp} div 10000"))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("CAST(rk <= budget AS LONG)")).alias("n_kept"),
        )
        .withColumn("capped", F.expr("n_kept < n_docs"))
    )


def source_cap_sample_sql(cap_bp: int = 2000) -> str:
    return f"""
WITH t AS (SELECT count(*) AS n_total FROM documents),
r AS (
  SELECT doc_id, source, n_total,
         row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id)
           AS rk,
         n_total * {cap_bp} // 10000 AS budget
  FROM documents, t
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CAST(rk <= budget AS BIGINT)) AS BIGINT) AS n_kept,
       sum(CAST(rk <= budget AS BIGINT)) < count(*) AS capped
FROM r GROUP BY source
"""


def leakage_safe_split(
    docs: DataFrame, test_pct: int = 10, val_pct: int = 10
) -> DataFrame:
    """Train/validation/test split with NO near-duplicate leakage: the
    split is decided per CONNECTED COMPONENT of the MinHash near-dup
    graph, not per document, so a test document can never have a
    near-duplicate sitting in train (the classic contamination path a
    per-doc random split leaves open — Lee et al. 2022 measure the
    resulting eval inflation). Documents outside any dup component are
    their own singleton component. Assignment hashes the component id
    through the repo's md5-60-bit family into percent buckets —
    deterministic, reproducible, and independent of both row order and
    partitioning. Output: (doc_id, component_id, bucket, split).

    Shape at 100 TB: the component map covers only near-dup members
    (typically a few % of a web corpus); the corpus joins it once on
    doc_id (equi-join, AQE-broadcastable when small) and everything
    else is map-side column algebra. The split fractions apply at
    component granularity; mega-components skew realized fractions by
    design — leakage-safety is the invariant, and the bucket column
    lets a caller audit the realized split sizes."""
    comp = minhash_duplicate_components(docs)
    # the CC loop ends checkpointed, so AQE sees no stats and falls
    # back to a sort-merge join — apply the same size-guarded explicit
    # broadcast as curated_docs (the count is a cheap checkpoint read)
    if comp.count() <= BROADCAST_COMPONENT_LIMIT:
        comp = F.broadcast(comp)
    out = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", F.col("doc_id")))
        .withColumn(
            "bucket",
            F.expr(
                "CAST(conv(substring(md5(CAST(component_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT) % 100"
            ),
        )
    )
    return out.withColumn(
        "split",
        F.when(F.col("bucket") < test_pct, F.lit("test"))
        .when(F.col("bucket") < test_pct + val_pct, F.lit("validation"))
        .otherwise(F.lit("train")),
    )


def leakage_safe_split_sql(test_pct: int = 10, val_pct: int = 10) -> str:
    return f"""
WITH RECURSIVE {minhash_components_ctes()},
comp AS (
  SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src
),
assigned AS (
  SELECT d.doc_id,
         coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
b AS (
  SELECT doc_id, component_id,
         (('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 15))::UBIGINT % 100)::BIGINT AS bucket
  FROM assigned
)
SELECT doc_id, component_id, bucket,
       CASE WHEN bucket < {test_pct} THEN 'test'
            WHEN bucket < {test_pct + val_pct} THEN 'validation'
            ELSE 'train' END AS split
FROM b
"""


def source_overlap_matrix(docs: DataFrame) -> DataFrame:
    """Cross-source duplication matrix — the curation diagnostic that
    decides which crawls/dumps to drop wholesale: for every unordered
    source pair, how many MinHash near-dup candidate pairs straddle it
    (diagonal = within-source duplication). A dump that is mostly dups
    OF ANOTHER dump shows up as an off-diagonal hotspot here long
    before per-doc dedup runs. Output: (source_a, source_b, n_pairs,
    n_docs_a) with source_a <= source_b.

    Shape at 100 TB: the pair graph is the already-linear banded-LSH
    candidate set; the two doc_id→source lookups are equi-joins against
    a (doc_id, source) projection — AQE broadcasts them when the doc
    map fits, else they shuffle on doc_id, never on the hot source key;
    the final matrix aggregate is map-side-combinable over at most
    |sources|² cells."""
    from khronus_spark.operators.dedup import minhash_md5_pairs

    pairs = minhash_md5_pairs(docs)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("source", "src_a"), pairs.doc_a == src.doc_id)
        .drop("doc_id")
        .join(
            src.select(
                F.col("doc_id").alias("_did"), F.col("source").alias("src_b")
            ),
            F.col("doc_b") == F.col("_did"),
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
    )
    counts = labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    sizes = docs.groupBy(F.col("source").alias("source_a")).agg(
        F.count(F.lit(1)).alias("n_docs_a")
    )
    return counts.join(sizes, "source_a")


def source_overlap_matrix_sql() -> str:
    from khronus_spark.operators.dedup import minhash_md5_pairs_sql

    base = minhash_md5_pairs_sql().strip()
    assert base.startswith("WITH ")
    head, final = base.split("SELECT a.doc_id AS doc_a", 1)
    ctes = head[len("WITH"):].strip().rstrip(",")
    return f"""
WITH {ctes},
mh AS (SELECT a.doc_id AS doc_a{final}),
labeled AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM mh
  JOIN documents da ON mh.doc_a = da.doc_id
  JOIN documents db ON mh.doc_b = db.doc_id
),
counts AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
  FROM labeled GROUP BY source_a, source_b
),
sizes AS (
  SELECT source AS source_a, CAST(count(*) AS BIGINT) AS n_docs_a
  FROM documents GROUP BY source
)
SELECT source_a, source_b, n_pairs, n_docs_a
FROM counts JOIN sizes USING (source_a)
"""


def source_health_report(docs: DataFrame, top_v: int = 12) -> DataFrame:
    """The per-dump health dashboard a curation team reads before
    admitting a source: (source, n_docs, gopher_keep_pm,
    mean_quality_bp, exact_dup_pm, oov_pm) — rule-battery pass rate,
    mean heuristic quality, share of byte-exact duplicates (against the
    WHOLE corpus, so mirrored dumps light up), and OOV rate vs the
    corpus top-V vocabulary. Composes the existing per-doc signals; no
    new spec is introduced (the oracle embeds each signal's own checked
    SQL verbatim).

    Shape at 100 TB: every per-doc signal is map-only (gopher, quality,
    md5); the dup flag joins only the DUPLICATED hashes (long tail of
    unique texts never enters the join) and is salted like the gram
    joins; the final rollup is one map-side-combinable groupBy(source)
    plus a |sources|-row join with the OOV profile."""
    from khronus_spark.operators.text import vocab_oov_profile

    salt = 16
    oov = vocab_oov_profile(docs, top_v).select("source", "oov_pm")
    # every per-doc signal (md5, gopher keep, quality) is map-only, so
    # they ride ONE projection of the corpus — joining gopher_rules()
    # and quality_score() back on doc_id would cost two full-corpus
    # self-joins for columns a scan computes for free
    hashed = with_quality(with_gopher_keep(docs)).select(
        "doc_id", "source", "keep", "quality_bp", F.md5("text").alias("h")
    )
    dup_h = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select(
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt"),
        )
    )
    flags = (
        hashed.withColumn("_salt", (F.col("doc_id") % salt).cast("int"))
        .join(dup_h.withColumn("_hit", F.lit(1)), ["h", "_salt"], "left")
        .select(
            "doc_id",
            "source",
            "keep",
            "quality_bp",
            F.col("_hit").isNotNull().alias("is_dup"),
        )
    )
    per = (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("_keeps"),
            F.sum("quality_bp").alias("_qsum"),
            F.sum(F.col("is_dup").cast("long")).alias("_dups"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("_keeps * 1000L div n_docs").alias("gopher_keep_pm"),
            F.expr("_qsum div n_docs").alias("mean_quality_bp"),
            F.expr("_dups * 1000L div n_docs").alias("exact_dup_pm"),
        )
    )
    return per.join(oov, "source")


def source_health_report_sql(top_v: int = 12) -> str:
    """Embeds the gopher, quality, and OOV oracles VERBATIM as
    subqueries — the composition introduces no parallel spec."""
    from khronus_spark.operators.text import (
        GOPHER_RULES_SQL,
        vocab_oov_profile_sql,
    )

    return f"""
WITH g AS (SELECT doc_id, keep FROM ({GOPHER_RULES_SQL}) _g),
q AS (SELECT doc_id, quality_bp FROM ({QUALITY_SCORE_SQL}) _q),
oov AS (SELECT source, oov_pm FROM ({vocab_oov_profile_sql(top_v)}) _o),
hashed AS (SELECT doc_id, source, md5(text) AS h FROM documents),
dup_h AS (SELECT h FROM hashed GROUP BY h HAVING count(*) > 1),
flags AS (
  SELECT hashed.doc_id, hashed.source, dup_h.h IS NOT NULL AS is_dup
  FROM hashed LEFT JOIN dup_h USING (h)
),
per AS (
  SELECT f.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
           AS gopher_keep_pm,
         CAST(sum(q.quality_bp) // count(*) AS BIGINT) AS mean_quality_bp,
         CAST(sum(CASE WHEN f.is_dup THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
           AS exact_dup_pm
  FROM flags f JOIN g ON g.doc_id = f.doc_id JOIN q ON q.doc_id = f.doc_id
  GROUP BY f.source
)
SELECT per.source, per.n_docs, per.gopher_keep_pm, per.mean_quality_bp,
       per.exact_dup_pm, oov.oov_pm
FROM per JOIN oov USING (source)
"""


def canonical_by_quality(docs: DataFrame) -> DataFrame:
    """Keep the BEST document per near-dup cluster instead of the
    smallest id — the canonical-selection policy production pipelines
    actually want (the first-crawled copy of a page is often the
    worst-extracted one). Representative = highest `quality_bp`, then
    most tokens, then smallest doc_id (fully deterministic); survivors
    = every unclustered doc + one representative per cluster. Output
    (doc_id, lang, source, n_tokens, quality_bp).

    Scale shape: clusters come from the banded-LSH component map (tiny
    vs the corpus → broadcast); quality
    is a map-only column pass; the per-cluster argmax is a window over
    the CLUSTERED subset only (docs in some duplicate pair), never the
    full corpus."""
    from pyspark.sql import Window

    comps = minhash_duplicate_components(docs)
    # quality attaches map-side (text.with_quality); only the TINY
    # component/representative maps ever sit on a join's build side —
    # the corpus is scanned, never shuffled
    dq = with_quality(docs).select(
        "doc_id", "lang", "source", "n_tokens", "quality_bp"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality_bp").desc(), F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    reps = (
        dq.join(F.broadcast(comps), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.lit(1).alias("_rep"))
    )
    return (
        dq.join(F.broadcast(comps), "doc_id", "left")
        .join(F.broadcast(reps), "doc_id", "left")
        .where(F.col("component_id").isNull() | F.col("_rep").isNotNull())
        .select("doc_id", "lang", "source", "n_tokens", "quality_bp")
    )


CANONICAL_BY_QUALITY_SQL = f"""
WITH RECURSIVE {minhash_components_ctes()},
comp AS (SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src),
q AS ({QUALITY_SCORE_SQL}),
reps AS (
  SELECT doc_id FROM (
    SELECT c.doc_id,
           row_number() OVER (PARTITION BY c.component_id
             ORDER BY q.quality_bp DESC, q.n_tokens DESC, c.doc_id ASC) AS rn
    FROM comp c JOIN q ON q.doc_id = c.doc_id
  ) WHERE rn = 1
)
SELECT d.doc_id, d.lang, d.source, q.n_tokens, q.quality_bp
FROM documents d
JOIN q ON q.doc_id = d.doc_id
LEFT JOIN comp ON comp.doc_id = d.doc_id
LEFT JOIN reps r ON r.doc_id = d.doc_id
WHERE comp.component_id IS NULL OR r.doc_id IS NOT NULL
"""


def token_budget_sample(docs: DataFrame, budget_tokens: int = 2000) -> DataFrame:
    """Token-budget-capped corpus sampling: within each source, order
    documents by md5(text) (content-keyed — reproducible across runs,
    engines, and partitionings; identical texts order together) and
    keep documents while the RUNNING TOKEN TOTAL stays within
    `budget_tokens` — the mixture-building primitive when the budget
    is tokens (what the trainer consumes), not document counts
    (`source_cap_sample`'s unit). Output (doc_id, source, n_tokens,
    cum_tokens) for the kept docs.

    Scale shape: one map pass for (key, n_tokens), one shuffle on
    source for the running-sum window. A source's partition holds only
    ITS docs; for a corpus dominated by one giant source, pre-filter
    with `content_hash_sample` to a superset of the budget first so
    the window never sorts the whole dump."""
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("_key"),
        F.size(_mix_tokens()).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("_key").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def token_budget_sample_sql(budget_tokens: int = 2000) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, source, md5(text) AS k,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY k ASC, doc_id ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {budget_tokens}
"""


def length_bucketed_batches(
    docs: DataFrame, batch_tokens: int = 512, shards: int = 4
) -> DataFrame:
    """Length-bucketed batch assembly — the dynamic-batching prep for
    training/inference: documents group into batches of ~equal token
    LENGTH CLASS (so per-batch padding waste is bounded by the class
    width) and ~`batch_tokens` total size. Deterministic and
    scale-safe by construction:

    - length class = bitlen(n_tokens) (log2 buckets — MAP-ONLY, no
      global ntile, which would funnel the corpus through one
      partition for a global sort);
    - within (class, shard) — shard = md5(text) mod `shards`, the
      parallelism knob — docs order by content key and fill greedily:
      batch_id = running-token-offset div batch_tokens. One shuffle,
      keyed (class, shard), each partition sorting only its slice.

    Output (doc_id, len_bucket, shard, batch_id, n_tokens); a batch =
    one (len_bucket, shard, batch_id) group. A doc longer than
    `batch_tokens` becomes its own (possibly oversized) batch — the
    caller's truncation policy, not silently dropped."""
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        F.md5("text").alias("_key"),
        F.size(_mix_tokens()).cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("CAST(length(bin(n_tokens)) AS BIGINT)").alias("len_bucket"),
        F.expr(f"CAST(conv(substring(_key, 1, 8), 16, 10) % {shards} AS BIGINT)").alias(
            "shard"
        ),
        "_key",
    )
    w = (
        Window.partitionBy("len_bucket", "shard")
        .orderBy(F.col("_key").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "len_bucket",
            "shard",
            F.expr(f"(_cum - n_tokens) div {batch_tokens}").alias("batch_id"),
            "n_tokens",
        )
    )


def length_bucketed_batches_sql(batch_tokens: int = 512, shards: int = 4) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id,
         md5(text) AS k,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         CAST(length(bin(n_tokens)) AS BIGINT) AS len_bucket,
         CAST(('0x' || substr(k, 1, 8))::UINTEGER % {shards} AS BIGINT) AS shard,
         k
  FROM t
),
c AS (
  SELECT doc_id, len_bucket, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY len_bucket, shard
              ORDER BY k ASC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM b
)
SELECT doc_id, len_bucket, shard,
       CAST((cum - n_tokens) // {batch_tokens} AS BIGINT) AS batch_id,
       n_tokens
FROM c
"""


def mixture_realization_audit(docs: DataFrame) -> DataFrame:
    """Close the mixture loop: `domain_mixture` prescribes tempered
    target shares; this operator REALIZES them by deterministic
    per-language downsampling and audits what actually materialized —
    per language (lang, n_tokens, tempered_bp, keep_rate_bp,
    kept_tokens, realized_bp, dev_bp):

    - keep rate ∝ target/natural share ratio, normalized so the most
      upweighted language keeps everything (rates in basis points —
      head domains downsample, tail domains survive whole);
    - per-doc keep decision is md5-keyed (content-keyed: reproducible
      across runs/engines/partitionings, duplicates decide together —
      the `content_hash_sample` device) against the language's rate;
    - `realized_bp` is the kept-token share, `dev_bp` its signed gap
      to the tempered target — the number a mixture dashboard alarms
      on (sampling noise shrinks as corpora grow; a persistent gap
      means the rate rule or the corpus changed).

    Shape at 100 TB: the mixture/rates are a |langs|-row broadcast;
    the keep decision is a map-only scan; the audit is one
    map-side-combinable groupBy(lang)."""
    # the mixture table is ≤|langs| rows but its lineage is a corpus
    # aggregate — checkpoint it (and `kept` below) so the four
    # downstream consumers reuse the tiny frames instead of re-running
    # the corpus scans (unshared, this entry's plan read documents 14
    # times)
    mix = domain_mixture(docs).localCheckpoint(eager=False)
    ratio = mix.select(
        "lang",
        "n_tokens",
        "tempered_bp",
        F.expr("tempered_bp * 10000L div natural_bp").alias("_r"),
    )
    mx = ratio.agg(F.max("_r").alias("_rmax"))
    rates = ratio.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n_tokens",
        "tempered_bp",
        F.expr("_r * 10000L div _rmax").alias("keep_rate_bp"),
    )
    keyed = spread(docs).select(
        "lang",
        F.size(_mix_tokens()).cast("long").alias("_nt"),
        F.expr(
            "CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT) % 10000"
        ).alias("_key_bp"),
    )
    kept = (
        keyed.join(F.broadcast(rates.select("lang", "keep_rate_bp")), "lang")
        .where(F.col("_key_bp") < F.col("keep_rate_bp"))
        .groupBy("lang")
        .agg(F.sum("_nt").alias("kept_tokens"))
        .localCheckpoint(eager=False)
    )
    tot = kept.agg(F.sum("kept_tokens").alias("_tot"))
    return (
        rates.join(kept, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            "tempered_bp",
            "keep_rate_bp",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
            F.expr(
                "coalesce(kept_tokens, 0L) * 10000L div _tot"
            ).alias("realized_bp"),
            F.expr(
                "coalesce(kept_tokens, 0L) * 10000L div _tot - tempered_bp"
            ).alias("dev_bp"),
        )
    )


MIXTURE_REALIZATION_SQL = r"""
WITH per_lang AS (
  SELECT lang,
         CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_tokens,
         CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt
  FROM per_lang
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt, CAST(sum(w_sqrt) AS BIGINT) AS tw FROM w),
mix AS (
  SELECT w.lang, w.n_tokens,
         w.n_tokens * 10000 // tot.tt AS natural_bp,
         w.w_sqrt * 10000 // tot.tw AS tempered_bp
  FROM w CROSS JOIN tot
),
ratio AS (
  SELECT lang, n_tokens, tempered_bp,
         tempered_bp * 10000 // natural_bp AS r
  FROM mix
),
rmax AS (SELECT max(r) AS rm FROM ratio),
rates AS (
  SELECT lang, n_tokens, CAST(tempered_bp AS BIGINT) AS tempered_bp,
         CAST(r * 10000 // rmax.rm AS BIGINT) AS keep_rate_bp
  FROM ratio CROSS JOIN rmax
),
keyed AS (
  SELECT lang,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS nt,
         CAST(('0x' || substr(md5(text), 1, 8))::UINTEGER AS BIGINT) % 10000 AS key_bp
  FROM documents
),
kept AS (
  SELECT k.lang, CAST(sum(k.nt) AS BIGINT) AS kept_tokens
  FROM keyed k JOIN rates r ON r.lang = k.lang
  WHERE k.key_bp < r.keep_rate_bp
  GROUP BY k.lang
),
ktot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS kt FROM kept)
SELECT r.lang, r.n_tokens, r.tempered_bp, r.keep_rate_bp,
       COALESCE(k.kept_tokens, 0) AS kept_tokens,
       CAST(COALESCE(k.kept_tokens, 0) * 10000 // ktot.kt AS BIGINT) AS realized_bp,
       CAST(COALESCE(k.kept_tokens, 0) * 10000 // ktot.kt - r.tempered_bp AS BIGINT) AS dev_bp
FROM rates r
LEFT JOIN kept k ON k.lang = r.lang
CROSS JOIN ktot
"""


def dsir_importance_weights(
    docs: DataFrame,
    target_mod: int = 43,
    n_buckets: int = 256,
    shift: int = 20,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) in the repo's integer-exact discipline: score
    every raw-pool document by how much more likely its hashed n-gram
    features are under a small TARGET-domain sample than under the raw
    pool itself, so that resampling by the weight shifts the selected
    corpus toward the target distribution.

    - Features are the paper's hashed n-grams: unigrams ∪ bigrams,
      bucketed by the cross-engine 60-bit md5 prefix mod `n_buckets`.
    - Target sample = docs with ``doc_id % target_mod == 0`` (the
      held-out domain exemplar set); raw pool = every other doc.
    - Per-bucket log-likelihood ratio, floor-log2 integer ladder (the
      `unigram_surprisal` / BM25 device — bit-exact on both engines,
      where a libm log would differ in the last ulp):

          lr(b)  = bitlen(((c_t(b)+1) << shift) div (c_r(b)+1) + 1)
          norm   = bitlen(((S_t + B)  << shift) div (S_r + B)  + 1)
          lw(x)  = Σ_b c_x(b) · (lr(b) − norm)

      with add-one smoothing over the B-bucket feature space, so a
      bucket unseen in the target sample scores ≈ −log(S_t/S_r)
      relative mass rather than −∞. All BIGINT; the per-doc sum is
      order-free.
    - Selection is the temperature→0 limit of the paper's Gumbel
      top-k: deterministic top-k by (lw desc, doc_id) — reproducible
      across runs/engines/partitionings, which the Gumbel draw is not.

    Shape at 100 TB: the feature stream is a map-only explode run
    ONCE — the (doc, bucket) pre-aggregate is one map-side-combinable
    shuffle, checkpointed, and both the bucket ratio table (a tiny
    groupBy over it) and the per-doc probe read it back (the original
    tgt/raw/per-doc triple re-ran the tokenize+hash scan three
    times); the ratio table is ≤ `n_buckets` rows and BROADCASTS onto
    the per-doc counts; the S_t/S_r normalizer folds into that same
    tiny frame as a single-partition window over the AGGREGATED rows
    (a separate totals subtree would re-scan the corpus — Spark plans
    are trees). Nothing driver-side, no float anywhere in the plan."""
    feats_expr = (
        "concat(t, CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE array() END)"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("f")), 1, 15), 16, 10).cast("long")
        % n_buckets
    ).alias("b")
    # spread before the feature pass (r14): the tokenize + bigram
    # explode + per-feature md5 below is the operator's CPU and runs in
    # the SCAN stage, which a single-row-group input pins to one task;
    # the widen is corpus-text-sized locally and a guard-level no-op at
    # real scale. Measured ×0.73 wall at sf0.1; the pass still runs
    # once (the pre-aggregate below stays checkpointed).
    feat = (
        spread(docs).select("doc_id", _mix_tokens().alias("t"))
        .select("doc_id", F.explode(F.expr(feats_expr)).alias("f"))
        .select("doc_id", bucket)
    )
    # ONE tokenize+hash pass: the (doc, bucket) pre-aggregate is built
    # once and checkpointed, then BOTH the bucket ratio table and the
    # per-doc probe derive from it — the original tgt/raw/per_doc
    # triple made the feature subtree (scan + explode + md5) appear
    # three times in the physical plan (ReuseExchange declines to
    # dedupe it; same fix as bm25_rank's postings)
    pre = (
        feat.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c_x"))
        .localCheckpoint(eager=False)
    )
    is_tgt = f"doc_id % {target_mod} = 0"
    counts = pre.groupBy("b").agg(
        F.sum(F.expr(f"CASE WHEN {is_tgt} THEN c_x ELSE 0L END")).alias("c_t"),
        F.sum(F.expr(f"CASE WHEN {is_tgt} THEN 0L ELSE c_x END")).alias("c_r"),
    )
    from pyspark.sql import Window

    # norm is a window over the ALREADY-AGGREGATED ≤n_buckets-row frame
    # (a separate agg subtree would re-scan the corpus: Spark plans are
    # trees, a second consumer of the counts duplicates their whole
    # lineage). Single-partition window over ≤256 rows — free. The
    # frame keeps the original c_r-support semantics: only buckets with
    # raw mass enter the table and the normalizer sums.
    whole = Window.partitionBy(F.lit(1))
    buckets = (
        counts.where(F.col("c_r") > 0)
        .withColumn("s_t", F.sum("c_t").over(whole))
        .withColumn("s_r", F.sum("c_r").over(whole))
        .select(
            "b",
            F.expr(
                f"CAST(length(bin((c_t + 1L) * {1 << shift}L div (c_r + 1L)"
                " + 1L)) AS BIGINT) - "
                f"CAST(length(bin((s_t + {n_buckets}L) * {1 << shift}L div "
                f"(s_r + {n_buckets}L) + 1L)) AS BIGINT)"
            ).alias("lr_net"),
        )
    )
    per_doc = pre.where(F.expr(f"NOT ({is_tgt})"))
    return (
        per_doc.join(F.broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("c_x * lr_net")).alias("iw_score"))
    )


def dsir_topk(
    docs: DataFrame,
    k: int = 25,
    target_mod: int = 43,
    n_buckets: int = 256,
    shift: int = 20,
) -> DataFrame:
    """The DSIR selection face: top-k raw-pool docs by importance
    weight (deterministic tie-break on doc_id). The global top-k is a
    TakeOrderedAndProject (per-partition heads merged on the driver,
    never a full sort); the rank window runs over k rows."""
    from pyspark.sql import Window

    top = (
        dsir_importance_weights(docs, target_mod, n_buckets, shift)
        .orderBy(F.col("iw_score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("iw_score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "iw_score", F.row_number().over(w).cast("long").alias("rank")
    )


def dsir_topk_sql(
    k: int = 25, target_mod: int = 43, n_buckets: int = 256, shift: int = 20
) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(f), 1, 15))::UBIGINT % {n_buckets} AS BIGINT) AS b
  FROM (
    SELECT doc_id, unnest(t) AS f FROM toks
    UNION ALL
    SELECT doc_id, t[i] || ' ' || t[i + 1] AS f
    FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)
  )
),
c_r AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM feat
  WHERE doc_id % {target_mod} <> 0 GROUP BY b
),
c_t AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_t FROM feat
  WHERE doc_id % {target_mod} = 0 GROUP BY b
),
buckets AS (
  SELECT c_r.b, c_r.c_r, COALESCE(c_t.c_t, 0) AS c_t,
         CAST(length(bin((COALESCE(c_t.c_t, 0) + 1) * {1 << shift} // (c_r.c_r + 1) + 1))
              AS BIGINT) AS lr
  FROM c_r LEFT JOIN c_t ON c_t.b = c_r.b
),
norm AS (
  SELECT CAST(length(bin((sum(c_t) + {n_buckets}) * {1 << shift} //
                         (sum(c_r) + {n_buckets}) + 1)) AS BIGINT) AS norm
  FROM buckets
),
scored AS (
  SELECT f.doc_id, CAST(sum(f.c_x * (b.lr - n.norm)) AS BIGINT) AS iw_score
  FROM (
    SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c_x FROM feat
    WHERE doc_id % {target_mod} <> 0 GROUP BY doc_id, b
  ) f
  JOIN buckets b USING (b)
  CROSS JOIN norm n
  GROUP BY f.doc_id
)
SELECT doc_id, iw_score,
       CAST(row_number() OVER (ORDER BY iw_score DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
ORDER BY iw_score DESC, doc_id ASC
LIMIT {k}
"""


def corpus_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus VERSION diff — the release audit run between two builds
    of a training set: (doc_id, source, status) for every document
    whose membership or content changed, status ∈ {'added',
    'removed', 'changed'}. Unchanged documents (the overwhelming mass
    between adjacent versions of a 100 TB corpus) are dropped BEFORE
    anything downstream sees them, so the diff's output scales with
    the CHANGE set, not the corpus.

    Shape: one map-only md5 per side, one full-outer equi-join on the
    id (bucketable/co-partitionable on a real deployment — both sides
    of a versioned corpus share the doc-id layout), one filter. No
    window, no aggregate, no skew surface: content equality is hash
    equality, never a text comparison across the join."""
    o = old_docs.select(
        F.col(id_col),
        F.col("source").alias("_src_o"),
        F.md5(F.col(text_col)).alias("_h_o"),
    )
    n = new_docs.select(
        F.col(id_col),
        F.col("source").alias("_src_n"),
        F.md5(F.col(text_col)).alias("_h_n"),
    )
    j = o.join(n, id_col, "full_outer")
    return (
        j.select(
            id_col,
            F.coalesce("_src_n", "_src_o").alias("source"),
            F.expr(
                "CASE WHEN _h_o IS NULL THEN 'added' "
                "WHEN _h_n IS NULL THEN 'removed' "
                "WHEN _h_o <> _h_n THEN 'changed' END"
            ).alias("status"),
        )
        .where(F.col("status").isNotNull())
    )


def corpus_diff_sql(
    old_where: str, new_where: str, new_text: str = "text"
) -> str:
    """Oracle: the same two hashed projections and full-outer join,
    parameterized by the version carves (`old_where`/`new_where` over
    the documents table) and the new-version text expression (so an
    entry can synthesize content edits deterministically)."""
    return f"""
WITH old_v AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE {old_where}
),
new_v AS (
  SELECT doc_id, source, md5({new_text}) AS h FROM documents WHERE {new_where}
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       coalesce(n.source, o.source) AS source,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed' END AS status
FROM old_v o
FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id
WHERE (CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed' END) IS NOT NULL
"""


def leakage_safe_kfold(docs: DataFrame, k: int = 5) -> DataFrame:
    """K-fold cross-validation assignment with NO near-duplicate
    leakage — `leakage_safe_split`'s protocol generalized to the
    k-fold shape: the fold is decided per CONNECTED COMPONENT of the
    MinHash near-dup graph (singletons are their own component), so
    for EVERY fold-as-holdout rotation, no held-out document has a
    near-duplicate in its training folds. Assignment hashes the
    component id through the repo's md5-60-bit family mod k —
    deterministic, reproducible, independent of row order and
    partitioning, and CONSISTENT with nothing else (a fresh hash
    channel: folds are not nested inside the split entry's percent
    buckets, by design — k-fold is its own protocol).

    Output: (doc_id, component_id, fold) with fold in [0, k).
    Realized fold sizes skew with mega-components exactly as the
    split's do — leakage-safety is the invariant; callers audit sizes
    from the output. Same 100 TB shape as the split: one equi-join of
    the corpus against the component map, map-side algebra after."""
    if k < 2:
        raise ValueError("k must be >= 2")
    comp = minhash_duplicate_components(docs)
    if comp.count() <= BROADCAST_COMPONENT_LIMIT:
        comp = F.broadcast(comp)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn(
            "component_id", F.coalesce("component_id", F.col("doc_id"))
        )
        .withColumn(
            "fold",
            F.expr(
                "CAST(conv(substring(md5(concat('fold:', "
                f"CAST(component_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % {k}"
            ),
        )
    )


def leakage_safe_kfold_sql(k: int = 5) -> str:
    return f"""
WITH RECURSIVE {minhash_components_ctes()},
comp AS (
  SELECT src AS doc_id, min(dst) AS component_id FROM reach GROUP BY src
),
assigned AS (
  SELECT d.doc_id,
         coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component_id,
       (('0x' || substr(md5('fold:' || CAST(component_id AS VARCHAR)), 1, 15))::UBIGINT % {k})::BIGINT AS fold
FROM assigned
"""
