"""Deduplication operators for large-scale training-data pipelines.

All operators are declarative DataFrame plans (JVM-side expressions, no
Python row loops) designed for 100 TB inputs:

- exact dedup: md5 hash → groupBy — one shuffle on a short hash key.
- fingerprint dedup: md5 over the sorted distinct token set (bag-of-words
  normalization) — catches re-ordered/duplicated-word copies.
- n-gram Jaccard near-dup: candidates from the star-capped banded-LSH
  join, then exact token-set Jaccard on candidates only — the
  MinHash-then-verify recipe (the former char-length blocking was a
  super-linear self-join; removed in round 5).
- MinHash + LSH: shingle → 16 minhash values via xxhash64 with per-
  permutation seeds → 4 bands × 4 rows → candidates join on band bucket.
  Shuffles scale with #docs × #bands, never #docs².
- SimHash: 64-bit signed-bit aggregation of token hashes.
- md5 variants of both (minhash_md5_pairs, simhash_md5): identical
  algorithm over a 60-bit md5-prefix hash family that DuckDB reproduces
  bit-for-bit, so the full pipelines are oracle-checked; xxhash64 stays
  the fast production family.
- content_hash_sample: deterministic Bernoulli sampling keyed on the
  text's md5 — reproducible, duplicates sample together.

Spark tokenization: split on whitespace; tokens lowercased.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from khronus_spark.sources.tables import spread

#: sentinel partner for the incremental-dedup spine rows: larger than
#: any real doc id, so min(struct(partner, _s)) prefers every real
#: candidate and a doc whose best row is the sentinel is unique.
_NO_PARTNER = 1 << 62


def _tokens():
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts (hash-groupBy exact dedup)."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the sorted distinct token set."""
    return docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens())))).alias(
            "fingerprint"
        ),
    )


FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(lower(text)), '\s+'))), ' ')) AS fingerprint
FROM documents
"""


def near_duplicates_jaccard(
    docs: DataFrame,
    threshold_bp: int = 3000,
    num_hashes: int = 8,
    bands: int = 2,
    n: int = 3,
    star_cap: int = 10_000,
    keep_star: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard, CANDIDATE-BOUNDED: pairs come from the
    banded-MinHash LSH join (star-capped — never all-pairs), then only
    those candidates pay the exact intersection/union. Output: (doc_a,
    doc_b, jaccard_bp) with doc_a < doc_b; jaccard in integer basis
    points (cross-engine bit-stable).

    Until round 5 this blocked candidates on identical char length — a
    self-join whose common-length classes (short docs) grow toward
    B²/2 pairs per block, the one super-linear join graph in the repo.
    The LSH path is the `minhash_calibration` shape: map-only
    signatures, one (band, bucket) groupBy, candidate count linear in
    corpus size; recall follows the banding curve (near-identical docs
    collide in some band with probability → 1), measured — not guessed
    — by the `minhash_calibration` registry entry on the same family.
    A plan gate (tests/test_plan_quality.py) pins the absence of any
    n_chars-keyed self-join.

    Over-cap buckets (see `bucket_pairs.star_cap`) contribute only
    star edges to the bucket minimum, and with the default
    `keep_star=False` a star edge whose exact Jaccard falls below the
    threshold is DROPPED — two genuine near-dups b, c in a >star_cap
    bucket can lose their connecting edge if neither clears the
    threshold against the bucket minimum. That recall loss is the
    price of linear output on mega-buckets; pass `keep_star=True`
    (what `duplicate_components` does) to exempt star-only edges from
    the threshold so component connectivity survives verification —
    those rows still report their exact `jaccard_bp`, so callers can
    tell a verified pair from a connectivity-only star edge."""
    cand = bucket_pairs(
        minhash_md5_banded(docs, num_hashes, bands, n),
        count_col=None,
        star_cap=star_cap,
        star_col="_star" if keep_star else None,
    )
    toks = spread(docs).select(
        "doc_id", F.array_sort(F.array_distinct(_tokens())).alias("tokens")
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("_ta"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("_tb"))
    jaccard_bp = F.expr(
        "size(array_intersect(_ta, _tb)) * 10000L "
        "div size(array_union(_ta, _tb))"
    )
    scored = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard_bp", jaccard_bp)
    )
    passed = (
        F.col("jaccard_bp") >= threshold_bp
        if not keep_star
        else (F.col("jaccard_bp") >= threshold_bp) | F.col("_star")
    )
    return scored.where(passed).select("doc_a", "doc_b", "jaccard_bp")


def near_dup_jaccard_sql(
    threshold_bp: int = 3000, num_hashes: int = 8, bands: int = 2, n: int = 3
) -> str:
    """Oracle: the SAME candidate bound (md5 banded-LSH CTE chain,
    shared verbatim with minhash_md5_pairs_sql) + the exact token-set
    Jaccard on candidates only."""
    base = minhash_md5_pairs_sql(num_hashes, bands, n).strip()
    assert base.startswith("WITH ")
    head, final = base.split("SELECT a.doc_id AS doc_a", 1)
    ctes = head[len("WITH"):].strip().rstrip(",").rstrip()
    jac = (
        "(len(list_intersect(a.tokens, b.tokens)) * 10000)"
        " // len(list_distinct(list_concat(a.tokens, b.tokens)))"
    )
    return rf"""
WITH {ctes},
mh AS (SELECT a.doc_id AS doc_a{final}),
tk AS (
  SELECT doc_id,
         list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS tokens
  FROM documents
),
jp AS (
  SELECT mh.doc_a, mh.doc_b, {jac} AS jaccard_bp
  FROM mh
  JOIN tk a ON a.doc_id = mh.doc_a
  JOIN tk b ON b.doc_id = mh.doc_b
)
SELECT doc_a, doc_b, jaccard_bp FROM jp WHERE jaccard_bp >= {threshold_bp}
"""


def content_hash_sample(docs: DataFrame, percent: int = 25) -> DataFrame:
    """Deterministic Bernoulli sampling keyed on content: keep a doc iff
    the first 8 hex chars of md5(text) fall under `percent`% of the
    32-bit space. Reproducible across runs/engines, stable under
    re-partitioning, and correlated for identical texts — duplicates are
    sampled in or out together, which rate-based `sample()` cannot do.
    Map-only at any scale."""
    threshold = (1 << 32) * percent // 100
    keep = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
    return docs.where(keep < threshold).select("doc_id", "source", "n_chars")


def content_hash_sample_sql(percent: int = 25) -> str:
    threshold = (1 << 32) * percent // 100
    return f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE CAST(('0x' || substr(md5(text), 1, 8))::UINTEGER AS BIGINT) < {threshold}
"""


def shingle_array(n: int = 3):
    """Column expr: word n-gram shingles of the tokenized text (array)."""
    return F.expr(
        "CASE WHEN size(t) >= {n} THEN "
        "transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', slice(t, i + 1, {n}))) "
        "ELSE array(concat_ws(' ', t)) END".format(n=n)
    )


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, n: int = 3) -> DataFrame:
    """(doc_id, sig: array<long>) — minhash over word shingles; hash i is
    min over shingles of xxhash64(xxhash64(shingle), i).

    Computed **per row** with array expressions: each shingle STRING is
    hashed exactly once; the i-th family member derives from that 64-bit
    value (hashing a long, not re-walking the string), and all
    `num_hashes` minima fill in one fold (zip_with over the accumulator
    array). Zero shuffle, embarrassingly parallel — at 100 TB the whole
    signature stage is a map-only pass over the corpus. (Duplicate
    shingles need no dedup: min is idempotent.)"""
    toks = spread(docs).select("doc_id", _tokens().alias("t"))
    sh = toks.select("doc_id", shingle_array(n).alias("sh"))
    hs = sh.select("doc_id", F.expr("transform(sh, s -> xxhash64(s))").alias("hs"))
    sig = F.expr(
        f"aggregate(hs, "
        f"  array_repeat(9223372036854775807L, {num_hashes}), "
        f"  (acc, h) -> zip_with(acc, "
        f"      transform(sequence(0, {num_hashes - 1}), i -> xxhash64(h, i)), "
        f"      (a, b) -> least(a, b)))"
    )
    return hs.select("doc_id", sig.alias("sig"))


def bucket_pairs(
    banded: DataFrame,
    id_col: str = "doc_id",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    count_col: str | None = "n_shared_bands",
    star_cap: int = 10_000,
    star_col: str | None = None,
) -> DataFrame:
    """(id, band, bucket) rows → within-bucket candidate pairs (a < b),
    optionally counting how many bands each pair shares.

    Buckets larger than `star_cap` emit star edges to the bucket
    minimum instead of all pairs: component connectivity is preserved
    for downstream clustering while output stays linear in bucket size
    — a mega-bucket of B near-identical docs yields B-1 edges, not
    B²/2.

    RECALL CONTRACT for over-cap buckets: the "connectivity preserved"
    claim holds for the RAW pair graph. A downstream verifier that
    FILTERS pairs (e.g. exact-Jaccard thresholding) can break it — a
    star edge (min, x) may fail verification even though x has an
    above-threshold partner elsewhere in the bucket, silently dropping
    a genuine near-dup pair/edge. Consumers that verify candidates must
    either exempt star edges from the filter (pass `star_col` to get a
    per-pair marker: True iff the pair survives ONLY via star
    contraction, i.e. every bucket it met in was over-cap) or accept
    the documented recall loss (`near_duplicates_jaccard(keep_star=)`
    makes the choice explicit; `duplicate_components` exempts).

    Memory shape (the 100 TB hardening): bucket size and minimum come
    from PLAIN map-side-combinable aggregates first (short rows); pair
    enumeration is then a co-partitioned equi-join on (band, bucket)
    whose LEFT side keeps, per bucket, either every row (under-cap) or
    ONLY the bucket-minimum row (over-cap) — so a mega-bucket of B docs
    streams one probe row against B spill-safe buffered rows and emits
    its B-1 star edges without any aggregation buffer ever holding the
    bucket. The previous single-pass `collect_list` formulation built a
    B-element array row (~80 MB on one task for a 10M-doc boilerplate
    bucket) BEFORE the cap branch could discard it; this one has no
    collect_list anywhere (plan-gated), and the join's per-key buffer
    is Spark's spillable row array, not an agg buffer. (A two-branch
    union formulation was rejected: unioned pair branches poison
    constraint propagation through downstream checkpointed self-unions
    — Spark's UnionBase.rewriteConstraints throws NoSuchElementException
    on the star-contraction loop — so both pair classes emit from the
    ONE join.) The banded frame feeds the stats aggregate and both join
    sides, so it materializes ONCE (lazy localCheckpoint — the
    minhash_calibration pattern; on a cluster this would be a durable
    checkpoint): the expensive upstream signature map pass is never
    recomputed per consumer."""
    banded = banded.localCheckpoint(eager=False)
    stats = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_min_id"))
        .where(F.col("_n") > 1)
    )
    tagged = banded.join(stats, ["band", "bucket"])
    a_side = tagged.where(
        (F.col("_n") <= star_cap) | (F.col(id_col) == F.col("_min_id"))
    ).select(
        "band",
        "bucket",
        F.col(id_col).alias(out_a),
        (F.col("_n") > star_cap).cast("int").alias("_over"),
    )
    b_side = tagged.select("band", "bucket", F.col(id_col).alias(out_b))
    pairs = (
        a_side.join(b_side, ["band", "bucket"])
        .where(F.col(out_a) < F.col(out_b))
        .select(out_a, out_b, "_over")
    )
    grouped = pairs.groupBy(out_a, out_b)
    aggs = [
        F.count(F.lit(1)).alias(count_col)
        if count_col is not None
        else F.lit(1).alias("_one")
    ]
    if star_col is not None:
        # star-only iff every bucket this pair met in was over-cap
        aggs.append((F.min("_over") == 1).alias(star_col))
    out = grouped.agg(*aggs)
    return out if count_col is not None else out.drop("_one")


def minhash_banded(
    docs: DataFrame, num_hashes: int = 16, bands: int = 4, n: int = 3
) -> DataFrame:
    """(doc_id, band, bucket) — xxhash64 minhash signatures split into
    `bands` LSH band buckets. Pure column algebra (works unchanged on a
    streaming DataFrame)."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, n)
    return sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, xxhash64(concat_ws(',', slice(sig, b * {rows} + 1, {rows})), b) AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    docs: DataFrame, num_hashes: int = 16, bands: int = 4, n: int = 3
) -> DataFrame:
    """LSH banding: docs sharing ≥1 band bucket become candidate pairs.
    Output: (doc_a, doc_b, n_shared_bands). Signatures are map-only; the
    only shuffle is the (band, bucket) groupBy — linear in corpus size."""
    return bucket_pairs(minhash_banded(docs, num_hashes, bands, n))


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash: each token occurrence's xxhash64 bits vote ±1;
    signature bit j = sign of the vote sum.

    Per-row column algebra: tokens are hashed once into an array, then
    64 fold-aggregates count the votes — no explode, no shuffle; a
    map-only pass at any scale. Occurrence weighting falls out of NOT
    deduplicating the token array."""
    hashed = spread(docs).select("doc_id", _tokens().alias("t")).select(
        "doc_id", F.expr("transform(t, x -> xxhash64(x))").alias("hs")
    )
    sig = None
    for j in range(64):
        vote = F.expr(
            f"aggregate(hs, 0L, (acc, h) -> acc + (((h >> {j}) & 1L) * 2 - 1))"
        )
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = (
            bit * F.lit(1 << j).cast("long")
            if j < 63
            else bit * F.lit(-(1 << 63)).cast("long")
        )
        sig = term if sig is None else sig + term
    return hashed.select("doc_id", sig.alias("simhash"))


def _md5_60(expr: str) -> str:
    """Spark SQL: first 60 bits of md5 as a positive BIGINT — the
    cross-engine hash (DuckDB: ('0x'||substr(md5(x),1,15))::UBIGINT)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _md5_sig_col(num_hashes: int):
    """Column: md5-family minhash signature over the `sh` shingle array
    — THE single definition of the cross-engine signature spec (member
    i = min over shingles of md5_60(shingle || '#i')); every md5
    minhash consumer (banding, pair audit) must build from this."""
    return F.array(
        *[
            F.expr(
                "aggregate(sh, 9223372036854775807L, "
                "(acc, s) -> least(acc, %s))" % _md5_60("concat(s, '#%d')" % i)
            )
            for i in range(num_hashes)
        ]
    )


def _md5_band_col(num_hashes: int, bands: int):
    """Column: (band, bucket) struct array over the `sig` column —
    bucket b = md5_60 of the comma-joined band slice."""
    rows = num_hashes // bands
    return F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b AS band, "
        + _md5_60("concat_ws(',', slice(sig, b * %d + 1, %d))" % (rows, rows))
        + " AS bucket))"
    )


def _band_rows(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) rows from a (doc_id, sig, ...) frame."""
    return sigs.select(
        "doc_id", F.explode(_md5_band_col(num_hashes, bands)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_md5_banded(
    docs: DataFrame, num_hashes: int = 8, bands: int = 2, n: int = 3
) -> DataFrame:
    """(doc_id, band, bucket) — md5-family minhash band buckets
    (bit-identical in DuckDB). Pure column algebra, streaming-safe."""
    toks = spread(docs).select("doc_id", _tokens().alias("t"))
    sh = toks.select("doc_id", shingle_array(n).alias("sh"))
    sigs = sh.select("doc_id", _md5_sig_col(num_hashes).alias("sig"))
    return _band_rows(sigs, num_hashes, bands)


def minhash_md5_pairs(
    docs: DataFrame, num_hashes: int = 8, bands: int = 2, n: int = 3
) -> DataFrame:
    """MinHash+LSH with an md5-derived hash family instead of xxhash64:
    bit-identical in DuckDB, so the whole candidate-pair pipeline is
    oracle-checkable. Same plan shape as minhash_lsh_candidates (map-only
    signatures, one groupBy shuffle); xxhash64 stays the fast production
    path."""
    return bucket_pairs(minhash_md5_banded(docs, num_hashes, bands, n))


def minhash_md5_pairs_sql(num_hashes: int = 8, bands: int = 2, n: int = 3) -> str:
    rows = num_hashes // bands
    h60 = "(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"
    sig_items = ", ".join(
        "list_min(list_transform(sh, s -> " + h60.format(x=f"s || '#{i}'") + "))"
        for i in range(num_hashes)
    )
    band_items = ", ".join(
        "struct_pack(band := %d, bucket := %s)"
        % (
            b,
            h60.format(
                x=(
                    "array_to_string(list_transform(sig[%d:%d], v -> CAST(v AS VARCHAR)), ',')"
                    % (b * rows + 1, (b + 1) * rows)
                )
            ),
        )
        for b in range(bands)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {n}
              THEN list_transform(range(1, len(t) - {n - 2}), i -> array_to_string(t[i:i+{n - 1}], ' '))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
sigs AS (SELECT doc_id, [{sig_items}] AS sig FROM sh),
banded AS (
  SELECT doc_id, u.band AS band, u.bucket AS bucket
  FROM sigs, unnest([{band_items}]) AS r(u)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""


def simhash_md5(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over the cross-engine md5 hash family (low `bits` bits of
    the 60-bit token hash vote ±1 per position) — oracle-checkable,
    unlike the 64-bit xxhash64 production variant. Same map-only shape:
    tokens hashed once per row, then `bits` fold-aggregates."""
    hashed = spread(docs).select("doc_id", _tokens().alias("t")).select(
        "doc_id",
        F.expr(
            "transform(t, x -> " + _md5_60("x") + ")"
        ).alias("hs"),
    )
    sig = None
    for j in range(bits):
        vote = F.expr(
            f"aggregate(hs, 0L, (acc, h) -> acc + (((h >> {j}) & 1L) * 2 - 1))"
        )
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << j).cast("long")
        sig = term if sig is None else sig + term
    return hashed.select("doc_id", sig.alias("simhash"))


def simhash_md5_sql(bits: int = 16) -> str:
    h60 = "(('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT)"
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
hashed AS (
  SELECT doc_id, list_transform(t, x -> {h60}) AS hs FROM toks
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hashed
"""


def decontamination(
    docs: DataFrame, eval_mod: int = 11, n: int = 3
) -> DataFrame:
    """Benchmark-decontamination scan: per corpus document, how many of
    its distinct word n-gram shingles also appear in a held-out eval
    set (here: `doc_id % eval_mod == 0`, standing in for a benchmark
    suite). Output (doc_id, n_shingles, n_overlap, contamination_bp),
    one row per non-eval document, overlap ratio in integer basis
    points.

    Shape at 100 TB: eval suites are tiny relative to the corpus
    (~10^5-10^7 distinct n-grams), so the eval side is a **broadcast**
    hash join — the corpus pass is map-side only, followed by one
    partial-agg-collapsed shuffle of exactly one row per document.
    No corpus self-join anywhere.
    """
    is_eval = F.col("doc_id") % eval_mod == 0
    ev = (
        docs.where(is_eval)
        .select(_tokens().alias("t"))
        .select(F.explode(F.array_distinct(shingle_array(n))).alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    corpus = (
        spread(docs)
        .where(~is_eval)
        .select("doc_id", _tokens().alias("t"))
        .select("doc_id", F.explode(F.array_distinct(shingle_array(n))).alias("shingle"))
    )
    return (
        corpus.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.expr("n_overlap * 10000L div n_shingles").alias("contamination_bp"),
        )
    )


def decontamination_sql(eval_mod: int = 11, n: int = 3) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {n}
              THEN list_transform(range(1, len(t) - {n - 2}), i -> array_to_string(t[i:i+{n - 1}], ' '))
              ELSE [array_to_string(t, ' ')] END) AS sh
  FROM toks
),
ev AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % {eval_mod} = 0
),
corpus AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % {eval_mod} <> 0
),
agg AS (
  SELECT c.doc_id,
         count(*) AS n_shingles,
         CAST(count(e.shingle) AS BIGINT) AS n_overlap
  FROM corpus c LEFT JOIN ev e USING (shingle)
  GROUP BY c.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_overlap,
       CAST(n_overlap * 10000 // n_shingles AS BIGINT) AS contamination_bp
FROM agg
"""


def decontamination_fuzzy(
    docs: DataFrame,
    eval_mod: int = 11,
    num_hashes: int = 8,
    bands: int = 2,
    n: int = 3,
) -> DataFrame:
    """Fuzzy benchmark decontamination: corpus documents that are
    NEAR-duplicates of a held-out eval document, caught via MinHash
    band-bucket collision — paraphrased or lightly-edited contamination
    that the exact n-gram overlap scan (`decontamination`) undercounts.
    Output (doc_id, n_hit_bands, flagged), one row per non-eval doc;
    `flagged` marks any band collision with the eval set.

    Shape at 100 TB: the eval set's (band, bucket) table is tiny
    relative to the corpus → **broadcast** semi-style join onto the
    corpus's band assignments (map-only signatures, `bands` rows per
    doc), then one partial-agg-collapsed shuffle of one row per doc —
    the same no-self-join discipline as the exact scan, reusing the
    oracle-checkable md5 hash family (`minhash_md5_banded`)."""
    is_eval = F.col("doc_id") % eval_mod == 0
    banded = minhash_md5_banded(docs, num_hashes, bands, n)
    ev_buckets = (
        banded.where(is_eval).select("band", "bucket").distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    corpus = banded.where(~is_eval)
    hits = (
        corpus.join(F.broadcast(ev_buckets), ["band", "bucket"], "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit_bands"))
    )
    return hits.select(
        "doc_id", "n_hit_bands", (F.col("n_hit_bands") >= 1).alias("flagged")
    )


def decontamination_fuzzy_sql(
    eval_mod: int = 11, num_hashes: int = 8, bands: int = 2, n: int = 3
) -> str:
    rows = num_hashes // bands
    h60 = "(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"
    sig_items = ", ".join(
        "list_min(list_transform(sh, s -> " + h60.format(x=f"s || '#{i}'") + "))"
        for i in range(num_hashes)
    )
    band_items = ", ".join(
        "struct_pack(band := %d, bucket := %s)"
        % (
            b,
            h60.format(
                x=(
                    "array_to_string(list_transform(sig[%d:%d], v -> CAST(v AS VARCHAR)), ',')"
                    % (b * rows + 1, (b + 1) * rows)
                )
            ),
        )
        for b in range(bands)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {n}
              THEN list_transform(range(1, len(t) - {n - 2}), i -> array_to_string(t[i:i+{n - 1}], ' '))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
sigs AS (SELECT doc_id, [{sig_items}] AS sig FROM sh),
banded AS (
  SELECT doc_id, u.band AS band, u.bucket AS bucket
  FROM sigs, unnest([{band_items}]) AS r(u)
),
ev AS (
  SELECT DISTINCT band, bucket FROM banded WHERE doc_id % {eval_mod} = 0
)
SELECT b.doc_id,
       CAST(sum(CASE WHEN e.band IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_hit_bands,
       sum(CASE WHEN e.band IS NULL THEN 0 ELSE 1 END) >= 1 AS flagged
FROM banded b LEFT JOIN ev e ON e.band = b.band AND e.bucket = b.bucket
WHERE b.doc_id % {eval_mod} <> 0
GROUP BY b.doc_id
"""


def bloom_decontamination(
    docs: DataFrame, eval_mod: int = 11, n: int = 3, bits: int = 1 << 20
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter instead of a
    direct shingle join: the eval set's n-gram shingles are folded into
    a fixed 2^16-bit bitmap (≤ 2 048 BIGINT words — ~8 KB — no matter
    how large the eval suite grows), and every corpus shingle is tested
    with k = 4 broadcast word-lookups. Output (doc_id, n_shingles,
    n_bloom_hits, bloom_bp), one row per non-eval document.

    Versus `decontamination` (the exact broadcast join): hits are an
    OVERCOUNT — the Bloom filter admits false positives but never false
    negatives, so n_bloom_hits ≥ the exact n_overlap for every document
    (tests pin the invariant). The trade at 100 TB: the exact path must
    broadcast every distinct eval shingle (10^5-10^7 strings); the
    Bloom path broadcasts bits/8 BYTES regardless of how many shingles
    went in, and the filter merges across eval suites by cellwise
    bit_or (operators/sketches.py::bloom_build/bloom_probe). Size the
    bitmap to the suite — m ≈ 16·n keys keeps FP ≈ 1e-4, and the filter
    SATURATES (FP → 1, still never-false-negative) once n approaches
    m/4 (measured: scripts/bloom_sweep.py). The 2^20 default (256 KB
    broadcast) covers eval suites to ~65 k distinct shingles.
    """
    from khronus_spark.operators.sketches import bloom_build, bloom_probe

    is_eval = F.col("doc_id") % eval_mod == 0
    ev_shingles = (
        docs.where(is_eval)
        .select(_tokens().alias("t"))
        .select(F.explode(F.array_distinct(shingle_array(n))).alias("key"))
        .distinct()
    )
    bloom = bloom_build(ev_shingles, "key", bits)
    corpus = (
        spread(docs)
        .where(~is_eval)
        .select("doc_id", _tokens().alias("t"))
        .select("doc_id", F.explode(F.array_distinct(shingle_array(n))).alias("key"))
    )
    return (
        bloom_probe(corpus, bloom, bits=bits)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("maybe_present").cast("long")).alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            F.expr("n_bloom_hits * 10000L div n_shingles").alias("bloom_bp"),
        )
    )


def bloom_decontamination_sql(
    eval_mod: int = 11, n: int = 3, bits: int = 1 << 20
) -> str:
    """The identical Bloom spec in DuckDB SQL."""
    from khronus_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_WORD,
        _bloom_bit_duck,
    )

    bit_rows = "\nUNION ALL\n".join(
        f"SELECT {_bloom_bit_duck(j, 'key', bits)} AS bit FROM ev"
        for j in range(BLOOM_K)
    )
    probe_bits = ",\n         ".join(
        f"{_bloom_bit_duck(j, 'key', bits)} AS b{j}" for j in range(BLOOM_K)
    )
    joins = "\n  ".join(
        f"LEFT JOIN bloom w{j} ON w{j}.word_idx = p.b{j} // {BLOOM_WORD}"
        for j in range(BLOOM_K)
    )
    hit = " AND ".join(
        f"(w{j}.word IS NOT NULL AND "
        f"(w{j}.word & (1::BIGINT << CAST(p.b{j} % {BLOOM_WORD} AS INT))) <> 0)"
        for j in range(BLOOM_K)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {n}
              THEN list_transform(range(1, len(t) - {n - 2}), i -> array_to_string(t[i:i+{n - 1}], ' '))
              ELSE [array_to_string(t, ' ')] END) AS sh
  FROM toks
),
ev AS (
  SELECT DISTINCT unnest(sh) AS key FROM sh WHERE doc_id % {eval_mod} = 0
),
bits AS (
{bit_rows}
),
bloom AS (
  SELECT bit // {BLOOM_WORD} AS word_idx,
         bit_or(1::BIGINT << CAST(bit % {BLOOM_WORD} AS INT)) AS word
  FROM bits GROUP BY 1
),
corpus AS (
  SELECT doc_id, unnest(sh) AS key FROM sh WHERE doc_id % {eval_mod} <> 0
),
p AS (
  SELECT doc_id, key,
         {probe_bits}
  FROM corpus
),
flags AS (
  SELECT p.doc_id, ({hit}) AS hit
  FROM p
  {joins}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS bloom_bp
FROM flags
GROUP BY doc_id
"""


def _minhash_md5_sig_sets(
    docs: DataFrame, num_hashes: int = 8, n: int = 3
) -> DataFrame:
    """(doc_id, sig: array<long>, shset: sorted distinct shingles) — the
    md5-family signature (shared spec: _md5_sig_col) plus the exact
    shingle set, one map pass."""
    toks = spread(docs).select("doc_id", _tokens().alias("t"))
    sh = toks.select("doc_id", shingle_array(n).alias("sh"))
    return sh.select(
        "doc_id",
        _md5_sig_col(num_hashes).alias("sig"),
        F.array_sort(F.array_distinct("sh")).alias("shset"),
    )


def minhash_calibration(
    docs: DataFrame, num_hashes: int = 8, bands: int = 2, n: int = 3
) -> DataFrame:
    """Measure-don't-guess audit for the MinHash pipeline: for every LSH
    candidate pair, the ESTIMATED Jaccard (fraction of agreeing
    signature components, per-mille floor) next to the EXACT shingle
    Jaccard — (doc_a, doc_b, n_shared_bands, est_jaccard_pm,
    exact_jaccard_pm). This is the table a curation pipeline reads to
    pick its keep/drop threshold: it shows the estimator's bias and
    spread at the operating point instead of trusting the 1/√k
    textbook bound, and exposes band-collision false positives (low
    exact, nonzero est) before they delete real documents.

    Scale shape: signatures and shingle sets are ONE map-only pass (the
    banded candidate rows derive from the same signature frame, not a
    second corpus scan); the candidate set is the banded join's output
    (linear, not all-pairs); the two joins back are doc_id equi-joins
    against unique keys; the per-pair exact Jaccard intersects two
    bounded-by-doc-length sorted arrays — no corpus self-join
    anywhere."""
    s = _minhash_md5_sig_sets(docs, num_hashes, n).localCheckpoint(eager=False)
    pairs = bucket_pairs(_band_rows(s, num_hashes, bands))
    sa = s.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"),
        F.col("shset").alias("sha"),
    )
    sb = s.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"),
        F.col("shset").alias("shb"),
    )
    matches_sql = (
        "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1L, 0L)), "
        "0L, (acc, v) -> acc + v)"
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    uni = (F.size("sha") + F.size("shb")).cast("long") - inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            F.expr(f"({matches_sql}) * 1000L div {num_hashes}").alias(
                "est_jaccard_pm"
            ),
            (inter * F.lit(1000)).alias("_in1000"),
            uni.alias("_uni"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "est_jaccard_pm",
            F.expr("_in1000 div _uni").alias("exact_jaccard_pm"),
        )
    )


def minhash_calibration_sql(num_hashes: int = 8, bands: int = 2, n: int = 3) -> str:
    base = minhash_md5_pairs_sql(num_hashes, bands, n).strip()
    assert base.startswith("WITH ")
    head, final = base.split("SELECT a.doc_id AS doc_a", 1)
    ctes = head[len("WITH"):].strip().rstrip(",").rstrip()
    inter = "len(list_intersect(xa.shset, xb.shset))"
    return f"""
WITH {ctes},
mh AS (SELECT a.doc_id AS doc_a{final}),
shd AS (SELECT doc_id, list_sort(list_distinct(sh)) AS shset FROM sh)
SELECT mh.doc_a, mh.doc_b, mh.n_shared_bands,
       CAST(list_sum(list_transform(range(1, {num_hashes + 1}),
            i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
            * 1000 // {num_hashes} AS BIGINT) AS est_jaccard_pm,
       CAST({inter} * 1000 //
            (len(xa.shset) + len(xb.shset) - {inter}) AS BIGINT) AS exact_jaccard_pm
FROM mh
JOIN sigs sa ON sa.doc_id = mh.doc_a
JOIN sigs sb ON sb.doc_id = mh.doc_b
JOIN shd xa ON xa.doc_id = mh.doc_a
JOIN shd xb ON xb.doc_id = mh.doc_b
"""


def build_dedup_index(
    corpus_docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    n: int = 3,
) -> DataFrame:
    """Build the PERSISTED incremental-dedup index: one row per
    (band, bucket) with `n_docs` and `min_doc_id` — the per-bucket
    stats pre-aggregated at BUILD time (round-5 verdict directive 2:
    re-deriving the bucket minimum from a raw (doc_id, band, bucket)
    table on every probe batch re-pays a corpus-sized aggregate that
    belongs in the one-off build). The aggregate is map-side-combinable
    (count + min), the output is bounded by the number of non-empty
    buckets, and a 100M-doc boilerplate mega-bucket collapses to ONE
    index row before it ever reaches a probe join. Persist with
    `write_dedup_index`; probe with `incremental_dedup`, whose plan
    then contains no aggregation over the index at all (plan-gated)."""
    banded = minhash_md5_banded(corpus_docs, num_hashes, bands, n)
    return banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def write_dedup_index(index: DataFrame, path: str) -> None:
    """Persist the pre-aggregated bucket index as parquet (short rows:
    band, bucket, n_docs, min_doc_id)."""
    index.write.mode("overwrite").parquet(path)


def read_dedup_index(spark, path: str) -> DataFrame:
    # pinned schema: our own layout — skips the footer-probe inference
    # job every probe batch would otherwise pay (guide §2.1)
    return spark.read.schema(
        "band int, bucket long, n_docs long, min_doc_id long"
    ).parquet(path)


def incremental_dedup(
    corpus_index: DataFrame,
    new_docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    n: int = 3,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without touching the
    corpus again — the production shape for a continuously-crawled
    100 TB store: the corpus is represented only by its persisted banded
    MinHash index (doc_id, band, bucket), and each incoming batch is
    checked (a) against that index and (b) within itself.

    Output: one row per new doc — (doc_id, dup_of, dup_src) where
    dup_of is the smallest duplicate partner (corpus doc or smaller-id
    batch doc; NULL when unique) and dup_src ∈ {'corpus', 'batch',
    NULL}.

    Scale shape — the key observation: for presence + canonical
    attribution NEITHER side ever needs pair enumeration, only
    PER-BUCKET MINIMUM doc ids. Corpus side: `corpus_index` is ideally
    the pre-aggregated `build_dedup_index` table (band, bucket, n_docs,
    min_doc_id) — the probe is ONE equi-join against a unique-key
    table and no corpus-sized aggregate runs per batch (the round-5
    bench drift: the probe re-paid the groupBy(min) on every
    invocation). A raw (doc_id, band, bucket) banded table is still
    accepted (detected by schema) and aggregated here as a fallback —
    correct, but per-batch work that belongs in the build. Batch side
    (the round-8 rewrite): a doc's smallest same-batch partner in a
    bucket is that bucket's minimum id whenever the minimum is smaller
    — so the within-batch attribution is a min-over-bucket WINDOW on
    the banded rows, not the `bucket_pairs` candidate join (identical
    values, two fewer join waves, and the star-cap question vanishes:
    no pair expansion exists, a mega-bucket of B docs emits B rows).
    Either way a mega-bucket of B corpus docs costs 1 probe row
    instead of B (no explosion, no skew). Batch signatures are
    map-only; the result spine rides the SAME per-doc aggregate via a
    sentinel row per doc (no post-aggregate spine join).

    PRECONDITIONS (all three from the continuous-ingest contract):
    (1) corpus and batch doc ids are DISJOINT — a batch is new
    documents, not re-ingested corpus rows. The fused
    min(struct(partner, _s)) aggregate relies on it: a doc id present
    on BOTH sides would tie on `partner` and resolve by _s,
    attributing dup_src='corpus' (the pre-fusion case ladder said
    'batch' for that corner). Re-ingestion flows should dedupe ids
    before probing or accept the corpus-wins tie. (2) batch doc ids
    are UNIQUE within the batch — the fused spine is a groupBy over
    doc_id, so duplicate input ids collapse to one verdict row (the
    pre-fusion left-join spine preserved input multiplicity).
    (3) doc_id < 2^62 — the spine sentinel uses 1<<62 as an
    above-any-real-partner marker; ids at or past it would silently
    misorder the min aggregate."""
    w = Window.partitionBy("band", "bucket")
    # NULL buckets (degenerate/NULL text) are excluded up front: the
    # old pair join dropped them via equi-join NULL semantics, and the
    # window would otherwise cluster all NULL-bucket docs of a band
    # into one phantom bucket. Their docs still surface through the
    # sentinel spine as unique.
    new_banded = (
        minhash_md5_banded(new_docs, num_hashes, bands, n)
        .where(F.col("bucket").isNotNull())
        .select(
            "doc_id", "band", "bucket", F.min("doc_id").over(w).alias("_bmin")
        )
    )
    if "min_doc_id" in corpus_index.columns:  # prebuilt stats index
        bucket_min = corpus_index.select(
            "band", "bucket", F.col("min_doc_id").alias("_m")
        )
    else:  # raw banded fallback: aggregate per batch (build-time work)
        bucket_min = corpus_index.groupBy("band", "bucket").agg(
            F.min("doc_id").alias("_m")
        )
    # Per banded row, the best candidate from EITHER source is computed
    # inline (corpus bucket-min from the left-joined index, batch
    # bucket-min from the window), so the whole probe is one signatures
    # scan → one (band, bucket) shuffle [window + index join] → one
    # per-doc aggregate. Corpus and batch partner ids are disjoint, so
    # min(struct(partner, _s)) reproduces the old case ladder exactly;
    # the sentinel spine row per doc (2^62 > any doc id) loses to every
    # real partner and makes the aggregate itself the result spine —
    # no join after the aggregate.
    cand = (
        new_banded.join(bucket_min, ["band", "bucket"], "left")
        .select(
            "doc_id",
            F.expr(
                "array_min(filter(array("
                "CASE WHEN _m IS NOT NULL THEN struct(_m AS partner, 0 AS _s) END, "
                "CASE WHEN _bmin < doc_id THEN struct(_bmin AS partner, 1 AS _s) END"
                "), x -> x IS NOT NULL))"
            ).alias("c"),
        )
        .where(F.col("c").isNotNull())
    )
    spine = new_docs.select(
        "doc_id",
        F.struct(
            F.lit(_NO_PARTNER).cast("long").alias("partner"),
            F.lit(2).alias("_s"),
        ).alias("c"),
    )
    best = (
        cand.unionByName(spine).groupBy("doc_id").agg(F.min("c").alias("b"))
    )
    return best.select(
        "doc_id",
        F.when(F.col("b._s") < 2, F.col("b.partner")).alias("dup_of"),
        F.expr(
            "CASE WHEN b._s = 0 THEN 'corpus' "
            "WHEN b._s = 1 THEN 'batch' END"
        ).alias("dup_src"),
    )


def incremental_dedup_sql(
    batch_mod: int = 5, num_hashes: int = 8, bands: int = 2, n: int = 3
) -> str:
    """Oracle for the registry entry's split: docs with
    doc_id % batch_mod = 0 are the incoming batch, the rest the indexed
    corpus. The banded CTE chain is shared (bucketing is per-doc)."""
    base = minhash_md5_pairs_sql(num_hashes, bands, n).strip()
    assert base.startswith("WITH ")
    head, _ = base.split("SELECT a.doc_id AS doc_a", 1)
    ctes = head[len("WITH"):].strip().rstrip(",").rstrip()
    return f"""
WITH {ctes},
old_b AS (SELECT * FROM banded WHERE doc_id % {batch_mod} <> 0),
new_b AS (SELECT * FROM banded WHERE doc_id % {batch_mod} = 0),
bmin AS (SELECT band, bucket, min(doc_id) AS m FROM old_b GROUP BY band, bucket),
vs_old AS (
  SELECT nb.doc_id, min(bm.m) AS o
  FROM new_b nb JOIN bmin bm USING (band, bucket)
  GROUP BY nb.doc_id
),
vs_new AS (
  SELECT b.doc_id, min(a.doc_id) AS p
  FROM new_b a JOIN new_b b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(CASE WHEN vo.o IS NULL THEN vn.p WHEN vn.p IS NULL THEN vo.o
                 WHEN vo.o < vn.p THEN vo.o ELSE vn.p END AS BIGINT) AS dup_of,
       CASE WHEN vo.o IS NULL AND vn.p IS NULL THEN NULL
            WHEN vn.p IS NULL OR (vo.o IS NOT NULL AND vo.o < vn.p)
            THEN 'corpus' ELSE 'batch' END AS dup_src
FROM (SELECT DISTINCT doc_id FROM new_b) d
LEFT JOIN vs_old vo ON vo.doc_id = d.doc_id
LEFT JOIN vs_new vn ON vn.doc_id = d.doc_id
"""
