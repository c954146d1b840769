"""Deterministic cross-engine HyperLogLog: a mergeable distinct-count
sketch whose estimate is bit-identical on Spark and DuckDB.

Engine-native HLL implementations (Spark `approx_count_distinct`,
DuckDB `approx_count_distinct`) use different hash functions and
register layouts, so their estimates can never hash-match across
engines. This module instead *specifies* an HLL variant in pure integer
arithmetic and implements that spec on both engines:

- hash: first 60 bits of md5 (the repo's cross-engine hash family);
- m = 64 registers (p = 6): bucket = top 6 bits, w = low 54 bits;
- rho = leading-zero count of w within the 54-bit field + 1,
  computed as `55 - length(bin(w))` — both engines' `bin()` renders
  integers without leading zeros, so the string length IS the bit
  length (w = 0 → rho = 55);
- register r = min(max rho, 32) — the cap keeps every harmonic term
  `2^(32-r)` an exact int64;
- denominator D = Σ 2^(32-r) over present buckets
  + (64 - #present) · 2^32 for empty registers;
- estimate = (2^44 · 709) // (1000 · D) — α₆₄ ≈ 0.709 as the integer
  ratio 709/1000; numerator ≈ 1.25e16 stays inside int64.

No small-range (linear counting) correction: `ln` is not bit-stable
across engines. Raw-HLL relative error at m = 64 is ~13%; the registry
entry also returns the exact count so the error is visible, and
`tests/test_sketches.py` asserts the tolerance.

Why it matters at 100 TB: the register table is 64 rows per group —
a map-side-combinable groupBy((group, bucket)).max(rho) then one tiny
final fold, versus count(DISTINCT) whose exact shuffle carries every
distinct key. The sketch is also mergeable (max of registers), so
pre-aggregated register tables roll up across partitions/days for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M = 64  # registers (p = 6)
W_BITS = 54
W_MOD = 1 << W_BITS  # 18014398509481984
RHO_CAP = 32
ALPHA_NUM = 709  # alpha_64 = 0.709 as 709/1000
ALPHA_DEN = 1000
EST_NUM = (M * M) << 32  # m^2 * 2^32 = 2^44


def hll_distinct(df: DataFrame, group_col: str, key_expr: str) -> DataFrame:
    """(group, est_distinct) — the deterministic HLL spec above.
    `key_expr` is a Spark SQL string expression for the counted key."""
    h = f"CAST(conv(substring(md5(CAST(({key_expr}) AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    hashed = df.selectExpr(
        f"{group_col} AS grp",
        f"{h} div {W_MOD} AS bucket",
        f"{h} % {W_MOD} AS w",
    )
    regs = (
        hashed.withColumn(
            "rho",
            F.expr("CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END"),
        )
        .groupBy("grp", "bucket")
        .agg(F.least(F.max("rho"), F.lit(RHO_CAP)).alias("r"))
    )
    return (
        regs.groupBy("grp")
        .agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {RHO_CAP} - r)"))
                + (F.lit(M) - F.count(F.lit(1))) * F.lit(1 << RHO_CAP)
            ).alias("D")
        )
        .select(
            F.col("grp").alias(group_col),
            F.expr(
                f"CAST({EST_NUM} AS BIGINT) * {ALPHA_NUM} div (D * {ALPHA_DEN})"
            ).alias("est_distinct"),
        )
    )


def hll_distinct_sql(table: str, group_col: str, key_expr: str) -> str:
    """The identical spec as DuckDB SQL (same integer arithmetic)."""
    h = f"(('0x' || substr(md5(CAST(({key_expr}) AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT"
    return f"""
WITH hashed AS (
  SELECT {group_col} AS grp,
         {h} // {W_MOD} AS bucket,
         {h} % {W_MOD} AS w
  FROM {table}
),
regs AS (
  SELECT grp, bucket,
         least(max(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END), {RHO_CAP}) AS r
  FROM hashed GROUP BY grp, bucket
),
folded AS (
  SELECT grp,
         sum(CAST(1 AS BIGINT) << ({RHO_CAP} - r))
           + ({M} - count(*)) * CAST({1 << RHO_CAP} AS BIGINT) AS D
  FROM regs GROUP BY grp
)
SELECT grp AS {group_col},
       -- D comes from sum() (HUGEINT in DuckDB); cast the estimate back to
       -- BIGINT so the cross-engine value hash sees "123", not "123.0"
       CAST(CAST({EST_NUM} AS BIGINT) * {ALPHA_NUM} // (D * {ALPHA_DEN}) AS BIGINT) AS est_distinct
FROM folded
"""


def _hash_cols(key_expr: str):
    h = f"CAST(conv(substring(md5(CAST(({key_expr}) AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    return F.expr(f"{h} div {W_MOD}").alias("bucket"), F.expr(
        f"CASE WHEN {h} % {W_MOD} = 0 THEN 55 "
        f"ELSE 55 - length(bin({h} % {W_MOD})) END"
    ).alias("rho")


def hll_register_aggs():
    """64 conditional-max register columns — collapses the sketch to a
    SINGLE aggregation (the tall form needs groupBy(grp, bucket) then
    groupBy(grp), which Structured Streaming's append mode forbids).
    Null register (bucket never hit) = empty."""
    return [
        F.max(F.when(F.col("bucket") == i, F.col("rho"))).alias(f"r{i}")
        for i in range(M)
    ]


def hll_estimate_expr():
    """Column expr: registers r0..r63 → the spec's integer estimate.
    coalesce INSIDE least: Spark's least() ignores NULLs, so a NULL
    (never-hit) register must become 0 before the cap — r=0 then
    contributes the spec's 2^32 empty-register term. (One instance of
    the `_hll_est_from` formula — the single source of the spec.)"""
    return _hll_est_from(lambda i: f"coalesce(r{i}, 0)")


def windowed_hll_distinct(
    frame: DataFrame, window_duration: str, key_expr: str
) -> DataFrame:
    """Approx distinct keys per event-time window — ONE aggregation
    (register columns) + a stateless projection, so the identical plan
    runs in Structured Streaming append mode (exact windowed distinct is
    unbounded-state and forbidden there). `frame` needs an `event_ts`
    timestamp column (watermarked by the streaming caller)."""
    bucket, rho = _hash_cols(key_expr)
    hashed = frame.select("event_ts", bucket, rho)
    regs = hashed.groupBy(
        F.window(F.col("event_ts"), window_duration).alias("w")
    ).agg(*hll_register_aggs())
    return regs.select(
        F.unix_millis(F.col("w.start")).alias("win_start_ms"),
        hll_estimate_expr().alias("est_distinct"),
    )


def windowed_hll_registers(
    frame: DataFrame, window_duration: str, key_expr: str
) -> DataFrame:
    """(win_start_ms, bucket, r) — the PERSISTABLE tall register table
    per tumbling window: what a 100 TB pipeline stores per day so any
    coarser period rolls up from 64 rows/day instead of raw events.
    One map-side-combinable groupBy((window, bucket)).max(rho)."""
    bucket, rho = _hash_cols(key_expr)
    hashed = frame.select("event_ts", bucket, rho)
    return (
        hashed.groupBy(
            F.window(F.col("event_ts"), window_duration).alias("w"), F.col("bucket")
        )
        .agg(F.least(F.max("rho"), F.lit(RHO_CAP)).alias("r"))
        .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"), "bucket", "r")
    )


def hll_cascade_estimate(regs: DataFrame, coarse_ms: int) -> DataFrame:
    """Merge fine-window register tables into coarser windows and
    estimate — the sketch analogue of the reference's rollup cascade
    (TimeWindow.scala: coarse resolutions aggregate the PREVIOUS
    window's buckets, never raw). HLL registers merge by per-bucket
    max, which is exactly lossless: the registry entry's oracle
    computes the coarse estimate DIRECTLY from raw events, so the
    cross-engine hash match proves the cascade loses nothing.

    Input windows must nest into `coarse_ms` on the epoch grid (e.g.
    1 day -> 7 days). Both steps are map-side-combinable aggregations
    over 64 rows per fine window."""
    merged = (
        regs.groupBy(
            F.expr(f"win_start_ms div {coarse_ms} * {coarse_ms}").alias(
                "win_start_ms"
            ),
            F.col("bucket"),
        )
        .agg(F.least(F.max("r"), F.lit(RHO_CAP)).alias("r"))
    )
    return (
        merged.groupBy("win_start_ms")
        .agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {RHO_CAP} - r)"))
                + (F.lit(M) - F.count(F.lit(1))) * F.lit(1 << RHO_CAP)
            ).alias("D")
        )
        .select(
            "win_start_ms",
            F.expr(
                f"CAST({EST_NUM} AS BIGINT) * {ALPHA_NUM} div (D * {ALPHA_DEN})"
            ).alias("est_distinct"),
        )
    )


def _hll_est_from(reg_expr) -> F.Column:
    """Spec estimate from 64 register expressions (reg_expr(i) → SQL
    string for register i, already null-safe)."""
    terms = " + ".join(
        f"shiftleft(CAST(1 AS BIGINT), {RHO_CAP} - least({reg_expr(i)}, {RHO_CAP}))"
        for i in range(M)
    )
    return F.expr(
        f"CAST({EST_NUM} AS BIGINT) * {ALPHA_NUM} div (({terms}) * {ALPHA_DEN})"
    )


def hll_overlap_estimate(
    df: DataFrame, group_col: str, key_expr: str
) -> DataFrame:
    """Pairwise set algebra over HLL sketches: for every pair of groups
    (a < b), the estimated distinct-key counts |A|, |B|, |A ∪ B| and
    the inclusion–exclusion intersection |A| + |B| − |A ∪ B| (clamped
    at 0 — raw-HLL noise can push a near-empty intersection negative).
    The audience-overlap / cross-segment-reach question ("how many
    users do click and purchase share?") answered WITHOUT an exact
    pairwise distinct — the exact form needs a shuffle of every
    (group, key) pair per group pair, O(pairs · keys); this needs only
    each group's 64-register sketch.

    The union sketch is the per-register MAX of the two sketches —
    HLL's lossless merge, the same operation the daily→weekly cascade
    uses — so |A ∪ B| carries no extra approximation beyond raw HLL;
    only the subtraction amplifies relative error when the
    intersection is small (standard for inclusion–exclusion on
    sketches; the registry oracle pins the exact same integer values
    on both engines, and the fixture test bounds the estimates against
    exact counts).

    Shape at 100 TB: one map-side-combinable pass folds raw rows to
    #groups × 64 registers (the same wide single-aggregation form as
    the streaming HLL); the pair join runs on #groups ROWS — corpus
    size is out of the picture before any join happens."""
    bucket, rho = _hash_cols(key_expr)
    hashed = df.select(F.col(group_col).alias("grp"), bucket, rho)
    # both pair sides read the same #groups-row register table — built
    # once (unshared, the raw-data fold would run twice)
    wide = (
        hashed.groupBy("grp")
        .agg(*hll_register_aggs())
        .localCheckpoint(eager=False)
    )
    a = wide.select(
        F.col("grp").alias("grp_a"),
        *[F.col(f"r{i}").alias(f"a{i}") for i in range(M)],
    )
    b = wide.select(
        F.col("grp").alias("grp_b"),
        *[F.col(f"r{i}").alias(f"b{i}") for i in range(M)],
    )
    pairs = a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
    est_a = _hll_est_from(lambda i: f"coalesce(a{i}, 0)")
    est_b = _hll_est_from(lambda i: f"coalesce(b{i}, 0)")
    est_u = _hll_est_from(
        lambda i: f"greatest(coalesce(a{i}, 0), coalesce(b{i}, 0))"
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        F.greatest(
            est_a + est_b - est_u, F.lit(0).cast("long")
        ).alias("est_intersect"),
    )


def hll_overlap_sql(table: str, group_col: str, key_expr: str) -> str:
    """Oracle restatement: tall registers per group, union registers
    re-aggregated from the hashed rows per pair (a different altitude
    from the engine's wide-column max-merge — same spec values)."""
    h = f"(('0x' || substr(md5(CAST(({key_expr}) AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT"
    fold = (
        f"sum(CAST(1 AS BIGINT) << ({RHO_CAP} - r)) "
        f"+ ({M} - count(*)) * CAST({1 << RHO_CAP} AS BIGINT)"
    )
    est = f"CAST(CAST({EST_NUM} AS BIGINT) * {ALPHA_NUM} // (D * {ALPHA_DEN}) AS BIGINT)"
    return f"""
WITH hashed AS (
  SELECT {group_col} AS grp,
         {h} // {W_MOD} AS bucket,
         CASE WHEN {h} % {W_MOD} = 0 THEN 55
              ELSE 55 - length(bin({h} % {W_MOD})) END AS rho
  FROM {table}
),
regs AS (
  SELECT grp, bucket, least(max(rho), {RHO_CAP}) AS r
  FROM hashed GROUP BY grp, bucket
),
folded AS (SELECT grp, {fold} AS D FROM regs GROUP BY grp),
est AS (SELECT grp, {est} AS e FROM folded),
pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, a.e AS est_a, b.e AS est_b
  FROM est a JOIN est b ON a.grp < b.grp
),
uregs AS (
  SELECT p.grp_a, p.grp_b, r.bucket, least(max(r.r), {RHO_CAP}) AS r
  FROM pairs p JOIN regs r ON r.grp = p.grp_a OR r.grp = p.grp_b
  GROUP BY p.grp_a, p.grp_b, r.bucket
),
ufolded AS (
  SELECT grp_a, grp_b, {fold} AS D FROM uregs GROUP BY grp_a, grp_b
),
uest AS (SELECT grp_a, grp_b, {est} AS est_union FROM ufolded)
SELECT p.grp_a, p.grp_b, p.est_a, p.est_b, u.est_union,
       greatest(p.est_a + p.est_b - u.est_union, 0) AS est_intersect
FROM pairs p JOIN uest u USING (grp_a, grp_b)
"""


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable frequency estimation / heavy hitters
# ---------------------------------------------------------------------------

#: d independent hash rows × w columns. Like the HLL above, the sketch
#: is SPECIFIED in integer arithmetic over the md5 hash family so Spark
#: and DuckDB produce bit-identical cells and estimates. Width 256 /
#: depth 4 ⇒ ε ≈ e/256 ≈ 1.1% of the stream per cell (overestimate
#: only), failure prob ≈ e^-4. 1 024 cells per group total.
CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(j: int, key_expr: str) -> str:
    """Row-j bucket of a key: first 60 bits of md5('<j>:'||key) mod w —
    independent rows via the salt prefix, same hash family both engines."""
    return (
        f"CAST(conv(substring(md5(concat('{j}', ':', "
        f"CAST(({key_expr}) AS STRING))), 1, 15), 16, 10) AS BIGINT) % {CMS_WIDTH}"
    )


def cms_sketch(df: DataFrame, key_expr: str) -> DataFrame:
    """(j, bucket, c) — the Count-Min cell table: c = how many stream
    items hashed into (row j, bucket). One map-side-combinable
    aggregation; partials collapse to ≤ d·w rows per partition no
    matter the stream size, and two sketches MERGE by cellwise sum —
    the property that lets per-day / per-partition sketches roll up
    without touching raw data again (tests pin both)."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cms_bucket(j, key_expr)).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("p")
    )
    return pairs.groupBy("p.j", "p.bucket").agg(F.count(F.lit(1)).alias("c"))


def cms_estimates(df: DataFrame, key_expr: str, keys: DataFrame) -> DataFrame:
    """(key, est) — point estimates for the candidate `keys` (column
    `key`): est = min over rows j of cell(j, h_j(key)). The sketch is
    ≤ d·w rows, so it BROADCASTS onto the candidate set; est ≥ true
    count always (collisions only add)."""
    sketch = cms_sketch(df, key_expr)
    probes = keys.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cms_bucket(j, "key")).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("key", "p.j", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("key")
        .agg(F.min("c").alias("est"))
    )


def cms_heavy_hitters(
    df: DataFrame, key_expr: str, threshold: int
) -> DataFrame:
    """(key, est) for every distinct key whose ESTIMATE reaches the
    threshold — est ≥ true count, so no true heavy hitter is missed
    (classic CMS guarantee; false positives possible and bounded by
    ε·stream). Candidates here are the stream's own distinct keys; a
    streaming deployment would instead keep a small candidate heap
    beside the mergeable cell table."""
    keys = df.selectExpr(f"{key_expr} AS key").distinct()
    return cms_estimates(df, key_expr, keys).where(F.col("est") >= threshold)


def windowed_cms_sketch(
    frame: DataFrame, window_duration: str, key_expr: str
) -> DataFrame:
    """(win_start_ms, j, bucket, c) — the Count-Min cell table per
    event-time tumbling window, as ONE aggregation so the identical
    plan runs in Structured Streaming append mode (the cell table is
    the bounded-state object a streaming top-talkers pipeline stores;
    heavy-hitter extraction then reads the stored cells batch-side).
    `frame` needs an `event_ts` timestamp column (watermarked by the
    streaming caller); windows merge with later windows' cells by
    cellwise sum like any other CMS."""
    pairs = frame.select(
        "event_ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cms_bucket(j, key_expr)).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(
            F.window(F.col("event_ts"), window_duration).alias("w"),
            F.col("p.j").alias("j"),
            F.col("p.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "j", "bucket", "c"
        )
    )


def cms_merge_windows(cells: DataFrame, coarse_ms: int) -> DataFrame:
    """Merge fine-window CMS cell tables into coarser windows by
    CELLWISE SUM — exactly lossless (counts partition over nested
    windows), the frequency twin of hll_cascade_estimate. Input windows
    must nest into `coarse_ms` on the epoch grid."""
    return (
        cells.groupBy(
            F.expr(f"win_start_ms div {coarse_ms} * {coarse_ms}").alias(
                "win_start_ms"
            ),
            "j",
            "bucket",
        )
        .agg(F.sum("c").alias("c"))
    )


def windowed_cms_heavy_hitters(
    frame: DataFrame, cells: DataFrame, coarse_ms: int, key_expr: str, threshold: int
) -> DataFrame:
    """(win_start_ms, key, est) — per coarse window, every candidate key
    whose CMS estimate reaches `threshold`, probing a MERGED cell table
    (`cells` at any finer nesting resolution). The cell table is
    ≤ d·w rows per window → broadcast; candidates are the window's own
    distinct keys (a streaming deployment keeps a candidate heap)."""
    merged = cms_merge_windows(cells, coarse_ms)
    cand = frame.select(
        F.expr(
            f"unix_millis(event_ts) div {coarse_ms} * {coarse_ms}"
        ).alias("win_start_ms"),
        F.expr(key_expr).alias("key"),
    ).distinct()
    probes = cand.select(
        "win_start_ms",
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cms_bucket(j, "key")).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("win_start_ms", "key", "p.j", "p.bucket")
    return (
        probes.join(F.broadcast(merged), ["win_start_ms", "j", "bucket"])
        .groupBy("win_start_ms", "key")
        .agg(F.min("c").alias("est"))
        .where(F.col("est") >= threshold)
    )


def windowed_cms_heavy_hitters_sql(
    table: str, window_ms: int, key_expr: str, threshold: int
) -> str:
    """Oracle: the coarse-window heavy hitters computed DIRECTLY from
    raw rows — a hash match against the Spark cascade (fine cells
    merged by cellwise sum) proves the merge is lossless."""

    def bucket(j: int, kexpr: str) -> str:
        return (
            f"(('0x' || substr(md5('{j}' || ':' || "
            f"CAST(({kexpr}) AS VARCHAR)), 1, 15))::UBIGINT % {CMS_WIDTH})::BIGINT"
        )

    win = f"(epoch_us(ts) // 1000) // {window_ms} * {window_ms}"
    pair_rows = "\nUNION ALL\n".join(
        f"SELECT {win} AS win_start_ms, {j} AS j, {bucket(j, key_expr)} AS bucket "
        f"FROM {table}"
        for j in range(CMS_DEPTH)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT win_start_ms, key, {j} AS j, {bucket(j, 'key')} AS bucket FROM keys"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH pairs AS (
{pair_rows}
),
sketch AS (
  SELECT win_start_ms, j, bucket, CAST(count(*) AS BIGINT) AS c
  FROM pairs GROUP BY win_start_ms, j, bucket
),
keys AS (SELECT DISTINCT {win} AS win_start_ms, {key_expr} AS key FROM {table}),
probes AS (
{probe_rows}
)
SELECT win_start_ms, key, CAST(min(c) AS BIGINT) AS est
FROM probes JOIN sketch USING (win_start_ms, j, bucket)
GROUP BY win_start_ms, key
HAVING min(c) >= {threshold}
"""


def cms_heavy_hitters_sql(table: str, key_expr: str, threshold: int) -> str:
    """The identical spec in DuckDB SQL."""

    def bucket(j: int, kexpr: str) -> str:
        return (
            f"(('0x' || substr(md5('{j}' || ':' || "
            f"CAST(({kexpr}) AS VARCHAR)), 1, 15))::UBIGINT % {CMS_WIDTH})::BIGINT"
        )

    pair_rows = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, {bucket(j, key_expr)} AS bucket FROM {table}"
        for j in range(CMS_DEPTH)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT key, {j} AS j, {bucket(j, 'key')} AS bucket FROM keys"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH pairs AS (
{pair_rows}
),
sketch AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY j, bucket
),
keys AS (SELECT DISTINCT {key_expr} AS key FROM {table}),
probes AS (
{probe_rows}
)
SELECT key, CAST(min(c) AS BIGINT) AS est
FROM probes JOIN sketch USING (j, bucket)
GROUP BY key
HAVING min(c) >= {threshold}
"""


def windowed_hll_sql(table: str, window_ms: int, key_expr: str) -> str:
    """DuckDB oracle for ``windowed_hll_distinct`` over epoch-aligned
    tumbling windows (same integer spec, grouped by window start)."""
    h = f"(('0x' || substr(md5(CAST(({key_expr}) AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT"
    return f"""
WITH hashed AS (
  SELECT (epoch_us(ts) // 1000) // {window_ms} * {window_ms} AS win_start_ms,
         {h} // {W_MOD} AS bucket,
         {h} % {W_MOD} AS w
  FROM {table}
),
regs AS (
  SELECT win_start_ms, bucket,
         least(max(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END), {RHO_CAP}) AS r
  FROM hashed GROUP BY win_start_ms, bucket
),
folded AS (
  SELECT win_start_ms,
         sum(CAST(1 AS BIGINT) << ({RHO_CAP} - r))
           + ({M} - count(*)) * CAST({1 << RHO_CAP} AS BIGINT) AS D
  FROM regs GROUP BY win_start_ms
)
SELECT win_start_ms,
       CAST(CAST({EST_NUM} AS BIGINT) * {ALPHA_NUM} // (D * {ALPHA_DEN}) AS BIGINT) AS est_distinct
FROM folded
"""


# ---------------------------------------------------------------------------
# Bloom filter — fixed-size mergeable membership sketch
# ---------------------------------------------------------------------------

#: Bitmap bits are a PARAMETER (default 2^16), packed into 32-bit words
#: (stored in BIGINT so every mask is positive on both engines), k = 4
#: hash probes. Same cross-engine integer spec discipline as the
#: HLL/CMS above: bit_j(key) = md5-first-60-bits('<j>:' || key) mod m,
#: so Spark and DuckDB build bit-identical word tables for any m.
#:
#: SIZING RULE (measured in scripts/bloom_sweep.py): FP rate at n
#: inserted keys is (1 - e^(-k·n/m))^k — at k = 4 that is ~1% at
#: m ≈ 14·n and saturates (FP → 1) once n approaches m/4. Pick
#: m = next power of two ≥ 16·n; the word table is m/32 rows — 2^20
#: bits is 32 768 rows ≈ 256 KB, still a trivial broadcast, and covers
#: n ≈ 65 k at ~1e-4 FP. The filter's value at 100 TB: the broadcast is
#: m/8 BYTES no matter how many keys were inserted, so membership
#: against a huge corpus stays k broadcast word-lookups even when the
#: eval key set itself would no longer broadcast. Two filters built
#: with the same m MERGE by cellwise bit_or (tests pin it), so
#: per-shard/per-day builds roll up without revisiting raw data.
BLOOM_BITS = 1 << 16
BLOOM_WORD = 32
BLOOM_K = 4


def _bloom_bit(j: int, key_expr: str, bits: int = BLOOM_BITS) -> str:
    """Probe-j bit index of a key (Spark SQL expression string)."""
    return (
        f"CAST(conv(substring(md5(concat('{j}', ':', "
        f"CAST(({key_expr}) AS STRING))), 1, 15), 16, 10) AS BIGINT) % {bits}"
    )


def _bloom_bit_duck(j: int, key_expr: str, bits: int = BLOOM_BITS) -> str:
    """The identical probe-j bit index in DuckDB SQL."""
    return (
        f"((('0x' || substr(md5('{j}' || ':' || "
        f"CAST(({key_expr}) AS VARCHAR)), 1, 15))::UBIGINT % {bits})::BIGINT)"
    )


def bloom_build(df: DataFrame, key_expr: str, bits: int = BLOOM_BITS) -> DataFrame:
    """(word_idx, word) — the packed bitmap of the key set, only
    non-empty words materialized. One map-side-combinable aggregation
    (bit_or partials collapse to ≤ bits/32 rows per partition). The
    ≤ bits/64-row result is checkpointed: `bloom_probe` consumes it
    once per hash function (k broadcast joins), and unshared each join
    would re-run the whole key-set scan."""
    bit_rows = df.select(
        F.explode(
            F.array(*[F.expr(_bloom_bit(j, key_expr, bits)) for j in range(BLOOM_K)])
        ).alias("bit")
    )
    return (
        bit_rows.withColumn("word_idx", F.expr(f"bit div {BLOOM_WORD}"))
        .withColumn(
            "mask", F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {BLOOM_WORD} AS INT))")
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .localCheckpoint(eager=False)
    )


def bloom_probe(
    keys: DataFrame,
    bloom: DataFrame,
    key_expr: str = "key",
    bits: int = BLOOM_BITS,
) -> DataFrame:
    """Append `maybe_present` to `keys`: true iff all k probe bits are
    set — possibly a false positive, NEVER a false negative. `bits`
    must match the build. The filter joins as k broadcast hash joins on
    word_idx (≤ bits/32 build rows each), so the probe side never
    shuffles."""
    out = keys
    hit_cols = []
    for j in range(BLOOM_K):
        out = (
            out.withColumn(f"_b{j}", F.expr(_bloom_bit(j, key_expr, bits)))
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("word_idx").alias(f"_w{j}"),
                        F.col("word").alias(f"_word{j}"),
                    )
                ),
                F.expr(f"_b{j} div {BLOOM_WORD}") == F.col(f"_w{j}"),
                "left",
            )
        )
        hit_cols.append(
            f"(_word{j} IS NOT NULL AND "
            f"(_word{j} & shiftleft(CAST(1 AS BIGINT), CAST(_b{j} % {BLOOM_WORD} AS INT))) != 0)"
        )
    out = out.withColumn("maybe_present", F.expr(" AND ".join(hit_cols)))
    drop = [c for j in range(BLOOM_K) for c in (f"_b{j}", f"_w{j}", f"_word{j}")]
    return out.drop(*drop)
