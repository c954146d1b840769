"""Text-analysis operators: token stats, quality scoring, language ID.

All JVM-side column expressions (split/filter/size — no Python UDFs in
the hot path). Each has a DuckDB restatement with the exact same
arithmetic.

Ratio-like outputs are **integer basis points** (value × 10000, floor
division): cross-engine double rounding is not bit-stable (Spark rounds
the shortest decimal representation, DuckDB rounds the binary value),
so scores that must hash-match across engines are defined on integer
arithmetic end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from khronus_spark.session import local_frame
from khronus_spark.sources.tables import spread


def _tokens():
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


#: stopword list used by quality scoring (English-ish; fixed).
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")

#: language marker profiles for the stopword-profile language-ID
#: heuristic. Checked in a fixed order; ties go to the earlier language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _contains_any(words):
    # single-arg lambda on purpose: a 2-arg lambda would be interpreted
    # as (element, index) by higher-order functions.
    return lambda x: x.isin(*words)


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_uniq, ttr_bp): token counts + type-token
    ratio in basis points."""
    t = docs.select("doc_id", _tokens().alias("t"))
    return t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_uniq"),
        F.expr("size(array_distinct(t)) * 10000L div size(t)").alias("ttr_bp"),
    )


TOKEN_STATS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
)
SELECT doc_id,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_uniq,
       (len(list_distinct(t)) * 10000) // len(t) AS ttr_bp
FROM t
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality in [0, 10000] basis points:
    40% length component (tokens, capped at 100), 30% stopword ratio,
    30% size component (chars, capped at 500). Integer arithmetic only.
    """
    t = docs.select("doc_id", F.col("n_chars"), _tokens().alias("t"))
    in_list = ",".join(repr(w) for w in STOPWORDS)
    stop_bp = F.expr(
        f"size(filter(t, x -> x IN ({in_list}))) * 10000L div size(t)"
    )
    quality_bp = F.expr(
        "(40 * (least(size(t), 100) * 100L)"
        f" + 30 * (size(filter(t, x -> x IN ({in_list}))) * 10000L div size(t))"
        " + 30 * (least(n_chars, 500) * 20L)) div 100"
    )
    return t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        stop_bp.alias("stop_bp"),
        F.expr(
            "aggregate(t, 0L, (acc, x) -> acc + length(x)) * 100L div size(t)"
        ).alias("mean_tok_len_x100"),
        quality_bp.alias("quality_bp"),
    )


QUALITY_SCORE_SQL = rf"""
WITH t AS (
  SELECT doc_id, n_chars, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
)
SELECT doc_id,
       len(t) AS n_tokens,
       (len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS)}))) * 10000) // len(t) AS stop_bp,
       CAST((list_sum(list_transform(t, x -> length(x))) * 100) // len(t) AS BIGINT) AS mean_tok_len_x100,
       (40 * (least(len(t), 100) * 100)
      + 30 * ((len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS)}))) * 10000) // len(t))
      + 30 * (least(n_chars, 500) * 20)) // 100 AS quality_bp
FROM t
"""


def with_quality(docs: DataFrame) -> DataFrame:
    """``docs`` with map-side ``n_tokens`` / ``quality_bp`` columns
    attached — the join-free form of ``quality_score`` for pipeline
    composition. ``docs.join(quality_score(docs), "doc_id")`` re-reads
    the corpus and, once the derived side is too big to broadcast,
    becomes a full-corpus sort-merge self-join — two shuffles of the
    100 TB table to attach columns a projection computes for free.
    Values and types are identical to ``quality_score``'s columns of
    the same name (pinned by test_corpus_ops); zero exchanges added.
    """
    in_list = ",".join(repr(w) for w in STOPWORDS)
    quality_bp = F.expr(
        "(40 * (least(size(_t), 100) * 100L)"
        f" + 30 * (size(filter(_t, x -> x IN ({in_list}))) * 10000L div size(_t))"
        " + 30 * (least(n_chars, 500) * 20L)) div 100"
    )
    return (
        docs.withColumn("_t", _tokens())
        .withColumn("n_tokens", F.size("_t"))
        .withColumn("quality_bp", quality_bp)
        .drop("_t")
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token language ID: count marker hits per language profile;
    predict the argmax (fixed tie order: en, es, fr, de; all-zero →
    'unknown')."""
    t = docs.select("doc_id", F.col("lang").alias("actual_lang"), _tokens().alias("t"))
    hits = {
        lang: F.size(F.filter(F.col("t"), _contains_any(words)))
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*[hits[lang] for lang in LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in LANG_MARKERS:  # fixed order — first max wins
        pred = pred.when(hits[lang] == best, F.lit(lang))
    cols = [F.col("doc_id"), F.col("actual_lang")]
    cols += [hits[lang].alias(f"hits_{lang}") for lang in LANG_MARKERS]
    cols.append(pred.alias("pred_lang"))
    return t.select(*cols)


def _lang_hits_sql(lang: str) -> str:
    return f"len(list_filter(t, x -> x IN ({_sql_list(LANG_MARKERS[lang])})))"


LANG_ID_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang AS actual_lang,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
h AS (
  SELECT doc_id, actual_lang,
         {_lang_hits_sql('en')} AS hits_en,
         {_lang_hits_sql('es')} AS hits_es,
         {_lang_hits_sql('fr')} AS hits_fr,
         {_lang_hits_sql('de')} AS hits_de
  FROM t
)
SELECT doc_id, actual_lang, hits_en, hits_es, hits_fr, hits_de,
       CASE
         WHEN greatest(hits_en, hits_es, hits_fr, hits_de) <= 0 THEN 'unknown'
         WHEN hits_en = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'en'
         WHEN hits_es = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'es'
         WHEN hits_fr = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'fr'
         ELSE 'de'
       END AS pred_lang
FROM h
"""


#: 2^31 — keeps `acc*31 + byte` inside int64 on both engines (DuckDB
#: errors on BIGINT overflow rather than wrapping like the JVM)
ROLLING_MOD = 2_147_483_648


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Karp-Rabin polynomial rolling hash over the character stream:
    fp = fold(chars, acc -> (acc·31 + code) mod 2³¹). A map-only pass
    (array fold per row, no shuffle); the classic building block for
    content-defined chunking and cheap near-identity checks. ASCII-only
    corpus assumed (ascii() of multibyte chars is engine-specific)."""
    expr = (
        "aggregate(transform(split(text, ''), c -> ascii(c)), 0L, "
        f"(acc, b) -> (acc * 31 + b) % {ROLLING_MOD})"
    )
    return docs.select("doc_id", F.expr(expr).alias("rolling_fp"))


ROLLING_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                   (a, b) -> (a * 31 + b) % {ROLLING_MOD}) AS rolling_fp
FROM documents
"""


def repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signal: the share of a document occupied
    by its single most frequent token (`top_tok_bp`, basis points), plus
    the token itself (ties broken to the lexicographically smallest).

    Shape: explode → partial-aggregated groupBy(doc, token) → per-doc
    row_number — the word-count pattern, one shuffle keyed (doc_id,
    token), skew-free because doc_id participates in the key. Per-doc
    map-side alternatives (nested array scans) are O(n_tokens²) per row
    and die on long documents; this stays O(n log n) at any doc length.
    """
    from pyspark.sql import Window

    t = docs.select("doc_id", _tokens().alias("t"))
    exploded = t.select(
        "doc_id", F.size("t").alias("n_tokens"), F.explode("t").alias("tok")
    )
    counts = exploded.groupBy("doc_id", "n_tokens", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_tokens",
            F.col("tok").alias("top_token"),
            F.expr("cnt * 10000L div n_tokens").alias("top_tok_bp"),
        )
    )


REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
x AS (
  SELECT doc_id, len(t) AS n_tokens, unnest(t) AS tok FROM t
),
g AS (
  SELECT doc_id, n_tokens, tok, count(*) AS cnt
  FROM x GROUP BY doc_id, n_tokens, tok
)
SELECT doc_id, n_tokens, tok AS top_token, (cnt * 10000) // n_tokens AS top_tok_bp
FROM g
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) = 1
"""


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style quality-rule battery (Rae et al. 2021, table A1
    adapted): per-document boolean flags plus the combined keep verdict,
    so a pipeline can account for WHY documents drop, not just how many.

    Rules (all integer arithmetic, thresholds in x100 / basis points):
    - r_len: 5 ≤ n_tokens ≤ 100_000 (Gopher: 50..100k words; the lower
      bound is scaled to this corpus' short synthetic docs)
    - r_word_len: 250 ≤ mean token length ×100 ≤ 1000 (Gopher: 3..10)
    - r_stop: ≥ 2 distinct stopwords present (Gopher's ≥2-of-list rule)
    - r_alpha: ≥ 80% of tokens contain an alphabetic character

    Pure column algebra over one projection — map-only, no shuffle, no
    Python; at 100 TB this runs at scan speed and the keep flag prunes
    before any downstream shuffle."""
    in_list = ",".join(repr(w) for w in STOPWORDS)
    t = docs.select("doc_id", _tokens().alias("t"))
    return t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.expr(
            "aggregate(t, 0L, (acc, x) -> acc + length(x)) * 100L div size(t)"
        ).alias("mean_tok_len_x100"),
        F.expr(f"size(array_distinct(filter(t, x -> x IN ({in_list}))))").alias(
            "stop_hits"
        ),
        F.expr(
            "size(filter(t, x -> x rlike '[a-z]')) * 10000L div size(t)"
        ).alias("alpha_bp"),
    ).select(
        "*",
        F.expr("n_tokens BETWEEN 5 AND 100000").alias("r_len"),
        F.expr("mean_tok_len_x100 BETWEEN 250 AND 1000").alias("r_word_len"),
        F.expr("stop_hits >= 2").alias("r_stop"),
        F.expr("alpha_bp >= 8000").alias("r_alpha"),
    ).withColumn(
        "keep", F.expr("r_len AND r_word_len AND r_stop AND r_alpha")
    )


GOPHER_RULES_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         CAST(list_sum(list_transform(t, x -> length(x))) * 100 // len(t) AS BIGINT)
           AS mean_tok_len_x100,
         len(list_distinct(list_filter(t, x -> x IN ({_sql_list(STOPWORDS)}))))
           AS stop_hits,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 10000 // len(t)
           AS alpha_bp
  FROM t
)
SELECT *,
       n_tokens BETWEEN 5 AND 100000 AS r_len,
       mean_tok_len_x100 BETWEEN 250 AND 1000 AS r_word_len,
       stop_hits >= 2 AS r_stop,
       alpha_bp >= 8000 AS r_alpha,
       (n_tokens BETWEEN 5 AND 100000)
         AND (mean_tok_len_x100 BETWEEN 250 AND 1000)
         AND stop_hits >= 2 AND alpha_bp >= 8000 AS keep
FROM m
"""


def with_gopher_keep(docs: DataFrame) -> DataFrame:
    """``docs`` with the map-side ``keep`` verdict of ``gopher_rules``
    attached — the join-free composition form (see ``with_quality``):
    the rule battery is pure column algebra, so pipelines must never
    pay a corpus self-join to consult it. Verdict identical to
    ``gopher_rules().keep`` (pinned by test_corpus_ops)."""
    in_list = ",".join(repr(w) for w in STOPWORDS)
    return (
        docs.withColumn("_t", _tokens())
        .withColumn(
            "keep",
            F.expr(
                "size(_t) BETWEEN 5 AND 100000"
                " AND (aggregate(_t, 0L, (acc, x) -> acc + length(x))"
                " * 100L div size(_t)) BETWEEN 250 AND 1000"
                f" AND size(array_distinct(filter(_t, x -> x IN ({in_list})))) >= 2"
                " AND size(filter(_t, x -> x rlike '[a-z]'))"
                " * 10000L div size(_t) >= 8000"
            ),
        )
        .drop("_t")
    )


#: salt buckets for the gram-key joins: a hot boilerplate gram's probe
#: rows spread over this many tasks regardless of optimizer behavior;
#: the cost is the duplicated-gram build side replicated S× (small —
#: unique grams, the long tail, never enter the join).
_GRAM_SALT = 16


def dup_ngram_fraction(docs: DataFrame, n: int = 5) -> DataFrame:
    """Cross-document duplicated-n-gram fraction: for each document, the
    share of its distinct word n-grams that also occur in at least one
    OTHER document (basis points). The cross-doc analogue of Gopher's
    within-doc dup-ngram filters — high dup_bp marks boilerplate and
    template spam that exact/minhash dedup misses because the document
    as a whole differs.

    Shape: per-doc distinct grams (map-only explode) → global
    document-frequency via groupBy(gram), filtered to the DUPLICATED
    grams only, then a left join back on the gram key → per-doc
    re-aggregate. The frequency is deliberately an AGGREGATE-then-join,
    not a window over the gram key: a window puts every row of a hot
    gram (boilerplate present in most documents) into ONE task with no
    map-side combine. Two refinements make the join itself skew-proof:

    - only grams with doc_freq > 1 enter the join's build side — the
      long tail of corpus-unique grams (most of a web corpus) never
      shuffles twice, and unmatched probe rows are counted via the
      left join's NULL;
    - the join is SALTED (`_GRAM_SALT` buckets): the probe side keys on
      (g, doc_id % S) and the small duplicated-gram build side explodes
      to all S salts, so a hot boilerplate gram's probe rows spread
      over S tasks STRUCTURALLY. AQE's OptimizeSkewedJoin cannot save
      this shape — it requires both join children to be bare shuffle
      stages, and the build side's final HashAggregate fuses between
      its shuffle and the join, blocking the rule (verified empirically;
      an explicit repartition to break the fusion is itself removed as
      redundant by the optimizer) — so the salt is load-bearing, not
      belt-and-braces. Hot-gram fixture gated in test_plan_quality.py.

    No self-join of the corpus. Grams travel as md5 hex (fixed 32
    bytes) rather than raw strings, which both bounds shuffle width and
    is computable identically in DuckDB — the same cross-engine twin
    pattern as `minhash_md5_pairs` (operators/dedup.py); a Spark-only
    deployment would swap xxhash64 for md5 and halve the key again.
    Documents with fewer than n tokens have no n-gram and are excluded
    (dup_bp undefined)."""
    t = docs.select("doc_id", _tokens().alias("t")).where(F.size("t") >= n)
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(t) - {n - 1}),"
                f" i -> md5(concat_ws(' ', slice(t, i, {n})))))"
            )
        ).alias("g"),
        # the gram inventory is built ONCE and shared by the frequency
        # aggregate and the salted probe (tokenize + per-gram md5 is
        # the dominant cost and would otherwise run twice — the same
        # materialize-the-index pattern as bm25_rank's postings; an
        # ExactSubstr deployment persists the gram table durably)
    ).localCheckpoint(eager=False)
    dup_grams = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") > 1)
        .select("g", F.lit(1).alias("is_dup"))
    )
    salted = grams.withColumn(
        "_salt", (F.col("doc_id") % _GRAM_SALT).cast("int")
    )
    dup_salted = dup_grams.select(
        "g",
        "is_dup",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    return (
        salted.join(dup_salted, ["g", "_salt"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)).cast("long")).alias("n_dup"),
        )
        .withColumn("dup_bp", F.expr("n_dup * 10000L div n_grams"))
    )


def dup_ngram_fraction_sql(n: int = 5) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(t) - {n - 1}),
           i -> md5(array_to_string(t[i:i+{n - 1}], ' '))))) AS g
  FROM t WHERE len(t) >= {n}
), df AS (
  SELECT doc_id, count(*) OVER (PARTITION BY g) AS doc_freq FROM g
)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CAST(doc_freq > 1 AS BIGINT)) AS BIGINT) AS n_dup,
       CAST(sum(CAST(doc_freq > 1 AS BIGINT)) * 10000 // count(*) AS BIGINT)
         AS dup_bp
FROM df GROUP BY doc_id
"""


def top_terms_tfidf(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by a deterministic
    tf-idf variant: score = tf · ((N·1000) // df) — linear inverse
    document frequency in integer arithmetic (log-idf needs `ln`,
    which is not bit-stable across engines; the ranking this produces
    is idf-monotone, which is what top-k consumes).

    Shape at scale: two word-count aggregations (tf on (doc, term),
    df on term — both map-side combinable), a BROADCAST of the tiny
    (term, df) table back onto tf, and a per-doc top-k window. The
    corpus-size scalar N rides along as a broadcast literal.
    """
    from pyspark.sql import Window

    # ONE tokenize pass: tf is checkpointed and df derives from it —
    # counting tf's (doc, term) rows per term IS the distinct-doc
    # count, so the separate array_distinct explode (a second corpus
    # scan) is redundant; N is a metadata-cheap count
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.expr("tf * ((n_docs * 1000) div df)").alias("score_x1000"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_x1000").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", F.col("tok").alias("term"), "score_x1000", F.col("rk").alias("rank"))
    )


def top_terms_tfidf_sql(k: int = 3) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
),
df_tbl AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, tok AS term,
       tf * ((n_docs * 1000) // df) AS score_x1000,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf * ((n_docs * 1000) // df) DESC, tok ASC) AS INTEGER) AS rank
FROM tf JOIN df_tbl USING (tok) CROSS JOIN n
QUALIFY rank <= {k}
"""


def corpus_vocabulary(docs: DataFrame, top_v: int = 50) -> DataFrame:
    """Corpus-level vocabulary statistics, BPE/tokenizer-prep style:
    the `top_v` terms by occurrence count with their document frequency
    and cumulative corpus coverage in basis points (ties broken by term
    so the cut is deterministic).

    Shape at scale: the canonical word count — explode + one
    map-side-combinable groupBy(term). The global top-V cut is
    two-phase so no full-vocabulary sort lands on one partition: a
    per-partition rank prunes each shuffle partition to its local
    top-V (any global top-V term is in its partition's top-V), then
    the global window ranks only the <= V x P survivors. The running
    coverage rides that same V-row window; corpus token total is a
    scalar broadcast."""
    from pyspark.sql import Window

    toks = spread(docs).select("doc_id", F.explode(_tokens()).alias("tok"))
    # vocabulary-sized aggregate, checkpointed: the total scalar and
    # the top-V pruning both consume it — unshared, each re-ran the
    # corpus explode
    counts = (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .localCheckpoint(eager=False)
    )
    # corpus token total from the vocabulary-sized aggregate — NOT a
    # second explode over the corpus
    total = counts.agg(F.sum("n_occ").alias("n_total"))
    order = (F.col("n_occ").desc(), F.col("tok").asc())
    w_local = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    survivors = (
        counts.withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= top_v)
        .drop("_lr")
    )
    w_rank = Window.orderBy(*order)
    ranked = (
        survivors.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= top_v)
    )
    w_cum = (
        Window.orderBy(F.col("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "rank",
            "tok",
            "n_occ",
            "n_docs",
            F.expr(
                "CAST(sum(n_occ) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED "
                "PRECEDING AND CURRENT ROW) * 10000 div n_total AS BIGINT)"
            ).alias("coverage_bp"),
        )
    )


def corpus_vocabulary_sql(top_v: int = 50) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
counts AS (
  SELECT tok, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM toks GROUP BY tok
),
total AS (SELECT count(*) AS n_total FROM toks),
ranked AS (
  SELECT tok, n_occ, n_docs,
         row_number() OVER (ORDER BY n_occ DESC, tok ASC) AS rank
  FROM counts
  QUALIFY rank <= {top_v}
)
SELECT rank, tok, n_occ, n_docs,
       CAST(sum(n_occ) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) * 10000 // n_total AS BIGINT) AS coverage_bp
FROM ranked CROSS JOIN total
"""


def pack_sequences(
    docs: DataFrame, budget: int = 512, n_shards: int = 8
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are deterministically
    sharded (`doc_id % n_shards`), concatenated in doc_id order within
    each shard, and the token stream chunked into fixed `budget`-token
    training sequences. Output per document: its shard, token count,
    starting token offset in the shard stream, and the first/last pack
    (training sequence) it lands in.

    Shape at 100 TB: one window cumsum **partitioned by shard** — each
    shard's running offset computes independently, so parallelism = the
    shard count you choose (thousands on a real corpus), with no global
    sort and no single-partition window. Everything else is per-row
    column algebra.
    """
    from pyspark.sql import Window

    t = spread(docs).select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(_tokens()).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("end_off", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("end_off") - F.col("n_tokens")).cast("long").alias("offset"),
            F.expr(f"(end_off - n_tokens) div {budget}").alias("pack_first"),
            F.expr(f"(end_off - 1) div {budget}").alias("pack_last"),
        )
    )


def pack_sequences_sql(budget: int = 512, n_shards: int = 8) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, doc_id % {n_shards} AS shard,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS end_off
  FROM t
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(end_off - n_tokens AS BIGINT) AS offset,
       CAST((end_off - n_tokens) // {budget} AS BIGINT) AS pack_first,
       CAST((end_off - 1) // {budget} AS BIGINT) AS pack_last
FROM c
"""


#: Cross-engine PII detector patterns — restricted to the regex subset
#: with identical semantics in Java regex (Spark) and RE2 (DuckDB):
#: character classes, bounded repetition, alternation, the (?i) flag;
#: no backrefs or lookaround. Case-insensitive because they run against
#: RAW text (Jane.Doe@Example.COM must hit).
PII_EMAIL = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_URL = r"(?i)https?://[^ ]+"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-source PII / structural-anomaly profile: email, URL, and
    phone-shaped hit counts plus structural signals (digit-bearing
    tokens, long tokens) over each source's documents.

    The driver testdata is a synthetic PII-free corpus, so the PII
    columns are expected to be zero there — the registry entry asserts
    that certification; the detectors themselves are proven on
    PII-laden fixtures in tests/test_pii_scan.py.

    Shape at 100 TB: per-row regex counts (JVM codegen, no Python),
    collapsed by one map-side-combinable groupBy(source).

    NOTE the patterns go through the `F.regexp_extract_all` column API,
    never `F.expr` — a SQL string literal would re-process the regex
    backslashes ('\\.' silently becomes 'any char')."""
    def _count(pattern: str):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0)))

    t = spread(docs).select(
        "source",
        _tokens().alias("t"),
        _count(PII_EMAIL).alias("e"),
        _count(PII_URL).alias("u"),
        _count(PII_PHONE).alias("p"),
    )
    return (
        t.select(
            "source",
            "e",
            "u",
            "p",
            F.size("t").alias("n_tok"),
            F.size(F.filter(F.col("t"), lambda x: x.rlike("[0-9]"))).alias("dig"),
            F.size(F.filter(F.col("t"), lambda x: F.length(x) >= 7)).alias("lng"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("e").alias("n_email_hits"),
            F.sum("u").alias("n_url_hits"),
            F.sum("p").alias("n_phone_hits"),
            F.sum("dig").alias("n_digit_tokens"),
            F.sum("lng").alias("n_long_tokens"),
        )
    )


PII_SCAN_SQL = rf"""
WITH t AS (
  SELECT source,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t,
         len(regexp_extract_all(text, '{PII_EMAIL}')) AS e,
         len(regexp_extract_all(text, '{PII_URL}')) AS u,
         len(regexp_extract_all(text, '{PII_PHONE}')) AS p
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(len(t)) AS BIGINT) AS n_tokens,
       CAST(sum(e) AS BIGINT) AS n_email_hits,
       CAST(sum(u) AS BIGINT) AS n_url_hits,
       CAST(sum(p) AS BIGINT) AS n_phone_hits,
       CAST(sum(len(list_filter(t, x -> regexp_matches(x, '[0-9]')))) AS BIGINT)
         AS n_digit_tokens,
       CAST(sum(len(list_filter(t, x -> length(x) >= 7))) AS BIGINT)
         AS n_long_tokens
FROM t
GROUP BY source
"""


# ---- hashed linear quality classifier ------------------------------------

#: hashed-feature dimension for the linear quality classifier.
CLASSIFIER_DIM = 1024


def classifier_weights(spark) -> DataFrame:
    """The classifier's weight vector as a D-row (bucket, w) table.

    Weights are a fixed deterministic function of the bucket id
    (md5-derived integers in [-1000, 1000]) so both engines materialize
    the identical model without shipping a binary artifact — the
    plumbing is exactly what a trained fastText/logistic-regression
    quality filter needs at scale: the model is a SMALL broadcast
    dimension table, the corpus never shuffles for scoring. Swapping in
    real trained weights is a one-line change (read the table from
    parquet instead of deriving it)."""
    return spark.range(CLASSIFIER_DIM).select(
        F.col("id").cast("int").alias("bucket"),
        (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10)
            .cast("long")
            % 2001
            - 1000
        ).cast("long").alias("w"),
    )


def quality_classifier_score(docs: DataFrame, threshold_x100: int = 0) -> DataFrame:
    """Model-based quality filtering (the fastText / logistic-regression
    stage of Dolma/NeMo-style curation pipelines), restated as exact
    integer arithmetic: tokens hash into CLASSIFIER_DIM buckets
    (md5-derived, engine-portable), each bucket carries a fixed integer
    weight, and a document's score is the token-weight mean scaled by
    100 (`score_x100 = sum(w) * 100 div n_tokens`). Returns
    (doc_id, n_tokens, score_x100, keep).

    Scale shape: explode to one row per token (map-only), join the
    D-row broadcast weight table, and re-aggregate per doc — one
    map-side-combinable shuffle on doc_id. The weight table is the
    model; a real trained model swaps the derivation for a parquet read
    with no plan change."""
    toks = docs.select("doc_id", F.explode(_tokens()).alias("tok")).where(
        F.col("tok") != ""
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % CLASSIFIER_DIM
    ).cast("int")
    w = classifier_weights(docs.sparkSession)
    return (
        toks.withColumn("bucket", bucket)
        .join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr("sum(w) * 100 div count(1)").alias("score_x100"),
        )
        .withColumn("keep", F.col("score_x100") >= threshold_x100)
    )


def quality_classifier_score_sql(threshold_x100: int = 0) -> str:
    return rf"""
WITH wtab AS (
  SELECT CAST(b AS INT) AS bucket,
         CAST(('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 4))::UINTEGER
              % 2001 AS BIGINT) - 1000 AS w
  FROM range(0, {CLASSIFIER_DIM}) t(b)
), toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % {CLASSIFIER_DIM}
              AS INT) AS bucket
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w.w) * 100 // count(*) AS BIGINT) AS score_x100,
       CAST(sum(w.w) * 100 // count(*) AS BIGINT) >= {threshold_x100} AS keep
FROM toks t JOIN wtab w ON w.bucket = t.bucket
GROUP BY t.doc_id
"""


# ---- exact-substring duplicate spans -------------------------------------


def duplicate_spans(docs: DataFrame, n: int = 5, min_tokens: int = 8) -> DataFrame:
    """Exact-substring dedup, span-level (the ExactSubstr operation of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", restated Spark-first): for each document, the maximal
    contiguous token regions COVERED by length-n grams that also occur
    in at least one OTHER document (the union of every duplicated
    gram's [pos, pos+n-1] interval). Where `dup_ngram_fraction` reports
    HOW MUCH of a doc is boilerplate, this reports WHERE — the spans a
    cleaning pass would actually cut. Returns (doc_id, span_start,
    span_end, span_tokens), 1-indexed inclusive token positions,
    spans ≥ `min_tokens` only; spans are disjoint with at least one
    uncovered token between them.

    Shape: positions explode map-only; cross-doc gram frequency is the
    same distinct-grams → gram-key window as dup_ngram_fraction (no
    corpus self-join); duplicated positions then merge by interval
    union with a threshold gaps-and-islands (new island when the
    position gap exceeds n — smaller gaps leave no uncovered token),
    two windows + one groupBy on the doc key. Everything is
    key-partitioned shuffles; suffix arrays (the paper's single-machine
    structure) are replaced by gram hashing, which is what
    distributes."""
    from pyspark.sql import Window

    # spread before the gram pass (r14): the per-position md5 hashing
    # below is this operator's CPU and runs in the SCAN stage, which a
    # single-row-group input pins to one task; the round-robin widen is
    # corpus-text-sized locally and a guard-level no-op at real scale.
    # Measured ×0.8 wall at sf0.1; pos_grams stays checkpointed, so the
    # widened pass still runs exactly once.
    t = spread(docs).select("doc_id", _tokens().alias("t")).where(
        F.size("t") >= n
    )
    # grams travel as the 60-bit md5 prefix (8-byte long), not hex text:
    # the gram key crosses two shuffles, so key width is shuffle width;
    # the same integer is computable in DuckDB so the oracle still twins
    pos_grams = (
        t.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t) - {n - 1}),"
                    " i -> CAST(conv(substring("
                    f"md5(concat_ws(' ', slice(t, i, {n}))), 1, 15), 16, 10)"
                    " AS BIGINT))"
                )
            ).alias("pos0", "g"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
        # positional gram inventory built ONCE, shared by the
        # frequency aggregate and the duplicated-position probe (see
        # dup_ngram_fraction — the per-gram md5 pass is the cost)
        .localCheckpoint(eager=False)
    )

    # duplicated grams as an aggregate (map-side combinable — a window
    # over the gram key would serialize every occurrence of a hot
    # boilerplate gram into one task), joined back SALTED on
    # (g, doc_id % S): structural skew spreading, since AQE's skew rule
    # cannot split a join fused against a final aggregate (see
    # dup_ngram_fraction for the full note)
    dup_grams = (
        pos_grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") > 1)
        .select(
            "g",
            F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
        )
    )
    # NO distinct on (doc_id, pos) — it was a full (doc,pos)-keyed
    # exchange guarding a uniqueness that holds by construction:
    # posexplode emits exactly one gram per position, and the salted
    # join matches each (g, _salt) probe row against at most one build
    # row, so (doc_id, pos) is already unique here. Even under
    # duplicate input rows the downstream is insensitive: equal
    # positions lag to gap 0 (never a new island) and the span
    # min/max/groupBy collapse repeats — so dropping the distinct
    # cannot change the output for ANY input (guide §2.4: a distinct
    # on data that is already unique is an accidental shuffle). The
    # doc-keyed window exchange is now the tail's only shuffle.
    dup_pos = (
        pos_grams.withColumn("_salt", (F.col("doc_id") % _GRAM_SALT).cast("int"))
        .join(dup_grams, ["g", "_salt"])
        .select("doc_id", "pos")
    )
    # interval-union islands: a duplicated gram at position p covers
    # tokens [p, p+n-1], so positions p < q belong to one contiguous
    # covered region iff q - p <= n (q = p+n touches with no hole); a
    # plain pos - row_number() trick would merge only gap-1 positions
    # and emit OVERLAPPING spans for gaps 2..n-1
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_pos.withColumn(
        "island",
        F.sum(
            F.when(
                F.coalesce(
                    F.col("pos") - F.lag("pos").over(w_doc), F.lit(n + 1)
                )
                > n,
                1,
            ).otherwise(0)
        ).over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
        )
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .where(F.col("span_tokens") >= min_tokens)
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )


def duplicate_spans_sql(n: int = 5, min_tokens: int = 8) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), pg AS (
  SELECT doc_id, i AS pos,
         (('0x' || substr(md5(array_to_string(t[i:i+{n - 1}], ' ')), 1, 15))
          ::UBIGINT::BIGINT) AS g
  FROM t, unnest(range(1, len(t) - {n - 2})) AS r(i)
  WHERE len(t) >= {n}
), pdg AS (
  SELECT DISTINCT doc_id, g FROM pg
), gf AS (
  SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS doc_freq FROM pdg
), dp AS (
  SELECT DISTINCT pg.doc_id, pg.pos
  FROM pg JOIN gf ON gf.doc_id = pg.doc_id AND gf.g = pg.g
  WHERE gf.doc_freq > 1
), lagged AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM dp
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos - prev > {n} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM lagged
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {n - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {n - 1} - min(pos) + 1 AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
HAVING max(pos) + {n - 1} - min(pos) + 1 >= {min_tokens}
"""


# ---- BPE merge training ---------------------------------------------------


def _merge_fold(col, left: str, right: str):
    """Column: apply one BPE merge (left, right) -> left||right over a
    symbol array, greedy left-to-right (overlaps consume leftmost first:
    [a,a,a] under (a,a) -> [aa, a]). The merge symbols are bound as
    Column LITERALS, never interpolated into SQL text — a learned symbol
    containing a quote or backslash (code-heavy corpora) can neither
    break the expression nor change its value."""
    l, r, m = F.lit(left), F.lit(right), F.lit(left + right)

    def step(acc, x):
        hit = (F.size(acc) > 0) & (F.element_at(acc, -1) == l) & (x == r)
        return F.when(
            hit, F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(m))
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(col, F.array().cast("array<string>"), step)


def bpe_merges(docs: DataFrame, k: int = 6, max_batch: int = 8) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016), the
    tokenizer-training primitive: learn the top-k byte-pair merges over
    the corpus. Returns (rank, left, right, pair_count) — one row per
    learned merge in training order.

    Since round 9 this is a ROUTE to `bpe_merges_batched` (the round-8
    verdict's bpe_merges directive): the batched trainer is
    bit-identical to the sequential recurrence by the prefix-safety
    proof at its definition (and by `bpe_merges_sequential` equivalence
    tests + the unrolled-chain driver oracle, which this face still
    answers), while cutting driver round-trips from k to ~k/batch —
    the iterative-loop shape is the one most sensitive to per-job
    overhead and host contention, which is exactly what the bench
    drift flagged. `bpe_merges_sequential` keeps the reference
    recurrence for the proof."""
    return bpe_merges_batched(docs, k=k, max_batch=max_batch)


def bpe_merges_sequential(docs: DataFrame, k: int = 6) -> DataFrame:
    """The REFERENCE sequential BPE trainer — one merge per corpus
    pass, the literal Sennrich recurrence. Kept as the equivalence
    oracle for `bpe_merges_batched` (tests compare the two trainer
    outputs bit-for-bit; the production `bpe_merges` face routes to
    the batched trainer). Trains on the distinct-word frequency table
    (the classical formulation, and the shape that distributes): one
    corpus-wide word count, then every iteration touches only the
    distinct-word symbol table — at web scale ~10^7 rows against
    ~10^11 corpus tokens. Per iteration: weighted adjacent-pair counts
    (one map-side-combinable shuffle on the pair key), a global argmax
    (k tiny driver rows total; ties break on count desc, then
    (left, right) asc so training is deterministic), and a map-only
    greedy fold applying the merge. Simplification vs production BPE,
    documented: symbols are characters within words with no
    end-of-word marker."""
    words = (
        docs.select(F.explode(_tokens()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqs = words.select("cnt", F.split("w", "").alias("sym")).localCheckpoint(
        eager=True
    )
    merges = []
    for rank in range(1, k + 1):
        pairs = (
            seqs.where(F.size("sym") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1), "
                        "i -> struct(element_at(sym, i) AS l, "
                        "element_at(sym, i + 1) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.col("pair_count").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["pair_count"]
        merges.append((rank, l, r, int(cnt)))
        # lazy checkpoint: the next pass's top-pair collect materializes
        # it in the same action (one job per merge pass, not two)
        seqs = seqs.select(
            "cnt", _merge_fold(F.col("sym"), l, r).alias("sym")
        ).localCheckpoint(eager=False)
    return local_frame(
        docs.sparkSession, merges, "rank LONG, left STRING, right STRING, pair_count LONG"
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the distinct-word symbol table
    — one map-side-combinable shuffle on the (l, r) key."""
    return (
        seqs.where(F.size("sym") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sym) - 1), "
                    "i -> struct(element_at(sym, i) AS l, "
                    "element_at(sym, i + 1) AS r))"
                )
            ).alias("p"),
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _truncate_ties(batch: list, cand: list, c_stop: int, window_full: bool) -> list:
    """Keep the longest safe prefix of `batch` given the stopping count.

    Candidates with count > c_stop are unconditionally safe (no changed
    or created pair can reach their count). A candidate TYING c_stop is
    threatened only by a same-count descendant pair winning the (l, r)
    tie-break at its sequential step — and every descendant's ancestry
    bottoms out in an UNTAKEN window pair of count >= c_stop that
    conflicts with an EARLIER kept merge (created pairs inherit at most
    their destroyed ancestor's count; original pairs never threaten,
    since equal-count originals rank lexicographically after the
    accepted prefix by construction). So a tie candidate survives iff no
    such conflicting ancestor exists; a full window whose tail still
    ties c_stop may hide unseen ancestors, so ties are dropped then."""
    kept: list = []
    accepted_keys = {(r["l"], r["r"]) for r in batch}
    for row in batch:
        if int(row["pair_count"]) > c_stop:
            kept.append(row)
            continue
        if window_full and int(cand[-1]["pair_count"]) >= c_stop:
            break
        threat = False
        for w in cand:
            if int(w["pair_count"]) < c_stop:
                break  # sorted: no further ancestor can tie
            if (w["l"], w["r"]) in accepted_keys:
                continue
            for e in kept:
                left, right = e["l"], e["r"]
                merged = left + right
                if (
                    w["l"] in (right, merged)
                    or w["r"] in (left, merged)
                    or (w["l"], w["r"]) == (left, right)
                ):
                    threat = True
                    break
            if threat:
                break
        if threat:
            break  # batch must stay a prefix: drop this and the rest
        kept.append(row)
    return kept


def bpe_merges_batched(
    docs: DataFrame,
    k: int = 12,
    max_batch: int = 8,
    stats: dict | None = None,
) -> DataFrame:
    """BPE merge training with multiple merges learned per corpus pass —
    bit-identical to `bpe_merges(docs, k)` — the scale path: a 32 k-merge
    tokenizer at one driver round-trip per merge means 32 k sequential
    Spark jobs; batching cuts passes to ~k/batch.

    Safety argument for bit-equality with the sequential trainer:
    candidates are taken in global (count desc, l, r) order, and a batch
    is the maximal PREFIX in which no candidate CONFLICTS with an earlier
    accepted merge (L, R, M=L||R). Applying that merge changes the count
    of pair (p, q) iff the p occurrence can be absorbed leftward (p = R),
    the q occurrence rightward (q = L), the pair is the merge itself, or
    a symbol literally equals the created string M (string-BPE symbol
    collision) — merely sharing L as a left or R as a right member leaves
    every adjacency intact, so (a,l) and (a,s) batch together. Each
    accepted candidate's count is therefore bit-unchanged at its
    sequential step; every pair a merge changes or creates ((x,M),(M,y))
    has count bounded by a CONFLICTING pair's original count, which, by
    the prefix rule, ranks at or below the stopping candidate. Truncating
    the batch to counts STRICTLY above the stopping count guarantees no
    changed/created pair can outrank — or tie into, under the (l, r)
    tie-break — any accepted merge. When truncation empties the batch
    (top count equals the stop count), the pass falls back to the
    sequential single merge, which is trivially exact.

    `stats`, when given, records {"passes": n} — the measured pass count
    (≪ k on natural text, where top merges rarely share symbols)."""
    words = (
        docs.select(F.explode(_tokens()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqs = words.select("cnt", F.split("w", "").alias("sym")).localCheckpoint(
        eager=True
    )
    merges: list[tuple[int, str, str, int]] = []
    passes = 0
    window = max_batch * 4 + 8
    while len(merges) < k:
        cand = (
            _pair_counts(seqs)
            .orderBy(F.col("pair_count").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(window)
            .collect()
        )
        if not cand:
            break
        passes += 1
        cap = min(max_batch, k - len(merges))
        batch: list = []
        rights: set[str] = set()  # {R_i} ∪ {M_i}: conflict as p
        lefts: set[str] = set()  # {L_i} ∪ {M_i}: conflict as q
        pairs_in: set[tuple[str, str]] = set()
        c_stop: int | None = None
        for row in cand:
            p, q = row["l"], row["r"]
            if (
                p in rights
                or q in lefts
                or (p, q) in pairs_in
                or len(batch) >= cap
            ):
                c_stop = int(row["pair_count"])
                break
            batch.append(row)
            m = p + q
            rights |= {q, m}
            lefts |= {p, m}
            pairs_in.add((p, q))
        else:
            # ran off the collected window: anything unseen counts <= the
            # window's tail; a complete (< window) list has no overlap
            # candidates left at all, so every accepted merge is safe
            c_stop = int(cand[-1]["pair_count"]) if len(cand) == window else None
        if c_stop is not None:
            batch = _truncate_ties(batch, cand, c_stop, len(cand) == window)
        if not batch:
            batch = cand[:1]  # sequential single-merge fallback
        sym = F.col("sym")
        for row in batch:
            merges.append(
                (len(merges) + 1, row["l"], row["r"], int(row["pair_count"]))
            )
            sym = _merge_fold(sym, row["l"], row["r"])
        # lazy checkpoint (see the sequential trainer): the next pass's
        # candidate-window collect materializes it in the same action
        seqs = seqs.select("cnt", sym.alias("sym")).localCheckpoint(eager=False)
    if stats is not None:
        stats["passes"] = passes
    return local_frame(
        docs.sparkSession, merges, "rank LONG, left STRING, right STRING, pair_count LONG"
    )


def bpe_encode(
    docs: DataFrame, k: int = 6, max_batch: int = 8
) -> DataFrame:
    """Apply the k learned BPE merges back to the corpus — the other
    half of the tokenizer loop (train with `bpe_merges_batched`, which
    is bit-identical to the sequential trainer, then encode). Returns
    (doc_id, n_words, n_bpe_tokens): per-document whitespace-word and
    BPE-token counts under the trained merges — the numbers a training-
    data pipeline bills by (tokens per doc, compression vs raw words).

    Scale shape: the merges collect to the driver (k tiny rows); the
    fold applies to the DISTINCT-word table only (~10⁷ rows at web
    scale, never the ~10¹¹ corpus tokens); occurrence counts aggregate
    per (doc_id, word) first — doc_id in the key, so hot words like
    'the' cannot hotspot the aggregation — and the join of those counts
    against the encoded word table is SALTED on doc_id % S, the same
    structural skew spreading as the gram joins (a stop word lands in
    most documents; an unsalted word-key join serializes it into one
    task, and AQE cannot split a join fused against this aggregate)."""
    merge_rows = sorted(
        bpe_merges_batched(docs, k, max_batch).collect(), key=lambda r: r["rank"]
    )
    words = (
        docs.select(F.explode(_tokens()).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    sym = F.split("w", "")
    for r in merge_rows:
        sym = _merge_fold(sym, r["left"], r["right"])
    encoded = words.select("w", F.size(sym).alias("n_sym"))
    enc_salted = encoded.select(
        "w",
        "n_sym",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    doc_words = (
        docs.select("doc_id", F.explode(_tokens()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_salt", (F.col("doc_id") % _GRAM_SALT).cast("int"))
    )
    return (
        doc_words.join(enc_salted, ["w", "_salt"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_bpe_tokens"),
        )
    )


def bpe_encode_sql(k: int = 6) -> str:
    """Train-and-encode unrolled for DuckDB: the bpe_merges chain with
    the word string carried through every fold step, then per-doc
    occurrence counts joined against the encoded word table."""
    parts = [
        r"""w AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
s0 AS (SELECT w, cnt, string_split(w, '') AS sym FROM w)"""
    ]
    for i in range(k):
        parts.append(
            f"""p{i} AS (
  SELECT sym[i] AS l, sym[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM s{i}, unnest(range(1, len(sym))) AS t(i)
  WHERE len(sym) >= 2
  GROUP BY l, r
),
t{i} AS (
  SELECT l, r, pair_count FROM p{i}
  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
),
s{i + 1} AS (
  SELECT w, cnt,
         CASE WHEN len(sym) < 2 THEN sym
              ELSE list_reduce(
                list_transform(sym, s -> [s]),
                (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.l
                                  AND x[1] = t.r
                            THEN list_slice(acc, 1, len(acc) - 1) || [t.l || t.r]
                            ELSE acc || x END)
         END AS sym
  FROM s{i}, t{i} t
)"""
        )
    parts.append(
        rf"""dwc AS (
  SELECT doc_id, w, count(*) AS cnt FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY doc_id, w
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id,
       CAST(sum(dwc.cnt) AS BIGINT) AS n_words,
       CAST(sum(dwc.cnt * len(s.sym)) AS BIGINT) AS n_bpe_tokens
FROM dwc JOIN s{k} s USING (w)
GROUP BY doc_id"""
    )


def bpe_merges_sql(k: int = 6) -> str:
    """The identical training loop unrolled into DuckDB CTEs. The merge
    fold is list_reduce over singleton-wrapped symbols (acc type must
    equal element type in DuckDB); the per-iteration top pair is a
    1-row CTE cross-joined into the next apply step."""
    parts = [
        r"""w AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
s0 AS (SELECT cnt, string_split(w, '') AS sym FROM w)"""
    ]
    for i in range(k):
        parts.append(
            f"""p{i} AS (
  SELECT sym[i] AS l, sym[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM s{i}, unnest(range(1, len(sym))) AS t(i)
  WHERE len(sym) >= 2
  GROUP BY l, r
),
t{i} AS (
  SELECT l, r, pair_count FROM p{i}
  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
),
s{i + 1} AS (
  SELECT cnt,
         CASE WHEN len(sym) < 2 THEN sym
              ELSE list_reduce(
                list_transform(sym, s -> [s]),
                (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.l
                                  AND x[1] = t.r
                            THEN list_slice(acc, 1, len(acc) - 1) || [t.l || t.r]
                            ELSE acc || x END)
         END AS sym
  FROM s{i}, t{i} t
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS rank, l AS left, r AS right, "
        f"pair_count FROM t{i}"
        for i in range(k)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union + "\nORDER BY rank"


def c4_span_removal(docs: DataFrame, chunk_words: int = 10) -> DataFrame:
    """C4-style duplicate-span REMOVAL — the transform counterpart of
    `duplicate_spans`: the corpus is cut into non-overlapping
    `chunk_words`-word spans, any span occurring more than once
    corpus-wide is kept only at its FIRST occurrence (lexicographic min
    of (doc_id, span index) — C4 keeps one copy of every repeated
    three-sentence span; the word-window stand-in matches the synthetic
    corpus, which has no sentence boundaries), and every document is
    re-assembled from its surviving spans. Output per document:
    (doc_id, n_chunks, n_removed, clean_words, clean_md5) — the md5 of
    the re-assembled text proves byte-exact reassembly cross-engine
    without shipping the text itself.

    Shape at 100 TB (same skew discipline as `dup_ngram_fraction`):
    spans explode map-only; the keeper table is ONE map-side-combinable
    aggregate over the span hash (count + min composite key); only
    DUPLICATED spans enter the join's build side (the corpus-unique
    long tail never shuffles twice); the join back is SALTED on
    (g, doc_id % S) because AQE's skew rule cannot split this
    agg-fused-build shape. Reassembly is a per-document
    collect-sort-concat whose state is bounded by a single document's
    size."""
    c = chunk_words
    #: composite (doc_id, chunk_idx) key: chunk index fits 2^20 for any
    #: document under ~10M words at c>=10, so the packing is exact
    ck = 1 << 20
    t = docs.select("doc_id", _tokens().alias("t"))
    chunks = t.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(t) - 1) div {c}),"
                f" i -> concat_ws(' ', slice(t, i * {c} + 1, {c})))"
            )
        ).alias("ci", "chunk"),
    ).select(
        "doc_id",
        "ci",
        "chunk",
        F.md5("chunk").alias("g"),
        F.least(F.lit(c), F.col("n_tok") - F.col("ci") * c).alias("cw"),
        (F.col("doc_id") * ck + F.col("ci")).alias("pos_key"),
    )
    keepers = (
        chunks.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("pos_key").alias("keep_key"))
        .where(F.col("n_occ") > 1)
        .select("g", "keep_key")
    )
    salted = chunks.withColumn("_salt", (F.col("doc_id") % _GRAM_SALT).cast("int"))
    keep_salted = keepers.select(
        "g",
        "keep_key",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    flagged = salted.join(keep_salted, ["g", "_salt"], "left").withColumn(
        "removed",
        F.col("keep_key").isNotNull() & (F.col("pos_key") != F.col("keep_key")),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("removed").cast("long")).alias("n_removed"),
            F.sum(F.when(~F.col("removed"), F.col("cw")).otherwise(F.lit(0))).alias(
                "clean_words"
            ),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "CASE WHEN NOT removed THEN struct(ci, chunk) END)),"
                        " x -> x.chunk)"
                    ),
                )
            ).alias("clean_md5"),
        )
    )


def c4_span_removal_sql(chunk_words: int = 10) -> str:
    c = chunk_words
    ck = 1 << 20
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
ch AS (
  SELECT doc_id,
         i - 1 AS ci,
         array_to_string(t[(i - 1) * {c} + 1 : i * {c}], ' ') AS chunk,
         least({c}, len(t) - (i - 1) * {c}) AS cw,
         doc_id * {ck} + (i - 1) AS pos_key
  FROM t, unnest(generate_series(1, (len(t) + {c - 1}) // {c})) AS s(i)
),
g AS (SELECT doc_id, ci, chunk, cw, pos_key, md5(chunk) AS g FROM ch),
k AS (
  SELECT g, min(pos_key) AS keep_key
  FROM g GROUP BY g HAVING count(*) > 1
),
f AS (
  SELECT g.doc_id, g.ci, g.chunk, g.cw,
         (k.keep_key IS NOT NULL AND g.pos_key <> k.keep_key) AS removed
  FROM g LEFT JOIN k USING (g)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN removed THEN 0 ELSE cw END) AS BIGINT) AS clean_words,
       md5(coalesce(string_agg(CASE WHEN NOT removed THEN chunk END, ' ' ORDER BY ci), '')) AS clean_md5
FROM f
GROUP BY doc_id
"""


def unigram_surprisal(docs: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Language-model quality filtering, integer-exact: per document,
    the total and mean unigram surprisal of its tokens under the
    corpus's own unigram distribution — the CCNet/Wikipedia-LM
    perplexity filter's role (docs whose tokens are globally rare score
    high = "surprising"; boilerplate scores low), with floor-log2
    standing in for log2 so both engines agree BIT-EXACTLY:

        surprisal(tok) ≈ bitlen(N_tokens) - bitlen(count(tok))

    where bitlen(x) = length(bin(x)) is the integer bit length (both
    engines render bin() without leading zeros — the same trick as the
    HLL rho). Each term is within 1 bit of -log2(count/N) ± 1, which is
    ample for a keep/drop threshold, and no float ever enters the
    plan. Output: (doc_id, n_tokens, surprisal_bits, mean_surprisal_mbits)
    — mean in milli-bits (integer div, ×1000).

    Shape at 100 TB: token counts are one map-side-combinable groupBy
    (hot stop words pre-fold in every partition); the corpus total is a
    broadcast scalar; the count join back is doc-salted exactly like
    the gram joins (a stop word appears in every document — the
    unsalted join would serialize it into one task).

    `carry_cols` threads extra doc-level columns (functionally
    dependent on doc_id, e.g. `lang`) through the per-doc group keys —
    free for the aggregates (same group cardinality) and it spares the
    consumer a corpus-growing self-join back onto `docs` (the wave-4
    quality-attach lesson)."""
    carry = list(carry_cols)
    toks = docs.select("doc_id", *carry, F.explode(_tokens()).alias("w"))
    # built once, shared by the count chain and the probe (the
    # tokenize+explode+agg subtree would otherwise run three times:
    # via total, via the salted count join, and as the probe — the
    # bm25_rank postings pattern); counts checkpoints too because both
    # total and the salted join consume it
    occ = (
        toks.groupBy("doc_id", *carry, "w")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    counts = (
        occ.groupBy("w").agg(F.sum("k").alias("c")).localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("c").alias("n")).select(
        F.lit(1).alias("_one"), "n"
    )
    salted = occ.withColumn("_salt", (F.col("doc_id") % _GRAM_SALT).cast("int"))
    counts_salted = counts.select(
        "w",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    return (
        salted.join(counts_salted, ["w", "_salt"])
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(total), "_one")
        .withColumn(
            "bits", F.expr("length(bin(n)) - length(bin(c))")
        )
        .groupBy("doc_id", *carry)
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.expr("k * CAST(bits AS BIGINT)")).alias("surprisal_bits"),
        )
        .withColumn(
            "mean_surprisal_mbits",
            F.expr("surprisal_bits * 1000L div n_tokens"),
        )
    )


def unigram_surprisal_sql() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
occ AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM toks GROUP BY doc_id, w
),
counts AS (
  SELECT w, CAST(sum(k) AS BIGINT) AS c FROM occ GROUP BY w
),
total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
scored AS (
  SELECT occ.doc_id, occ.k,
         length(bin(total.n)) - length(bin(counts.c)) AS bits
  FROM occ JOIN counts USING (w) CROSS JOIN total
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_tokens,
       CAST(sum(k * bits) AS BIGINT) AS surprisal_bits,
       CAST(sum(k * bits) * 1000 // sum(k) AS BIGINT) AS mean_surprisal_mbits
FROM scored
GROUP BY doc_id
"""


#: CCNet's split labels, in ascending-perplexity order.
PERPLEXITY_SPLITS = ("head", "middle", "tail")

#: tie-mass sub-cells per mean value (see perplexity_split docstring)
_SPLIT_SALT_MOD = 64
#: histogram rows beyond which the bucket attach stops broadcasting
_SPLIT_BROADCAST_LIMIT = 2_000_000
_SPLIT_SALT_SPARK = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    f" % {_SPLIT_SALT_MOD}"
)
_SPLIT_SALT_DUCK = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT"
    f" % {_SPLIT_SALT_MOD}"
)


def perplexity_split(docs: DataFrame, n_buckets: int = 3) -> DataFrame:
    """CCNet's head/middle/tail partition (Wenzek et al., LREC'20): per
    language, rank documents by LM perplexity and cut the corpus into
    equal thirds — `head` (most fluent, lowest perplexity) feeds
    training directly, `middle` is kept-with-caveats, `tail` is the
    noise pool. The perplexity stand-in is the integer-exact
    `unigram_surprisal` mean (milli-bits/token), so the whole split is
    bit-reproducible cross-engine.

    Bucketing is TWO-PHASE VALUE-HISTOGRAM, not a per-lang rank
    window: a `Window.partitionBy(lang)` row_number would funnel each
    language through ONE task — at 100 TB the dominant language is
    most of the corpus, so that plan cannot scale (the RFM entry's
    ntile argument). Instead: (1) aggregate doc counts per
    (lang, mean_mbits, salt) where salt = md5(doc_id) % 64 — bounded
    by the mbits VALUE RANGE × 64, not by doc count; (2) a window
    over that tiny histogram computes each cell's cumulative count
    below it (value-major, salt-minor order); (3) bucket =
    n_buckets·cum_before div n_lang, broadcast back onto the per-doc
    frame. The salt exists because web corpora are DUPLICATE-HEAVY: a
    boilerplate text repeated a billion times is one mean value, and
    pure value-bucketing would dump the whole tie mass into one
    bucket (observed on the gate corpus: 90% "head"). The md5 salt
    splits every tie mass into 64 deterministic sub-cells so cuts
    land between them; residual granularity is 1/64 of each tie mass
    (docs sharing (mean, salt) still share a bucket — deterministic,
    engine-independent).

    Output: (doc_id, lang, mean_surprisal_mbits, bucket, split)."""
    # checkpointed (curated_docs rule): the size-guard count below and
    # the final join both consume these frames — uncheckpointed, the
    # corpus-scale surprisal aggregation would run once for the count
    # and twice more for the join's two sides
    per_doc = (
        unigram_surprisal(docs, carry_cols=("lang",))
        .select(
            "doc_id",
            "lang",
            "mean_surprisal_mbits",
            F.expr(_SPLIT_SALT_SPARK).alias("_salt"),
        )
        .localCheckpoint(eager=False)
    )
    hist = per_doc.groupBy("lang", "mean_surprisal_mbits", "_salt").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("mean_surprisal_mbits", "_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("lang")
    labels = ", ".join(f"'{s}'" for s in PERPLEXITY_SPLITS)
    buckets = (
        hist.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(w_cum), F.lit(0))
        )
        .withColumn("n_lang", F.sum("cnt").over(w_tot))
        .select(
            "lang",
            "mean_surprisal_mbits",
            "_salt",
            F.expr(f"CAST({n_buckets} * cum_before div n_lang AS BIGINT)").alias(
                "bucket"
            ),
        )
    )
    if n_buckets == len(PERPLEXITY_SPLITS):
        buckets = buckets.withColumn(
            "split", F.expr(f"element_at(array({labels}), CAST(bucket + 1 AS INT))")
        )
    else:
        buckets = buckets.withColumn(
            "split", F.concat(F.lit("q"), F.col("bucket").cast("string"))
        )
    # size-guarded broadcast (the curated_docs pattern): the histogram
    # is value-range × 64-salt bounded, normally thousands of cells,
    # but a pathological value spread could outgrow an executor — past
    # the limit the attach falls back to a shuffle join on the cell
    # key, which is the right plan at that size. The lazy checkpoint
    # materializes inside the guard count's own job (one action, not
    # two) and the join replays the cached cells.
    buckets = buckets.localCheckpoint(eager=False)
    if buckets.count() <= _SPLIT_BROADCAST_LIMIT:
        buckets = F.broadcast(buckets)
    return per_doc.join(
        buckets, ["lang", "mean_surprisal_mbits", "_salt"]
    ).select("doc_id", "lang", "mean_surprisal_mbits", "bucket", "split")


def perplexity_split_sql(n_buckets: int = 3) -> str:
    if n_buckets == len(PERPLEXITY_SPLITS):
        labels = ", ".join(f"'{s}'" for s in PERPLEXITY_SPLITS)
        label_expr = f"list_value({labels})[CAST(b.bucket + 1 AS INT)]"
    else:
        # mirror the engine's non-tercile 'qN' labels
        label_expr = "'q' || CAST(b.bucket AS VARCHAR)"
    return rf"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
occ AS (
  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS k
  FROM toks GROUP BY doc_id, lang, w
),
counts AS (
  SELECT w, CAST(sum(k) AS BIGINT) AS c FROM occ GROUP BY w
),
total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
per_doc AS (
  SELECT doc_id, lang,
         CAST(sum(k * (length(bin(total.n)) - length(bin(counts.c)))) * 1000
              // sum(k) AS BIGINT) AS mean_surprisal_mbits,
         {_SPLIT_SALT_DUCK} AS salt
  FROM occ JOIN counts USING (w) CROSS JOIN total
  GROUP BY doc_id, lang
),
hist AS (
  SELECT lang, mean_surprisal_mbits, salt, count(*) AS cnt
  FROM per_doc GROUP BY lang, mean_surprisal_mbits, salt
),
buckets AS (
  SELECT lang, mean_surprisal_mbits, salt,
         CAST({n_buckets} * coalesce(sum(cnt) OVER (
             PARTITION BY lang ORDER BY mean_surprisal_mbits, salt
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // (sum(cnt) OVER (PARTITION BY lang)) AS BIGINT) AS bucket
  FROM hist
)
SELECT d.doc_id, d.lang, d.mean_surprisal_mbits, b.bucket,
       {label_expr} AS split
FROM per_doc d JOIN buckets b USING (lang, mean_surprisal_mbits, salt)
"""


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Conditional (bigram) LM quality filter, integer-exact — the
    next-order refinement of ``unigram_surprisal``: per document, the
    total and mean CONDITIONAL surprisal of each token given its
    predecessor, under the corpus's own bigram distribution:

        surprisal(w2 | w1) ≈ bitlen(c(w1·)) − bitlen(c(w1 w2))

    with bitlen(x) = length(bin(x)) (the same floor-log2 trick as the
    unigram filter and the HLL rho), where c(w1·) is the count of
    bigrams starting with w1 and c(w1 w2) the bigram count. Repetitive
    or templated text has highly-predictable continuations (low bits);
    incoherent token soup scores high — the two-sided filter the CCNet
    pipeline applies with a real LM, in exact integer arithmetic that
    both engines reproduce bit-for-bit.

    Output: (doc_id, n_bigrams, surprisal_bits, mean_surprisal_mbits) —
    one row per document; docs with fewer than 2 tokens get 0 bigrams
    and a NULL mean.

    Shape at 100 TB: bigram counts are one map-side-combinable groupBy;
    the prefix-count table derives from the (already aggregated) bigram
    table, never from the corpus; BOTH joins back are salted — the
    prefix join keys on a stop word for a huge fraction of distinct
    bigrams, and the count join keys on hot bigrams ("of the") that an
    unsalted join would serialize into one task (the same AQE-can't-
    split-agg-fused-shapes finding as the gram joins, text.py:336)."""
    bg_expr = (
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE array() END"
    )
    toks = docs.select("doc_id", _tokens().alias("t"))
    # r14 note: two tail restructures that remove the final
    # `docs LEFT JOIN agg` resurrection pass (explode_outer + LEFT
    # count join; explode_outer + zero-row UNION) were TRIED AND
    # REJECTED on interleaved A/B: the LEFT form forbids the BuildLeft
    # broadcast the planner picks for the salted count join (+26% JVM
    # CPU, fresh SortMergeJoin), and the union form still read ~+5%
    # wall / +3% cpu over 4 interleaved passes — the removed SMJ joins
    # ~N-docs-row frames (tiny next to the bigram aggregate) while the
    # perturbation of the count join's build side costs more than the
    # saved scan (OPTIMIZATION_r14.md; guide §1.1).
    bgs = toks.select("doc_id", F.explode(F.expr(bg_expr)).alias("bg"))
    # the per-doc bigram table is built ONCE and shared by the count
    # chain and the probe join (its tokenize+explode+agg subtree would
    # otherwise run three times: via c1, via the bits join, and as the
    # probe — the bm25_rank postings pattern); c2 is additionally
    # checkpointed because TWO consumers (prefix counts, bits probe)
    # would re-aggregate occ
    occ = (
        bgs.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    c2 = (
        occ.groupBy("bg")
        .agg(F.sum("k").alias("c12"))
        .localCheckpoint(eager=False)
    )
    # prefix counts from the aggregated bigram table (never the corpus)
    c1 = (
        c2.select(F.expr("split(bg, ' ')[0]").alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    # salted prefix join: probe = distinct bigrams keyed by first word
    c2_salted = c2.withColumn(
        "_salt", F.pmod(F.xxhash64("bg"), F.lit(_GRAM_SALT)).cast("int")
    ).withColumn("w1", F.expr("split(bg, ' ')[0]"))
    c1_salted = c1.select(
        "w1",
        "c1",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    bits = (
        c2_salted.join(c1_salted, ["w1", "_salt"])
        .select("bg", F.expr("length(bin(c1)) - length(bin(c12))").alias("bits"))
    )
    # salted count join back onto per-doc occurrences (house pattern)
    occ_salted = occ.withColumn("_salt", (F.col("doc_id") % _GRAM_SALT).cast("int"))
    bits_salted = bits.select(
        "bg",
        "bits",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    agg = (
        occ_salted.join(bits_salted, ["bg", "_salt"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("nb"),
            F.sum(F.expr("k * CAST(bits AS BIGINT)")).alias("sb"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("sb"), F.lit(0)).cast("long").alias("surprisal_bits"),
            F.expr(
                "CASE WHEN coalesce(nb, 0L) > 0 THEN sb * 1000L div nb END"
            ).alias("mean_surprisal_mbits"),
        )
    )


def bigram_surprisal_sql() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
  FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)
),
occ AS (
  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS k FROM bg GROUP BY doc_id, bg
),
c2 AS (SELECT bg, CAST(sum(k) AS BIGINT) AS c12 FROM occ GROUP BY bg),
c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM c2 GROUP BY 1
),
bits AS (
  SELECT c2.bg, length(bin(c1.c1)) - length(bin(c2.c12)) AS bits
  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
),
agg AS (
  SELECT occ.doc_id, sum(occ.k) AS nb, sum(occ.k * bits.bits) AS sb
  FROM occ JOIN bits USING (bg)
  GROUP BY occ.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(agg.sb, 0) AS BIGINT) AS surprisal_bits,
       CAST(CASE WHEN coalesce(agg.nb, 0) > 0 THEN agg.sb * 1000 // agg.nb END
            AS BIGINT) AS mean_surprisal_mbits
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


def vocab_oov_profile(docs: DataFrame, top_v: int = 50) -> DataFrame:
    """Tokenizer-prep OOV audit: per source, how much of its token
    stream falls outside the corpus's top-V vocabulary — (source,
    n_tokens, oov_tokens, n_terms, oov_terms, oov_pm). The number a
    pipeline checks per dump before fixing a vocabulary or tokenizer:
    a source whose OOV rate is an outlier is in a different register
    (code, another language, OCR noise) than the vocab was built for.

    Shape at 100 TB: the vocabulary is exactly ``corpus_vocabulary``'s
    two-phase top-V (no full-vocab sort on one partition) and is V rows
    — broadcast to the probe side; per-(source, term) counts are one
    map-side-combinable groupBy (hot stop words pre-fold in every
    partition before the exchange), so the only corpus-sized shuffle
    carries one row per distinct (source, term)."""
    vocab = corpus_vocabulary(docs, top_v).select("tok", F.lit(1).alias("_inv"))
    toks = docs.select("source", F.explode(_tokens()).alias("tok"))
    occ = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("k"))
    j = occ.join(F.broadcast(vocab), "tok", "left")
    return (
        j.groupBy("source")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.expr("CASE WHEN _inv IS NULL THEN k ELSE 0L END")).alias(
                "oov_tokens"
            ),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.expr("CASE WHEN _inv IS NULL THEN 1L ELSE 0L END")).alias(
                "oov_terms"
            ),
        )
        .withColumn("oov_pm", F.expr("oov_tokens * 1000L div n_tokens"))
    )


def vocab_oov_profile_sql(top_v: int = 50) -> str:
    return rf"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS n_occ FROM toks GROUP BY tok),
vocab AS (SELECT tok FROM counts ORDER BY n_occ DESC, tok ASC LIMIT {top_v}),
occ AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS k FROM toks GROUP BY source, tok)
SELECT occ.source,
       CAST(sum(occ.k) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN occ.k ELSE 0 END) AS BIGINT) AS oov_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_terms,
       CAST(sum(CASE WHEN v.tok IS NULL THEN occ.k ELSE 0 END) * 1000 // sum(occ.k)
            AS BIGINT) AS oov_pm
FROM occ LEFT JOIN vocab v ON v.tok = occ.tok
GROUP BY occ.source
"""


def tokenizer_fertility(
    docs: DataFrame, k: int = 6, max_batch: int = 8
) -> DataFrame:
    """Per-language tokenizer fertility under the trained BPE merges:
    (lang, n_docs, n_words, n_bpe_tokens, fertility_mpt) with fertility
    in milli-tokens-per-word (integer). THE per-language tokenizer-
    quality metric: a language whose fertility is far above the
    corpus's dominant language is being shredded into char-level pieces
    — the signal to retrain the vocab or re-balance the mixture before
    paying 2-3x the training compute per useful token.

    Scale shape: inherits bpe_encode end-to-end (distinct-word fold,
    doc-salted count join); this rollup adds one broadcast-size
    doc→lang join and a ≤|langs|-row aggregation."""
    enc = bpe_encode(docs, k, max_batch)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility_mpt", F.expr("n_bpe_tokens * 1000L div n_words")
        )
    )


def tokenizer_fertility_sql(k: int = 6) -> str:
    """The bpe_encode oracle chain with the final per-doc select swapped
    for the per-language rollup."""
    base = bpe_encode_sql(k)
    head, _ = base.rsplit("SELECT doc_id,", 1)
    return (
        head
        + f"""SELECT d.lang,
       CAST(count(DISTINCT dwc.doc_id) AS BIGINT) AS n_docs,
       CAST(sum(dwc.cnt) AS BIGINT) AS n_words,
       CAST(sum(dwc.cnt * len(s.sym)) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(dwc.cnt * len(s.sym)) * 1000 // sum(dwc.cnt) AS BIGINT) AS fertility_mpt
FROM dwc JOIN s{k} s USING (w) JOIN documents d USING (doc_id)
GROUP BY d.lang"""
    )


def lang_confusion_matrix(docs: DataFrame) -> DataFrame:
    """Language-ID audit: the (declared lang × predicted lang) confusion
    matrix with per-cell doc counts and the share of the declared
    language's docs in per-mille — the table that says whether a
    source's self-reported language labels can be trusted before the
    mixture/curriculum stages consume them (a hot off-diagonal cell =
    mislabeled dump or a marker profile gap).

    Scale shape: lang_id is map-only column algebra; the matrix is one
    map-side-combinable groupBy bounded by |langs|²; the per-declared
    totals ride a second aggregation over those ≤|langs|² rows."""
    pred = lang_id(docs).select("actual_lang", "pred_lang")
    cells = pred.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = cells.groupBy("actual_lang").agg(F.sum("n_docs").alias("_tot"))
    return (
        cells.join(totals, "actual_lang")
        .select(
            "actual_lang",
            "pred_lang",
            "n_docs",
            F.expr("n_docs * 1000L div _tot").alias("share_pm"),
        )
    )


LANG_CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL}),
cells AS (
  SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY actual_lang, pred_lang
),
totals AS (
  SELECT actual_lang, CAST(sum(n_docs) AS BIGINT) AS tot
  FROM cells GROUP BY actual_lang
)
SELECT c.actual_lang, c.pred_lang, c.n_docs,
       CAST(c.n_docs * 1000 // t.tot AS BIGINT) AS share_pm
FROM cells c JOIN totals t USING (actual_lang)
"""


def bm25_build_postings(corpus: DataFrame) -> DataFrame:
    """The persistable inverted index behind `bm25_rank`: one row per
    (doc_id, dl, w) with its term frequency, where dl (the document's
    total token count) rides as a functionally-dependent column — so
    document length, document frequency, N, and avgdl ALL derive from
    this one table and the corpus text is never needed again at query
    time. One map-side-combinable shuffle. Persist with
    `write_bm25_index` — the same build/query lifecycle the ANN
    (`pq_build_index`) and dedup (`build_dedup_index`) families
    have."""
    corpus_t = corpus.select("doc_id", _tokens().alias("_t"))
    return (
        corpus_t.select(
            "doc_id",
            F.size("_t").cast("long").alias("dl"),
            F.explode("_t").alias("w"),
        )
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def write_bm25_index(postings: DataFrame, path: str) -> None:
    """Persist the BM25 index: the postings table ({path}/postings:
    short rows doc_id, dl, w, tf) PLUS the two query-time constants
    that derive from it — the per-term document frequencies
    ({path}/df) and the collection stats ({path}/stats: n_docs,
    avgdl_m). df/N/avgdl never change between index builds, so
    recomputing them per query batch (two aggregations over the whole
    postings table) is pure waste at scale: a trillion-row postings
    table pays a full-shuffle df aggregate per query load, vs a
    vocab-sized parquet read. A production layout would additionally
    bucket postings by `w` so the query-term probe co-locates."""
    postings = postings.localCheckpoint(eager=False)
    postings.write.mode("overwrite").parquet(f"{path}/postings")
    write_bm25_constants(postings, path)


def write_bm25_constants(postings: DataFrame, path: str) -> None:
    """Write the QUERY-TIME CONSTANTS of a postings table — per-term
    df, collection stats, max-impact ceilings — under `path`
    ({path}/df, {path}/stats, {path}/maximpact; `read_bm25_stats` /
    `read_bm25_max_impact` read them back). The tail of
    `write_bm25_index`.

    EXACTNESS CONTRACT for the PRUNED path: the ceilings are upper
    bounds only over the postings they were built from. Serving
    `bm25_rank_indexed_pruned` against postings that grew PAST the
    build is unsound — a new posting whose tf exceeds the build's
    maximum for its term can out-score a stale ceiling, and a doc
    the exact top-k contains could then be pruned away."""
    df_t = postings.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    df_t = df_t.localCheckpoint(eager=False)
    stats_df = (
        postings.select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(dl) * 1000L div count(1)").alias("avgdl_m"),
        )
    )
    # df and stats derive independently from the checkpointed postings:
    # overlap the two write jobs (guide §2.6; the shared checkpoint is
    # computed once under the block manager's lock)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fd = _pool.submit(df_t.write.mode("overwrite").parquet, f"{path}/df")
        _fs = _pool.submit(
            stats_df.write.mode("overwrite").parquet, f"{path}/stats"
        )
        _fd.result()
        _fs.result()
    spark = postings.sparkSession
    n_docs, avgdl_m = spark.read.parquet(f"{path}/stats").collect()[0]
    # empty postings: sum(dl) div count(1) is NULL on zero rows; the
    # degenerate index must still build (as it did before the ceiling
    # table existed) — ceilings over zero postings are an empty table
    avgdl_m = 0 if avgdl_m is None else avgdl_m
    # per-term score ceilings for the exact-pruned query path, built at
    # the default scoring parameters (read_bm25_max_impact asserts);
    # df/stats are reused, so this is ONE more pass over the postings
    bm25_build_max_impact(
        postings,
        df_t=df_t,
        collection_stats=(int(n_docs), int(avgdl_m)),
    ).write.mode("overwrite").parquet(f"{path}/maximpact")


# The index tables are OUR OWN persisted layouts with fixed schemas, so
# every reader pins the schema explicitly: schema inference over parquet
# is a footer-probe JOB per read call (measured: 2 jobs -> 1 on a
# single-table read, and at scale the probe samples footers across the
# whole file set) — pure waste on a layout the writer controls
# (guide §6: know your layout; §2.1: every removed job is removed
# driver-loop latency on the query path).
POSTINGS_SCHEMA = "doc_id long, dl long, w string, tf long"


def read_bm25_index(spark, path: str) -> DataFrame:
    """The postings table of a persisted index: `{path}/postings` of
    the `write_bm25_index` layout ({path}/postings + df + stats). The
    path is passed to Spark as is, so any Hadoop filesystem works."""
    return (
        spark.read.schema(POSTINGS_SCHEMA)
        .parquet(f"{path}/postings")
        .select("doc_id", "dl", "w", "tf")
    )


def read_bm25_stats(spark, path: str) -> tuple[DataFrame, int, int]:
    """(df_t, n_docs, avgdl_m) from a persisted index — the query-time
    constants. The one-row stats read is driver-side bounded metadata
    (the codebook-collect convention); df_t stays a distributed frame
    (vocab-sized)."""
    df_t = (
        spark.read.schema("w string, df long")
        .parquet(f"{path}/df")
        .select("w", "df")
    )
    n_docs, avgdl_m = (
        spark.read.schema("n_docs long, avgdl_m long")
        .parquet(f"{path}/stats")
        .collect()[0]
    )
    # degenerate empty index: zero docs leave avgdl NULL
    return df_t, int(n_docs), int(avgdl_m) if avgdl_m is not None else 0


def bm25_rank_indexed(
    postings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1_pm: int = 1200,
    b_pm: int = 750,
    broadcast_queries: bool = True,
    share_postings: bool = True,
    df_t: DataFrame | None = None,
    collection_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """BM25 top-k from a PREBUILT postings table — the query path of
    the build/query split: no corpus tokenization, no corpus scan.
    `queries` is (query_id, text)-shaped; its distinct terms probe the
    postings. df, N, and avgdl derive from the postings (dl is
    functionally dependent on doc_id, so the distinct (doc_id, dl)
    projection recovers exact document lengths) — OR arrive as the
    persisted query-time constants: pass `df_t` (per-term document
    frequencies) and `collection_stats` = (n_docs, avgdl_m) from
    `read_bm25_stats` and the query plan contains NO aggregate over
    the postings at all (the stats pair inlines as literals — one-row
    driver metadata, the codebook convention). Pinned bit-identical
    to `bm25_rank` over the same corpus in test_retrieval.
    Scoring and tie semantics are `bm25_rank`'s docstring verbatim.

    `share_postings` (default True) checkpoints the postings frame so
    its consumers (probe join, and the df/stats aggregates when those
    are derived here) pay the build ONCE — load-bearing when postings
    arrive as an unpersisted tokenize+groupBy subtree (the inline
    `bm25_rank` path; scan-budget gated). Pass False when `postings`
    is a PERSISTED parquet index (`read_bm25_index`): column-pruned
    scans of short-row parquet beat one forced full materialization,
    and the plan keeps its honest FileScan nodes for the no-training
    gates."""
    scored = bm25_scored_indexed(
        postings,
        queries,
        k1_pm,
        b_pm,
        broadcast_queries,
        share_postings,
        df_t,
        collection_stats,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select("query_id", "doc_id", "score")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def bm25_scored_indexed(
    postings: DataFrame,
    queries: DataFrame,
    k1_pm: int = 1200,
    b_pm: int = 750,
    broadcast_queries: bool = True,
    share_postings: bool = True,
    df_t: DataFrame | None = None,
    collection_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """The per-(query, doc) exact BM25 score aggregate of
    `bm25_rank_indexed` WITHOUT the per-query ranking window — for
    callers that rank downstream under an exchange they already own
    (the fused hybrid tail). Scoring semantics verbatim.

    Do NOT be tempted to pre-partition the join output by query_id to
    fuse this aggregate's exchange with a downstream per-query window:
    the (query, doc) partial aggregation before the exchange combines
    ~17.5 joined rows into one pair row (measured sf0.1 — stop words
    match nearly every doc), so the "fused" form shuffles 17x the rows
    for one fewer exchange and measured ~2x JVM CPU (r14 A/B,
    OPTIMIZATION_r14.md)."""
    if share_postings:
        postings = postings.localCheckpoint(eager=False)
    if df_t is None:
        df_t = postings.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    if collection_stats is None:
        stats = (
            postings.select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.expr("sum(dl) * 1000L div count(1)").alias("avgdl_m"),
            )
            .withColumn("_one", F.lit(1))
        )
        n_docs_expr, avgdl_expr = "n_docs", "avgdl_m"
    else:
        stats = None
        n_docs_expr = f"{int(collection_stats[0])}L"
        avgdl_expr = f"{int(collection_stats[1])}L"
    qterms = queries.select("query_id", F.explode(_tokens()).alias("w")).distinct()
    if broadcast_queries:
        qterms = F.broadcast(qterms)
    scored = postings.join(qterms, "w").join(df_t, "w")
    if stats is not None:
        scored = scored.withColumn("_one", F.lit(1)).join(
            F.broadcast(stats), "_one"
        )
    scored = (
        scored.withColumn(
            "idf_bits",
            F.expr(f"CAST(length(bin({n_docs_expr} div df)) AS BIGINT)"),
        )
        .withColumn(
            "denom_m",
            F.expr(
                f"1000L * tf + {k1_pm}L * "
                f"(1000L - {b_pm} + {b_pm}L * 1000L * dl div {avgdl_expr}) div 1000L"
            ),
        )
        .withColumn(
            "tf_micro",
            F.expr(f"1000L * (1000 + {k1_pm}) * tf div denom_m"),
        )
    )
    scored = scored.groupBy("query_id", "doc_id").agg(
        F.sum(F.expr("idf_bits * tf_micro")).alias("score")
    )
    return scored.select("query_id", "doc_id", "score")


def bm25_build_max_impact(
    postings: DataFrame,
    k1_pm: int = 1200,
    b_pm: int = 750,
    df_t: DataFrame | None = None,
    collection_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-term score CEILING table (w, u): u = idf_bits(w) × the
    maximum tf_micro any posting of w attains — the metadata that makes
    exact WAND-style pruning possible (`bm25_rank_indexed_pruned`). A
    doc matching only terms whose ceilings sum below a proven
    lower bound on the k-th best score cannot enter the top-k, so
    entire posting lists (the stop-word mass — huge df ⇒ low idf ⇒ low
    u) drop out of the scoring aggregate without touching exactness.

    Build-time only; when the df/stats constants are already in hand
    (`write_bm25_index` computes them anyway) pass them and the build
    is ONE pass over the postings — otherwise the two aggregates are
    derived here (the standalone path). The ceilings are
    k1/b-specific: the pruned query path REQUIRES the same
    (k1_pm, b_pm) it was built with (`write_bm25_index` builds at the
    defaults and the reader asserts). Vocab-sized output."""
    if df_t is None:
        df_t = postings.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    if collection_stats is None:
        stats = (
            postings.select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.expr("sum(dl) * 1000L div count(1)").alias("avgdl_m"),
            )
            .collect()[0]
        )
        collection_stats = (int(stats["n_docs"]), int(stats["avgdl_m"]))
    n_docs, avgdl_m = int(collection_stats[0]), int(collection_stats[1])
    return (
        postings.join(df_t, "w")  # vocab-sized df_t: shuffle join, never
        .withColumn(  # a broadcast (web-scale vocabs don't fit a driver)
            "idf_bits",
            F.expr(f"CAST(length(bin({n_docs}L div df)) AS BIGINT)"),
        )
        .withColumn(
            "denom_m",
            F.expr(
                f"1000L * tf + {k1_pm}L * "
                f"(1000L - {b_pm} + {b_pm}L * 1000L * dl div {avgdl_m}L) div 1000L"
            ),
        )
        .withColumn(
            "tf_micro",
            F.expr(f"1000L * (1000 + {k1_pm}) * tf div denom_m"),
        )
        .groupBy("w")
        .agg(
            F.max(F.expr("idf_bits * tf_micro")).alias("u"),
            F.first(F.lit(k1_pm)).alias("k1_pm"),
            F.first(F.lit(b_pm)).alias("b_pm"),
        )
    )


def read_bm25_max_impact(
    spark, path: str, k1_pm: int = 1200, b_pm: int = 750
) -> DataFrame:
    """The per-term ceiling table of a persisted index; asserts the
    requested (k1_pm, b_pm) match the build (the ceilings are
    parameter-specific — a mismatched read would silently break the
    pruning proof)."""
    mi = spark.read.schema("w string, u long, k1_pm int, b_pm int").parquet(
        f"{path}/maximpact"
    )
    built = mi.select("k1_pm", "b_pm").first()
    if built is None:  # empty (degenerate) index: nothing to assert
        return mi.select("w", "u")
    if (built["k1_pm"], built["b_pm"]) != (k1_pm, b_pm):
        raise ValueError(
            f"max-impact index built at k1_pm={built['k1_pm']}, "
            f"b_pm={built['b_pm']}; requested ({k1_pm}, {b_pm}) — rebuild "
            "with bm25_build_max_impact at the query parameters"
        )
    return mi.select("w", "u")


#: Measured pruned-vs-brute / pruned-vs-indexed crossovers from
#: scripts/wand_sweep.py and scripts/hybrid_sweep.py (ROUND8_NOTES
#: tables, quiet host, fixed 260-query load): below ~50k docs the two
#: extra query-load-bounded plan waves (seed scores + threshold
#: broadcast) cost more than the scoring mass they remove (pruned was
#: 0.32-0.44x the unpruned-indexed wall at 5k-20k docs), at 50k the
#: faces break even (0.97x), and past 100k the cut wins outright
#: (1.80x/1.79x vs indexed at 105k/160k, hash-identical). The pool=20
#: hybrid needs 20 seed docs per threshold, so its crossover sits
#: later: ~100k (2.02x vs brute there, still losing at 50k). Only
#: those two operating points are measured — the router picks the
#: conservative constant for its pool size and takes an explicit
#: `crossover` for deployments that re-measure on their own corpus.
WAND_CROSSOVER_DOCS = 50_000
WAND_CROSSOVER_DOCS_POOLED = 100_000


def wand_should_prune(
    n_docs: int, pool: int = 5, crossover: int | None = None
) -> bool:
    """The routing decision of the auto-routed BM25 faces: serve the
    exact WAND-pruned path iff the collection is past the measured
    crossover for this pool size (constants above; `crossover`
    overrides both). Pure and driver-side — n_docs is one row of the
    index's persisted stats, so routing costs nothing at query time."""
    if crossover is None:
        crossover = (
            WAND_CROSSOVER_DOCS if pool <= 5 else WAND_CROSSOVER_DOCS_POOLED
        )
    return n_docs >= crossover


def bm25_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    k1_pm: int = 1200,
    b_pm: int = 750,
    broadcast_queries: bool = True,
    seed_df_budget: int = 1000,
    max_impact: DataFrame | bool | None = None,
    crossover: int | None = None,
) -> DataFrame:
    """The AUTO-ROUTED query face over a persisted BM25 index (round-8
    verdict directive #2): nobody hand-tunes per-query knobs at 100x —
    the index already persists its collection stats, so this face
    reads `n_docs` and picks the exact WAND-pruned path past the
    measured crossover (`wand_should_prune`; ~50k docs at k<=5) and
    the plain indexed path below it, where the seed waves cost more
    than they save. Both sides are bit-identical by the pruning proof
    (shared driver oracle), so routing is purely a cost decision.

    `max_impact` is the explicit override: a ceilings DataFrame forces
    the pruned path with those ceilings; False forces the plain path;
    None (default) routes. Auto-routing to pruned requires the index
    to carry a ceiling table (`write_bm25_index` persists one); an
    index without it routes plain regardless of size."""
    import os

    postings = read_bm25_index(spark, path)
    df_t, n_docs, avgdl_m = read_bm25_stats(spark, path)
    if max_impact is None and wand_should_prune(
        n_docs, pool=k, crossover=crossover
    ) and os.path.isdir(f"{path}/maximpact"):
        max_impact = read_bm25_max_impact(spark, path, k1_pm, b_pm)
    if isinstance(max_impact, DataFrame):
        return bm25_rank_indexed_pruned(
            postings,
            max_impact,
            queries,
            k=k,
            k1_pm=k1_pm,
            b_pm=b_pm,
            df_t=df_t,
            collection_stats=(n_docs, avgdl_m),
            broadcast_queries=broadcast_queries,
            seed_df_budget=seed_df_budget,
        )
    return bm25_rank_indexed(
        postings,
        queries,
        k=k,
        k1_pm=k1_pm,
        b_pm=b_pm,
        broadcast_queries=broadcast_queries,
        share_postings=False,
        df_t=df_t,
        collection_stats=(n_docs, avgdl_m),
    )


def bm25_rank_indexed_pruned(
    postings: DataFrame,
    max_impact: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1_pm: int = 1200,
    b_pm: int = 750,
    df_t: DataFrame | None = None,
    collection_stats: tuple[int, int] | None = None,
    broadcast_queries: bool = True,
    seed_df_budget: int = 1000,
) -> DataFrame:
    """EXACT top-k BM25 with WAND-style score-ceiling pruning — the
    100 TB rung over `bm25_rank_indexed` (round-7 verdict item #2):
    the indexed face removed the corpus-sized build work but still
    paid the SCORING MASS (every posting matching any query term —
    ~the stop-word mass). This face cuts that mass without giving up
    bit-exactness, in three phases of pure DataFrame algebra:

    1. SEED: per query, walk the terms in ceiling order and take as
       many whole posting lists as fit a df budget (`seed_df_budget`;
       the top term always included) — docs matching several rare
       high-ceiling terms are the topical cluster, and scoring them
       exactly yields T = the k-th best seed score. T is a valid
       LOWER bound on the k-th best overall score because the seed
       docs are a subset of all docs, so ANY seed choice preserves
       exactness — a richer seed only buys a tighter threshold, a
       cheaper one a looser cut.
    2. PRUNE: order the query's terms by ceiling `u` descending and
       drop the maximal suffix whose ceilings sum strictly below T
       (keep term i iff suffix_sum(i) ≥ T). A doc matching ONLY
       dropped terms scores ≤ that suffix sum < T ≤ k-th best, so it
       cannot enter the top-k even on ties (ties break by doc_id, and
       < is strict). The highest-ceiling term always survives, so the
       seed docs stay reachable.
    3. RESCORE: candidates = docs matching any surviving term; score
       them against ALL query terms (exactness needs the dropped
       terms' contributions for surviving docs) and take the top-k.

    Result is HASH-IDENTICAL to `bm25_rank_indexed` (pinned by test
    and by the shared driver oracle). Queries with fewer than k seed
    docs get no threshold (falls back to unpruned — correct, just not
    cut). Requires the persisted query-time constants (`df_t`,
    `collection_stats`) and a `max_impact` table built at the SAME
    (k1_pm, b_pm) (`read_bm25_max_impact` asserts).

    Scale shape: the win is the aggregate/shuffle mass — scoring rows
    exist only for candidate docs, and the stop-word posting lists
    (low ceiling, first to be dropped) never enter the seed or
    candidate joins. Two extra query-load-bounded plan waves (seed
    scores, threshold broadcast) buy it. On a production layout the
    postings would additionally be bucketed by `w` so the surviving
    term probe prunes at the scan; and on a near-uniform-df corpus
    (every term a stop word — the gate corpus's 31-word vocab) the
    ceilings are flat, P keeps most terms, and the pruned plan
    degrades to ~the unpruned one plus the seed waves — measured in
    scripts/wand_sweep.py across Zipf-shaped vocabularies where the
    cut pays."""
    p = _bm25_pruned_plan(
        postings,
        max_impact,
        queries,
        k=k,
        k1_pm=k1_pm,
        b_pm=b_pm,
        df_t=df_t,
        collection_stats=collection_stats,
        broadcast_queries=broadcast_queries,
        seed_df_budget=seed_df_budget,
    )
    candidates = (
        postings.join(p["maybe_b"](p["p_terms"]), "w")
        .select("query_id", "doc_id")
        .distinct()
    )
    # phase 3: exact rescore of candidates over ALL query terms
    return (
        p["scorer"](candidates)
        .select("query_id", "doc_id", "score")
        .withColumn("rank", F.row_number().over(p["w_rank"]).cast("long"))
        .where(F.col("rank") <= k)
    )


def bm25_pruned_term_survival(
    postings: DataFrame,
    max_impact: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1_pm: int = 1200,
    b_pm: int = 750,
    df_t: DataFrame | None = None,
    collection_stats: tuple[int, int] | None = None,
    broadcast_queries: bool = True,
    seed_df_budget: int = 1000,
) -> DataFrame:
    """Instrumentation face of the pruned ranker: per (query, term),
    the ceiling `u`, posting-list length `df`, and whether the
    ceiling cut KEPT the term (`kept`) — the scoring-mass ledger.
    Exactness makes the cut externally invisible (that is the point),
    so tests and scripts/wand_sweep.py read this face to prove the
    pruning FIRES (Σ df over kept ≪ Σ df over all on Zipf vocab) and
    to report kept_pm. Same phases 1–2 plan as the ranker — shared
    builder, zero drift possible."""
    p = _bm25_pruned_plan(
        postings,
        max_impact,
        queries,
        k=k,
        k1_pm=k1_pm,
        b_pm=b_pm,
        df_t=df_t,
        collection_stats=collection_stats,
        broadcast_queries=broadcast_queries,
        seed_df_budget=seed_df_budget,
    )
    return p["qu"].join(
        p["maybe_b"](p["thresholds"]), "query_id", "left"
    ).select(
        "query_id",
        "w",
        "u",
        F.col("_df").alias("df"),
        (F.col("_t").isNull() | (F.col("_sfx") >= F.col("_t"))).alias("kept"),
    )


def _bm25_pruned_plan(
    postings: DataFrame,
    max_impact: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    k1_pm: int,
    b_pm: int,
    df_t: DataFrame | None,
    collection_stats: tuple[int, int] | None,
    broadcast_queries: bool,
    seed_df_budget: int,
) -> dict:
    """Phases 1–2 of the exact-pruned ranker, shared between the
    ranking face and the survival-instrumentation face: per-query
    ceiling table `qu` (with suffix sums), seed-derived `thresholds`,
    surviving `p_terms`, plus the exact `scorer` closure and the
    ranking window."""
    from pyspark.sql import Window

    if df_t is None or collection_stats is None:
        raise ValueError(
            "the pruned path is the indexed-constants path: pass df_t and "
            "collection_stats from read_bm25_stats"
        )
    n_docs_expr = f"{int(collection_stats[0])}L"
    avgdl_expr = f"{int(collection_stats[1])}L"

    # materialized once: qterms feeds three plan waves (ceilings, seed
    # scoring, rescore) — without the checkpoint each wave re-scans the
    # corpus for the query carve
    qterms = (
        queries.select("query_id", F.explode(_tokens()).alias("w"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # every probe-side frame in this plan (qterms, seeds, thresholds,
    # surviving terms) has query-load cardinality; the flag that lets a
    # corpus-scaled query load avoid a forced driver broadcast must
    # govern ALL of them, not just qterms
    maybe_b = F.broadcast if broadcast_queries else (lambda df: df)
    if broadcast_queries:
        qterms = F.broadcast(qterms)

    def scorer(pairs):
        """(query_id, doc_id) pairs → exact full scores, DOC-FIRST:
        the docs' postings are fetched by doc_id and only then matched
        against the query's terms, so the scoring mass is bounded by
        |pairs| × doc length — never by Σ df over query terms (the
        full stop-word mass the pruning exists to avoid). Expressions
        verbatim from bm25_rank_indexed."""
        return (
            postings.join(pairs, "doc_id")
            .join(qterms, ["query_id", "w"])
            .join(df_t, "w")
            .withColumn(
                "idf_bits",
                F.expr(f"CAST(length(bin({n_docs_expr} div df)) AS BIGINT)"),
            )
            .withColumn(
                "denom_m",
                F.expr(
                    f"1000L * tf + {k1_pm}L * "
                    f"(1000L - {b_pm} + {b_pm}L * 1000L * dl div {avgdl_expr}) div 1000L"
                ),
            )
            .withColumn(
                "tf_micro",
                F.expr(f"1000L * (1000 + {k1_pm}) * tf div denom_m"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.expr("idf_bits * tf_micro")).alias("score"))
        )

    # ceilings per (query, term); terms absent from the index match
    # nothing and drop here, exactly as they contribute 0 everywhere
    qu = qterms.join(max_impact, "w").join(
        df_t.select("w", F.col("df").alias("_df")), "w"
    )
    w_desc = Window.partitionBy("query_id").orderBy(
        F.col("u").desc(), F.col("w").asc()
    )
    qu = qu.select(
        "query_id",
        "w",
        "u",
        "_df",
        F.sum("u")
        .over(w_desc.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .alias("_sfx"),
        F.sum("_df")
        .over(w_desc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_cumdf"),
        F.row_number().over(w_desc).alias("_rn"),
    ).localCheckpoint(eager=False)

    # phase 1: seed = whole posting lists in ceiling order while they
    # fit the df budget (top term always in) — a bounded set of docs
    # likely to contain the topical high scorers
    seeds = qu.where(
        (F.col("_rn") == 1) | (F.col("_cumdf") <= seed_df_budget)
    ).select("query_id", "w")
    seed_docs = (
        postings.join(maybe_b(seeds), "w")
        .select("query_id", "doc_id")
        .distinct()
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    thresholds = (
        scorer(seed_docs)
        .withColumn("_r", F.row_number().over(w_rank))
        .where(F.col("_r") == k)
        .select("query_id", F.col("score").alias("_t"))
    )

    # phase 2: drop the maximal low-ceiling suffix summing < T
    p_terms = (
        qu.join(maybe_b(thresholds), "query_id", "left")
        .where(F.col("_t").isNull() | (F.col("_sfx") >= F.col("_t")))
        .select("query_id", "w")
    )
    return {
        "qu": qu,
        "thresholds": thresholds,
        "p_terms": p_terms,
        "scorer": scorer,
        "w_rank": w_rank,
        "maybe_b": maybe_b,
    }


def bm25_rank(
    docs: DataFrame,
    eval_mod: int = 97,
    k: int = 5,
    k1_pm: int = 1200,
    b_pm: int = 750,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Integer-exact BM25 ranked retrieval over the corpus — the sparse
    twin of the ANN arc, and the retrieval primitive under
    dedup-by-retrieval, decontamination-by-retrieval, and RAG-style
    curation audits. Documents with ``doc_id % eval_mod == 0`` act as
    the query set (their DISTINCT tokens are the query terms — query
    tf is ignored, the standard web-query convention); every other
    document is corpus. Output: (query_id, doc_id, score, rank) — the
    top `k` corpus docs per query.

    Scoring is Robertson/Spärck Jones BM25 with the repo's integer
    discipline (the unigram_surprisal device): idf is the floor-log2
    stand-in ``bitlen(N div df)`` — within 1 bit of log2(N/df) + 1,
    monotone, and BIT-EXACT on both engines — and the tf saturation
    term is evaluated in per-mille fixed point (k1 = 1.2 → 1200‰,
    b = 0.75 → 750‰, avgdl in milli-tokens):

        denom_m  = 1000·tf + k1_pm·(1000 − b_pm + b_pm·1000·dl div avgdl_m) div 1000
        tf_micro = 1000·(1000 + k1_pm)·tf div denom_m
        score    = Σ_terms bitlen(N div df) · tf_micro

    Every per-term score is a BIGINT, so the per-(query, doc) SUM is
    order-free — no float ever enters the plan, and the cross-engine
    hash is exact (a real-log BM25 would differ in the last ulp between
    JVM and C libm and flip floor/round at boundaries).

    Shape at 100 TB: postings (doc, dl, term, tf) are ONE
    map-side-combinable shuffle (dl = the token-array size rides the
    group key — functionally dependent on doc_id, so no separate
    doc-length aggregate and no doc_id join); df is a short-key
    aggregate over the postings; N and avgdl are a map-only corpus
    scan broadcast as scalars. The postings build is checkpointed and
    shared by the probe join and the df aggregate (the inverted index
    a production deployment persists). The query-side join strategy is
    the `broadcast_queries` knob: True (default) pins a broadcast of
    the (query_id, term) table onto the postings scan — map-side, so
    hot query terms like stop words cannot skew the probe — and is
    right when the query set is a benchmark/eval split whose exploded
    term table fits an executor (up to millions of rows). When the
    query set scales WITH the corpus (eval_mod carves out ~1/mod of a
    100 TB corpus → a terabyte-class term table), a forced broadcast
    would OOM the build side: pass broadcast_queries=False and the
    join falls back to a shuffle hash join on the term key, which AQE
    sizes at runtime. Either way the only post-join shuffle carries
    one row per (query, doc) pair sharing ≥1 term; the per-query
    top-k window is map-side-bounded by WindowGroupLimit (plan-gated
    with the ANN family)."""
    # build + query in one call: postings are built inline (ONE
    # map-side-combinable shuffle, dl riding the group key) and scored
    # by the indexed query path — `bm25_build_postings` /
    # `bm25_rank_indexed` are the same two halves exposed for the
    # persisted-index lifecycle (the original tf→dl→join form made the
    # tokenize subtree appear three times; ReuseExchange declined to
    # dedupe it)
    corpus = docs.where(F.col("doc_id") % eval_mod != 0)
    queries = docs.where(F.col("doc_id") % eval_mod == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_rank_indexed(
        bm25_build_postings(corpus),
        queries,
        k,
        k1_pm,
        b_pm,
        broadcast_queries,
    )


def bm25_rank_sql_parts(
    eval_mod: int = 97, k: int = 5, k1_pm: int = 1200, b_pm: int = 750
) -> tuple[str, str]:
    """The bm25_rank oracle as a composable (ctes, final_select) pair,
    so derived oracles (`bm25_decontamination_sql`,
    `retrieval.hybrid_rrf_sql`) extend the CTE chain structurally
    instead of string-splitting the rendered SQL — a cosmetic edit to
    the final SELECT can no longer silently corrupt a downstream
    oracle. `ctes` is the body after WITH (no trailing comma); `final`
    is the ranked SELECT producing (query_id, doc_id, score, rank ≤ k)."""
    ctes = rf"""tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents WHERE doc_id % {eval_mod} <> 0
  ) GROUP BY doc_id, w
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
df_t AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) * 1000 // count(*) AS BIGINT) AS avgdl_m
  FROM dl
),
qterms AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE doc_id % {eval_mod} = 0
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(sum(
           length(bin(s.n_docs // df_t.df)) *
           (1000 * (1000 + {k1_pm}) * tf.tf //
            (1000 * tf.tf + {k1_pm} *
             (1000 - {b_pm} + {b_pm} * 1000 * dl.dl // s.avgdl_m) // 1000))
         ) AS BIGINT) AS score
  FROM tf
  JOIN qterms q USING (w)
  JOIN df_t USING (w)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)"""
    final = f"""SELECT query_id, doc_id, score,
       CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}"""
    return ctes, final


def bm25_rank_sql(
    eval_mod: int = 97, k: int = 5, k1_pm: int = 1200, b_pm: int = 750
) -> str:
    ctes, final = bm25_rank_sql_parts(eval_mod, k, k1_pm, b_pm)
    return f"\nWITH {ctes}\n{final}\n"


def bm25_decontamination(
    docs: DataFrame,
    eval_mod: int = 97,
    k: int = 5,
    score_min: int = 15000,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Retrieval-based benchmark decontamination — BM25 earning its keep
    in the curation pipeline (round-5 verdict directive 7): a corpus
    document that RANKS top-`k` for some held-out eval query with score
    ≥ `score_min` is a contamination suspect even when it shares no
    exact n-gram (`decontamination`) and no MinHash band
    (`decontamination_fuzzy`) — ranked retrieval catches topical
    paraphrase leakage the lexical filters undercount, the same way
    eval-set retrieval audits are run on production pretraining sets.

    Output: one row per flagged corpus doc — (doc_id, n_queries,
    best_rank, max_score, best_query_id): how many eval queries
    retrieve it, its best rank, its strongest score, and WHICH query
    hits hardest (ties → smallest query_id; the audit pointer a human
    follows). All integer-exact.

    Shape at 100 TB: inherits `bm25_rank`'s shape (map-side-combinable
    postings/df/dl, query terms broadcast — or shuffled via
    `broadcast_queries=False` when the eval set scales with the
    corpus, WindowGroupLimit top-k); this layer adds ONE groupBy over
    the ≤ queries·k ranked rows — the deterministic arg-max query is
    a min(struct(-score, query_id)) riding the same aggregate, so no
    second pass over the ranked frame exists (the oracle keeps the
    equivalent two-step flag+self-join formulation).

    r14 note: the hybrid fused-tail treatment (partition the scored
    rows by query_id once, share that exchange with the rank window)
    was TRIED AND REJECTED here with measurements: the scoring join's
    map-side (query, doc) partial aggregation combines ~17.5 rows
    into 1 before the exchange (measured sf0.1: 4.51M joined rows →
    257k pairs — stop words give every query terms in nearly every
    doc), so trading that partial for one fewer exchange shuffles 17x
    the rows and read ~2x JVM CPU / +0.6 s wall
    (OPTIMIZATION_r14.md). Guide §1.1: the "ideal" plan lost to the
    gotcha; the partial agg is load-bearing."""
    ranked = bm25_rank(docs, eval_mod, k, broadcast_queries=broadcast_queries)
    hits = ranked.where(F.col("score") >= score_min)
    # ONE aggregate: the deterministic arg-max query rides the same
    # groupBy as the flags via min(struct(-score, query_id)) —
    # lexicographic struct ordering picks the highest score, ties to
    # the smallest query_id, exactly the two-step flag+self-join spec
    # (which remains the oracle's formulation); no second pass, no
    # materialization of the ranked frame needed
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.min("rank").alias("best_rank"),
        F.max("score").alias("max_score"),
        F.min(
            F.struct(
                (-F.col("score")).alias("_ns"),
                F.col("query_id").alias("_q"),
            )
        )["_q"].alias("best_query_id"),
    )


def bm25_decontamination_sql(
    eval_mod: int = 97, k: int = 5, score_min: int = 15000
) -> str:
    """Oracle: the bm25_rank CTE chain (shared structurally via
    `bm25_rank_sql_parts`) + the flag aggregation and the deterministic
    arg-max-query join."""
    ctes, final = bm25_rank_sql_parts(eval_mod, k)
    return f"""
WITH {ctes},
ranked AS ({final}),
hits AS (SELECT * FROM ranked WHERE score >= {score_min}),
flags AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_queries,
         CAST(min(rank) AS BIGINT) AS best_rank,
         CAST(max(score) AS BIGINT) AS max_score
  FROM hits GROUP BY doc_id
)
SELECT f.doc_id, f.n_queries, f.best_rank, f.max_score,
       CAST(min(h.query_id) AS BIGINT) AS best_query_id
FROM flags f
JOIN hits h ON h.doc_id = f.doc_id AND h.score = f.max_score
GROUP BY f.doc_id, f.n_queries, f.best_rank, f.max_score
"""


def winnow_fingerprints(docs: DataFrame, n: int = 4, w: int = 5) -> DataFrame:
    """Robust winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS fingerprinter): hash every token `n`-gram, slide a window of
    `w` consecutive hashes, and record the MINIMUM hash of each window
    (ties → the RIGHTMOST minimum, which is what bounds fingerprint
    density on low-entropy text). Output one row per selected
    fingerprint: (doc_id, pos, fp) with `pos` the 1-based gram index.

    The guarantee that makes this the principled span-dedup
    fingerprint: any shared token run of ≥ w+n-1 tokens between two
    documents yields at least one IDENTICAL (fp) selection in both —
    unlike uniform sampling, which can miss a match entirely — while
    storage is ~2/(w+1) of the gram count. Hashes are the cross-engine
    md5_60 family, so the whole selection is oracle-checkable.

    Shape at 100 TB: pure per-row array algebra (gram hash array, w
    windows via transform over a sequence) — map-only, zero shuffle,
    embarrassingly parallel; pair generation over fingerprints
    (`winnow_match_pairs`) reuses the star-capped bucket_pairs join."""
    md5_60 = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
    grams = (
        "CASE WHEN size(t) >= {n} THEN "
        "transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', slice(t, i + 1, {n}))) "
        "ELSE array(concat_ws(' ', t)) END"
    ).format(n=n)
    hs = f"transform({grams}, g -> {md5_60.format(x='g')})"
    sl = f"slice(hs, i + 1, {w})"
    mn = f"array_min({sl})"
    # rightmost minimum: position of the first occurrence in the
    # reversed window, counted back from the end (1-based gram index)
    pos = f"i + size({sl}) + 1 - array_position(reverse({sl}), {mn})"
    fps = (
        f"array_distinct(transform(sequence(0, greatest(size(hs) - {w}, 0)), "
        f"i -> named_struct('pos', CAST(({pos}) AS BIGINT), 'fp', {mn})))"
    )
    return (
        spread(docs)
        .select("doc_id", _tokens().alias("t"))
        .select("doc_id", F.expr(hs).alias("hs"))
        .select("doc_id", F.explode(F.expr(fps)).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_fingerprints_sql(n: int = 4, w: int = 5) -> str:
    """Oracle: the same selection in DuckDB list algebra (identical
    rightmost-min convention via the reversed-window position)."""
    h60 = "(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {n}
              THEN list_transform(range(1, len(t) - {n - 2}),
                                  i -> array_to_string(t[i:i+{n - 1}], ' '))
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
),
hashed AS (
  SELECT doc_id, list_transform(g, x -> {h60.format(x='x')}) AS hs FROM grams
),
wins AS (
  SELECT doc_id,
         list_transform(
           range(0, greatest(len(hs) - {w}, 0) + 1),
           i -> struct_pack(
             pos := CAST(i + len(hs[i+1:i+{w}]) + 1
                         - list_position(list_reverse(hs[i+1:i+{w}]),
                                         list_min(hs[i+1:i+{w}])) AS BIGINT),
             fp := list_min(hs[i+1:i+{w}]))) AS sel
  FROM hashed
)
SELECT DISTINCT doc_id, u.pos AS pos, u.fp AS fp
FROM wins, unnest(sel) AS r(u)
"""


def winnow_match_pairs(
    docs: DataFrame, n: int = 4, w: int = 5, min_shared: int = 2
) -> DataFrame:
    """Documents sharing ≥ `min_shared` winnowed fingerprints —
    MOSS-style plagiarism/boilerplate candidate pairs. By the winnowing
    guarantee every shared token run of ≥ w+n-1 tokens contributes a
    shared fingerprint, so long verbatim overlaps can't hide; the pair
    join reuses the star-capped `bucket_pairs` machinery (a fingerprint
    shared by B docs — boilerplate — emits B-1 star edges, not B²/2)."""
    from khronus_spark.operators.dedup import bucket_pairs

    fps = winnow_fingerprints(docs, n, w).select(
        "doc_id", F.lit(0).cast("long").alias("band"), F.col("fp").alias("bucket")
    ).distinct()
    pairs = bucket_pairs(fps, count_col="n_shared_fps")
    return pairs.where(F.col("n_shared_fps") >= min_shared)


def winnow_match_pairs_sql(n: int = 4, w: int = 5, min_shared: int = 2) -> str:
    base = winnow_fingerprints_sql(n, w).strip()
    assert base.startswith("WITH ")
    ctes = base[len("WITH"):].rsplit("SELECT DISTINCT doc_id, u.pos AS pos", 1)[0]
    ctes = ctes.strip().rstrip(",").rstrip()
    return f"""
WITH {ctes},
fp AS (
  SELECT DISTINCT doc_id, u.fp AS fp
  FROM wins, unnest(sel) AS r(u)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING count(*) >= {min_shared}
"""


def lm_model_build(ref_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build a frozen bigram LM from a TRUSTED reference corpus — the
    CCNet recipe (KenLM trained on Wikipedia, applied to the crawl),
    in the repo's exact integer bit-length arithmetic: returns the two
    count tables (`c1`: (w1, c1) prefix counts, `c2`: (bg, c12) bigram
    counts), both map-side-combinable aggregates over the reference
    only. Persist them as parquet like any other index; they never
    change when the crawl is scored — scores are a property of the
    MODEL, not of what else happens to be in the batch (pinned by
    test: scoring a doc alone equals scoring it in any batch)."""
    bg_expr = (
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE array() END"
    )
    bgs = ref_docs.select("doc_id", _tokens().alias("t")).select(
        F.explode(F.expr(bg_expr)).alias("bg")
    )
    # the bigram table is the model artifact — checkpoint it so its
    # three consumers (the prefix rollup, the T scalar, the probe
    # join) reuse one build instead of re-scanning the reference (the
    # in-session analogue of the parquet persistence described above)
    c2 = (
        bgs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    c1 = (
        c2.select(F.expr("split(bg, ' ')[0]").alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    return c1, c2


def lm_reference_surprisal(
    docs: DataFrame, c1: DataFrame, c2: DataFrame
) -> DataFrame:
    """Score documents under the FROZEN reference bigram LM from
    `lm_model_build` — unlike `bigram_surprisal`, which scores the
    corpus under its own distribution (self-referential: boilerplate
    that dominates the corpus scores as 'predictable'), this is the
    production quality filter: predictability is measured against
    trusted text. Deterministic integer backoff for what the
    reference never saw:

        seen bigram      bits = bitlen(c(w1·)) − bitlen(c(w1 w2))
        unseen cont.     bits = bitlen(c(w1·)) + 1   (worse than any
                                seen continuation of w1)
        unseen prefix    bits = bitlen(T) + 1        (maximum surprise;
                                T = total reference bigrams)

    Output (doc_id, n_bigrams, oov_bigrams, surprisal_bits,
    mean_surprisal_mbits); <2-token docs get 0 bigrams, NULL mean.

    Shape at 100 TB: the model tables are aggregates over the
    REFERENCE (small); both probe joins are LEFT joins salted exactly
    like `bigram_surprisal`'s (stop-word prefixes and hot bigrams
    would serialize an unsalted join); T is a broadcast scalar; the
    per-doc rollup is one map-side-combinable groupBy."""
    bg_expr = (
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE array() END"
    )
    toks = docs.select("doc_id", _tokens().alias("t"))
    occ = (
        toks.select("doc_id", F.explode(F.expr(bg_expr)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("k"))
        .withColumn("w1", F.expr("split(bg, ' ')[0]"))
    )
    tot = c2.agg(F.sum("c12").alias("t_ref")).withColumn("_one", F.lit(1))
    occ_salted = occ.withColumn(
        "_psalt", F.pmod(F.xxhash64("bg"), F.lit(_GRAM_SALT)).cast("int")
    ).withColumn("_bsalt", (F.col("doc_id") % _GRAM_SALT).cast("int"))
    c1_salted = c1.select(
        "w1",
        "c1",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_psalt"),
    )
    c2_salted = c2.select(
        "bg",
        "c12",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_bsalt"),
    )
    bits = F.expr(
        "CASE WHEN c1 IS NULL THEN length(bin(t_ref)) + 1 "
        "WHEN c12 IS NULL THEN length(bin(c1)) + 1 "
        "ELSE length(bin(c1)) - length(bin(c12)) END"
    )
    scored = (
        occ_salted.join(c1_salted, ["w1", "_psalt"], "left")
        .join(c2_salted, ["bg", "_bsalt"], "left")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
        .select(
            "doc_id",
            "k",
            bits.cast("long").alias("bits"),
            F.expr("IF(c12 IS NULL, k, 0L)").alias("oov_k"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("k").alias("nb"),
        F.sum("oov_k").alias("oov"),
        F.sum(F.expr("k * bits")).alias("sb"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("oov"), F.lit(0)).cast("long").alias("oov_bigrams"),
            F.coalesce(F.col("sb"), F.lit(0)).cast("long").alias("surprisal_bits"),
            F.expr(
                "CASE WHEN coalesce(nb, 0L) > 0 THEN sb * 1000L div nb END"
            ).alias("mean_surprisal_mbits"),
        )
    )


def lm_reference_surprisal_sql(ref_mod: int = 3) -> str:
    """Oracle: model counts from the reference split (doc_id % ref_mod
    == 0), every other doc scored with the same backoff ladder."""
    return rf"""
WITH rt AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % {ref_mod} = 0
),
rbg AS (
  SELECT t[i] || ' ' || t[i + 1] AS bg
  FROM rt, unnest(generate_series(1, len(t) - 1)) s(i)
),
c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM rbg GROUP BY bg),
c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM c2 GROUP BY 1
),
tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t_ref FROM c2),
st AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % {ref_mod} <> 0
),
sbg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
  FROM st, unnest(generate_series(1, len(t) - 1)) s(i)
),
occ AS (
  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS k FROM sbg GROUP BY doc_id, bg
),
bits AS (
  SELECT occ.doc_id, occ.k,
         CAST(CASE WHEN c1.c1 IS NULL THEN length(bin(tot.t_ref)) + 1
                   WHEN c2.c12 IS NULL THEN length(bin(c1.c1)) + 1
                   ELSE length(bin(c1.c1)) - length(bin(c2.c12)) END AS BIGINT) AS b,
         CASE WHEN c2.c12 IS NULL THEN occ.k ELSE 0 END AS oov_k
  FROM occ
  LEFT JOIN c1 ON c1.w1 = split_part(occ.bg, ' ', 1)
  LEFT JOIN c2 ON c2.bg = occ.bg
  CROSS JOIN tot
),
agg AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS nb, CAST(sum(oov_k) AS BIGINT) AS oov,
         CAST(sum(k * b) AS BIGINT) AS sb
  FROM bits GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.nb, 0) AS n_bigrams,
       COALESCE(a.oov, 0) AS oov_bigrams,
       COALESCE(a.sb, 0) AS surprisal_bits,
       CASE WHEN COALESCE(a.nb, 0) > 0 THEN a.sb * 1000 // a.nb END AS mean_surprisal_mbits
FROM (SELECT doc_id FROM documents WHERE doc_id % {ref_mod} <> 0) d
LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


def intra_doc_repetition(docs: DataFrame) -> DataFrame:
    """The OTHER half of Gopher's table A1 (Rae et al. 2021) that
    `gopher_rules` leaves out: WITHIN-document repetition — the
    fraction of word 2-grams / 3-grams that are repeats inside the
    same document (template/navigation boilerplate scores high even
    when every token looks fine to the per-token rules). Output
    (doc_id, n_grams2, dup2_bp, n_grams3, dup3_bp, r_rep) with the
    keep flag at MassiveText's thresholds (duplicate 2-gram fraction
    ≤ 20%, 3-gram ≤ 18%); docs too short for an n-gram get 0 grams
    and pass that rule.

    Pure per-row array algebra (gram array minus its distinct size) —
    map-only, zero shuffle, scan-speed at 100 TB, composable as a
    pre-shuffle pruning flag like `gopher_rules.keep`."""
    def gexpr(n: int) -> str:
        return (
            "CASE WHEN size(t) >= {n} THEN "
            "transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', slice(t, i + 1, {n}))) "
            "ELSE array() END"
        ).format(n=n)

    dup = "(size(g{n}) - size(array_distinct(g{n}))) * 10000L div size(g{n})"
    t = docs.select("doc_id", _tokens().alias("t"))
    g = t.select(
        "doc_id", F.expr(gexpr(2)).alias("g2"), F.expr(gexpr(3)).alias("g3")
    )
    return g.select(
        "doc_id",
        F.size("g2").cast("long").alias("n_grams2"),
        F.expr(f"IF(size(g2) = 0, 0L, {dup.format(n=2)})").alias("dup2_bp"),
        F.size("g3").cast("long").alias("n_grams3"),
        F.expr(f"IF(size(g3) = 0, 0L, {dup.format(n=3)})").alias("dup3_bp"),
    ).withColumn("r_rep", F.expr("dup2_bp <= 2000 AND dup3_bp <= 1800"))


INTRA_DOC_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
              ELSE [] END AS g2,
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
              ELSE [] END AS g3
  FROM toks
)
SELECT doc_id,
       CAST(len(g2) AS BIGINT) AS n_grams2,
       CAST(CASE WHEN len(g2) = 0 THEN 0
            ELSE (len(g2) - len(list_distinct(g2))) * 10000 // len(g2) END AS BIGINT) AS dup2_bp,
       CAST(len(g3) AS BIGINT) AS n_grams3,
       CAST(CASE WHEN len(g3) = 0 THEN 0
            ELSE (len(g3) - len(list_distinct(g3))) * 10000 // len(g3) END AS BIGINT) AS dup3_bp,
       (CASE WHEN len(g2) = 0 THEN 0

        ELSE (len(g2) - len(list_distinct(g2))) * 10000 // len(g2) END <= 2000
        AND
        CASE WHEN len(g3) = 0 THEN 0
        ELSE (len(g3) - len(list_distinct(g3))) * 10000 // len(g3) END <= 1800) AS r_rep
FROM g
"""


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Overlapping token-window chunking — the RAG / long-context prep
    primitive: split each document into windows of `chunk_tokens`
    tokens starting every `stride` tokens (overlap = chunk_tokens −
    stride), so no token span longer than the overlap is ever cut
    without appearing whole in some chunk. Output (doc_id, chunk_id,
    start_tok, end_tok, n_tokens, chunk_text) with chunk_id dense from
    0 per doc, start/end 1-based inclusive token positions, and the
    LAST chunk always reaching the final token (a trailing window
    shorter than `chunk_tokens` is emitted, never silently dropped —
    pinned by the reassembly test).

    Pure per-row array algebra (one transform over the precomputed
    start sequence, slices re-joined per chunk) — map-only, zero
    shuffle, scan-speed at 100 TB; chunk provenance (doc_id, start,
    end) is exactly what a retriever needs to cite back into the
    source."""
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    # starts: 0, stride, 2*stride, ... while start < n_tokens, BUT a
    # start whose predecessor window already covers the doc tail adds
    # only duplicate text — last start is the smallest multiple of
    # stride with start + chunk_tokens >= n_tokens
    starts = (
        f"sequence(0, greatest(CAST(ceil((size(t) - {chunk_tokens}) / "
        f"CAST({stride} AS DOUBLE)) AS INT), 0) * {stride}, {stride})"
    )
    chunks = (
        f"transform({starts}, s -> named_struct("
        f"'start_tok', CAST(s + 1 AS BIGINT), "
        f"'end_tok', CAST(least(s + {chunk_tokens}, size(t)) AS BIGINT), "
        f"'chunk_text', concat_ws(' ', slice(t, s + 1, {chunk_tokens}))))"
    )
    ex = (
        docs.select("doc_id", _tokens().alias("t"))
        .select("doc_id", F.posexplode(F.expr(chunks)).alias("chunk_id", "c"))
    )
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.end_tok").alias("end_tok"),
        (F.col("c.end_tok") - F.col("c.start_tok") + 1).alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def chunk_documents_sql(chunk_tokens: int = 64, stride: int = 48) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t,
         range(0, greatest(CAST(ceil((len(t) - {chunk_tokens}) /
               CAST({stride} AS DOUBLE)) AS INT), 0) * {stride} + 1, {stride}) AS ss
  FROM toks
)
SELECT doc_id,
       CAST(i - 1 AS BIGINT) AS chunk_id,
       CAST(ss[i] + 1 AS BIGINT) AS start_tok,
       CAST(least(ss[i] + {chunk_tokens}, len(t)) AS BIGINT) AS end_tok,
       CAST(least(ss[i] + {chunk_tokens}, len(t)) - ss[i] AS BIGINT) AS n_tokens,
       array_to_string(t[ss[i]+1:ss[i]+{chunk_tokens}], ' ') AS chunk_text
FROM starts, unnest(generate_series(1, len(ss))) u(i)
"""


#: chunk retrieval key: doc_id * 2^20 + chunk_id (chunk_id < 1M — at
#: stride 48 that is a ~50M-token document; keys stay in int64 for
#: doc_id < 2^43)
_CHUNK_KEY_SHIFT = 1 << 20


def bm25_chunk_rank(
    docs: DataFrame,
    eval_mod: int = 97,
    k: int = 5,
    pool: int = 20,
    chunk_tokens: int = 64,
    stride: int = 48,
    k1_pm: int = 1200,
    b_pm: int = 750,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Chunk-granularity BM25 — the retrieval unit RAG systems actually
    index: the corpus splits into overlapping token windows
    (`chunk_documents`), postings are built over CHUNKS, and doc-level
    results come from MAX-POOLING each document's best chunk. Chunk
    scoring fixes the long-document failure of whole-doc BM25 (dl
    normalization at window size: a 100k-token doc with one relevant
    paragraph scores like the paragraph, not like its diluted whole),
    and the winning chunk's token span is the citation a RAG answer
    needs. Output: (query_id, doc_id, best_chunk_id, best_chunk_start,
    doc_score, rank) — top `k` docs per eval query from the top-`pool`
    chunk pool.

    Composition, not new machinery: chunking is the map-only window
    op; postings/scoring are `bm25_build_postings`/`bm25_rank_indexed`
    verbatim over the synthetic chunk key doc_id·2^20 + chunk_id
    (decoded by integer div/mod at pooling); the doc pool is the
    standard two-stage cut — a doc surfaces iff its best chunk makes
    the global chunk pool. Max-pool + best-chunk arg-max are ONE
    aggregate (min(struct(-score, chunk_id))); the pooled frame is
    #queries × pool rows.

    Shape at 100 TB: chunking multiplies postings rows by ~1/stride
    overlap factor but every stage keeps bm25_rank's shape — one
    map-side-combinable postings shuffle, broadcast query probe,
    WindowGroupLimit top-k; the pooling runs on query-load-sized
    frames."""
    corpus = docs.where(F.col("doc_id") % eval_mod != 0)
    chunks = chunk_documents(corpus, chunk_tokens, stride).select(
        F.expr(f"doc_id * {_CHUNK_KEY_SHIFT} + chunk_id").alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    queries = docs.where(F.col("doc_id") % eval_mod == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    ranked = bm25_rank_indexed(
        bm25_build_postings(chunks),
        queries,
        k=pool,
        k1_pm=k1_pm,
        b_pm=b_pm,
        broadcast_queries=broadcast_queries,
    )
    return _chunk_pool(ranked, stride, k)


def _chunk_pool(ranked: DataFrame, stride: int, k: int) -> DataFrame:
    """Chunk pool → doc results: decode the synthetic chunk key,
    max-pool each doc's best chunk (score + arg-max chunk in ONE
    aggregate), rank docs. Query-load-sized throughout. Shared by the
    inline and indexed chunk rankers — zero drift possible."""
    pooled = (
        ranked.select(
            "query_id",
            F.expr(f"doc_id div {_CHUNK_KEY_SHIFT}").alias("src_doc"),
            F.expr(f"doc_id % {_CHUNK_KEY_SHIFT}").alias("chunk_id"),
            "score",
        )
        .groupBy("query_id", "src_doc")
        .agg(
            F.max("score").alias("doc_score"),
            F.min(
                F.struct(
                    (-F.col("score")).alias("ns"), F.col("chunk_id").alias("c")
                )
            ).alias("m"),
        )
        .select(
            "query_id",
            F.col("src_doc").alias("doc_id"),
            F.col("m.c").alias("best_chunk_id"),
            F.expr(f"m.c * {stride} + 1").alias("best_chunk_start"),
            "doc_score",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("doc_score").desc(), F.col("doc_id").asc()
    )
    return (
        pooled.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def bm25_chunk_build_index(
    corpus: DataFrame,
    path: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> None:
    """Persist the CHUNK-granularity BM25 index — what a RAG
    deployment actually keeps on disk: `chunk_documents` windows the
    corpus, chunks become synthetic docs under the doc_id·2^20 +
    chunk_id key, and `write_bm25_index` persists postings + df +
    collection stats + max-impact ceilings over them. Query with
    `bm25_chunk_rank_indexed` (optionally exact-pruned)."""
    chunks = chunk_documents(corpus, chunk_tokens, stride).select(
        F.expr(f"doc_id * {_CHUNK_KEY_SHIFT} + chunk_id").alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    write_bm25_index(bm25_build_postings(chunks), path)


def bm25_chunk_rank_indexed(
    postings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    stride: int = 48,
    k1_pm: int = 1200,
    b_pm: int = 750,
    broadcast_queries: bool = True,
    df_t: DataFrame | None = None,
    collection_stats: tuple[int, int] | None = None,
    max_impact: DataFrame | None = None,
    seed_df_budget: int = 1000,
    auto_max_impact: DataFrame | None = None,
    crossover: int | None = None,
) -> DataFrame:
    """Chunk-granularity BM25 from a PREBUILT chunk index
    (`bm25_chunk_build_index`) — `bm25_chunk_rank` with the corpus
    work amortized into the build, and the same `max_impact` knob as
    the flat ranker: pass the persisted ceiling table and the chunk
    pool comes from the EXACT WAND-pruned path (chunk scores are
    bit-identical by the pruning proof, so max-pooling and doc ranks
    are too — the registry entry shares `bm25_chunk_rank`'s oracle
    and the driver hash pins it). `stride` must match the build (the
    span decode is stride-keyed). Chunking multiplies the posting
    rows (~overlap factor), which makes the stop-word mass LARGER
    than the flat index's — exactly where the ceiling cut bites at
    scale.

    `auto_max_impact` is the ROUTED variant of the knob (round-8
    verdict directive #2): pass the ceilings unconditionally and the
    face itself decides from the persisted `collection_stats` whether
    the collection is past the measured crossover
    (`wand_should_prune` at this pool size — note n_docs here counts
    CHUNKS, the index's retrieval unit); `max_impact` remains the
    explicit force-pruned override."""
    if (
        max_impact is None
        and auto_max_impact is not None
        and collection_stats is not None
        and wand_should_prune(
            int(collection_stats[0]), pool=pool, crossover=crossover
        )
    ):
        max_impact = auto_max_impact
    if max_impact is not None:
        ranked = bm25_rank_indexed_pruned(
            postings,
            max_impact,
            queries,
            k=pool,
            k1_pm=k1_pm,
            b_pm=b_pm,
            df_t=df_t,
            collection_stats=collection_stats,
            broadcast_queries=broadcast_queries,
            seed_df_budget=seed_df_budget,
        )
    else:
        ranked = bm25_rank_indexed(
            postings,
            queries,
            k=pool,
            k1_pm=k1_pm,
            b_pm=b_pm,
            broadcast_queries=broadcast_queries,
            share_postings=False,
            df_t=df_t,
            collection_stats=collection_stats,
        )
    return _chunk_pool(ranked, stride, k)


def bm25_chunk_rank_sql(
    eval_mod: int = 97,
    k: int = 5,
    pool: int = 20,
    chunk_tokens: int = 64,
    stride: int = 48,
    k1_pm: int = 1200,
    b_pm: int = 750,
) -> str:
    return rf"""
WITH ctoks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % {eval_mod} <> 0
),
cstarts AS (
  SELECT doc_id, t,
         range(0, greatest(CAST(ceil((len(t) - {chunk_tokens}) /
               CAST({stride} AS DOUBLE)) AS INT), 0) * {stride} + 1, {stride}) AS ss
  FROM ctoks
),
chunks AS (
  SELECT doc_id * {_CHUNK_KEY_SHIFT} + (i - 1) AS ckey,
         array_to_string(t[ss[i]+1:ss[i]+{chunk_tokens}], ' ') AS chunk_text
  FROM cstarts, unnest(generate_series(1, len(ss))) u(i)
),
tf AS (
  SELECT ckey, w, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT ckey, unnest(regexp_split_to_array(trim(lower(chunk_text)), '\s+')) AS w
    FROM chunks
  ) GROUP BY ckey, w
),
dl AS (SELECT ckey, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY ckey),
df_t AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) * 1000 // count(*) AS BIGINT) AS avgdl_m
  FROM dl
),
qterms AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE doc_id % {eval_mod} = 0
),
scored AS (
  SELECT q.query_id, tf.ckey,
         CAST(sum(
           length(bin(s.n_docs // df_t.df)) *
           (1000 * (1000 + {k1_pm}) * tf.tf //
            (1000 * tf.tf + {k1_pm} *
             (1000 - {b_pm} + {b_pm} * 1000 * dl.dl // s.avgdl_m) // 1000))
         ) AS BIGINT) AS score
  FROM tf
  JOIN qterms q USING (w)
  JOIN df_t USING (w)
  JOIN dl ON dl.ckey = tf.ckey
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.ckey
),
ranked AS (
  SELECT query_id, ckey, score
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, ckey ASC) <= {pool}
),
pooled AS (
  -- the per-doc best chunk carries the max-pooled doc score, so the
  -- arg-max is a rank-1 cut per (query, doc)
  SELECT query_id,
         ckey // {_CHUNK_KEY_SHIFT} AS doc_id,
         CAST(ckey % {_CHUNK_KEY_SHIFT} AS BIGINT) AS best_chunk_id,
         CAST((ckey % {_CHUNK_KEY_SHIFT}) * {stride} + 1 AS BIGINT)
           AS best_chunk_start,
         CAST(score AS BIGINT) AS doc_score
  FROM ranked
  QUALIFY row_number() OVER (
    PARTITION BY query_id, ckey // {_CHUNK_KEY_SHIFT}
    ORDER BY score DESC, ckey ASC) = 1
)
SELECT query_id, doc_id, best_chunk_id, best_chunk_start, doc_score,
       CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY doc_score DESC, doc_id ASC) AS BIGINT) AS rank
FROM pooled
QUALIFY rank <= {k}
"""


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Conservative text normalization — the first mechanical pass of
    every corpus pipeline, exposed as its own operator so its effect
    is auditable instead of fused invisibly into tokenization:
    control characters (0x00–0x1F, 0x7F) become spaces, whitespace
    runs collapse to one space, and the result is trimmed. Output:
    (doc_id, text_norm, n_chars_norm, changed).

    Deliberately ASCII-conservative: both engines (Java regex / RE2)
    agree exactly on these character classes, so the op stays
    oracle-checkable; Unicode-aware normalization (NFKC, zero-width
    strips) is locale/dialect-dependent across engines and does not
    belong in the exact-parity core. Map-only, zero shuffle,
    scan-speed at 100 TB.

    NULL text is in-contract: text_norm/n_chars_norm stay NULL and
    `changed` is a null-safe FALSE (nothing was changed), not a silent
    NULL — `IS DISTINCT FROM` semantics on both engines."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.col(text_col), "[\\x00-\\x1f\\x7f]", " "
            ),
            " {2,}",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("text_norm"),
        F.length(cleaned).cast("long").alias("n_chars_norm"),
        (~cleaned.eqNullSafe(F.col(text_col))).alias("changed"),
    )


NORMALIZE_TEXT_SQL = r"""
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(
             regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
             ' {2,}', ' ', 'g')) AS text_norm,
         text
  FROM documents
)
SELECT doc_id, text_norm,
       CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
       text_norm IS DISTINCT FROM text AS changed
FROM cleaned
"""


# --------------------------------------------------------------------------
# WordPiece (r10): greedy longest-match-first subword encoding — the
# BERT tokenizer's inference algorithm — as pure DataFrame algebra.
# --------------------------------------------------------------------------

WP_MAX_WORD_LEN = 16
WP_MAX_PIECE_LEN = 4
WP_N_MULTI = 200


def wordpiece_vocab(
    docs: DataFrame,
    max_piece_len: int = WP_MAX_PIECE_LEN,
    n_multi: int = WP_N_MULTI,
    max_word_len: int = WP_MAX_WORD_LEN,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Frequency-induced WordPiece vocabulary: (piece, is_initial) —
    `is_initial` distinguishes word-initial pieces from continuation
    pieces (the role BERT spells "##"). Every single character that
    occurs in each role enters the vocab (so encoding of in-corpus
    words never dead-ends except past the word-length cap), plus the
    `n_multi` most corpus-frequent multi-character pieces (frequency =
    word count × positions, over the DISTINCT-word table; ties break
    initial-first then lexicographic — deterministic across engines).

    Honesty note: real WordPiece induction maximizes unigram-LM
    likelihood; this is the frequency variant. The ENCODER
    (`wordpiece_encode`) is the exact BERT greedy contract either way
    — the vocab input is pluggable (pass a hand-built or externally
    trained table in the same shape)."""
    # `word_counts` (w, cnt — total corpus occurrences per distinct
    # word) lets the train+encode pipeline pass its ONE corpus
    # tokenize pass in (wordpiece_encode derives it from the
    # checkpointed doc⋈word table); standalone callers still induce
    # from the corpus directly
    if word_counts is None:
        word_counts = (
            docs.select(F.explode(_tokens()).alias("w"), "doc_id")
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    words = word_counts.where(F.length("w") <= max_word_len)
    subs = words.select(
        "w",
        "cnt",
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(0, length(w) - 1), p ->
                  transform(sequence(1, least({max_piece_len},
                                              length(w) - p)), L ->
                    named_struct('piece', substring(w, p + 1, L),
                                 'is_initial', p = 0))))
                """
            )
        ).alias("s"),
    ).select("cnt", "s.piece", "s.is_initial")
    chars = (
        subs.where(F.length("piece") == 1)
        .select("piece", "is_initial")
        .distinct()
    )
    multi = (
        subs.where(F.length("piece") >= 2)
        .groupBy("piece", "is_initial")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(
            F.col("freq").desc(),
            F.col("is_initial").desc(),
            F.col("piece").asc(),
        )
        .limit(n_multi)
        .select("piece", "is_initial")
    )
    return chars.unionByName(multi)


def wordpiece_encode(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    max_piece_len: int = WP_MAX_PIECE_LEN,
    max_word_len: int = WP_MAX_WORD_LEN,
) -> DataFrame:
    """Greedy longest-match-first WordPiece encoding — the BERT
    tokenizer's inference contract, with no Python in the plan:

    per word, starting at position 0, consume the LONGEST vocab piece
    that matches (word-initial pieces at position 0, continuation
    pieces after); if no piece matches at some position — or the word
    exceeds `max_word_len` — the WHOLE word is one [UNK] token.

    Returns (doc_id, n_words, n_wp_tokens, n_unk_words): the numbers a
    training pipeline bills by, the same shape as `bpe_encode`.

    Spark-first shape (the point of the exercise — this is usually
    written as a per-row Python loop): the DISTINCT-word table explodes
    into its ≤ max_word_len × max_piece_len bounded substrings, one
    BROADCAST join against the vocab marks the matches, a map-side
    max() per (word, position) builds the longest-match jump table as
    a dense array, and the greedy walk is ONE whole-stage-codegen
    `aggregate` over that array (the walk advances ≥1 char per step,
    so max_word_len steps always suffice). Per-doc totals then reuse
    bpe_encode's salted doc⋈word join so stop words cannot hotspot.
    Everything is linear in distinct words, never corpus tokens."""
    # ONE corpus tokenize pass (guide §2.5 — the bm25 postings
    # pattern): the per-(doc, word) count table is built once and
    # checkpointed; the distinct-word table, the vocab induction's
    # word counts, AND the final per-doc totals all derive from it.
    # The previous form ran the corpus scan + tokenize + explode three
    # times (vocab words, encode distinct, doc⋈word probe).
    doc_words = (
        docs.select("doc_id", F.explode(_tokens()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # word_counts is deliberately NOT checkpointed here (unlike
    # unigram_encode's, whose F-scalar collect splits the pipeline
    # into two actions): everything below lives in ONE action, and the
    # interleaved A/B read the extra materialization barrier as +4%
    # wall / +15% cpu against letting the vocab/encode branches
    # re-aggregate the checkpointed doc_words in parallel under AQE.
    # At true corpus scale a deployment persisting the index would
    # checkpoint this too (it turns five corpus-keyed shuffles into
    # one + vocab-sized scans) — measured trade at bench scale only.
    word_counts = doc_words.groupBy("w").agg(F.sum("cnt").alias("cnt"))
    if vocab is None:
        vocab = wordpiece_vocab(
            docs,
            max_piece_len,
            max_word_len=max_word_len,
            word_counts=word_counts,
        )
    words = word_counts.select("w")
    short = words.where(F.length("w") <= max_word_len)
    subs = short.select(
        "w",
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(0, length(w) - 1), p ->
                  transform(sequence(1, least({max_piece_len},
                                              length(w) - p)), L ->
                    named_struct('pos', p,
                                 'piece', substring(w, p + 1, L),
                                 'is_initial', p = 0))))
                """
            )
        ).alias("s"),
    ).select("w", "s.pos", "s.piece", "s.is_initial")
    matched = (
        subs.join(F.broadcast(vocab), ["piece", "is_initial"])
        .groupBy("w", "pos")
        .agg(F.max(F.length("piece")).alias("maxlen"))
    )
    jump = matched.groupBy("w").agg(
        F.map_from_entries(
            F.collect_list(F.struct("pos", "maxlen"))
        ).alias("jmap")
    )
    walk = f"""
    aggregate(
      sequence(1, {max_word_len}),
      named_struct('pos', 0, 'n', 0, 'ok', true),
      (acc, i) -> CASE
        WHEN NOT acc.ok OR acc.pos >= length(w) THEN acc
        WHEN coalesce(element_at(jmap, acc.pos), 0) = 0
          THEN named_struct('pos', acc.pos, 'n', acc.n, 'ok', false)
        ELSE named_struct('pos', acc.pos + element_at(jmap, acc.pos),
                          'n', acc.n + 1, 'ok', true)
      END,
      acc -> named_struct(
        'n_sym', CAST(CASE WHEN acc.ok THEN acc.n ELSE 1 END AS BIGINT),
        'unk', NOT acc.ok)
    )
    """
    encoded_short = short.join(jump, "w", "left").select(
        "w",
        F.expr(walk).alias("e"),
    ).select("w", "e.n_sym", "e.unk")
    encoded_long = words.where(F.length("w") > max_word_len).select(
        "w", F.lit(1).cast("long").alias("n_sym"), F.lit(True).alias("unk")
    )
    encoded = encoded_short.unionByName(encoded_long)
    enc_salted = encoded.select(
        "w",
        "n_sym",
        "unk",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    probe = doc_words.withColumn(
        "_salt", (F.col("doc_id") % _GRAM_SALT).cast("int")
    )
    return (
        probe.join(enc_salted, ["w", "_salt"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_wp_tokens"),
            F.sum(F.when(F.col("unk"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "n_unk_words"
            ),
        )
    )


def wordpiece_encode_sql(
    max_piece_len: int = WP_MAX_PIECE_LEN,
    n_multi: int = WP_N_MULTI,
    max_word_len: int = WP_MAX_WORD_LEN,
) -> str:
    """Vocab induction + greedy longest-match walk restated for
    DuckDB. The walk seeds list_reduce with the accumulator as the
    list head (DuckDB's reduce has no initial-value overload):
    [pos, n_pieces, ok] stepped max_word_len times, advancing by the
    per-position longest-match jump table exactly as the Spark
    aggregate."""
    L = max_piece_len
    W = max_word_len
    step = f"""CASE
        WHEN acc[3] = 0 OR acc[1] >= len(jump) THEN acc
        WHEN jump[acc[1] + 1] = 0 THEN [acc[1], acc[2], CAST(0 AS BIGINT)]
        ELSE [acc[1] + jump[acc[1] + 1], acc[2] + 1, CAST(1 AS BIGINT)]
      END"""
    return rf"""
WITH wcnt AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
short AS (SELECT w, cnt FROM wcnt WHERE len(w) <= {W}),
subs AS (
  SELECT s.w, s.cnt, tp.pos AS pos,
         substr(s.w, CAST(tp.pos AS INT) + 1, CAST(tl.L AS INT)) AS piece,
         (tp.pos = 0) AS is_initial, tl.L AS L
  FROM short s,
       unnest(range(0, len(s.w))) tp(pos),
       unnest(range(1, {L + 1})) tl(L)
  WHERE tp.pos + tl.L <= len(s.w)
),
chars AS (SELECT DISTINCT piece, is_initial FROM subs WHERE len(piece) = 1),
multi AS (
  SELECT piece, is_initial FROM (
    SELECT piece, is_initial, sum(cnt) AS freq
    FROM subs WHERE len(piece) >= 2
    GROUP BY piece, is_initial
    ORDER BY freq DESC, is_initial DESC, piece ASC
    LIMIT {n_multi}
  )
),
vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
matches AS (
  SELECT s.w, s.pos, max(s.L) AS maxlen
  FROM subs s JOIN vocab v USING (piece, is_initial)
  GROUP BY s.w, s.pos
),
dense AS (
  SELECT sw.w, tp.pos, coalesce(m.maxlen, 0) AS j
  FROM short sw
  CROSS JOIN unnest(range(0, len(sw.w))) tp(pos)
  LEFT JOIN matches m ON m.w = sw.w AND m.pos = tp.pos
),
jmp AS (SELECT w, list(j ORDER BY pos) AS jump FROM dense GROUP BY w),
walked AS (
  SELECT w,
    list_reduce(
      [[CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)]]
        || list_transform(range(1, {W + 1}),
                          i -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                                CAST(0 AS BIGINT)]),
      (acc, x) -> {step}) AS st
  FROM jmp
),
enc AS (
  SELECT w,
         CAST(CASE WHEN st[3] = 1 THEN st[2] ELSE 1 END AS BIGINT) AS n_sym,
         (st[3] = 0) AS unk
  FROM walked
  UNION ALL
  SELECT w, CAST(1 AS BIGINT), true FROM wcnt WHERE len(w) > {W}
),
dwc AS (
  SELECT doc_id, w, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(sum(dwc.cnt) AS BIGINT) AS n_words,
       CAST(sum(dwc.cnt * e.n_sym) AS BIGINT) AS n_wp_tokens,
       CAST(sum(CASE WHEN e.unk THEN dwc.cnt ELSE 0 END) AS BIGINT)
         AS n_unk_words
FROM dwc JOIN enc e USING (w)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Unigram-LM (r10): SentencePiece-style Viterbi segmentation — the
# third member of the big-three tokenizer family (BPE, WordPiece,
# Unigram), as a whole-stage-codegen max-sum DP.
# --------------------------------------------------------------------------


def unigram_vocab(
    docs: DataFrame,
    max_piece_len: int = WP_MAX_PIECE_LEN,
    n_multi: int = WP_N_MULTI,
    max_word_len: int = WP_MAX_WORD_LEN,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Frequency-scored unigram vocabulary: (piece, freq) — every
    character (so in-corpus words always segment) plus the `n_multi`
    most frequent multi-character substrings, frequencies kept because
    the ENCODER scores by them (unlike WordPiece, where the vocab is a
    set). Deterministic ties (freq desc, piece asc). Real SentencePiece
    prunes by EM'd likelihood loss; this is the frequency variant —
    the Viterbi ENCODER below is the exact algorithm either way."""
    # same precomputed-word-counts contract as wordpiece_vocab: the
    # train+encode pipeline passes its single corpus pass in
    if word_counts is None:
        word_counts = (
            docs.select(F.explode(_tokens()).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    words = word_counts.where(F.length("w") <= max_word_len)
    subs = words.select(
        "cnt",
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(0, length(w) - 1), p ->
                  transform(sequence(1, least({max_piece_len},
                                              length(w) - p)), L ->
                    substring(w, p + 1, L))))
                """
            )
        ).alias("piece"),
    )
    freqs = subs.groupBy("piece").agg(F.sum("cnt").alias("freq"))
    chars = freqs.where(F.length("piece") == 1)
    multi = (
        freqs.where(F.length("piece") >= 2)
        .orderBy(F.col("freq").desc(), F.col("piece").asc())
        .limit(n_multi)
    )
    return chars.unionByName(multi)


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    max_piece_len: int = WP_MAX_PIECE_LEN,
    max_word_len: int = WP_MAX_WORD_LEN,
) -> DataFrame:
    """SentencePiece-style Viterbi segmentation: per word, the
    segmentation into vocab pieces maximizing the integer-quantized
    log-likelihood Σ (bitlen(freq_piece) − bitlen(F)), F = Σ vocab
    freq — i.e. each piece pays the usual −log p(piece), quantized to
    integer bits so both engines agree exactly; ties break to FEWER
    pieces (the DP value is the struct (score, −n), compared
    lexicographically). This is where greedy WordPiece and Viterbi
    genuinely differ: greedy grabs the longest prefix even when a
    shorter first piece unlocks a higher-likelihood remainder —
    test-pinned with such a fixture. Words with no segmentation (or
    longer than `max_word_len`) are [UNK]: 1 token, score −2·bitlen(F)
    by convention.

    Returns (doc_id, n_words, n_unigram_tokens, n_unk_words,
    total_score).

    Spark-first shape, one step past the WordPiece jump table: the
    bounded substring explode + broadcast vocab join now carries a
    SCORE per (position, length), and the greedy walk becomes a
    max-sum Viterbi DP — still ONE whole-stage-codegen `aggregate`,
    with the dp vector carried as the accumulator array and the
    per-step argmax a `greatest()` over ≤ max_piece_len candidate
    structs (NULL = unreachable; Spark's greatest skips NULLs).
    Linear in distinct words; the only driver-side scalar is bitlen(F)
    (one tiny agg, the bpe-merges-collect precedent)."""
    # ONE corpus tokenize pass (guide §2.5, the wordpiece_encode twin):
    # doc⋈word counts checkpointed once; distinct words, the vocab
    # induction's counts, and the per-doc totals all derive from it
    doc_words = (
        docs.select("doc_id", F.explode(_tokens()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # checkpointed, UNLIKE wordpiece_encode's: the F-scalar collect
    # below forces the vocab subtree as its own ACTION, and
    # ReuseExchange cannot dedupe across actions — without the
    # checkpoint the encode plan would re-run this aggregate
    word_counts = (
        doc_words.groupBy("w")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    if vocab is None:
        vocab = unigram_vocab(
            docs,
            max_piece_len,
            max_word_len=max_word_len,
            word_counts=word_counts,
        )
    # checkpoint the vocab before the F scalar: the total-frequency agg
    # below is its own action, and without truncation the whole vocab
    # induction (tokenize + substring explode + two aggregates + top-n)
    # re-ran a second time inside the final encode plan
    vocab = vocab.localCheckpoint(eager=False)
    # bitlen(F); an EMPTY vocab (every corpus word overlong) has F=0
    # and C=0 by convention — every word is then UNK at score 0, the
    # same answer the oracle's coalesce and the reference produce
    total = vocab.agg(F.sum("freq")).first()[0] or 0
    c_pen = int(total).bit_length()
    scored = vocab.select(
        "piece",
        (F.length(F.expr("bin(freq)")) - F.lit(c_pen)).cast("int").alias("sc"),
    )
    words = word_counts.select("w")
    short = words.where(F.length("w") <= max_word_len)
    subs = short.select(
        "w",
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(0, length(w) - 1), p ->
                  transform(sequence(1, least({max_piece_len},
                                              length(w) - p)), L ->
                    named_struct('pos', p,
                                 'piece', substring(w, p + 1, L)))))
                """
            )
        ).alias("s"),
    ).select("w", "s.pos", "s.piece")
    # map key stride = max_piece_len (L ranges 1..max_piece_len, so
    # pos*stride + L is collision-free for ANY piece length cap — the
    # same keying the DuckDB oracle uses)
    stride = max_piece_len
    smap = (
        subs.join(F.broadcast(scored), "piece")
        .groupBy("w")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (
                            F.col("pos") * stride + F.length("piece")
                        ).cast("int").alias("k"),
                        F.col("sc").alias("v"),
                    )
                )
            ).alias("smap")
        )
    )
    # the trailing typed-NULL candidate keeps greatest() well-formed at
    # max_piece_len=1 (Spark's greatest requires >= 2 args) and is a
    # no-op otherwise: greatest skips NULLs, and an all-NULL step is
    # NULL either way (the UNK convention below)
    cands = ", ".join(
        f"""
        IF(i >= {L}
           AND element_at(acc, i - {L} + 1) IS NOT NULL
           AND element_at(smap, (i - {L}) * {stride} + {L}) IS NOT NULL,
           named_struct(
             's', element_at(acc, i - {L} + 1).s
                  + element_at(smap, (i - {L}) * {stride} + {L}),
             'n', element_at(acc, i - {L} + 1).n - 1),
           CAST(NULL AS STRUCT<s: INT, n: INT>))
        """
        for L in range(1, max_piece_len + 1)
    ) + ", CAST(NULL AS STRUCT<s: INT, n: INT>)"
    dp = f"""
    aggregate(
      sequence(1, length(w)),
      array(named_struct('s', 0, 'n', 0)),
      (acc, i) -> concat(acc, array(greatest({cands}))),
      acc -> named_struct(
        'n_sym', CAST(IF(element_at(acc, length(w) + 1) IS NULL,
                         1, -element_at(acc, length(w) + 1).n) AS BIGINT),
        'unk', element_at(acc, length(w) + 1) IS NULL,
        'score', CAST(IF(element_at(acc, length(w) + 1) IS NULL,
                         {-2 * c_pen},
                         element_at(acc, length(w) + 1).s) AS BIGINT))
    )
    """
    encoded_short = short.join(smap, "w", "left").select(
        "w", F.expr(dp).alias("e")
    ).select("w", "e.n_sym", "e.unk", "e.score")
    encoded_long = words.where(F.length("w") > max_word_len).select(
        "w",
        F.lit(1).cast("long").alias("n_sym"),
        F.lit(True).alias("unk"),
        F.lit(-2 * c_pen).cast("long").alias("score"),
    )
    encoded = encoded_short.unionByName(encoded_long)
    enc_salted = encoded.select(
        "w",
        "n_sym",
        "unk",
        "score",
        F.explode(F.sequence(F.lit(0), F.lit(_GRAM_SALT - 1))).alias("_salt"),
    )
    probe = doc_words.withColumn(
        "_salt", (F.col("doc_id") % _GRAM_SALT).cast("int")
    )
    return (
        probe.join(enc_salted, ["w", "_salt"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_unigram_tokens"),
            F.sum(F.when(F.col("unk"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "n_unk_words"
            ),
            F.sum(F.col("cnt") * F.col("score")).alias("total_score"),
        )
    )


def unigram_encode_sql(
    max_piece_len: int = WP_MAX_PIECE_LEN,
    n_multi: int = WP_N_MULTI,
    max_word_len: int = WP_MAX_WORD_LEN,
) -> str:
    """Vocab induction + Viterbi max-sum DP restated for DuckDB: the
    per-(position, length) scores land in a dense list (NULL = not in
    vocab), the dp vector grows through a seeded list_reduce (the
    accumulator rides as the list head), and the per-step argmax is
    list_max over the ≤ max_piece_len candidate [score, −n] pairs —
    the same lexicographic comparison as Spark's greatest() over
    (s, n) structs."""
    P = max_piece_len
    W = max_word_len
    cands = ", ".join(
        f"""CASE WHEN len(acc) >= {L}
             AND scd[(len(acc) - {L}) * {P} + {L}] IS NOT NULL
             AND acc[len(acc) - {L} + 1] IS NOT NULL
        THEN [acc[len(acc) - {L} + 1][1] + scd[(len(acc) - {L}) * {P} + {L}],
              acc[len(acc) - {L} + 1][2] - 1] END"""
        for L in range(1, P + 1)
    )
    return rf"""
WITH wcnt AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
short AS (SELECT w, cnt FROM wcnt WHERE len(w) <= {W}),
subs AS (
  SELECT s.w, s.cnt, tp.pos AS pos, tl.L AS L,
         substr(s.w, CAST(tp.pos AS INT) + 1, CAST(tl.L AS INT)) AS piece
  FROM short s,
       unnest(range(0, len(s.w))) tp(pos),
       unnest(range(1, {P + 1})) tl(L)
  WHERE tp.pos + tl.L <= len(s.w)
),
pfreq AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM subs GROUP BY piece),
chars AS (SELECT piece, freq FROM pfreq WHERE len(piece) = 1),
multi AS (
  SELECT piece, freq FROM (
    SELECT piece, freq FROM pfreq WHERE len(piece) >= 2
    ORDER BY freq DESC, piece ASC LIMIT {n_multi}
  )
),
vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
tot AS (SELECT CAST(coalesce(len(bin(sum(freq))), 0) AS BIGINT) AS c FROM vocab),
scored AS (
  SELECT piece, CAST(len(bin(freq)) AS BIGINT) - (SELECT c FROM tot) AS sc
  FROM vocab
),
matches AS (
  SELECT s.w, s.pos, s.L, v.sc FROM subs s JOIN scored v USING (piece)
),
grid AS (
  SELECT sw.w, tp.pos, tl.L
  FROM short sw,
       unnest(range(0, len(sw.w))) tp(pos),
       unnest(range(1, {P + 1})) tl(L)
),
dense AS (
  SELECT g.w, g.pos, g.L, m.sc
  FROM grid g LEFT JOIN matches m ON m.w = g.w AND m.pos = g.pos AND m.L = g.L
),
scl AS (SELECT w, list(sc ORDER BY pos, L) AS scd FROM dense GROUP BY w),
walked AS (
  SELECT w,
    list_reduce(
      [[[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]]]
        || list_transform(range(1, len(w) + 1),
                          i -> [[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]]),
      (acc, x) -> acc || [list_max([{cands}])]) AS st
  FROM scl
),
enc AS (
  SELECT w,
         CAST(CASE WHEN st[len(w) + 1] IS NULL THEN 1
                   ELSE -st[len(w) + 1][2] END AS BIGINT) AS n_sym,
         (st[len(w) + 1] IS NULL) AS unk,
         CAST(CASE WHEN st[len(w) + 1] IS NULL THEN -2 * (SELECT c FROM tot)
                   ELSE st[len(w) + 1][1] END AS BIGINT) AS score
  FROM walked
  UNION ALL
  SELECT w, CAST(1 AS BIGINT), true,
         CAST(-2 * (SELECT c FROM tot) AS BIGINT)
  FROM wcnt WHERE len(w) > {W}
),
dwc AS (
  SELECT doc_id, w, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(sum(dwc.cnt) AS BIGINT) AS n_words,
       CAST(sum(dwc.cnt * e.n_sym) AS BIGINT) AS n_unigram_tokens,
       CAST(sum(CASE WHEN e.unk THEN dwc.cnt ELSE 0 END) AS BIGINT)
         AS n_unk_words,
       CAST(sum(dwc.cnt * e.score) AS BIGINT) AS total_score
FROM dwc JOIN enc e USING (w)
GROUP BY doc_id
"""
