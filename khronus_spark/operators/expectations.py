"""Data-expectation checks: the declarative constraint battery a
pipeline runs BEFORE training data (or dashboards) consume a drop — the
Deequ / Great Expectations shape, expressed as plain Spark aggregates.

Design for 100 TB: one scan per table computes ALL of that table's
check counters in a single map-side-combinable aggregate (never one
scan per check), then the 1-row wide frame unpivots to long
(check, tbl, observed, passed) rows map-only. Referential checks are
LEFT ANTI joins on the key — the only shuffles in the suite, and they
shuffle the fact table once each.

The reference has no QA surface (its ingest trusts the client); this is
part of the training-data-pipeline extension the engine adds on top of
SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: events span contract: calendar year 2024 in epoch-ms.
EVENTS_SPAN_MS = (1_704_067_200_000, 1_735_689_600_000)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VALUE_RANGE = (0.0, 1000.0)


def _unpivot(wide: DataFrame, tbl: str) -> DataFrame:
    """1-row wide counter frame → (check, tbl, observed, passed) rows."""
    checks = wide.columns
    stack = ", ".join(f"'{c}', {c}" for c in checks)
    return wide.select(
        F.expr(f"stack({len(checks)}, {stack}) AS (check, observed)")
    ).select(
        "check",
        F.lit(tbl).alias("tbl"),
        F.col("observed").cast("long").alias("observed"),
        (F.col("observed") == 0).alias("passed"),
    )


def documents_checks(docs: DataFrame) -> DataFrame:
    """Single-scan counters: duplicate doc_ids, null/empty text, and
    n_chars disagreeing with the actual text length."""
    wide = docs.agg(
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("doc_id_unique"),
        F.sum(
            (F.col("text").isNull() | (F.length("text") == 0)).cast("long")
        ).alias("text_nonempty"),
        F.sum(
            (~F.col("n_chars").eqNullSafe(F.length("text"))).cast("long")
        ).alias("n_chars_consistent"),
    )
    return _unpivot(wide, "documents")


def events_checks(ev_ns: DataFrame) -> DataFrame:
    """Single-scan counters over events (ts already epoch-ns): values
    outside the contract range, timestamps outside the ingest span,
    and event types outside the enum domain."""
    lo, hi = EVENTS_SPAN_MS
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    wide = ev_ns.agg(
        F.sum(
            F.expr(
                f"CAST(value < {VALUE_RANGE[0]} OR value > {VALUE_RANGE[1]} AS LONG)"
            )
        ).alias("value_in_range"),
        F.sum(
            F.expr(f"CAST(ts div 1000000 < {lo}L OR ts div 1000000 >= {hi}L AS LONG)")
        ).alias("ts_in_span"),
        F.sum(F.expr(f"CAST(event_type NOT IN ({types}) AS LONG)")).alias(
            "event_type_domain"
        ),
    )
    return _unpivot(wide, "events")


def referential_checks(
    orders: DataFrame, customer: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Orphan keys: orders→customer and lineitem→orders. LEFT ANTI join
    counts — one fact-table shuffle each; the dimension side is
    dictionary-sized relative to the fact and broadcast-eligible."""
    o_orphans = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("observed"))
        .select(
            F.lit("custkey_resolves").alias("check"),
            F.lit("orders").alias("tbl"),
            F.col("observed").cast("long"),
            (F.col("observed") == 0).alias("passed"),
        )
    )
    l_orphans = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("observed"))
        .select(
            F.lit("orderkey_resolves").alias("check"),
            F.lit("lineitem").alias("tbl"),
            F.col("observed").cast("long"),
            (F.col("observed") == 0).alias("passed"),
        )
    )
    return o_orphans.unionByName(l_orphans)


def expectation_suite(
    docs: DataFrame,
    ev_ns: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    return (
        documents_checks(docs)
        .unionByName(events_checks(ev_ns))
        .unionByName(referential_checks(orders, customer, lineitem))
    )


def expectation_suite_sql() -> str:
    lo, hi = EVENTS_SPAN_MS
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    return f"""
WITH d AS (
  SELECT count(*) - count(DISTINCT doc_id) AS doc_id_unique,
         CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS text_nonempty,
         CAST(sum(CASE WHEN n_chars IS DISTINCT FROM length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_consistent
  FROM documents
),
e AS (
  SELECT CAST(sum(CASE WHEN value < {VALUE_RANGE[0]} OR value > {VALUE_RANGE[1]} THEN 1 ELSE 0 END) AS BIGINT) AS value_in_range,
         CAST(sum(CASE WHEN epoch_us(ts) // 1000 < {lo} OR epoch_us(ts) // 1000 >= {hi} THEN 1 ELSE 0 END) AS BIGINT) AS ts_in_span,
         CAST(sum(CASE WHEN event_type NOT IN ({types}) THEN 1 ELSE 0 END) AS BIGINT) AS event_type_domain
  FROM events
),
o AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
),
l AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
)
SELECT 'doc_id_unique' AS check, 'documents' AS tbl, doc_id_unique AS observed, doc_id_unique = 0 AS passed FROM d
UNION ALL SELECT 'text_nonempty', 'documents', text_nonempty, text_nonempty = 0 FROM d
UNION ALL SELECT 'n_chars_consistent', 'documents', n_chars_consistent, n_chars_consistent = 0 FROM d
UNION ALL SELECT 'value_in_range', 'events', value_in_range, value_in_range = 0 FROM e
UNION ALL SELECT 'ts_in_span', 'events', ts_in_span, ts_in_span = 0 FROM e
UNION ALL SELECT 'event_type_domain', 'events', event_type_domain, event_type_domain = 0 FROM e
UNION ALL SELECT 'custkey_resolves', 'orders', n, n = 0 FROM o
UNION ALL SELECT 'orderkey_resolves', 'lineitem', n, n = 0 FROM l
"""


#: anomaly reason bits (behavioral rules that fire on real data)
A_HIGH_VALUE = 1
A_ERROR_STORM = 2
A_BOT_RATE = 4

HIGH_VALUE = 300.0
ERROR_VALUE = 200.0
BOT_EVENTS_PER_DAY = 7


def anomaly_flags(ev_ns: DataFrame) -> DataFrame:
    """Behavioral anomaly quarantine: rows worth a second look even when
    the schema contract holds — outlier values, high-value errors, and
    bot-like per-user-day rates. The first two flags are map-only; the
    rate flag is one map-side-combinable groupBy(user, day) joined back
    on the same keys (co-partitioned). Output: flagged rows only, with
    the reason bitmask."""
    day = F.expr("ts div 1000000 div 86400000").alias("day")
    with_day = ev_ns.select(
        "event_id", "user_id", "event_type", "value", day
    )
    daily = (
        with_day.groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_day"))
        .where(F.col("n_day") > BOT_EVENTS_PER_DAY)
    )
    flagged = (
        with_day.join(daily, ["user_id", "day"], "left")
        .withColumn(
            "reasons",
            F.expr(
                f"CAST(value > {HIGH_VALUE} AS LONG) * {A_HIGH_VALUE} + "
                f"CAST(event_type = 'error' AND value > {ERROR_VALUE} AS LONG) * {A_ERROR_STORM} + "
                f"CAST(n_day IS NOT NULL AS LONG) * {A_BOT_RATE}"
            ),
        )
        .where(F.col("reasons") != 0)
    )
    return flagged.select("event_id", "user_id", "event_type", "reasons")


def anomaly_flags_sql() -> str:
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    return f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_us(ts) // 1000 // 86400000 AS day
  FROM events
),
daily AS (
  SELECT user_id, day, count(*) AS n_day FROM e GROUP BY 1, 2
  HAVING count(*) > {BOT_EVENTS_PER_DAY}
)
SELECT * FROM (
  SELECT e.event_id, e.user_id, e.event_type,
         CAST(CASE WHEN e.value > {HIGH_VALUE} THEN {A_HIGH_VALUE} ELSE 0 END +
              CASE WHEN e.event_type = 'error' AND e.value > {ERROR_VALUE} THEN {A_ERROR_STORM} ELSE 0 END +
              CASE WHEN daily.user_id IS NOT NULL THEN {A_BOT_RATE} ELSE 0 END AS BIGINT) AS reasons
  FROM e LEFT JOIN daily USING (user_id, day)
)
WHERE reasons <> 0
"""


# ---------------------------------------------------------------------------
# privacy QA: k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_expr: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """Privacy audit over quasi-identifier groups — the release-gate
    complement of the PII scan (pii_scan finds identifiers IN the
    text; this finds identification risk in the METADATA). A row's
    quasi-identifier tuple (e.g. lang × source × size class) is
    k-anonymous iff at least `k` rows share it, and l-diverse iff its
    group contains at least `l` distinct SENSITIVE values — a group
    can be large yet still leak if every member shares the sensitive
    attribute (the homogeneity attack k-anonymity alone misses).

    Output: one row per quasi-identifier group — (quasi cols…, n_rows,
    n_sensitive, is_k_anonymous, is_l_diverse). Groups failing either
    flag are what a release process must generalize (coarsen a quasi
    column) or suppress.

    Shape at 100 TB: one map-side-combinable groupBy on the quasi
    tuple; the distinct-sensitive count is exact count(DISTINCT) per
    group, which Spark plans as a two-phase partial-distinct — no
    row ever leaves its group's partition twice. Output cardinality is
    the quasi-tuple space, corpus-independent."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.expr(sensitive_expr)).alias("n_sensitive"),
        )
        .withColumn("is_k_anonymous", F.col("n_rows") >= k)
        .withColumn("is_l_diverse", F.col("n_sensitive") >= l)
    )
