"""Expectation suite: planted violations must surface in the right
check row with the right count, and a clean drop passes everything."""

from __future__ import annotations

from pyspark.sql import functions as F

from khronus_spark.operators import expectations as ex


def _events(spark, rows):
    # (event_id, ts_ns, user_id, event_type, value)
    return spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )


def test_planted_violations_are_counted(spark):
    docs = spark.createDataFrame(
        [
            (1, "good text", "en", "s", 9),
            (1, "dup id", "en", "s", 6),        # duplicate doc_id
            (2, "", "en", "s", 0),              # empty text
            (3, "abc", "en", "s", 99),          # n_chars wrong
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    ok_ts = 1_704_100_000_000 * 1_000_000
    ev = _events(
        spark,
        [
            (0, ok_ts, 1, "click", 5.0),
            (1, ok_ts, 1, "teleport", 5.0),       # bad enum
            (2, ok_ts, 1, "view", -3.0),          # bad range
            (3, 1_000_000_000, 1, "view", 1.0),   # before span (1970)
        ],
    )
    orders = spark.createDataFrame(
        [(10, 100), (11, 999)], "o_orderkey long, o_custkey long"
    )
    customer = spark.createDataFrame([(100,)], "c_custkey long")
    lineitem = spark.createDataFrame(
        [(10, 1), (77, 1)], "l_orderkey long, l_linenumber long"
    )

    got = {
        (r.check, r.tbl): (r.observed, r.passed)
        for r in ex.expectation_suite(docs, ev, orders, customer, lineitem).collect()
    }
    assert got[("doc_id_unique", "documents")] == (1, False)
    assert got[("text_nonempty", "documents")] == (1, False)
    assert got[("n_chars_consistent", "documents")] == (1, False)
    assert got[("event_type_domain", "events")] == (1, False)
    assert got[("value_in_range", "events")] == (1, False)
    assert got[("ts_in_span", "events")] == (1, False)
    assert got[("custkey_resolves", "orders")] == (1, False)
    assert got[("orderkey_resolves", "lineitem")] == (1, False)
    assert len(got) == 8


def test_clean_drop_passes_everything(spark, sf_dir):
    from khronus_spark.sources.tables import load_table

    suite = ex.expectation_suite(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "lineitem"),
    ).collect()
    assert len(suite) == 8
    assert all(r.passed for r in suite), [
        (r.check, r.observed) for r in suite if not r.passed
    ]


def test_per_table_checks_are_single_scan(spark, sf_dir):
    """The scale contract: each table's counters come from ONE
    aggregate over one scan — the plan for documents_checks contains
    exactly one scan of the documents parquet."""
    from khronus_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        ex.documents_checks(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_anomaly_flags_planted(spark):
    day_ns = 86_400_000 * 1_000_000
    base = 1_704_100_000_000 * 1_000_000
    rows = [
        (0, base, 1, "view", 350.0),            # high value
        (1, base, 2, "error", 250.0),           # error storm
        (2, base + day_ns, 3, "click", 1.0),    # clean
    ]
    # user 9: bot-like — BOT_EVENTS_PER_DAY+1 events in one day
    rows += [
        (100 + i, base + i * 1_000_000_000, 9, "click", 1.0)
        for i in range(ex.BOT_EVENTS_PER_DAY + 1)
    ]
    ev = _events(spark, rows)
    got = {r.event_id: r.reasons for r in ex.anomaly_flags(ev).collect()}
    assert got[0] == ex.A_HIGH_VALUE
    assert got[1] == ex.A_ERROR_STORM
    assert 2 not in got
    for i in range(ex.BOT_EVENTS_PER_DAY + 1):
        assert got[100 + i] == ex.A_BOT_RATE


def test_k_anonymity_audit_flags_small_and_homogeneous_groups(spark):
    """Planted fixture: a <k group fails k-anonymity; a large group
    whose members all share one sensitive value fails l-diversity
    (the homogeneity attack); a large diverse group passes both."""
    from khronus_spark.operators.expectations import k_anonymity_audit

    rows = (
        # big diverse group: 6 rows, 3 distinct users
        [("a", 1, u) for u in (1, 2, 3, 1, 2, 3)]
        # big homogeneous group: 5 rows, ONE user
        + [("b", 1, 9)] * 5
        # small group: 2 rows
        + [("c", 1, 1), ("c", 1, 2)]
    )
    df = spark.createDataFrame(rows, "q1 string, q2 long, sensitive long")
    out = {
        r["q1"]: r
        for r in k_anonymity_audit(df, ["q1", "q2"], "sensitive", k=5, l=3).collect()
    }
    assert out["a"]["is_k_anonymous"] and out["a"]["is_l_diverse"]
    assert out["b"]["is_k_anonymous"] and not out["b"]["is_l_diverse"]
    assert not out["c"]["is_k_anonymous"]
    assert out["b"]["n_rows"] == 5 and out["b"]["n_sensitive"] == 1
