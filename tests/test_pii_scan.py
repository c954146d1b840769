"""PII detectors (operators/text.py::pii_scan) proven on PII-laden
fixtures — the synthetic corpus is PII-free, so the
registry entry only certifies zeros; detection has to be shown here."""

from __future__ import annotations

from khronus_spark.operators.text import pii_scan

DOCS = [
    (1, "contact me at Jane.Doe@Example.COM or visit HTTPS://Example.com/x", "en", "webA", 64),
    (2, "call +1 (555) 123-4567 tomorrow", "en", "webA", 31),
    (3, "nothing sensitive here just words", "en", "webB", 33),
]
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_scan_counts_by_source(spark):
    out = {r["source"]: r.asDict() for r in pii_scan(spark.createDataFrame(DOCS, SCHEMA)).collect()}
    a, b = out["webA"], out["webB"]
    assert a["n_email_hits"] == 1
    assert a["n_url_hits"] == 1
    assert a["n_phone_hits"] == 1
    assert a["n_docs"] == 2
    assert b["n_email_hits"] == b["n_url_hits"] == b["n_phone_hits"] == 0

