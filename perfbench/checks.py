"""Output checks: every answer the program gives is restated in DuckDB
over the same files and compared.

- dashboard reads: each query's points against the summary SQL of
  ``functions/summary.py`` over the landed parquet;
- ingest: landed row count against acked values, and the streaming
  rollup store against a batch summary of the landing dir (count, min,
  max and mean exact; sketch percentiles within their rank tolerance);
- batch entries: a value hash of each entry's rows against the hash of
  its ``entry_queries.oracle_sql()`` oracle.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

#: percentile_approx accuracy of the streaming histogram rollup
#: (streaming/ingest.py::streaming_histogram_summary)
SKETCH_ACCURACY = 10_000


def _duck(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    return con


def landing_sql(landing: str) -> str:
    """The landed measurement rows (staged files are dot-prefixed)."""
    pattern = os.path.join(landing, "part-*.parquet")
    return f"SELECT metric, mtype, ts_ms, value FROM read_parquet('{pattern}')"


def round4(x: float) -> float:
    """4 dp HALF_UP on the decimal form of a double, as the executor's
    final rounding does."""
    return float(decimal.Decimal(repr(float(x))).quantize(
        decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
    ))


def _align_ceil(ms: int, w: int) -> int:
    return -((-ms) // w) * w


# ---------------------------------------------------------------------------
# dashboard reads
# ---------------------------------------------------------------------------


def _parse_where(query: str) -> tuple[int, int]:
    """(from_ms, to_ms) of a ``time >= a and time < b`` filter."""
    lo = int(query.split("time >= ")[1].split()[0])
    hi = int(query.split("time < ")[1].split()[0])
    return lo, hi - 1


def expected_bodies(landing: str, mix: list[tuple[str, str]], threads: int) -> dict:
    """label -> {series name: points} restated over the landed parquet."""
    from khronus_spark.functions.summary import (
        PERCENTILE_FRACTIONS,
        counter_summary_sql,
        histogram_summary_sql,
    )

    con = _duck(threads)
    m_sql = landing_sql(landing)
    out = {}

    def summary(metric: str, window: int, family: str) -> list[dict]:
        fn = counter_summary_sql if family == "counter" else histogram_summary_sql
        res = con.execute(fn(window, f"WHERE metric = '{metric}'", m_sql))
        cols = [d[0] for d in res.description]
        return [dict(zip(cols, r)) for r in res.fetchall()]

    def bucketed(rows, lo, hi, window):
        a, b = _align_ceil(lo, window), hi // window * window
        return sorted((r for r in rows if a <= r["ts"] <= b), key=lambda r: r["ts"])

    def points(rows, fn, window):
        if fn == "cpm":
            return [[r["ts"], round4(r["count"] / (window / 60000.0))] for r in rows]
        return [[r["ts"], round4(float(r[fn]))] for r in rows]

    for label, q in mix:
        if label == "list_series":
            names = sorted(r[0] for r in con.execute(
                f"SELECT DISTINCT metric FROM ({m_sql})").fetchall())
            out[label] = {"name": [[0, n] for n in names]}
            continue
        lo, hi = _parse_where(q)
        metric = q.split('from "')[1].split('"')[0]
        if label == "count_5m":
            rows = bucketed(summary(metric, 300_000, "counter"), lo, hi, 300_000)
            out[label] = {"count": points(rows, "count", 300_000)}
        elif label == "percentiles_1h":
            rows = bucketed(summary(metric, 3_600_000, "histogram"), lo, hi, 3_600_000)
            out[label] = {p: points(rows, p, 3_600_000) for p in ("p50", "p90", "p99")}
        elif label == "mean_max_30s":
            rows = bucketed(summary(metric, 30_000, "histogram"), lo, hi, 30_000)
            out[label] = {f: points(rows, f, 30_000) for f in ("mean", "max")}
        elif label == "star_10m":
            rows = bucketed(summary(metric, 600_000, "histogram"), lo, hi, 600_000)
            fns = (*PERCENTILE_FRACTIONS, "count", "min", "max", "mean", "cpm")
            out[label] = {f: points(rows, f, 600_000) for f in fns}
        elif label == "alias_sum_5m":
            other = q.split('as a, "')[1].split('"')[0]
            a = {r["ts"]: r["count"] for r in
                 bucketed(summary(metric, 300_000, "counter"), lo, hi, 300_000)}
            b = {r["ts"]: r["count"] for r in
                 bucketed(summary(other, 300_000, "counter"), lo, hi, 300_000)}
            out[label] = {"total": [[t, round4(float(a[t] + b[t]))]
                                    for t in sorted(a) if t in b]}
        else:
            raise ValueError(f"no restatement for {label}")
    return out


def body_series(body: list[dict]) -> dict:
    """Wire body -> {series name: points}; the series name is the second
    column header (``["time", <name>]``)."""
    return {s["columns"][1]: s["points"] for s in body}


# ---------------------------------------------------------------------------
# ingest: landing and rollup store
# ---------------------------------------------------------------------------


def landing_rows(landing: str, threads: int) -> int:
    con = _duck(threads)
    return con.execute(f"SELECT count(*) FROM ({landing_sql(landing)})").fetchone()[0]


def check_rollup_store(landing: str, store: str, threads: int) -> list[str]:
    """Compare the streaming upsert store with a batch summary of the
    landing dir; returns a list of mismatch descriptions (empty = pass)."""
    from khronus_spark.functions.summary import (
        PERCENTILE_FRACTIONS,
        counter_summary_sql,
        histogram_summary_sql,
    )

    con = _duck(threads)
    m_sql = landing_sql(landing)
    errors = []

    def store_rows(family, cols):
        pattern = os.path.join(store, family, "**", "*.parquet")
        res = con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet('{pattern}', "
            "hive_partitioning = true)"
        )
        return {(r[0], r[1]): r[2:] for r in res.fetchall()}

    got = store_rows("counter", ("metric", "ts", "count"))
    res = con.execute(counter_summary_sql(60_000, "WHERE mtype = 'counter'", m_sql))
    want = {(r[0], r[1]): r[2:] for r in res.fetchall()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        errors.append(f"counter rollup: {len(got)} vs {len(want)} buckets, e.g. {diff}")

    exact = ("count", "min", "max", "mean")
    pcts = tuple(PERCENTILE_FRACTIONS)
    got = store_rows("histogram", ("metric", "ts", *exact, *pcts))
    hist = histogram_summary_sql(30_000, "WHERE mtype IN ('timer', 'gauge')", m_sql)
    res = con.execute(
        f"SELECT h.metric, h.ts, {', '.join('h.' + c for c in exact)}, v.vals "
        f"FROM ({hist}) h JOIN (SELECT metric, (ts_ms // 30000) * 30000 AS ts, "
        f"list_sort(list(value)) AS vals FROM ({m_sql}) "
        "WHERE mtype IN ('timer', 'gauge') GROUP BY ALL) v USING (metric, ts)"
    )
    want = {(r[0], r[1]): (r[2:6], r[6]) for r in res.fetchall()}
    if set(got) != set(want):
        errors.append(f"histogram rollup: {len(got)} vs {len(want)} buckets")
    for key in sorted(set(got) & set(want)):
        row, (w_exact, vals) = got[key], want[key]
        if tuple(row[:4]) != tuple(w_exact):
            errors.append(f"histogram {key}: {row[:4]} != {w_exact}")
            continue
        n = len(vals)
        for name, value in zip(pcts, row[4:]):
            f = float(PERCENTILE_FRACTIONS[name])
            slack = n / SKETCH_ACCURACY
            lo = min(n, max(1, math.floor(f * n - slack)))
            hi = min(n, math.ceil(f * n + slack) + 1)
            if not vals[lo - 1] <= value <= vals[hi - 1]:
                errors.append(
                    f"histogram {key} {name}={value} outside "
                    f"[{vals[lo - 1]}, {vals[hi - 1]}] (n={n})"
                )
        if len(errors) > 20:
            break
    return errors


# ---------------------------------------------------------------------------
# batch entries
# ---------------------------------------------------------------------------


def _canon(v):
    """Type-tagged canonical value, as the registry's parity test compares
    them: ints and floats never collide, floats to 9 dp."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("dec", round(float(v), 9))
    if hasattr(v, "isoformat"):
        return ("ts", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def result_hash(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive value hash of a result, columns taken by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)
    head = repr(sorted(columns)).encode()
    return hashlib.sha256(head + repr(canon).encode()).hexdigest()


def oracle_hashes(sf_dir: str, names: tuple[str, ...], threads: int) -> dict:
    """name -> (hash, rows) of each entry's DuckDB oracle."""
    from khronus_spark import entry_queries

    oracles = entry_queries.oracle_sql()
    con = _duck(threads)
    for table in ("documents", "part", "embeddings", "events"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, table)}.parquet')"
        )
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = (result_hash(rows, cols), len(rows))
    return out

