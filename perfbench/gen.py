"""Seeded input generation: every byte the program under test receives.

Three generators, all pure functions of the seed:

- ``dashboard_batches``: the 24 h preload for ``dashboard_read``: one
  MetricBatch per POST, 15 minutes of timer, counter and gauge data each.
- ``ingest_batches``: the open-loop POST stream for ``ingest_mixed``.
  Event time advances monotonically with the POST index, the way live
  agents report, so the streaming rollup's watermark never drops a row.
- ``write_batch_tables``: the parquet inputs of the batch registry entries
  (documents, part, embeddings, events), shaped like the registry's
  testdata tables.

Request bodies are serialised here too (``encode_post``), so the
same-seed-same-bytes property covers the exact wire bytes.
"""

from __future__ import annotations

import gzip
import json
import os
import random

#: 2024-03-01 00:00:00 UTC — start of the dashboard preload's 24 h.
DASH_T0_MS = 1709251200000
DAY_MS = 86_400_000
DASH_POSTS = 96  # one POST per 15 minutes of data
DASH_METRICS = (
    ("api.latency", "timer"),
    ("db.latency", "timer"),
    ("req.count", "counter"),
    ("err.count", "counter"),
    ("heap.used", "gauge"),
    ("queue.depth", "gauge"),
)

#: 2024-03-05 00:00:00 UTC — start of the ingest stream's event time.
INGEST_T0_MS = 1709596800000
INGEST_EVENT_STEP_MS = 10_000  # event time one POST covers
INGEST_METRICS = (
    ("ing.latency", "timer"),
    ("ing.size", "gauge"),
    ("ing.hits", "counter"),
    ("ing.errs", "counter"),
)


def _values(rng: random.Random, mtype: str, n: int) -> list[int]:
    if mtype == "timer":
        return [int(rng.lognormvariate(3.5, 0.8)) for _ in range(n)]
    if mtype == "counter":
        return [rng.randint(1, 5) for _ in range(n)]
    level = rng.randint(200, 800)
    return [max(0, level + rng.randint(-50, 50)) for _ in range(n)]


def _batch(rng, metrics, t_lo, span_ms, measurements, values_each):
    out = []
    for name, mtype in metrics:
        ms = []
        for _ in range(measurements):
            ts = t_lo + rng.randrange(span_ms)
            ms.append({"ts": ts, "values": _values(rng, mtype, values_each)})
        ms.sort(key=lambda m: m["ts"])
        out.append({"name": name, "mtype": mtype, "measurements": ms})
    return {"metrics": out}


def dashboard_batches(seed: int) -> list[dict]:
    """96 MetricBatches covering DASH_T0_MS .. +24 h, ~1000 values each."""
    rng = random.Random(f"dashboard/{seed}")
    span = DAY_MS // DASH_POSTS
    return [
        _batch(rng, DASH_METRICS, DASH_T0_MS + i * span, span, 15, 11)
        for i in range(DASH_POSTS)
    ]


def ingest_batches(seed: int, n: int) -> list[tuple[dict, bool]]:
    """The first ``n`` POSTs of the ingest stream: (batch, gzip?) pairs,
    ~1000 values each, half of them gzip-compressed."""
    rng = random.Random(f"ingest/{seed}")
    out = []
    for i in range(n):
        t_lo = INGEST_T0_MS + i * INGEST_EVENT_STEP_MS
        batch = _batch(rng, INGEST_METRICS, t_lo, INGEST_EVENT_STEP_MS, 10, 25)
        out.append((batch, rng.random() < 0.5))
    return out


def encode_post(batch: dict, compress: bool) -> tuple[bytes, dict[str, str]]:
    """Wire body + headers for one POST /khronus/metrics. gzip mtime is
    pinned to 0 so the bytes depend on the batch alone."""
    body = json.dumps(batch, separators=(",", ":")).encode()
    headers = {"Content-Type": "application/json"}
    if compress:
        body = gzip.compress(body, mtime=0)
        headers["Content-Encoding"] = "gzip"
    return body, headers


def acked_values(batch: dict) -> int:
    """Measurement rows one batch lands (the service skips negatives;
    the generator emits none, so this is every value)."""
    return sum(
        1
        for m in batch["metrics"]
        for meas in m["measurements"]
        for v in meas["values"]
        if v >= 0
    )


# ---------------------------------------------------------------------------
# InfluxQL query mixes
# ---------------------------------------------------------------------------


def dashboard_queries(t0_ms: int, metrics: tuple) -> list[tuple[str, str]]:
    """The Grafana-shaped mix as (label, InfluxQL), over a 24 h view that
    starts at ``t0_ms``. ``metrics`` lists (timer, timer, counter,
    counter, gauge) names in that order."""
    timer_a, timer_b, counter_a, counter_b, gauge = metrics
    t1 = t0_ms + DAY_MS
    return [
        ("count_5m",
         f'select count from "{counter_a}" where time >= {t0_ms} and time < {t1} '
         "force group by time(5m)"),
        ("percentiles_1h",
         f'select percentiles(50 90 99) from "{timer_a}" '
         f"where time >= {t0_ms} and time < {t1} force group by time(1h)"),
        ("mean_max_30s",
         f'select mean, max from "{timer_b}" where time >= {t1 - 5 * 3_600_000} '
         f"and time < {t1} force group by time(30s)"),
        ("star_10m",
         f'select * from "{gauge}" where time >= {t1 - 12 * 3_600_000} '
         f"and time < {t1} force group by time(10m)"),
        ("alias_sum_5m",
         f'select a.count + b.count as total from "{counter_a}" as a, '
         f'"{counter_b}" as b where time >= {t0_ms} and time < {t1} '
         "force group by time(5m)"),
        ("list_series", "list series"),
    ]


DASHBOARD_MIX = dashboard_queries(
    DASH_T0_MS, ("api.latency", "db.latency", "req.count", "err.count", "heap.used")
)
INGEST_MIX = dashboard_queries(
    INGEST_T0_MS, ("ing.latency", "ing.latency", "ing.hits", "ing.errs", "ing.size")
)


# ---------------------------------------------------------------------------
# batch_pipeline tables
# ---------------------------------------------------------------------------

#: table sizes (rows). The registry's sf0.1 testdata has 5000 documents,
#: 20000 parts, 2000 embeddings and 100000 events; the documents and
#: parts are cut so their DuckDB oracles finish while Spark boots.
BATCH_ROWS = {"documents": 1500, "part": 4000, "embeddings": 2000, "events": 100_000}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "zh", "es", "fr", "de")
_ADJ = (
    "large hot blue old cold small red green dark light tall short wide "
    "thin heavy soft hard bright dull rough smooth round flat sharp plain "
    "pale rich deep steel brass iron chrome matte glossy rusty shiny"
).split()
_NOUN = (
    "ring bolt plate gear nut screw washer spring valve pipe hinge clamp "
    "bracket flange gasket bearing shaft pulley lever knob handle rivet "
    "spindle sprocket coupling bushing collar sleeve wedge"
).split()
_EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
#: 2024-01-01 00:00 UTC; events span 30 days like the registry testdata
_EVENTS_T0_US = 1704067200 * 1_000_000
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _documents(rng: random.Random, n: int) -> dict:
    """Random token docs; ~5% are one-token edits of an earlier original
    (never of another copy), so duplicate clusters are stars of the same
    shape whatever the seed."""
    texts, originals = [], []
    for i in range(n):
        if originals and rng.random() < 0.05:
            toks = texts[rng.choice(originals)].split()
            toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
            if rng.random() < 0.5:
                toks.append("dup")
        else:
            toks = [rng.choice(_WORDS) for _ in range(rng.randint(10, 100))]
            originals.append(i)
        texts.append(" ".join(toks))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _misspell(rng: random.Random, word: str) -> str:
    i = rng.randrange(len(word))
    return word[:i] + rng.choice("aeiorstn") + word[i + 1:]


def _part(rng: random.Random, n: int) -> dict:
    names = []
    for _ in range(n):
        name = f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}"
        if rng.random() < 0.1:
            name = _misspell(rng, name)
        names.append(name)
    return {
        "p_partkey": list(range(n)),
        "p_name": names,
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n)],
        "p_type": [
            rng.choice(("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"))
            for _ in range(n)
        ],
        "p_size": [rng.randint(1, 50) for _ in range(n)],
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n)],
    }


def _embeddings(seed: int, n: int, dims: int = 64, clusters: int = 10) -> dict:
    import numpy as np

    g = np.random.default_rng(seed)
    centers = g.normal(0.0, 0.1, size=(clusters, dims))
    labels = g.integers(0, clusters, size=n)
    vecs = (centers[labels] + g.normal(0.0, 0.07, size=(n, dims))).astype("float32")
    return {
        "vec_id": list(range(n)),
        "embedding": [list(map(float, v)) for v in vecs],
        "label": [int(x) for x in labels],
    }


def _events(rng: random.Random, n: int) -> dict:
    ts = sorted(rng.randrange(_EVENTS_SPAN_US) for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts": [_EVENTS_T0_US + t for t in ts],
        "user_id": [rng.randrange(1500) for _ in range(n)],
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n)],
        "value": [round(rng.expovariate(1 / 50.0), 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    }


def write_batch_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write the batch entries' input tables as one parquet file each,
    named like the registry's testdata (``<out_dir>/<table>.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"batch/{seed}")
    schemas = {
        "documents": pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
        "part": pa.schema([
            ("p_partkey", pa.int64()), ("p_name", pa.string()),
            ("p_brand", pa.string()), ("p_type", pa.string()),
            ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
        ]),
        "embeddings": pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
        "events": pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ]),
    }
    columns = {
        "documents": _documents(rng, BATCH_ROWS["documents"]),
        "part": _part(rng, BATCH_ROWS["part"]),
        "embeddings": _embeddings(seed, BATCH_ROWS["embeddings"]),
        "events": _events(rng, BATCH_ROWS["events"]),
    }
    paths = {}
    for name, cols in columns.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        papq.write_table(pa.table(cols, schema=schemas[name]), path)
        paths[name] = path
    return paths
