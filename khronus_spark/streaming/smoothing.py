"""Streaming EWMA: the integer recurrence carried across micro-batches.

The batch operator (operators/smoothing.py::ewma_int) folds
  s_t = (alpha_num·x_t + (alpha_den−alpha_num)·s_{t-1}) DIV alpha_den
over a complete series; the streaming twin keeps (last order key,
last smoothed value) per series in the state store and folds each
micro-batch's rows into it, emitting every input row exactly once with
its smoothed value — bit-identical to running the batch operator over
the full history (pinned by the stream==batch test).

Ordering contract: the recurrence is order-dependent, so the stream
must deliver each series' buckets in non-decreasing order across
micro-batches — which is exactly what the upstream finalized-bucket
producers emit (a rollup that emits each bucket once the watermark
closes it, or a bucket-partitioned landing zone replayed in file
order). A row that arrives at-or-before the per-series high-water
mark is DROPPED — it
has no well-defined place in an already-emitted recurrence (the
stream==batch test pins this: a replayed prefix changes nothing);
within a batch rows sort by the order key first, so intra-batch
disorder is absorbed.

Scale notes: state per series is two BIGINTs — millions of series fit
in any state store; the shuffle is the same series-id hash exchange
the batch twin uses. NoTimeout: a dormant series keeps its two-long
state row until the query is rewound, there is nothing to expire.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

STATE_SCHEMA = StructType(
    [
        StructField("last_order", LongType()),
        StructField("last_ewma", LongType()),
    ]
)


def streaming_ewma(
    stream: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha_num: int = 3,
    alpha_den: int = 10,
) -> DataFrame:
    """(series cols, order_col, value_col, ewma) — one output row per
    accepted input row, smoothed with state carried across batches."""
    if not 0 < alpha_num <= alpha_den:
        raise ValueError("alpha must satisfy 0 < num <= den")
    keep = alpha_den - alpha_num
    cols = list(series_cols)

    out_schema = StructType(
        [StructField(c, stream.schema[c].dataType) for c in cols]
        + [
            StructField(order_col, LongType()),
            StructField(value_col, LongType()),
            StructField("ewma", LongType()),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            last_order, last_ewma = state.get
            seeded = True
        else:
            last_order, last_ewma = -(1 << 62), 0
            seeded = False
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            order_col, kind="mergesort"
        )
        out_o, out_x, out_s = [], [], []
        s = last_ewma
        for o, x in zip(
            rows[order_col].astype("int64"), rows[value_col].astype("int64")
        ):
            o, x = int(o), int(x)
            if o <= last_order:
                continue  # at-or-behind the high-water mark: dropped (contract)
            s = x if not seeded else (alpha_num * x + keep * s) // alpha_den
            seeded = True
            last_order = o
            out_o.append(o)
            out_x.append(x)
            out_s.append(s)
        state.update((last_order, s if seeded else 0))
        if out_o:
            frame = {c: [key[i]] * len(out_o) for i, c in enumerate(cols)}
            frame[order_col] = out_o
            frame[value_col] = out_x
            frame["ewma"] = out_s
            yield pd.DataFrame(frame)

    return stream.groupBy(*cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_ewma(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha_num: int = 3,
    alpha_den: int = 10,
):
    """Drive the streaming smoother with an availableNow trigger into a
    parquet sink (idempotent via checkpoint — T5)."""
    smoothed = streaming_ewma(
        stream, series_cols, order_col, value_col, alpha_num, alpha_den
    )
    return (
        smoothed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


HW_STATE_SCHEMA = StructType(
    [
        StructField("last_order", LongType()),
        StructField("n_seen", LongType()),
        StructField("level", LongType()),
        StructField("trend", LongType()),
        # first-season warm-up buffer (x_1..x_m), then unused
        StructField("buf", ArrayType(LongType())),
        # seasonal history [s_{t-m+1} .. s_t] once warmed
        StructField("hist", ArrayType(LongType())),
    ]
)


def streaming_holt_winters(
    stream: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    season_len: int,
    alpha_num: int = 3,
    alpha_den: int = 10,
    beta_num: int = 1,
    beta_den: int = 10,
    gamma_num: int = 2,
    gamma_den: int = 10,
) -> DataFrame:
    """Streaming twin of `operators/smoothing.py::holt_winters_int`:
    the additive seasonal recurrence carried across micro-batches,
    bit-identical to the batch fold over the full history (pinned by
    the stream==batch test, with chunk cuts inside the warm-up season
    AND mid-recurrence). Same ordering contract and replayed-prefix
    drop as `streaming_ewma`. State per series is O(season_len):
    (high-water mark, count, level, trend, the first-season buffer
    until init, the rotating seasonal history after) — a 24-slot
    diurnal profile is ~26 longs; millions of series fit any state
    store. NoTimeout, same as the siblings."""
    from khronus_spark.operators.smoothing import _tdiv

    if season_len < 1:
        raise ValueError("season_len must be >= 1")
    for num, den in (
        (alpha_num, alpha_den),
        (beta_num, beta_den),
        (gamma_num, gamma_den),
    ):
        if not 0 < num <= den:
            raise ValueError("smoothing factors must satisfy 0 < num <= den")
    a_keep = alpha_den - alpha_num
    b_keep = beta_den - beta_num
    g_keep = gamma_den - gamma_num
    m = season_len
    cols = list(series_cols)

    out_schema = StructType(
        [StructField(c, stream.schema[c].dataType) for c in cols]
        + [
            StructField(order_col, LongType()),
            StructField(value_col, LongType()),
            StructField("level", LongType()),
            StructField("trend", LongType()),
            StructField("seasonal", LongType()),
            StructField("forecast_next", LongType()),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            last_order, n_seen, lvl, trend, buf, hist = state.get
            buf = list(buf or [])
            hist = list(hist or [])
        else:
            last_order, n_seen, lvl, trend, buf, hist = (
                -(1 << 62), 0, 0, 0, [], [],
            )
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            order_col, kind="mergesort"
        )
        out = {k: [] for k in ("o", "x", "l", "b", "s", "f")}
        for o, x in zip(
            rows[order_col].astype("int64"), rows[value_col].astype("int64")
        ):
            o, x = int(o), int(x)
            if o <= last_order:
                continue  # at-or-behind the high-water mark: dropped
            last_order = o
            n_seen += 1
            t = n_seen
            if t < m:
                buf.append(x)
                out["o"].append(o); out["x"].append(x)
                out["l"].append(x); out["b"].append(0)
                out["s"].append(0); out["f"].append(x)
                continue
            if t == m:
                buf.append(x)
                lvl = _tdiv(sum(buf), m)
                trend = 0
                hist = [v - lvl for v in buf]
                buf = []
                s_t = hist[-1]
            else:
                s_old = hist[0]
                prev = lvl
                lvl = _tdiv(
                    alpha_num * (x - s_old) + a_keep * (lvl + trend),
                    alpha_den,
                )
                trend = _tdiv(
                    beta_num * (lvl - prev) + b_keep * trend, beta_den
                )
                s_t = _tdiv(gamma_num * (x - lvl) + g_keep * s_old, gamma_den)
                hist = hist[1:] + [s_t]
            out["o"].append(o); out["x"].append(x)
            out["l"].append(lvl); out["b"].append(trend)
            out["s"].append(s_t); out["f"].append(lvl + trend + hist[0])
        state.update((last_order, n_seen, lvl, trend, buf, hist))
        if out["o"]:
            frame = {c: [key[i]] * len(out["o"]) for i, c in enumerate(cols)}
            frame[order_col] = out["o"]
            frame[value_col] = out["x"]
            frame["level"] = out["l"]
            frame["trend"] = out["b"]
            frame["seasonal"] = out["s"]
            frame["forecast_next"] = out["f"]
            yield pd.DataFrame(frame)

    return stream.groupBy(*cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=HW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
