"""Streaming near-duplicate detection: online MinHash-LSH dedup over a
document stream.

The batch pipeline (operators/dedup.py → components.py) deduplicates a
corpus at rest; a training-data ingest wants the same answer ONLINE —
"is this incoming document a near-duplicate of anything seen so far?"
without re-scanning the corpus. The reference has no analogue (its
streams are metric measurements); this is the Spark-native extension of
its incremental-processing posture (`model/TimeWindowChain.scala:42-55`:
process only what arrived, merge into persistent state).

Shape:

- the band-bucket assignment is the SAME column algebra as batch
  (`minhash_md5_banded` — map-only, streaming-safe);
- per (band, bucket) key, `applyInPandasWithState` keeps ONE long of
  state: the first-seen doc_id. Every later doc in that bucket emits an
  edge (first_seen, doc) — exactly the star-edge shape the batch path
  uses for over-cap buckets, so downstream connected components produce
  THE SAME clusters as the batch all-pairs graph (per-bucket
  connectivity is identical; component ids are min-of-component either
  way).
- state per key is one long — total state is bounded by the number of
  distinct band buckets, independent of stream length; the state store
  shards by (band, bucket), so bucket skew spreads like any groupBy.

Emissions are immediate (update mode, no watermark hold-back): a
duplicate is flagged in the micro-batch its document arrives in.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from khronus_spark.operators.dedup import minhash_md5_banded

EDGE_SCHEMA = StructType(
    [
        StructField("band", LongType()),
        StructField("bucket", LongType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("first_doc", LongType())])


def streaming_duplicate_edges(
    docs_stream: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    n: int = 3,
) -> DataFrame:
    """docs(doc_id, text, …) stream → duplicate-candidate star edges
    (band, bucket, doc_a=first seen in bucket, doc_b=later arrival)."""
    banded = minhash_md5_banded(docs_stream, num_hashes, bands, n)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band, bucket = int(key[0]), int(key[1])
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        ids = sorted(set(ids))
        if state.exists:
            (first,) = state.get
        else:
            first = ids[0]
            state.update((first,))
            ids = ids[1:]
        rows = [
            {"band": band, "bucket": bucket, "doc_a": first, "doc_b": d}
            for d in ids
            if d != first
        ]
        if rows:
            yield pd.DataFrame(rows)

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType=EDGE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_dedup(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    num_hashes: int = 8,
    bands: int = 2,
    n: int = 3,
):
    """Drive the online dedup with an availableNow trigger; each
    micro-batch's edges land as `out_path/batch=<id>` via overwrite —
    foreachBatch is AT-LEAST-ONCE, so a checkpoint replay must REPLACE
    its own batch dir with recomputed-identical content rather than
    append a second copy (a flat append sink duplicated every
    replayed edge)."""
    edges = streaming_duplicate_edges(docs_stream, num_hashes, bands, n)
    return (
        edges.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: df.write.mode("overwrite").parquet(
                f"{out_path}/batch={bid}"
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
