"""Streaming SCD2 dimension maintenance — the late-fact twin.

`operators/scd2.py` gives the batch faces: `scd2_intervals` (the
dimension from scratch) and `scd2_apply_backfill` (correct a standing
dimension for one out-of-order batch, recompute bounded by the
backfill footprint). This module runs that correction CONTINUOUSLY:
every arriving micro-batch of facts — on time or late, the stream
does not care — upserts into a persisted fact history and rebuilds
exactly the touched users' interval chains, with facts and dimension
committed TOGETHER.

The storage is one `sources.txnlog.TxnTable` holding two partition
namespaces, both bucketed by user (`pmod(user_id, n_buckets)`):

    facts/bucket=<b>   the accumulated fact history of bucket b's
                       users, replay-idempotent by event_id identity
    dim/bucket=<b>     bucket b's slice of the SCD2 dimension

Because a TxnTable commit replaces any number of partitions
atomically, every micro-batch lands its touched fact buckets AND the
matching rebuilt dimension buckets in ONE compare-and-swap commit —
so at EVERY committed version, the dimension EQUALS
`scd2_intervals(facts at that version)` exactly (the
derived-consistency invariant; a reader can never observe facts the
dimension hasn't absorbed, nor a dimension ahead of its facts). The
plain parquet layout cannot promise that across two directories;
this is the commit log earning its keep beyond torn-batch safety.

Semantics and proofs (tests/test_streaming_scd2.py):
- stream==batch: after the stream drains, the dimension is
  bit-identical to `scd2_intervals(all facts)` — arrival order and
  chunking are invisible, including facts arriving weeks late;
- replay idempotence: a redelivered micro-batch upserts the same
  event_ids into the same buckets — new version, identical content;
- per-version consistency: dim(v) == scd2_intervals(facts(v)) for
  every version v, checked against pinned snapshots;
- untouched buckets are NOT rewritten (their staged dirs survive the
  commit by reference — bounded write amplification).

Scale shape: the per-trigger work is bounded by the TOUCHED buckets —
fact merge is an event_id anti-join + union per touched bucket,
the rebuild reads only those buckets' facts (never the full history:
the bucket map is the index), and `scd2_intervals`' two
user-partitioned windows run over touched users' facts only. Late
data costs exactly its footprint, the `scd2_apply_backfill` sweep's
flat-correction curve, now per micro-batch. `n_buckets` trades
write amplification (fewer, bigger rewrites) against commit fan-out;
at 100 TB the buckets would be thousands and the anti-join inherits
AQE skew handling.

Reference parity: the reference has no SCD2 surface (extension);
the effectively-once contract mirrors T5
(`store/BucketStore.scala:159-172` idempotent set-upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khronus_spark.operators.scd2 import WEEK_MS, scd2_intervals
from khronus_spark.sources.txnlog import TxnTable, commit_optimistically

_FACT_COLS = ["event_id", "user_id", "ts", "event_type"]


def _bucket(col, n_buckets: int):
    return F.pmod(F.col(col), F.lit(n_buckets)).cast("long")


def read_scd2_dimension(
    spark: SparkSession, table: TxnTable, version: int | None = None
) -> DataFrame | None:
    """The dimension at a version: union of the dim/* partitions."""
    return _read_namespace(spark, table, "dim/", version)


def read_scd2_facts(
    spark: SparkSession, table: TxnTable, version: int | None = None
) -> DataFrame | None:
    """The fact history at a version: union of the facts/* partitions."""
    return _read_namespace(spark, table, "facts/", version)


def _read_namespace(spark, table, prefix, version):
    files = {
        k: p
        for k, p in table.snapshot_files(version).items()
        if k.startswith(prefix)
    }
    out = None
    for key in sorted(files):
        df = spark.read.parquet(files[key])
        out = df if out is None else out.unionByName(df)
    return out


def scd2_upsert_sink(
    table: TxnTable,
    week_ms: int = WEEK_MS,
    n_buckets: int = 8,
    bucket_files: int = 1,
):
    """foreachBatch body: merge the batch's facts into their user
    buckets (replay-idempotent by event_id), rebuild the touched
    users' interval chains from the merged bucket history, and commit
    facts + dimension for the touched buckets as ONE CAS commit.

    `bucket_files` shapes each partition's write (coalesce, no
    shuffle): without it every commit writes one file per shuffle
    partition, and the NEXT trigger's merge pays the small-file read
    tax compounding per trigger — the round-9 soak measured the worst
    trigger dropping 46 s → within budget once writes were shaped
    (and dropping again the moment the racing compactor caught up,
    which is the same fix applied late). Size it so each file is
    ~100-500 MB at production bucket volume.

    No whole-table Delta export here by design: this table holds
    TWO schemas (facts + dim namespaces) and the Delta export pins one
    schema per table (it refuses heterogeneous snapshots). The interop
    face for SCD2 tables is `sources/delta_export.py::
    export_delta_namespace(table, "dim/")` — each namespace becomes
    its own Delta table, version-mapped to its touching commits
    (commitInfo records the txn version), so external engines can time
    travel the dimension exactly as `read_scd2_dimension` pins it."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        # deterministic within-batch dedup: min(struct) picks the same
        # payload for a duplicated event_id on every (re)delivery —
        # dropDuplicates' arbitrary pick could commit different content
        # on replay. Precondition (stated in run_streaming_scd2): an
        # event_id is an IMMUTABLE fact identity — redeliveries carry
        # the same payload, so the pick only ever breaks exact-duplicate
        # ties and the replaced-row fold below is a no-op in-contract.
        batch = (
            batch_df.select(*_FACT_COLS)
            .groupBy("event_id")
            .agg(F.min(F.struct("user_id", "ts", "event_type")).alias("_m"))
            .select("event_id", "_m.user_id", "_m.ts", "_m.event_type")
            .withColumn("bucket", _bucket("user_id", n_buckets))
            .localCheckpoint(eager=True)
        )
        buckets = [r["bucket"] for r in batch.select("bucket").distinct().collect()]
        if not buckets:
            return
        batch_users = batch.select("user_id").distinct()
        new_ids = batch.select("event_id")

        def derive(version: int) -> dict[str, DataFrame]:
            parts: dict[str, DataFrame] = {}
            merged_by_bucket: dict[int, DataFrame] = {}
            replaced_users = None
            for b in buckets:
                existing = table.read_partition(spark, f"facts/bucket={b}", version)
                part = batch.where(F.col("bucket") == b).drop("bucket")
                if existing is not None:
                    # users whose rows the upsert replaces: normally the
                    # batch's own users (identical redelivery), but an
                    # out-of-contract payload drift within the bucket
                    # still keeps dim(v) == intervals(facts(v)) because
                    # the old row's user rebuilds too
                    repl = existing.join(
                        new_ids, ["event_id"], "left_semi"
                    ).select("user_id")
                    replaced_users = (
                        repl
                        if replaced_users is None
                        else replaced_users.unionByName(repl)
                    )
                    keep = existing.join(new_ids, ["event_id"], "left_anti")
                    part = keep.unionByName(part)
                # one materialization: the partition write AND the
                # rebuild below both consume the merged bucket
                part = part.coalesce(bucket_files).localCheckpoint(
                    eager=False
                )
                merged_by_bucket[b] = part
                parts[f"facts/bucket={b}"] = part
            touched = batch_users
            if replaced_users is not None:
                touched = touched.unionByName(replaced_users)
            touched = touched.distinct().localCheckpoint(eager=True)
            history = None
            for b in buckets:
                h = merged_by_bucket[b]
                history = h if history is None else history.unionByName(h)
            rebuilt = scd2_intervals(
                history.join(F.broadcast(touched), "user_id", "left_semi"),
                week_ms,
            ).withColumn("bucket", _bucket("user_id", n_buckets))
            for b in buckets:
                existing_dim = table.read_partition(
                    spark, f"dim/bucket={b}", version
                )
                new_dim = rebuilt.where(F.col("bucket") == b).drop("bucket")
                if existing_dim is not None:
                    kept = existing_dim.join(
                        F.broadcast(touched), "user_id", "left_anti"
                    )
                    new_dim = kept.unionByName(new_dim)
                parts[f"dim/bucket={b}"] = new_dim.coalesce(bucket_files)
            return parts

        # partition-scoped CAS: the merge window here is LONG
        # (touched-user chain rebuild), so table-scoped CAS starves
        # under any short-cadence concurrent committer — the round-9
        # soak measured exactly that (8 straight losses to a 10 s
        # compactor). Compaction-kind and disjoint-bucket commits
        # re-link the staged result; only a data commit on a touched
        # bucket re-merges.
        commit_optimistically(table, derive)

    return merge


def run_streaming_scd2(
    events_stream: DataFrame,
    table: TxnTable,
    checkpoint_path: str,
    week_ms: int = WEEK_MS,
    n_buckets: int = 8,
    trigger: dict | None = None,
    bucket_files: int = 1,
):
    """Continuously maintain an SCD2 dimension from a fact stream:
    every micro-batch upserts facts and corrects exactly the touched
    users' chains, atomically (module docstring). `events_stream` is
    (event_id, user_id, ts (epoch-ns), event_type, ...) — extra
    columns are dropped.

    PRECONDITION: `event_id` is an immutable fact identity —
    redeliveries of an id carry the SAME payload (in particular the
    same user_id, hence the same bucket). Within-batch duplicate ids
    resolve deterministically (min-struct); a same-bucket payload
    drift still preserves the per-version consistency invariant (the
    replaced row's user rebuilds too), but an id re-keyed to a user
    in a DIFFERENT bucket is out of contract: the old bucket is not
    part of the commit, so the stale copy would persist until that
    bucket is next touched."""
    return (
        events_stream.writeStream.foreachBatch(
            scd2_upsert_sink(table, week_ms, n_buckets, bucket_files)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
