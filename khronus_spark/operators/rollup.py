"""The rollup engine: measurements → summary tables per resolution.

This is the data-processing heart of the reference (its entire
Master/Worker/lease/consistent-hash machinery — `cluster/Master.scala`,
`model/TimeWindowChain.scala:29-67` — exists only to schedule these
aggregations; on Spark the scheduler does that natively).

Design (Spark-first, for 100 TB):
- each resolution is one declarative `groupBy(metric, bucket)` over the
  measurements — one shuffle keyed by (metric, bucket); map-side partial
  aggregation applies; AQE handles skewed metrics.
- exact mode re-aggregates raw values per resolution (lossless, the
  "percentiles done right" invariant holds by construction —
  `README.md:23`). The cascade-equivalence property (summary at R from
  the cascade == summary directly from raw, `model/TimeWindow.scala:96-109`)
  is kept as a test gate.
- `rollup_all` aggregates every window independently from the
  measurements it is given, with the summary functions of
  `functions/summary.py`; caching that scan is the caller's choice. It
  neither reads the 5s pre-grouped layer (`pregroup_raw`, A1,
  `store/MetricMeasurementStore.scala:35-110`) nor merges percentile
  state across windows: rolling histogram states up a cascade is
  `operators/hdr_rollup.py`.
- summaries are written partitioned by resolution, sorted by
  (metric, ts) within files, so query-side scans prune partitions and
  push (metric, ts) filters to parquet — the Spark analogue of the
  reference's PK(metric, timestamp) layout (`store/SummaryStore.scala:70-75`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khronus_spark.functions.summary import (
    COUNTER,
    FAMILY_MTYPES,
    HISTOGRAM,
    bucket_ts,
    counter_summary,
    family_filter,
    histogram_summary,
)
from khronus_spark.timegrid import DEFAULT_WINDOWS_MS, STORE_GROUP_MS, format_duration


def store_key(family: str, window_ms: int | None = None) -> str:
    """`<family>_summary/<resolution>` under the store root (the family
    directory when no window is given)."""
    key = f"{family}_summary"
    return key if window_ms is None else f"{key}/{format_duration(window_ms)}"


def _store_layout(df: DataFrame) -> DataFrame:
    """Hash by metric, sorted by (metric, ts) within partitions: parquet
    min/max pushdown on both keys, the locality of the reference's
    PK(metric, timestamp) (`store/SummaryStore.scala:70-75`)."""
    return df.repartition("metric").sortWithinPartitions("metric", "ts")


def pregroup_raw(measurements: DataFrame, group_ms: int = STORE_GROUP_MS) -> DataFrame:
    """Ingest-time pre-grouping (A1): raw samples → one row per
    (metric, 5s slot) carrying the slot's values and count
    (`store/MetricMeasurementStore.scala:35-110`). This is the engine's
    raw-bucket table: coarser resolutions aggregate it, never raw twice.
    """
    return (
        measurements.groupBy("metric", "mtype", bucket_ts("ts_ms", group_ms))
        .agg(
            F.collect_list("value").alias("values"),
            F.count("value").alias("n"),
            F.sum("value").alias("sum"),
        )
    )


def rollup_all(
    measurements: DataFrame,
    windows_ms: tuple[int, ...] = DEFAULT_WINDOWS_MS,
) -> dict[int, dict[str, DataFrame]]:
    """Compute every resolution's summary tables from measurements.

    Returns {window_ms: {"histogram": df, "counter": df}} — the Spark
    restatement of the reference's per-window chain
    (`model/TimeWindowChain.scala:29-67`). Caching the measurement scan is
    the caller's choice (`measurements.cache()`); each window is an
    independent branch so Spark can reuse the cached scan.
    """
    hist_src = measurements.where(family_filter(HISTOGRAM))
    ctr_src = measurements.where(family_filter(COUNTER))
    return {
        w: {
            HISTOGRAM: histogram_summary(hist_src, w),
            COUNTER: counter_summary(ctr_src, w),
        }
        for w in windows_ms
    }


def write_summaries(
    rollups: dict[int, dict[str, DataFrame]],
    base_path: str,
) -> None:
    """Persist the summary tables: parquet partitioned by resolution,
    each in `_store_layout`."""
    for w, fams in rollups.items():
        for family, df in fams.items():
            _store_layout(df).write.mode("overwrite").parquet(
                f"{base_path}/{store_key(family, w)}"
            )


def read_summaries(
    spark: SparkSession, base_path: str, family: str, window_ms: int
) -> DataFrame:
    return spark.read.parquet(f"{base_path}/{store_key(family, window_ms)}")


def apply_retention(
    spark: SparkSession,
    base_path: str,
    family: str,
    window_ms: int,
    cutoff_ms: int,
) -> DataFrame:
    """Retention/TTL (`reference.conf:25-28`): summaries older than the
    cutoff are dropped. As a parquet-level operation this is a filtered
    rewrite; on a Delta-style sink it would be a partition drop."""
    df = read_summaries(spark, base_path, family, window_ms)
    return df.where(F.col("ts") >= F.lit(cutoff_ms))


def compact_summaries(
    spark: SparkSession,
    base_path: str,
    family: str,
    window_ms: int,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for one summary partition — the
    operational counterpart of micro-batch ingestion: every 30s trigger
    appends a few files, and after a day a resolution directory holds
    thousands of KB-sized files whose open/footer cost dominates scans.

    Rewrites the directory to ceil(bytes / target_bytes_per_file) files
    using repartitionByRange(metric, ts) + sortWithinPartitions — range
    partitioning gives GLOBAL (metric, ts) order across files, so every
    file covers a disjoint key span and parquet min/max skipping stays
    maximally selective (tighter than the write path's hash-by-metric,
    which interleaves ts ranges across files). A streaming upsert store
    (`streaming/ingest.py::upsert_sink`) keeps its `day=` partitions:
    its next micro-batch merges into them, so a flat rewrite would hide
    every day that batch does not touch.

    The swap is delete-then-rename via the Hadoop FileSystem API —
    effectively atomic on HDFS renames, NOT transactional on object
    stores; a production deployment on S3/GCS would compact through a
    table format with commits (Delta/Iceberg — not a dependency here).
    Returns the number of range partitions written (the file count of
    a store without day partitions).
    """
    path = f"{base_path}/{store_key(family, window_ms)}"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-int(total_bytes) // target_bytes_per_file))
    by_day = any(
        st.isDirectory() and st.getPath().getName().startswith("day=")
        for st in fs.listStatus(hpath)
    )
    order = ("day", "metric", "ts") if by_day else ("metric", "ts")

    df = spark.read.parquet(path)
    tmp = f"{path}._compacting"
    writer = (
        df.repartitionByRange(n_files, *order)
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
    )
    (writer.partitionBy("day") if by_day else writer).parquet(tmp)
    fs.delete(hpath, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath):
        raise RuntimeError(f"compaction rename failed for {path}")
    return n_files


def catalog_from_store(spark: SparkSession, base_path: str) -> list[tuple[str, str]]:
    """Derive the metric catalog from a materialized summary store: the
    store's own content is the system of record when no raw
    measurements are attached (a store-backed engine must not need a
    side-channel catalog to answer `list series` or bind FROM regexes).
    Each metric registers under its family's first mtype: 'timer' for
    the histogram family (timers and gauges share one summary family and
    one valid function set, `InfluxCriteriaBuilder.scala:113-117`),
    'counter' for counters. Reads ONE resolution per family — every
    resolution holds the same metric set."""
    entries: set[tuple[str, str]] = set()
    for family, mtypes in FAMILY_MTYPES.items():
        resolutions = sorted(
            p for _, p in _store_resolution_dirs(spark, base_path, family)
        )
        if not resolutions:
            continue
        rows = (
            spark.read.parquet(resolutions[0])
            .select("metric")
            .distinct()
            .collect()
        )
        entries.update((r["metric"], mtypes[0]) for r in rows)
    return sorted(entries)


def _store_resolution_dirs(
    spark: SparkSession, base_path: str, family: str
) -> list[tuple[int, str]]:
    """(window_ms, path) for every VALID resolution directory under a
    summary family — listed through the Hadoop FileSystem API, so store
    introspection works on hdfs/s3 paths, not just local ones. Entries
    whose names don't parse as durations are skipped: an interrupted
    `compact_summaries` leaves a sibling '<res>._compacting' temp dir,
    which must neither abort store-backed boot (ValueError) nor be
    mistaken for the store's first resolution."""
    from khronus_spark.timegrid import parse_duration_ms

    fam_dir = f"{base_path}/{store_key(family)}"
    jvm = spark._jvm
    fam_path = jvm.org.apache.hadoop.fs.Path(fam_dir)
    fs = fam_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(fam_path):
        return []
    out: list[tuple[int, str]] = []
    for status in fs.listStatus(fam_path):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        try:
            window_ms = parse_duration_ms(name)
        except ValueError:
            continue
        out.append((window_ms, f"{fam_dir}/{name}"))
    return out


def windows_from_store(spark: SparkSession, base_path: str) -> tuple[int, ...]:
    """The resolutions a summary store actually materialized, parsed
    from its partition directory names. A store-backed engine must
    constrain resolution adjustment to these — the reference always
    materializes every configured window, but a partially-built store
    would otherwise route a query to a resolution that was never
    written and fail at scan time."""
    windows: set[int] = set()
    for family in FAMILY_MTYPES:
        windows.update(w for w, _ in _store_resolution_dirs(spark, base_path, family))
    return tuple(sorted(windows))

