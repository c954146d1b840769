"""Process entry point — the reference's `Khronus.scala` main() wiring
(`khronus/src/main/scala/com/searchlight/khronus/Khronus.scala:25-36`):
boot the engine and expose the two HTTP surfaces (ingest S1, query S9).

    python -m khronus_spark --landing /tmp/khronus/in [--port 8400]
        [--summary-store /path]  # serve queries from a materialized store

Ingested batches land as parquet under --landing; queries compute
on the fly from the landing dir unless --summary-store points at a
store written by `operators/rollup.py::write_summaries`, in which case
reads route to the pre-aggregated resolution partitions (the
reference's operating mode — queries never touch raw data).
"""

from __future__ import annotations

import argparse
import time


def main() -> None:
    ap = argparse.ArgumentParser(prog="python -m khronus_spark")
    ap.add_argument("--landing", required=True, help="parquet landing dir for ingest")
    ap.add_argument("--port", type=int, default=0, help="0 = ephemeral")
    ap.add_argument("--summary-store", default=None,
                    help="materialized summary store to answer queries from")
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from khronus_spark.engine import KhronusEngine
    from khronus_spark.service import KhronusHttpService

    from khronus_spark.session import recommended_session_conf

    builder = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("khronus-spark")
        .config("spark.ui.enabled", "false")
    )
    # engine-recommended conf (JIT-aligned codegen fallback, AQE
    # coalescing) — one source of truth with bench.py; see
    # khronus_spark/session.py
    for k, v in recommended_session_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.summary_store:
        from khronus_spark.operators.rollup import (
            catalog_from_store,
            windows_from_store,
        )

        # the store is the system of record: derive the catalog AND the
        # available resolutions from it once at boot (a store-backed
        # engine has no measurements to auto-register from, and routing
        # to a never-materialized resolution would fail at scan time)
        catalog = catalog_from_store(spark, args.summary_store)
        windows = windows_from_store(spark, args.summary_store)
        if not catalog or not windows:
            raise SystemExit(
                f"--summary-store {args.summary_store} holds no "
                "<family>_summary/<resolution> partitions"
            )

        def engine_factory() -> KhronusEngine:
            return KhronusEngine(
                spark,
                summary_base_path=args.summary_store,
                catalog=catalog,
                windows_ms=windows,
            )
    else:
        # None → the service's own _default_engine (one schema source)
        engine_factory = None

    svc = KhronusHttpService(
        spark, args.landing, engine_factory=engine_factory, port=args.port
    )
    svc.start()
    print(f"khronus-spark listening on http://127.0.0.1:{svc.port}", flush=True)
    print("  POST /khronus/metrics        (MetricBatch JSON, gzip ok)", flush=True)
    print("  GET  /khronus/db/influx/series?q=<influxql>", flush=True)

    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        pass
    finally:
        svc.stop()
        spark.stop()


if __name__ == "__main__":
    main()
