#!/usr/bin/env python
"""Per-micro-batch job profile of the streaming maintainers (r14,
VERDICT item 8): stage N input files, run each maintainer with
maxFilesPerTrigger=1 under availableNow, and count Spark jobs, stages
and wall per micro-batch via a listener-free statusTracker sweep.

Covers the two maintainer families the bench never times:
  - rollup ingest upsert (streaming/ingest.py::run_streaming_rollup_upsert)
  - online MinHash-LSH dedup   (streaming/dedup.py::run_streaming_dedup)

Writes sweeps/r14/streaming_profile.json and prints a table.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.001"
N_BATCHES = 4


def main() -> None:
    import bench as bench_mod
    from pyspark.sql import functions as F
    from khronus_spark.sources.tables import load_table, measurements_from_events

    spark = bench_mod.make_session("8", app="khronus-streaming-profile")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}

    def probe_max_job(start: int) -> int:
        # job ids are sequential; find the first id with no info
        jid = start
        while tracker.getJobInfo(jid) is not None:
            jid += 1
        return jid

    def profile(name, stage_input, run):
        tmp = tempfile.mkdtemp(prefix=f"stream_prof_{name}_")
        schema = stage_input(tmp)
        first = probe_max_job(0)
        t0 = time.perf_counter()
        q = run(tmp, schema)
        q.awaitTermination(600)
        wall = round(time.perf_counter() - t0, 3)
        # availableNow with maxFilesPerTrigger=1 -> one micro-batch per
        # staged file; report totals and the per-batch average
        all_jobs = list(range(first, probe_max_job(first)))
        n_stages = 0
        n_tasks = 0
        for jid in all_jobs:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks
        out[name] = {
            "wall": wall,
            "batches": N_BATCHES,
            "jobs_total": len(all_jobs),
            "jobs_per_batch": round(len(all_jobs) / N_BATCHES, 1),
            "stages_total": n_stages,
            "tasks_total": n_tasks,
        }
        shutil.rmtree(tmp, ignore_errors=True)

    docs = load_table(spark, SF, "documents")

    def stage_docs(tmp):
        n = docs.count()
        per = n // N_BATCHES
        for i in range(N_BATCHES):
            (
                docs.where(
                    (F.col("doc_id") % N_BATCHES) == i
                ).write.mode("overwrite").parquet(f"{tmp}/in/b{i}")
            )
        return docs.schema

    def run_dedup(tmp, schema):
        from khronus_spark.streaming.dedup import run_streaming_dedup

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/*")
        )
        return run_streaming_dedup(
            stream, out_path=f"{tmp}/out", checkpoint_path=f"{tmp}/ckpt"
        )

    meas = measurements_from_events(spark, SF)

    def stage_meas(tmp):
        for i in range(N_BATCHES):
            (
                meas.where(
                    (F.col("ts_ms") % N_BATCHES) == i
                ).write.mode("overwrite").parquet(f"{tmp}/in/b{i}")
            )
        return meas.schema

    def run_rollup(tmp, schema):
        from khronus_spark.streaming.ingest import run_streaming_rollup_upsert

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/*")
        )
        return run_streaming_rollup_upsert(
            stream,
            store_path=f"{tmp}/store",
            checkpoint_path=f"{tmp}/ckpt",
            window_ms=30_000,
            family="histogram",
        )

    profile("rollup_upsert", stage_meas, run_rollup)
    profile("dedup_edges", stage_docs, run_dedup)

    dest = Path(_REPO) / "sweeps" / "r14"
    dest.mkdir(parents=True, exist_ok=True)
    (dest / "streaming_profile.json").write_text(
        json.dumps(out, indent=1, sort_keys=True) + "\n"
    )
    print(f"{'maintainer':18s} {'wall':>7s} {'jobs':>5s} {'j/batch':>8s} {'stages':>7s} {'tasks':>6s}")
    for k, v in out.items():
        print(
            f"{k:18s} {v['wall']:7.2f} {v['jobs_total']:5d} "
            f"{v['jobs_per_batch']:8.1f} {v['stages_total']:7d} {v['tasks_total']:6d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
