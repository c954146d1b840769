"""The process under test: one Spark driver that serves
``KhronusHttpService`` and ticks the streaming rollup, or runs the batch
registry entries.

It is driven by ``run.py`` over stdin/stdout, one JSON object per line:
a command in, a reply out (reply lines start with ``@@``; Spark's own
output goes to stderr). With ``--trace 1`` the wrappers in ``spans.py``
are installed before anything runs.

    python3 perfbench/worker.py --out DIR --cores N --trace 0|1
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from spans import SparkAccounting, Tracer  # noqa: E402

#: the registry entries of the batch_pipeline workload, in run order
BATCH_ENTRIES = (
    "corpus_curation",
    "decontamination_retrieval",
    "part_entity_components",
    "coreset_kcenter_per_cell",
    "influx_store_percentiles_1h",
)
#: the streaming rollup of ingest_mixed: (family, window ms, mtypes)
ROLLUPS = (
    ("histogram", 30_000, ("timer", "gauge")),
    ("counter", 60_000, ("counter",)),
)


def _reply(obj) -> None:
    sys.stdout.write("@@" + json.dumps(obj) + "\n")
    sys.stdout.flush()


def descendants_peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of ``pid`` plus every descendant
    still alive (the Spark JVM and its Python workers), in MB."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Worker:
    def __init__(self, out_dir: str, cores: int, trace: bool):
        self.out_dir = out_dir
        self.cores = cores
        self.trace = trace
        self.tracer = Tracer()
        self.mark = 0.0
        t0 = time.monotonic()
        from pyspark.sql import SparkSession

        from khronus_spark.session import recommended_session_conf

        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("khronus-perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.local.dir", os.path.join(out_dir, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(out_dir, "warehouse"))
            # keep the JVM's scratch files inside the run dir
            .config("spark.driver.extraJavaOptions",
                    f"-XX:-UsePerfData -Djava.io.tmpdir={out_dir}/tmp "
                    f"-Dderby.system.home={out_dir}")
        )
        for k, v in recommended_session_conf().items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.boot_s = time.monotonic() - t0
        self.acct = SparkAccounting(self.spark, self.tracer) if trace else None
        self.service = None
        self._request_ids = itertools.count(1)
        self.rollup = None
        self.ticks: list[dict] = []
        self._ticker = None
        self._ticker_stop = threading.Event()
        self.batch_runs: list[dict] = []
        if trace:
            self._install_tracing()

    # -- tracing ---------------------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.trace else contextlib.nullcontext()

    def _install_tracing(self) -> None:
        import gzip
        import json as _json
        import types

        from khronus_spark import engine as engine_mod
        from khronus_spark import service as service_mod
        from khronus_spark.engine import KhronusEngine
        from khronus_spark.parser.parser import InfluxQueryParser
        from khronus_spark.plans.executor import QueryExecutor
        from khronus_spark.service import KhronusHttpService

        tr, acct = self.tracer, self.acct
        InfluxQueryParser.parse = tr.wrap(InfluxQueryParser.parse, "parser.parse")
        engine_mod.build_criteria = tr.wrap(engine_mod.build_criteria, "plans.bind")
        QueryExecutor.execute = tr.wrap(QueryExecutor.execute, "plans.build")

        catalog = KhronusEngine.catalog.fget

        def traced_catalog(engine):
            if engine._catalog is not None:
                return catalog(engine)
            with tr.span("engine.catalog"):
                return catalog(engine)

        KhronusEngine.catalog = property(traced_catalog)

        series_to_json = service_mod.series_to_json

        def traced_series_to_json(results):
            with tr.span("spark.exec"):
                out = series_to_json(results)
            for s in results:
                acct.plan_phases(s.df)
            return out

        service_mod.series_to_json = traced_series_to_json
        service_mod.flatten_metric_batch = tr.wrap(
            service_mod.flatten_metric_batch, "service.flatten"
        )
        KhronusHttpService._append = tr.wrap(
            KhronusHttpService._append, "service.landing_write"
        )
        default_engine = KhronusHttpService._default_engine

        def traced_default_engine(svc):
            with svc._lock:
                eng, seq = svc._engine_cache
                hit = eng is not None and seq == svc._appended_seq
            tr.count("service.engine_cache_hits" if hit else "service.engine_cache_misses")
            return default_engine(svc)

        KhronusHttpService._default_engine = traced_default_engine
        service_mod.json = types.SimpleNamespace(
            dumps=tr.wrap(_json.dumps, "service.encode"), loads=_json.loads
        )
        service_mod.gzip = types.SimpleNamespace(
            compress=tr.wrap(gzip.compress, "service.encode")
        )

    def _trace_handler(self, handler_cls) -> None:
        """Wrap one service's request handler: a request id and a Spark
        job group per GET, a span per GET and POST."""
        tr, acct = self.tracer, self.acct
        do_get, do_post = handler_cls.do_GET, handler_cls.do_POST
        def traced_get(handler):
            group = f"get-{next(self._request_ids)}"
            acct.begin(group)
            try:
                with tr.span("service.get", request_id=group):
                    do_get(handler)
            finally:
                acct.end(group, "query")

        def traced_post(handler):
            with tr.span("service.post"):
                do_post(handler)

        handler_cls.do_GET = traced_get
        handler_cls.do_POST = traced_post

    # -- commands ---------------------------------------------------------

    def cmd_hello(self, _):
        import platform

        import pyarrow
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "boot_s": self.boot_s,
            "nproc": os.cpu_count(),
            "cores": self.cores,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
        }

    def cmd_calibrate(self, _):
        """The IO-free probe shape of bench.py's calibration slot, over a
        fifth of its rows (40M instead of 200M)."""
        t0 = time.monotonic()
        self.spark.range(0, 40_000_000, 1, self.cores).selectExpr(
            "sum(id * 3 + (id & 255)) AS s"
        ).collect()
        return {"calibration_s": time.monotonic() - t0}

    def cmd_mark(self, _):
        self.mark = time.monotonic()
        self.tracer.counts.clear()
        return {"mark": self.mark}

    def cmd_service(self, args):
        from khronus_spark.service import KhronusHttpService

        if self.service is not None:
            self.service.stop()
        svc = KhronusHttpService(self.spark, args["landing"])
        if self.trace:
            self._trace_handler(svc._server.RequestHandlerClass)
        svc.start()
        self.service = svc
        self.rollup = None
        self.ticks = []
        return {"port": svc.port}

    def cmd_rollup(self, args):
        """Point the streaming rollup at the current service's landing dir."""
        self.rollup = {"store": args["store"], "ckpt": args["ckpt"], "files": 0}
        return {}

    def _landing_files(self) -> int:
        return sum(
            1 for n in os.listdir(self.service.landing_path) if n.endswith(".parquet")
            and not n.startswith(".")
        )

    def _tick(self) -> dict:
        """One rollup tick: every resolution's upsert stream drains the
        landing dir (availableNow) and stops; the resolutions run side by
        side."""
        rec = {"start": time.monotonic(), "ok": True, "input_rows": 0,
               "state_rows": 0, "get_batch_ms": 0, "query_planning_ms": 0,
               "add_batch_ms": 0, "wal_commit_ms": 0}
        files = self._landing_files()
        rec["backlog_files"] = files - self.rollup["files"]
        self.rollup["files"] = files
        progress = []
        try:
            with self._span("streaming.tick"):
                threads = [
                    threading.Thread(target=self._drain, args=(family, window_ms, mtypes, progress))
                    for family, window_ms, mtypes in ROLLUPS
                ]
                for t in threads:
                    t.start()
                for t in threads:
                    t.join()
            for family, p in progress:
                if isinstance(p, Exception):
                    raise p
                for batch in p:
                    rec["input_rows"] += batch.get("numInputRows", 0)
                    d = batch.get("durationMs", {})
                    rec["get_batch_ms"] += d.get("getBatch", 0)
                    rec["query_planning_ms"] += d.get("queryPlanning", 0)
                    rec["add_batch_ms"] += d.get("addBatch", 0)
                    rec["wal_commit_ms"] += d.get("walCommit", 0)
                if p:
                    rec["state_rows"] += sum(
                        op.get("numRowsTotal", 0) for op in p[-1].get("stateOperators", ())
                    )
        except Exception as e:  # a failed tick is a failed operation
            rec["ok"] = False
            rec["error"] = repr(e)[:500]
        rec["end"] = time.monotonic()
        self.ticks.append(rec)
        return rec

    def _drain(self, family: str, window_ms: int, mtypes: tuple, out: list) -> None:
        """Run one resolution's upsert stream until it has drained the
        landing dir; append (family, progress list or exception)."""
        from pyspark.sql import functions as F

        from khronus_spark.service import _SCHEMA
        from khronus_spark.streaming.ingest import run_streaming_rollup_upsert

        try:
            stream = self.spark.readStream.schema(_SCHEMA).parquet(self.service.landing_path)
            q = run_streaming_rollup_upsert(
                stream.where(F.col("mtype").isin(*mtypes)),
                store_path=f"{self.rollup['store']}/{family}",
                checkpoint_path=f"{self.rollup['ckpt']}/{family}",
                window_ms=window_ms,
                family=family,
            )
            q.awaitTermination()
            out.append((family, q.recentProgress))
        except Exception as e:
            out.append((family, e))

    def cmd_tick(self, _):
        return {"tick": self._tick()}

    def cmd_ticker_start(self, args):
        """Tick on a fixed cadence; a tick that overruns its slot is
        followed at once by the next."""
        interval = float(args["interval"])
        self._ticker_stop.clear()

        def loop():
            due = time.monotonic()
            while not self._ticker_stop.is_set():
                self._tick()
                due += interval
                wait = due - time.monotonic()
                if wait < 0:
                    due = time.monotonic()
                elif self._ticker_stop.wait(wait):
                    break

        self._ticker = threading.Thread(target=loop, daemon=True)
        self._ticker.start()
        return {}

    def cmd_ticker_stop(self, args):
        """Stop the cadence once a tick that started after ``after`` has
        ended, so every acked POST is covered by some tick."""
        after = float(args["after"])
        deadline = time.monotonic() + float(args.get("timeout", 90))
        while time.monotonic() < deadline:
            if any(t["start"] > after for t in list(self.ticks)):
                break
            time.sleep(0.05)
        self._ticker_stop.set()
        self._ticker.join()
        return {"ticks": self.ticks}

    def cmd_batch_setup(self, args):
        """Load every input table of the batch entries and scan it once."""
        from khronus_spark.sources.tables import load_table

        for name in ("documents", "part", "embeddings", "events"):
            load_table(self.spark, args["sf"], name).count()
        return {}

    def cmd_batch_pass(self, args):
        """Run every batch entry back to back, each forced by collecting
        its rows; the rows are hashed for the oracle check."""
        from checks import result_hash
        from khronus_spark import entry_queries

        queries = entry_queries.queries()
        entries = []
        t_pass = time.monotonic()
        for name in BATCH_ENTRIES:
            group = f"entry-{name}-{len(self.batch_runs)}"
            if self.acct:
                self.acct.begin(group)
            t0 = time.monotonic()
            rec = {"name": name, "ok": True}
            try:
                with self._span(f"operators.{name}"):
                    df = queries[name](self.spark, args["sf"])
                    with self._span("spark.exec"):
                        rows = [tuple(r) for r in df.collect()]
                rec["wall_s"] = time.monotonic() - t0
                rec["rows"] = len(rows)
                rec["hash"] = result_hash(rows, df.columns)
                if self.acct:
                    self.acct.plan_phases(df)
            except Exception as e:
                rec.update(ok=False, wall_s=time.monotonic() - t0, error=repr(e)[:500])
            if self.acct:
                rec["spark"] = self.acct.end(group, f"operators.{name}")
                self.acct.add("query", rec["spark"])
            entries.append(rec)
        run = {"entries": entries, "pass_s": time.monotonic() - t_pass}
        self.batch_runs.append(run)
        return run

    def cmd_report(self, args):
        out = {"peak_rss_mb": descendants_peak_rss_mb(os.getpid())}
        if self.trace:
            self.tracer.dump(os.path.join(self.out_dir, "spans.json"))
            out["layers"] = self._layers()
        return out

    def _layers(self) -> dict:
        """Per-layer aggregates over the measured phase: spans that began
        after the last ``mark``, counters reset at it. Spark counts are
        per operation: per GET, or per batch entry run."""
        tr, since, c = self.tracer, self.mark, self.tracer.counts

        def mean(name):
            d = tr.durations(name, since)
            return sum(d) / len(d) if d else 0.0

        gets = len(tr.durations("service.get", since))
        passes = len(self.batch_runs)
        ops = max(gets + passes * len(BATCH_ENTRIES), 1)
        out = {
            "parser.parse_s": mean("parser.parse"),
            "plans.bind_s": mean("plans.bind"),
            "plans.build_s": mean("plans.build"),
            "spark.exec_s": mean("spark.exec"),
            "service.encode_s": sum(tr.durations("service.encode", since)) / max(gets, 1),
            "engine.catalog_s": mean("engine.catalog"),
            "engine.catalog_builds": len(tr.durations("engine.catalog", since)),
            "service.post_s": mean("service.post"),
            "service.flatten_s": mean("service.flatten"),
            "service.landing_write_s": mean("service.landing_write"),
        }
        hits = c["service.engine_cache_hits"]
        lookups = hits + c["service.engine_cache_misses"]
        out["service.engine_cache_hit_ratio"] = hits / lookups if lookups else 0.0
        for phase in SparkAccounting.PHASES:
            out[f"spark.{phase}_ms"] = c[f"spark.{phase}_ms"] / ops
        for k in SparkAccounting.COUNTS:
            out[f"spark.{k}"] = c[f"query.{k}"] / ops
            for name in BATCH_ENTRIES:
                out[f"operators.{name}.{k}"] = c[f"operators.{name}.{k}"] / max(passes, 1)
        return out

    def cmd_exit(self, _):
        if self._ticker is not None:
            self._ticker_stop.set()
            self._ticker.join()
        if self.service is not None:
            self.service.stop()
        self.spark.stop()
        return {}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    worker = Worker(args.out, args.cores, bool(args.trace))
    _reply({"ready": True})
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg.pop("cmd")
        try:
            result = getattr(worker, f"cmd_{cmd}")(msg)
            _reply({"ok": True, **result})
        except Exception as e:
            _reply({"ok": False, "error": f"{cmd}: {e!r}"[:2000]})
        if cmd == "exit":
            break


if __name__ == "__main__":
    main()
