"""HTTP shims: the reference's wire contract over the Spark engine.

- S1 ingest: `POST /khronus/metrics` with JSON
  `{"metrics": [{"name", "mtype", "measurements": [{"ts", "values"}]}]}`
  (gzip optional) — flattened into measurement rows and appended to a
  parquet landing dir that the Structured Streaming rollup (or batch
  engine) consumes. Mirrors `service/KhronusEnpoint.scala:34-46` +
  `model/MetricMeasurement.scala:42-52`: missing `ts` defaults to server
  time, negative values are skipped, fire-and-forget 200 OK.
- S9 query: `GET /khronus/db/influx/series?q=<influxql>` → JSON
  `[{"name", "columns": ["time", <proj>], "points": [[ts, v], ...]}]`
  (`influx/service/InfluxService.scala:46-87`,
  `influx/service/InfluxProtocol.scala:19`). `list series` supported.
- S11 dashboards: `GET/POST /khronus/db/influx/dashboards/series` —
  the Grafana dashboard surface (`InfluxService.scala:67-83`): GET
  dispatches the `q` expression through the resolver's three regex
  shapes (get / list / drop, `InfluxDashboardResolver.scala:47-88`),
  POST stores the head of a Dashboard array and answers the decoded
  name.
- Responses on the influx routes are gzip-compressed when the client
  accepts it and carry CORS headers, like the reference's
  `compressResponse(NoEncoding, Gzip)` + `respondWithCORS` wrapper
  (`InfluxService.scala:47-48`).

Driver-side stdlib HTTP only — the engine itself stays DataFrames; this
is the thin edge a reference user would point their agents/Grafana at.
"""

from __future__ import annotations

import gzip
import zlib
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from khronus_spark.engine import KhronusEngine
from khronus_spark.functions.summary import family_of
from khronus_spark.parser.parser import QueryParseError
from khronus_spark.plans.criteria import QueryValidationError
from khronus_spark.plans.executor import QueryExecutionError

_SCHEMA = "metric STRING, mtype STRING, ts_ms LONG, value LONG"

#: max ingest request body (wire bytes) — the reference's
#: `request-chunk-aggregation-limit = 2m` (reference.conf:159).
INGEST_BODY_LIMIT = 2 * 1024 * 1024

#: FAIR scheduler pool of every request's Spark jobs. Background jobs in
#: the same session (rollup ticks, drift maintenance) name no pool and
#: share `default`, so a read is not queued behind a tick's stages; the
#: reference likewise serves queries on their own dispatchers.
QUERY_POOL = "khronus-query"

#: what a request handler answers 400 for: the request itself is bad.
#: Anything else is a server failure (Spark job, I/O) and answers 500,
#: which a client may retry.
_CLIENT_ERRORS = (
    QueryParseError,
    QueryValidationError,
    QueryExecutionError,
    ValueError,
    KeyError,
    TypeError,
    re.error,
)


def flatten_metric_batch(payload: dict, now_ms: int | None = None) -> list[tuple]:
    """MetricBatch JSON → measurement rows (one per value). Raises
    ValueError on a metric name that is not a string or a metric type
    that has no summary family: one landed row of either would fail
    every query whose FROM regex matches it. A `ts` or value outside
    int64 raises too: the landing column is int64, and a failed write
    would answer 500, which a client retries forever. `values` must be
    a list of JSON numbers, as the reference's `Seq[Long]` reader
    demands: a string would otherwise land one sample per character and
    a boolean would land as 0 or 1."""
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    rows = []
    for metric in payload.get("metrics", []):
        name, mtype = metric["name"], metric["mtype"]
        if not isinstance(name, str):
            raise ValueError(f"metric name must be a string, got {name!r}")
        family_of(mtype)
        for m in metric.get("measurements", []):
            ts = m.get("ts")
            ts = now if ts is None else int(ts)
            if not -(1 << 63) <= ts < 1 << 63:
                raise ValueError(f"ts {ts} is outside int64")
            values = m.get("values", [])
            if not isinstance(values, list):
                raise ValueError(f"values must be a list, got {values!r}")
            for v in values:
                # JSON numbers only: a bool is an int subclass
                if type(v) not in (int, float):
                    raise ValueError(f"value must be a number, got {v!r}")
                v = int(v)
                if v < 0:  # skipped, like the reference ingest
                    continue
                if v >= 1 << 63:
                    raise ValueError(f"value {v} is outside int64")
                rows.append((name, mtype, ts, v))
    return rows


def series_to_json(results) -> list[dict]:
    """InfluxSeriesResult list → reference wire shape. The series of one
    query share one plan (`frame`), collected once and split by series
    in Python; a result without one (`list series`) collects its own
    (time, name) rows."""
    points: dict[int, dict[int, list]] = {}
    out = []
    for s in results:
        if s.frame is None:
            cols = list(s.df.columns)
            rows = [[r[c] for c in cols] for r in s.df.collect()]
        else:
            if id(s.frame) not in points:
                by_sid = points[id(s.frame)] = {}
                for r in s.frame.select("_sid", "time", "value").collect():
                    by_sid.setdefault(r[0], []).append([int(r[1]), r[2]])
            cols = ["time", s.name]
            rows = points[id(s.frame)].get(s.sid, [])
        out.append({"name": s.metric or s.name, "columns": cols, "points": rows})
    return out


class _Server(ThreadingHTTPServer):
    # socketserver's listen backlog of 5 drops and resets connections
    # when a burst of agents POSTs at once
    request_queue_size = 128


class KhronusHttpService:
    """Minimal ingest+query server over one engine instance."""

    def __init__(
        self,
        spark: SparkSession,
        landing_path: str,
        engine_factory=None,
        port: int = 0,
        dashboards_path: str | None = None,
    ):
        import os

        self.spark = spark
        self.landing_path = landing_path
        # create the landing dir up front: a fresh service must answer
        # queries (empty results) BEFORE its first ingest — without
        # this, the read path 400s with PATH_NOT_FOUND until the first
        # POST creates the dir (r13 review: Grafana bootstrap against
        # an empty store was broken)
        os.makedirs(landing_path, exist_ok=True)
        self.dashboards_path = (
            f"{landing_path}_dashboards" if dashboards_path is None else dashboards_path
        )
        self._engine_factory = engine_factory or self._default_engine
        self._dashboards = None
        # default-engine cache: reuse the engine until new data lands
        # (sequence bumped by _append)
        self._engine_cache: tuple = (None, -1)
        self._appended_seq = 0
        # the (metric, mtype) pairs landed so far — the default engine's
        # catalog, kept by _append so no query rescans the landing
        # history for it. Only a service started over landed data scans
        # it, once, here.
        self._landed: set[tuple[str, str]] = set()
        if engine_factory is None and any(
            not n.startswith((".", "_")) for n in os.listdir(landing_path)
        ):
            rows = (
                spark.read.schema(_SCHEMA).parquet(landing_path)
                .select("metric", "mtype").distinct().collect()
            )
            self._landed = {(r["metric"], r["mtype"]) for r in rows}
        self._lock = threading.Lock()
        self._idle = threading.Condition(self._lock)
        self._inflight = 0
        service = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _respond_json(self, payload) -> None:
                """200 + JSON body, gzip-compressed when the client
                accepts it, CORS always — the reference wraps its
                influx routes in compressResponse(NoEncoding, Gzip) +
                respondWithCORS (InfluxService.scala:47-48)."""
                body = json.dumps(payload).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Access-Control-Allow-Origin", "*")
                if self._accepts_gzip():
                    body = gzip.compress(body)
                    self.send_header("Content-Encoding", "gzip")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _accepts_gzip(self) -> bool:
                """RFC 9110 token parse, not a substring check: a
                client sending 'gzip;q=0' is REFUSING gzip (it cannot
                decode it — that is why it said q=0), and 'x-gzip' is
                an alias, not a substring coincidence. Scans EVERY
                token before answering: 'gzip;q=0, x-gzip' still
                accepts the encoding through the alias token — the
                first refused token must not veto a later acceptable
                one."""

                def _q(parts: list[str]) -> float:
                    for p in parts:
                        k, _, v = p.strip().partition("=")
                        if k.strip() == "q":
                            try:
                                return float(v)
                            except ValueError:
                                return 0.0
                    return 1.0

                for token in self.headers.get("Accept-Encoding", "").split(","):
                    parts = token.strip().lower().split(";")
                    if parts[0].strip() in ("gzip", "x-gzip") and _q(parts[1:]) > 0:
                        return True
                return False

            def _respond_error(self, code: int, message: str) -> None:
                """Error body WITH the CORS header — the reference
                wraps the whole route in respondWithCORS, so a
                browser-based Grafana must be able to read the error
                detail, not just an opaque network failure."""
                body = message.encode()
                self.send_response(code)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _use_query_pool(self) -> None:
                """Run this request's Spark jobs in QUERY_POOL. The pool
                is a thread-local Spark property and every request has
                its own handler thread."""
                service.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", QUERY_POOL
                )

            def _body_length(self) -> int | None:
                """The request's Content-Length (0 when absent), or None
                after answering 400 for a value that is not a decimal
                digit string: `rfile.read(-1)` reads to EOF past the
                body limit, and a non-numeric value must not abort the
                handler with no response."""
                value = self.headers.get("Content-Length", "0").strip()
                if value.isascii() and value.isdigit():
                    return int(value)
                self._respond_error(400, f"bad Content-Length: {value!r}")
                return None

            def do_OPTIONS(self):
                """CORS preflight (r13 review): a browser POSTing JSON
                cross-origin sends OPTIONS first; the default handler
                answered 501 and the browser blocked the real request,
                so the advertised Grafana dashboard route was unusable
                cross-origin despite every data response carrying
                Access-Control-Allow-Origin."""
                self.send_response(204)
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header(
                    "Access-Control-Allow-Methods", "GET, POST, OPTIONS"
                )
                self.send_header(
                    "Access-Control-Allow-Headers",
                    "Content-Type, Content-Encoding, Accept-Encoding",
                )
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_POST(self):
                path = urlparse(self.path).path
                if path == "/khronus/db/influx/dashboards/series":
                    self._post_dashboard()
                    return
                if path != "/khronus/metrics":
                    self.send_error(404)
                    return
                length = self._body_length()
                if length is None:
                    return
                if length > INGEST_BODY_LIMIT:
                    # reference `request-chunk-aggregation-limit = 2m`
                    # (reference.conf:159): oversized batches are refused
                    # at the transport, not buffered.
                    self.send_error(413)
                    return
                body = self.rfile.read(length)
                if self.headers.get("Content-Encoding") == "gzip":
                    # bound the DECOMPRESSED size too — a ~2 MB gzip
                    # bomb can expand ~1000×; decompress incrementally
                    # and refuse once the output passes the cap instead
                    # of materializing it. Loops over CONCATENATED gzip
                    # members (legal per RFC 1952 — chunked compressors
                    # emit them): stopping at the first member's eof
                    # silently dropped the rest of an acked batch (r13
                    # review), and a malformed body now answers 400
                    # instead of an unhandled zlib.error aborting the
                    # connection with no response at all.
                    try:
                        out = b""
                        data = body
                        while data:
                            d = zlib.decompressobj(wbits=31)
                            out += d.decompress(
                                data, INGEST_BODY_LIMIT + 1 - len(out)
                            )
                            if (
                                len(out) > INGEST_BODY_LIMIT
                                or d.unconsumed_tail
                            ):
                                self.send_error(413)
                                return
                            if not d.eof:
                                self._respond_error(
                                    400, "truncated gzip member"
                                )
                                return
                            data = d.unused_data.lstrip(b"\x00")
                        body = out
                    except zlib.error as e:
                        self._respond_error(400, f"malformed gzip body: {e}")
                        return
                try:
                    rows = flatten_metric_batch(json.loads(body))
                except Exception:
                    self.send_error(400)
                    return
                # WRITE BEFORE ACK: the 200 means the batch is durably
                # in the landing dir (file renamed into place), so a
                # client that retries on non-200 gets at-least-once.
                # (The reference acks fire-and-forget,
                # `service/KhronusEnpoint.scala:34-46`; acking only
                # after the local parquet rename costs ~ms and turns a
                # disk-full/pyarrow failure into a visible 500 instead
                # of a silently dropped acked batch.)
                with service._lock:
                    service._inflight += 1
                try:
                    if rows:
                        service._append(rows)
                except Exception:
                    self.send_error(500)
                    return
                finally:
                    with service._lock:
                        service._inflight -= 1
                        service._idle.notify_all()
                self.send_response(200)
                self.end_headers()

            def _post_dashboard(self):
                from khronus_spark.sources.dashboards import store_dashboard_wire

                length = self._body_length()
                if length is None:
                    return
                if length > INGEST_BODY_LIMIT:
                    self._respond_error(
                        413, f"dashboard body over {INGEST_BODY_LIMIT} bytes"
                    )
                    return
                # client errors answer 400 and server failures 500 (a
                # 400 for a disk-full/Spark failure reads as permanent,
                # so the client would drop the dashboard); every answer
                # goes through _respond_error, whose body carries CORS
                try:
                    dashboards = json.loads(self.rfile.read(length))
                except Exception as e:
                    self._respond_error(400, f"malformed dashboard JSON: {e}")
                    return
                try:
                    self._use_query_pool()
                    name = store_dashboard_wire(service.dashboards, dashboards)
                except _CLIENT_ERRORS as e:
                    self._respond_error(400, str(e))
                    return
                except Exception as e:
                    self._respond_error(500, f"dashboard store failure: {e}")
                    return
                # the reference answers the decoded dashboard name
                self._respond_json(name)

            def do_GET(self):
                url = urlparse(self.path)
                q = parse_qs(url.query).get("q", [""])[0]
                dashboards = url.path == "/khronus/db/influx/dashboards/series"
                if not dashboards and url.path != "/khronus/db/influx/series":
                    self.send_error(404)
                    return
                # the rule _post_dashboard follows: 400 only for a bad
                # query, 500 for a server failure
                try:
                    self._use_query_pool()
                    if dashboards:
                        from khronus_spark.sources.dashboards import (
                            dashboard_operation,
                        )

                        payload = dashboard_operation(service.dashboards, q)
                    else:
                        engine = service._engine_factory()
                        payload = series_to_json(engine.sql(q))
                except _CLIENT_ERRORS as e:
                    self._respond_error(400, str(e))
                    return
                except Exception as e:
                    self._respond_error(500, f"query failure: {e}")
                    return
                self._respond_json(payload)

        self._server = _Server(("127.0.0.1", port), Handler)
        self.port = self._server.server_port
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def _append(self, rows: list[tuple]) -> None:
        # Direct pyarrow write + atomic rename, NOT a Spark append job:
        # 1. concurrent `df.write.mode("append")` jobs share the output
        #    path's `_temporary` committer dir, so one job's commitJob
        #    deletes another's staged task files — under back-to-back
        #    POSTs this silently LOSES acked batches (measured: ~60% of
        #    rows gone at the round-5 HTTP soak's 2x rate); a lock would
        #    fix safety but serialize the edge through the Spark driver;
        # 2. one right-sized file per <= 2 MB acked batch (the Spark
        #    write scattered each into ~32 tiny files, bloating every
        #    per-trigger file listing and overflowing maxFilesPerTrigger
        #    so stragglers deferred a trigger);
        # 3. the dot-prefixed staging name is invisible to Spark's file
        #    listing, and rename is atomic on the same filesystem, so
        #    readers only ever see complete files.
        # At cluster scale this is the standard edge shape: ingest nodes
        # write self-contained files/objects; the engine only reads.
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as papq

        table = pa.table(
            {
                "metric": pa.array([r[0] for r in rows], pa.string()),
                "mtype": pa.array([r[1] for r in rows], pa.string()),
                "ts_ms": pa.array([r[2] for r in rows], pa.int64()),
                "value": pa.array([r[3] for r in rows], pa.int64()),
            }
        )
        import os

        os.makedirs(self.landing_path, exist_ok=True)
        name = uuid.uuid4().hex
        staged = f"{self.landing_path}/.staged-{name}.parquet"
        papq.write_table(table, staged)
        os.rename(staged, f"{self.landing_path}/part-{name}.parquet")
        pairs = {(r[0], r[1]) for r in rows}
        with self._lock:
            self._landed |= pairs
            self._appended_seq += 1  # invalidates the cached engine

    @property
    def dashboards(self):
        """Lazily constructed dashboard store (S11) — most deployments
        never POST a dashboard; don't touch its path until one does."""
        with self._lock:  # handler threads race the first POST
            if self._dashboards is None:
                from khronus_spark.sources.dashboards import DashboardStore

                self._dashboards = DashboardStore(
                    self.spark, self.dashboards_path
                )
            return self._dashboards

    def _default_engine(self) -> KhronusEngine:
        """Engine over the landing dir, CACHED until new data lands: the
        parquet file listing is pinned at DataFrame creation, so the
        cache invalidates on append (`_appended_seq` bumps after each
        landed batch). The catalog is the landed pairs, read under the
        same lock as the sequence, so building an engine runs no Spark
        job."""
        with self._lock:
            eng, cached_seq = self._engine_cache
            if eng is not None and cached_seq == self._appended_seq:
                return eng
            seq, catalog = self._appended_seq, sorted(self._landed)
        measurements = self.spark.read.schema(_SCHEMA).parquet(self.landing_path)
        eng = KhronusEngine(self.spark, measurements=measurements, catalog=catalog)
        with self._lock:
            self._engine_cache = (eng, seq)
        return eng

    def wait_idle(self, timeout: float = 60.0) -> None:
        """Block until every acked ingest batch has landed (the ack is
        fire-and-forget, so readers needing read-your-writes wait
        here). Raises TimeoutError instead of returning silently on
        timeout (r13 review: the ignored wait_for bool made a timeout
        indistinguishable from idle, so a caller relying on
        read-your-writes could query while acked batches were still in
        flight)."""
        with self._idle:
            if not self._idle.wait_for(
                lambda: self._inflight == 0, timeout=timeout
            ):
                raise TimeoutError(
                    f"ingest still in flight after {timeout}s"
                )

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
