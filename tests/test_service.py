"""HTTP shim end-to-end: POST MetricBatch JSON → parquet landing →
GET InfluxQL query → reference wire-shape JSON."""

from __future__ import annotations

import gzip
import json
import tempfile
import urllib.request

import pytest

from khronus_spark.engine import KhronusEngine
from khronus_spark.service import KhronusHttpService, flatten_metric_batch

BATCH = {
    "metrics": [
        {
            "name": "api.latency",
            "mtype": "timer",
            "measurements": [
                {"ts": 60_000, "values": [10, 20, -5, 30]},
                {"ts": 95_000, "values": [40]},
            ],
        },
        {
            "name": "cart.checkouts",
            "mtype": "counter",
            "measurements": [{"ts": 61_000, "values": [2, 3]}],
        },
    ]
}


def test_flatten_metric_batch():
    rows = flatten_metric_batch(BATCH)
    assert ("api.latency", "timer", 60_000, 10) in rows
    assert all(v >= 0 for (_, _, _, v) in rows)  # negatives skipped
    assert len(rows) == 6
    # missing ts defaults to server time
    rows2 = flatten_metric_batch(
        {"metrics": [{"name": "x", "mtype": "timer", "measurements": [{"values": [1]}]}]},
        now_ms=123,
    )
    assert rows2 == [("x", "timer", 123, 1)]


@pytest.fixture(scope="module")
def service(spark):
    landing = tempfile.mkdtemp(prefix="khronus_landing_") + "/in"
    svc = KhronusHttpService(
        spark,
        landing,
        engine_factory=lambda: KhronusEngine(
            spark,
            measurements=spark.read.schema(
                "metric STRING, mtype STRING, ts_ms LONG, value LONG"
            ).parquet(landing),
            now_ms=4_000_000,
        ),
    )
    svc.start()
    yield svc
    svc.stop()


def test_ingest_then_query(service):
    base = f"http://127.0.0.1:{service.port}"
    # gzip ingest (the reference accepts gzip bodies)
    body = gzip.compress(json.dumps(BATCH).encode())
    req = urllib.request.Request(
        f"{base}/khronus/metrics", data=body, method="POST",
        headers={"Content-Encoding": "gzip"},
    )
    assert urllib.request.urlopen(req).status == 200
    service.wait_idle()  # ingest ack is fire-and-forget; wait for landing

    q ='select count from "cart.checkouts" where time >= 0 force group by time(1m)'
    with urllib.request.urlopen(f"{base}/khronus/db/influx/series?q={urllib.parse.quote(q)}") as r:
        series = json.loads(r.read())
    assert series[0]["name"] == "cart.checkouts"
    assert series[0]["columns"] == ["time", "count"]
    assert [60_000, 5.0] in series[0]["points"]

    # list series
    with urllib.request.urlopen(f"{base}/khronus/db/influx/series?q=list%20series") as r:
        listed = json.loads(r.read())
    names = [p[1] for p in listed[0]["points"]]
    assert set(names) == {"api.latency", "cart.checkouts"}


def test_query_error_is_400(service):
    base = f"http://127.0.0.1:{service.port}"
    q = 'select count from "cart.checkouts" group by time(1m)'  # no time bound
    try:
        urllib.request.urlopen(f"{base}/khronus/db/influx/series?q={urllib.parse.quote(q)}")
        raise AssertionError("expected HTTP error")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_oversized_ingest_body_is_413(service):
    import urllib.error

    base = f"http://127.0.0.1:{service.port}"
    big = b"x" * (2 * 1024 * 1024 + 1)  # 1 byte over the 2 MB cap
    req = urllib.request.Request(
        f"{base}/khronus/metrics", data=big, method="POST"
    )
    # The server refuses before draining the body (the point of the
    # cap), so the client sees either the 413 or a reset mid-send.
    try:
        urllib.request.urlopen(req)
        raise AssertionError("oversized body was accepted")
    except urllib.error.HTTPError as exc:
        assert exc.code == 413
    except (urllib.error.URLError, ConnectionError):
        pass  # transport-level refusal

    # the server stays healthy for the next request
    with urllib.request.urlopen(f"{base}/khronus/db/influx/series?q=list%20series") as r:
        assert r.status == 200


def test_oversized_dashboard_body_is_413_with_cors(service):
    """An oversized dashboard POST is refused like every other dashboard
    error: a 413 that carries the CORS header, so a browser can read it."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", service.port, timeout=30)
    try:
        # announce a body 1 byte over the 2 MB cap and send none of it:
        # the server answers from the headers alone
        conn.putrequest("POST", "/khronus/db/influx/dashboards/series")
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", str(2 * 1024 * 1024 + 1))
        conn.endheaders()
        resp = conn.getresponse()
    except ConnectionError:
        return  # transport-level refusal
    finally:
        conn.close()
    assert resp.status == 413
    assert resp.getheader("Access-Control-Allow-Origin") == "*"


def test_stress_batch_shape_and_determinism():
    """scripts/stress.py (the khronus-stress analogue) must emit
    reference-shaped MetricBatch JSON deterministically per worker."""
    import random
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from stress import make_batch

    a = make_batch(random.Random(7), 3, 4)
    b = make_batch(random.Random(7), 3, 4)
    assert a["metrics"][0]["name"] == b["metrics"][0]["name"]
    m = a["metrics"][0]
    assert m["mtype"] == "timer" and len(m["measurements"]) == 3
    assert all(len(x["values"]) == 4 for x in m["measurements"])
    assert all(0 <= v < 2000 for x in m["measurements"] for v in x["values"])
    rows = flatten_metric_batch(a)
    assert len(rows) == 12


def test_concurrent_posts_lose_nothing(spark):
    """Regression for the round-5 soak finding: back-to-back POSTs used
    to race inside `df.write.mode("append")` — concurrent Spark append
    jobs share the output path's `_temporary` committer dir, and one
    job's commit deletes another's staged task files (measured ~60% of
    acked rows silently lost at 2x soak rate). The pyarrow
    write-then-atomic-rename edge must land EVERY acked row under a
    16-thread POST storm."""
    import threading

    landing = tempfile.mkdtemp(prefix="khronus_landing_conc_") + "/in"
    svc = KhronusHttpService(spark, landing)
    svc.start()
    try:
        base = f"http://127.0.0.1:{svc.port}"
        n_threads, posts_per_thread, rows_per_post = 16, 6, 50
        errors = []

        def hammer(t):
            for p in range(posts_per_thread):
                batch = {
                    "metrics": [
                        {
                            "name": f"m{t}",
                            "mtype": "counter",
                            "measurements": [
                                {
                                    "ts": 60_000 + p,
                                    "values": list(range(rows_per_post)),
                                }
                            ],
                        }
                    ]
                }
                req = urllib.request.Request(
                    f"{base}/khronus/metrics",
                    data=json.dumps(batch).encode(),
                    method="POST",
                )
                try:
                    with urllib.request.urlopen(req, timeout=30) as r:
                        assert r.status == 200
                except Exception as e:  # pragma: no cover
                    errors.append(e)

        threads = [
            threading.Thread(target=hammer, args=(t,)) for t in range(n_threads)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        svc.wait_idle(timeout=120)
        assert not errors
        landed = spark.read.schema(
            "metric STRING, mtype STRING, ts_ms LONG, value LONG"
        ).parquet(landing)
        assert landed.count() == n_threads * posts_per_thread * rows_per_post
        # and per-metric counts are intact (no partial batches)
        per_metric = {r["metric"]: r["n"] for r in
                      landed.groupBy("metric").count().withColumnRenamed("count", "n").collect()}
        assert all(v == posts_per_thread * rows_per_post for v in per_metric.values())
        assert len(per_metric) == n_threads
    finally:
        svc.stop()


def test_dashboard_http_roundtrip_and_gzip(service):
    """S11 over HTTP (InfluxService.scala:67-83): POST a Grafana
    Dashboard array -> store; GET dispatches the resolver's three
    expression shapes (list / get / drop,
    InfluxDashboardResolver.scala:47-88); responses gzip when the
    client accepts it (compressResponse, InfluxService.scala:47) and
    carry CORS."""
    import base64
    import urllib.parse

    base = f"http://127.0.0.1:{service.port}"
    name = "prod overview"
    b64 = base64.b64encode(name.encode()).decode()
    dashboard = {
        "name": f"grafana.dashboard_{b64}",
        "columns": ["time", "sequence_number", "title", "tags", "dashboard"],
        "points": [["1", "1", name, "", "{\"title\":\"prod overview\"}"]],
    }

    # store -> the response body is the decoded name
    req = urllib.request.Request(
        f"{base}/khronus/db/influx/dashboards/series",
        data=json.dumps([dashboard]).encode(),
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        assert json.loads(r.read()) == name

    # list (regex shape) — ask for gzip and assert we got it
    list_q = 'select * from /grafana.dashboard_.*/ where title =~ /prod.*/i&time_precision=s'
    req = urllib.request.Request(
        f"{base}/khronus/db/influx/dashboards/series?q="
        + urllib.parse.quote(list_q),
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        assert r.headers.get("Access-Control-Allow-Origin") == "*"
        listed = json.loads(gzip.decompress(r.read()))
    assert [d["name"] for d in listed] == [f"grafana.dashboard_{b64}"]

    # get (base64 shape) — returns the stored dashboard verbatim
    get_q = f'select dashboard from "grafana.dashboard_{b64}"&time_precision=s'
    with urllib.request.urlopen(
        f"{base}/khronus/db/influx/dashboards/series?q="
        + urllib.parse.quote(get_q)
    ) as r:
        got = json.loads(r.read())
    assert got == [dashboard]

    # drop -> empty response, then the get finds nothing
    drop_q = f'drop series "grafana.dashboard_{b64}"'
    with urllib.request.urlopen(
        f"{base}/khronus/db/influx/dashboards/series?q="
        + urllib.parse.quote(drop_q)
    ) as r:
        assert json.loads(r.read()) == []
    with urllib.request.urlopen(
        f"{base}/khronus/db/influx/dashboards/series?q="
        + urllib.parse.quote(get_q)
    ) as r:
        assert json.loads(r.read()) == []

    # an unsupported grafana expression is a 400, like the reference's
    # UnsupportedOperationException
    try:
        urllib.request.urlopen(
            f"{base}/khronus/db/influx/dashboards/series?q=nonsense"
        )
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_query_route_gzips_when_accepted(service):
    """The series query route compresses too — and stays identity for
    clients that don't accept gzip."""
    base = f"http://127.0.0.1:{service.port}"
    url = f"{base}/khronus/db/influx/series?q=list%20series"
    req = urllib.request.Request(url, headers={"Accept-Encoding": "gzip"})
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        gz = json.loads(gzip.decompress(r.read()))
    with urllib.request.urlopen(url) as r:
        assert r.headers.get("Content-Encoding") is None
        plain = json.loads(r.read())
    assert gz == plain


def test_gzip_refused_with_q0_and_error_responses_carry_cors(service):
    """r10 review fixes: a client sending 'gzip;q=0' is REFUSING gzip
    (RFC 9110) and must get identity, substring matching be damned;
    and error responses carry the CORS header like the success path
    (the reference wraps the whole route in respondWithCORS), so a
    browser Grafana can read the error detail."""
    base = f"http://127.0.0.1:{service.port}"
    url = f"{base}/khronus/db/influx/series?q=list%20series"
    req = urllib.request.Request(
        url, headers={"Accept-Encoding": "gzip;q=0, identity"}
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Encoding") is None
        json.loads(r.read())  # identity body parses

    bad = f"{base}/khronus/db/influx/dashboards/series?q=nonsense"
    try:
        urllib.request.urlopen(bad)
        assert False, "expected 400"
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert e.headers.get("Access-Control-Allow-Origin") == "*"
        assert b"Unsupported grafana expression" in e.read()


def test_gzip_alias_accepted_after_refused_token_and_error_content_type(
    service,
):
    """r11 review fixes: 'gzip;q=0, x-gzip' REFUSES the gzip token but
    accepts the x-gzip alias — the first refused token must not veto
    the scan (RFC 9110 lists each coding independently); and error
    responses declare a Content-Type so clients don't content-sniff
    the plain-text detail."""
    base = f"http://127.0.0.1:{service.port}"
    url = f"{base}/khronus/db/influx/series?q=list%20series"
    req = urllib.request.Request(
        url, headers={"Accept-Encoding": "gzip;q=0, x-gzip"}
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        json.loads(gzip.decompress(r.read()))
    # every-token-refused still means identity
    req = urllib.request.Request(
        url, headers={"Accept-Encoding": "x-gzip;q=0, gzip;q=0"}
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Encoding") is None
        json.loads(r.read())

    bad = f"{base}/khronus/db/influx/dashboards/series?q=nonsense"
    try:
        urllib.request.urlopen(bad)
        assert False, "expected 400"
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert e.headers.get("Content-Type", "").startswith("text/plain")


def test_dashboard_get_name_with_regex_metacharacters(service):
    """r10 review fix: the base64-decoded dashboard NAME is a literal;
    a Grafana title like 'CPU (5m)' must round-trip through get (the
    unescaped interpolation read the parens as regex grouping and
    never matched its own dashboard)."""
    import base64

    base = f"http://127.0.0.1:{service.port}"
    b64 = base64.b64encode(b"CPU (5m)").decode()
    body = json.dumps(
        [{"name": f"grafana.dashboard_{b64}", "columns": ["time"],
          "points": [[1]]}]
    ).encode()
    req = urllib.request.Request(
        f"{base}/khronus/db/influx/dashboards/series",
        data=body,
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    assert urllib.request.urlopen(req).status == 200
    q = urllib.parse.quote(f'select dashboard from "grafana.dashboard_{b64}"')
    with urllib.request.urlopen(
        f"{base}/khronus/db/influx/dashboards/series?q={q}"
    ) as r:
        got = json.loads(r.read())
    assert [d["name"] for d in got] == [f"grafana.dashboard_{b64}"]


def test_fresh_service_answers_queries_before_first_ingest(spark):
    """r13 review: a brand-new service's read path 400'd with
    PATH_NOT_FOUND until the first ingest created the landing dir —
    Grafana bootstrap against an empty store was broken. The landing
    dir is created at construction; list series answers empty."""
    landing = tempfile.mkdtemp(prefix="khronus_fresh_") + "/in"
    svc = KhronusHttpService(spark, landing)
    svc.start()
    try:
        base = f"http://127.0.0.1:{svc.port}"
        with urllib.request.urlopen(
            f"{base}/khronus/db/influx/series?q=list%20series"
        ) as r:
            listed = json.loads(r.read())
        assert listed[0]["points"] == []
    finally:
        svc.stop()


def _get(svc, q: str):
    url = f"http://127.0.0.1:{svc.port}/khronus/db/influx/series?q={urllib.parse.quote(q)}"
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def _post(svc, name: str, mtype: str, ts: int, values: list[int]) -> None:
    batch = {"metrics": [{"name": name, "mtype": mtype,
                          "measurements": [{"ts": ts, "values": values}]}]}
    req = urllib.request.Request(
        f"http://127.0.0.1:{svc.port}/khronus/metrics",
        data=json.dumps(batch).encode(), method="POST",
    )
    assert urllib.request.urlopen(req).status == 200
    svc.wait_idle()


def test_metric_landed_after_engine_cached_is_listed_and_queryable(spark):
    """The default engine's catalog is the (metric, mtype) pairs the
    service has landed: a metric first posted after the engine was
    cached is listed and queryable on the next GET."""
    import time as _time

    landing = tempfile.mkdtemp(prefix="khronus_catalog_") + "/in"
    svc = KhronusHttpService(spark, landing)
    svc.start()
    try:
        now = int(_time.time() * 1000) // 60_000 * 60_000
        _post(svc, "first.hits", "counter", now - 120_000, [1, 2])
        listed = _get(svc, "list series")
        assert [p[1] for p in listed[0]["points"]] == ["first.hits"]
        assert svc._engine_cache[0] is not None

        _post(svc, "later.latency", "timer", now - 60_000, [5, 7])
        listed = _get(svc, "list series")
        assert [p[1] for p in listed[0]["points"]] == ["first.hits", "later.latency"]
        got = _get(
            svc,
            'select count, max from "later.latency" '
            "where time > now()-1h force group by time(1m)",
        )
        assert [s["columns"][1] for s in got] == ["count", "max"]
        assert got[0]["points"] == [[now - 60_000, 2.0]]
        assert got[1]["points"] == [[now - 60_000, 7.0]]
    finally:
        svc.stop()


def test_restarted_service_lists_landed_metrics(spark):
    """Only a service started over landed data scans the landing dir
    for its catalog, once, at construction; over an empty dir it runs
    no Spark job at all."""
    sc = spark.sparkContext
    landing = tempfile.mkdtemp(prefix="khronus_restart_") + "/in"

    def build(group):
        sc.setJobGroup(group, group)
        try:
            svc = KhronusHttpService(spark, landing)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return svc, len(sc.statusTracker().getJobIdsForGroup(group))

    first, jobs = build("restart-empty")
    assert jobs == 0
    first._append([("a.hits", "counter", 60_000, 1), ("b.latency", "timer", 60_000, 4)])
    first._server.server_close()  # never started: nothing to shut down

    svc, jobs = build("restart-landed")
    assert jobs >= 1  # the one catalog scan
    svc.start()
    try:
        listed = _get(svc, "list series")
        assert [p[1] for p in listed[0]["points"]] == ["a.hits", "b.latency"]
    finally:
        svc.stop()


def test_corrupt_gzip_ingest_is_400_not_connection_abort(service):
    import urllib.error

    base = f"http://127.0.0.1:{service.port}"
    req = urllib.request.Request(
        f"{base}/khronus/metrics", data=b"\x1f\x8b garbage not gzip",
        method="POST", headers={"Content-Encoding": "gzip"},
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("corrupt gzip was accepted")
    except urllib.error.HTTPError as e:
        # the r13 fix: a definitive 400, not an unhandled zlib.error
        # unwinding the handler with no response at all
        assert e.code == 400
        assert b"gzip" in e.read()


def test_multi_member_gzip_ingest_lands_every_member(spark):
    """r13 review: RFC 1952 allows concatenated gzip members (chunked
    compressors emit them); decompression used to stop at the first
    member's end and ACK a partially-dropped batch."""
    landing = tempfile.mkdtemp(prefix="khronus_mm_") + "/in"
    svc = KhronusHttpService(spark, landing)
    svc.start()
    try:
        base = f"http://127.0.0.1:{svc.port}"
        m1 = {"metrics": [{"name": "mm.a", "mtype": "counter",
                           "measurements": [{"ts": 60_000, "values": [1]}]}]}
        # two members: the JSON body is split across them mid-stream
        raw = json.dumps(m1).encode()
        body = gzip.compress(raw[:20]) + gzip.compress(raw[20:])
        req = urllib.request.Request(
            f"{base}/khronus/metrics", data=body, method="POST",
            headers={"Content-Encoding": "gzip"},
        )
        assert urllib.request.urlopen(req).status == 200
        svc.wait_idle()
        rows = spark.read.parquet(landing).collect()
        assert [(r["metric"], r["value"]) for r in rows] == [("mm.a", 1)]
    finally:
        svc.stop()


def test_cors_preflight_options(service):
    base = f"http://127.0.0.1:{service.port}"
    req = urllib.request.Request(
        f"{base}/khronus/db/influx/dashboards/series", method="OPTIONS",
        headers={
            "Origin": "http://grafana.local",
            "Access-Control-Request-Method": "POST",
            "Access-Control-Request-Headers": "Content-Type",
        },
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
        assert r.headers["Access-Control-Allow-Origin"] == "*"
        assert "POST" in r.headers["Access-Control-Allow-Methods"]
        assert "Content-Type" in r.headers["Access-Control-Allow-Headers"]


def test_malformed_dashboard_post_is_400_with_cors(service):
    import urllib.error

    base = f"http://127.0.0.1:{service.port}"
    req = urllib.request.Request(
        f"{base}/khronus/db/influx/dashboards/series",
        data=b"{not json", method="POST",
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("malformed dashboard accepted")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert e.headers["Access-Control-Allow-Origin"] == "*"


_BAD_LENGTH_BODIES = {
    "/khronus/metrics": {"metrics": []},
    "/khronus/db/influx/dashboards/series": [
        {
            "name": "grafana.dashboard_YmFkIGxlbmd0aA==",
            "columns": ["time", "sequence_number", "title", "tags", "dashboard"],
            "points": [["1", "1", "bad length", "", '{"title":"bad length"}']],
        }
    ],
}


@pytest.mark.parametrize("length", ["-1", "abc"])
@pytest.mark.parametrize("path", sorted(_BAD_LENGTH_BODIES))
def test_bad_content_length_is_400_with_cors(service, path, length):
    """A negative Content-Length must not read the body to EOF past the
    2 MB cap, and a non-numeric one must still get an answer: both are
    400 before the body is read. The client half-closes after sending,
    so a server that reads to EOF answers instead of hanging."""
    import socket

    body = json.dumps(_BAD_LENGTH_BODIES[path]).encode()
    head = (
        f"POST {path} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
        f"Content-Length: {length}\r\nConnection: close\r\n\r\n"
    )
    with socket.create_connection(("127.0.0.1", service.port), timeout=60) as s:
        s.sendall(head.encode() + body)
        s.shutdown(socket.SHUT_WR)
        reply = b""
        while chunk := s.recv(65536):
            reply += chunk
    status, _, rest = reply.partition(b"\r\n")
    assert status.split()[1:2] == [b"400"], reply
    assert b"Access-Control-Allow-Origin: *" in rest, reply


def _get_status(svc, path: str, q: str) -> tuple[int, dict]:
    url = f"http://127.0.0.1:{svc.port}{path}?q={urllib.parse.quote(q)}"
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers)


def test_server_failure_on_a_read_route_is_500_with_cors(spark):
    """A failed Spark job or I/O error on either GET route is the
    server's fault: 500, so Grafana does not report the query as bad.
    The CORS header still lets a browser read the detail."""
    import types

    def broken(*_):
        raise RuntimeError("executor lost")

    landing = tempfile.mkdtemp(prefix="khronus_500_") + "/in"
    svc = KhronusHttpService(spark, landing, engine_factory=broken)
    svc._dashboards = types.SimpleNamespace(lookup=broken, drop=broken)
    svc.start()
    try:
        for path, q in [
            ("/khronus/db/influx/series", "list series"),
            (
                "/khronus/db/influx/dashboards/series",
                'select dashboard from "grafana.dashboard_YQ=="',
            ),
        ]:
            code, headers = _get_status(svc, path, q)
            assert code == 500, path
            assert headers.get("Access-Control-Allow-Origin") == "*", path
    finally:
        svc.stop()


def test_bad_metric_regex_is_400(service):
    """A FROM regex that does not compile is the client's mistake."""
    code, headers = _get_status(
        service,
        "/khronus/db/influx/series",
        'select count from "a(" where time >= 0 force group by time(1m)',
    )
    assert code == 400
    assert headers.get("Access-Control-Allow-Origin") == "*"


def test_read_requests_run_in_the_query_pool(spark):
    """Each read runs its Spark jobs in QUERY_POOL, set on its own
    handler thread before any Spark work, so FAIR scheduling keeps it
    from queueing behind background jobs in `default`. The caller's
    thread keeps no pool."""
    import types

    from khronus_spark.service import QUERY_POOL

    sc = spark.sparkContext
    seen = []

    def record(*_):
        seen.append(sc.getLocalProperty("spark.scheduler.pool"))

    landing = tempfile.mkdtemp(prefix="khronus_pool_") + "/in"

    def engine_factory():
        record()
        return KhronusEngine(
            spark,
            measurements=spark.read.schema(
                "metric STRING, mtype STRING, ts_ms LONG, value LONG"
            ).parquet(landing),
        )

    svc = KhronusHttpService(spark, landing, engine_factory=engine_factory)
    svc._dashboards = types.SimpleNamespace(lookup=lambda _: record() or [])
    svc.start()
    try:
        assert _get(svc, "list series")[0]["points"] == []
        code, _ = _get_status(
            svc,
            "/khronus/db/influx/dashboards/series",
            'select dashboard from "grafana.dashboard_YQ=="',
        )
        assert code == 200
    finally:
        svc.stop()
    assert seen == [QUERY_POOL, QUERY_POOL]
    assert sc.getLocalProperty("spark.scheduler.pool") is None
