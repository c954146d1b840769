"""khronus-spark benchmark: the paper's HTTP ingest -> rollup -> dashboard
path, plus the heavy batch registry entries.

    python3 perfbench/run.py --workload dashboard_read|ingest_mixed|batch_pipeline|all
                             --seed N [--seconds S] [--trace 0|1]

Run from the repository root. This process is the load generator and the
checker; the program under test runs in a separate worker process
(``worker.py``) with a Spark session sized to ``nproc`` cores. Human-
readable lines go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import gzip
import http.client
import json
import math
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dashboard_read", "ingest_mixed", "batch_pipeline")
SETUP_REPS = 3
DASH_CLIENTS = 2
INGEST_CLIENTS = 2  # the query mix is split between them
INGEST_RATE = 20.0  # POSTs per second, open loop
INGEST_SETUP_POSTS = 20
TICK_INTERVAL_S = 3.0
REQUEST_TIMEOUT_S = 60.0

E2E = (
    ("setup_s", "s"),
    ("ok_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("query_mean_s", "s"),
    ("query_p90_s", "s"),
)
STREAM_FIELDS = ("get_batch_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in BENCHMARK.json order."""
    from spans import SparkAccounting
    from worker import BATCH_ENTRIES

    names = [
        ("host.calibration_s", "s"),
        ("parser.parse_s", "s"),
        ("plans.bind_s", "s"),
        ("plans.build_s", "s"),
        *((f"spark.{p}_ms", "ms") for p in SparkAccounting.PHASES),
        ("spark.exec_s", "s"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.jvm_cpu_s", "s"),
        ("service.encode_s", "s"),
        ("engine.catalog_s", "s"),
        ("engine.catalog_builds", "count"),
        ("service.engine_cache_hit_ratio", "ratio"),
        ("service.post_s", "s"),
        ("service.flatten_s", "s"),
        ("service.landing_write_s", "s"),
        ("service.landing_files", "count"),
        ("service.landing_bytes_per_value", "B"),
        ("service.ingest_p50_ms", "ms"),
        ("service.ingest_p99_ms", "ms"),
        ("service.generator_lateness_p99_ms", "ms"),
        ("streaming.tick_s", "s"),
        ("streaming.rollup_tick_p50_s", "s"),
        ("streaming.freshness_p50_s", "s"),
        ("streaming.freshness_p99_s", "s"),
        ("streaming.input_rows", "count"),
        ("streaming.backlog_files", "count"),
        ("streaming.state_rows", "count"),
        *((f"streaming.{f}", "ms") for f in STREAM_FIELDS),
        ("operators.batch_s", "s"),
    ]
    for entry in BATCH_ENTRIES:
        names.append((f"operators.{entry}.wall_s", "s"))
        names += [(f"operators.{entry}.{k}", "s" if k == "jvm_cpu_s" else "count")
                  for k in SparkAccounting.COUNTS]
    return names


# ---------------------------------------------------------------------------
# worker process
# ---------------------------------------------------------------------------


class WorkerProc:
    """The server/driver process, spoken to over stdin/stdout."""

    def __init__(self, out_dir: str, cores: int, trace: bool):
        self.log_path = os.path.join(out_dir, "worker.log")
        tmp = os.path.join(out_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"),
                   PYSPARK_PYTHON=sys.executable, PYTHONUNBUFFERED="1")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--out", out_dir,
             "--cores", str(cores), "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=ROOT, env=env, text=True, start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self._lines.put(json.loads(line[2:]))
        self._lines.put(None)

    def wait_ready(self, timeout: float = 240) -> None:
        self._next(timeout)

    def _next(self, timeout: float) -> dict:
        try:
            msg = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"worker silent for {timeout:.0f}s; see {self.log_path}")
        if msg is None:
            raise RuntimeError(f"worker exited; see {self.log_path}")
        return msg

    def call(self, cmd: str, timeout: float = 240, **args) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **args}) + "\n")
        self.proc.stdin.flush()
        msg = self._next(timeout)
        if not msg.get("ok"):
            raise RuntimeError(msg.get("error", "worker command failed"))
        return msg

    def close(self) -> None:
        """Stop the worker and everything it started (the JVM included)."""
        try:
            if self.proc.poll() is None:
                self.call("exit", timeout=60)
                self.proc.wait(timeout=30)
        except Exception:
            pass
        finally:
            if self.proc.poll() is None:
                try:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                self.proc.wait()
            # the session leader is gone; reap any straggler in its group
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
            self._log.close()

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path) as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""


# ---------------------------------------------------------------------------
# HTTP client side
# ---------------------------------------------------------------------------


def http_post(port: int, body: bytes, headers: dict) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request("POST", "/khronus/metrics", body=body, headers=headers)
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def http_query(port: int, q: str) -> tuple[int, bytes]:
    """GET one InfluxQL query, gzip accepted; returns (status, JSON bytes)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        path = "/khronus/db/influx/series?" + urllib.parse.urlencode({"q": q})
        conn.request("GET", path, headers={"Accept-Encoding": "gzip"})
        resp = conn.getresponse()
        body = resp.read()
        if resp.getheader("Content-Encoding") == "gzip":
            body = gzip.decompress(body)
        return resp.status, body
    finally:
        conn.close()


def timed_query(port: int, label: str, q: str) -> dict:
    t0 = time.monotonic()
    try:
        status, body = http_query(port, q)
    except OSError as e:
        status, body = 0, repr(e).encode()
    return {"label": label, "start": t0, "end": time.monotonic(),
            "ok": status == 200, "status": status, "body": body}


def closed_loop(port: int, mix, clients: int, deadline: float, split: bool = False) -> list[dict]:
    """``clients`` threads, each sending its next query when the previous
    one answers. Each client runs whole passes over the mix from its own
    starting offset or, with ``split``, over its own contiguous share of
    the mix; passes repeat until ``deadline``, so every run samples the
    same mix composition."""
    results: list[dict] = []
    lock = threading.Lock()
    n = len(mix)

    def client(k: int) -> None:
        lo, hi = k * n // clients, (k + 1) * n // clients
        own = mix[lo:hi] if split else mix[lo:] + mix[:lo]
        while True:
            for label, q in own:
                r = timed_query(port, label, q)
                with lock:
                    results.append(r)
            if time.monotonic() >= deadline:
                return

    threads = [threading.Thread(target=client, args=(k,)) for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    """Bookkeeping of one workload run: operations, failures, metrics."""

    def __init__(self, name: str, out_dir: str):
        self.name = name
        self.out_dir = out_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.t0 = time.monotonic()

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.errors) < 20:
                self.errors.append(what)

    def note(self, line: str) -> None:
        print(f"[{self.name} +{time.monotonic() - self.t0:.1f}s] {line}", flush=True)


def _setup_reps(run: Run, one_rep) -> None:
    times = []
    for rep in range(SETUP_REPS):
        t0 = time.monotonic()
        one_rep(rep)
        times.append(time.monotonic() - t0)
    run.e2e["setup_s"] = stats.median(times)
    run.note("setup reps (s): " + ", ".join(f"{t:.3f}" for t in times))


def _query_metrics(run: Run, results: list[dict]) -> None:
    lat = [r["end"] - r["start"] if r["ok"] else stats.FAILED for r in results]
    if not lat:
        run.op(False, "no query completed inside the run")
        lat = [stats.FAILED]
    run.e2e["query_mean_s"] = sum(lat) / len(lat)
    run.e2e["query_p90_s"] = stats.percentile(lat, 90)
    s = stats.summarize(lat)
    run.note(f"queries: n={s['n']} mean={run.e2e['query_mean_s']:.3f}s p50={s['p50']:.3f}s "
             f"p90={run.e2e['query_p90_s']:.3f}s tail p{s['tail_p']}={s['tail']}")
    by_label: dict[str, list[float]] = {}
    for r in results:
        by_label.setdefault(r["label"], []).append(r["end"] - r["start"])
    run.note("per query (median s): " + ", ".join(
        f"{k}={stats.median(v):.3f}" for k, v in sorted(by_label.items())))


def dashboard_read(run: Run, w: WorkerProc, seed: int, seconds: float, threads: int) -> None:
    from checks import body_series, expected_bodies

    posts = [gen.encode_post(b, False) for b in gen.dashboard_batches(seed)]
    mix = gen.DASHBOARD_MIX
    state = {}

    def preload(landing: str) -> int:
        port = w.call("service", landing=landing)["port"]
        for body, headers in posts:
            status = http_post(port, body, headers)
            run.op(status == 200, f"preload POST -> {status}")
        return port

    # warm-up on a service of its own: one pass of the mix compiles its plans
    t0 = time.monotonic()
    port = preload(os.path.join(run.out_dir, "warmup"))
    warm = [timed_query(port, label, q) for label, q in mix]
    run.note(f"warm-up pass: {time.monotonic() - t0:.3f}s")

    def rep(k: int) -> None:
        landing = os.path.join(run.out_dir, f"landing{k}")
        port = preload(landing)
        r = timed_query(port, "list_series", "list series")
        run.op(r["ok"], f"first GET -> {r['status']}")
        state.update(port=port, landing=landing)

    _setup_reps(run, rep)
    port, landing = state["port"], state["landing"]
    w.call("mark")
    results = closed_loop(port, mix, DASH_CLIENTS, time.monotonic() + seconds)
    _query_metrics(run, results)

    want = expected_bodies(landing, mix, threads)
    first: dict[str, bytes] = {}
    for r in warm + results:
        run.op(r["ok"], f"{r['label']} -> HTTP {r['status']}: {r['body'][:200]!r}")
        if not r["ok"]:
            continue
        if r["label"] not in first:
            first[r["label"]] = r["body"]
            got = body_series(json.loads(r["body"]))
            run.op(got == want[r["label"]],
                   f"{r['label']}: points differ from the DuckDB restatement")
        else:
            run.op(r["body"] == first[r["label"]],
                   f"{r['label']}: a repeat returned a different body")


def ingest_mixed(run: Run, w: WorkerProc, seed: int, seconds: float, threads: int) -> None:
    from checks import check_rollup_store, landing_rows

    n_live = int(INGEST_RATE * seconds)
    batches = gen.ingest_batches(seed, INGEST_SETUP_POSTS + n_live)
    posts = [gen.encode_post(b, z) for b, z in batches]
    values = [gen.acked_values(b) for b, _ in batches]
    mix = gen.INGEST_MIX

    # warm-up on a service of its own: the widest query of the mix
    # (select *, which compiles every summary function) runs once
    t0 = time.monotonic()
    port = w.call("service", landing=os.path.join(run.out_dir, "warmup", "landing"))["port"]
    for body, headers in posts[:INGEST_SETUP_POSTS]:
        run.op(http_post(port, body, headers) == 200, "warm-up POST failed")
    r = timed_query(port, "star_10m", dict(mix)["star_10m"])
    run.op(r["ok"], f"warm-up select * -> {r['status']}")
    run.note(f"warm-up: {time.monotonic() - t0:.3f}s")

    state = {}

    def rep(k: int) -> None:
        base = os.path.join(run.out_dir, f"ingest{k}")
        port = w.call("service", landing=f"{base}/landing")["port"]
        for body, headers in posts[:INGEST_SETUP_POSTS]:
            status = http_post(port, body, headers)
            run.op(status == 200, f"setup POST -> {status}")
        r = timed_query(port, mix[0][0], mix[0][1])
        run.op(r["ok"], f"setup GET -> {r['status']}")
        state.update(port=port, base=base)

    _setup_reps(run, rep)
    port, base = state["port"], state["base"]
    acked = sum(values[:INGEST_SETUP_POSTS])
    w.call("rollup", store=f"{base}/store", ckpt=f"{base}/ckpt")

    w.call("mark")
    w.call("ticker_start", interval=TICK_INTERVAL_S)
    start = time.monotonic() + 0.05
    sent: list[dict] = []

    def sender() -> None:
        for i in range(n_live):
            due = start + i / INGEST_RATE
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            body, headers = posts[INGEST_SETUP_POSTS + i]
            rec = {"due": due, "sent": time.monotonic(), "i": INGEST_SETUP_POSTS + i}
            try:
                status = http_post(port, body, headers)
            except OSError:
                status = 0
            rec.update(done=time.monotonic(), ok=status == 200, status=status)
            sent.append(rec)

    t_send = threading.Thread(target=sender)
    t_send.start()
    results = closed_loop(port, mix, INGEST_CLIENTS, start + seconds, split=True)
    t_send.join()
    last_ack = max((r["done"] for r in sent), default=time.monotonic())
    run.note("measured window done")
    ticks = w.call("ticker_stop", after=last_ack, timeout=120)["ticks"]

    for r in sent:
        run.op(r["ok"], f"POST {r['i']} -> {r['status']}")
        if r["ok"]:
            acked += values[r["i"]]
    for r in results:
        run.op(r["ok"], f"{r['label']} -> HTTP {r['status']}: {r['body'][:200]!r}")
    for t in ticks:
        run.op(t["ok"], f"tick failed: {t.get('error')}")
    _query_metrics(run, results)

    lat, late = stats.open_loop_timings(sent)
    lat_ms = [x * 1000 for x in lat]
    late_ms = [x * 1000 for x in late]
    run.layers["service.ingest_p50_ms"] = stats.percentile(lat_ms, 50)
    run.layers["service.ingest_p99_ms"] = stats.percentile(lat_ms, 99)
    run.layers["service.generator_lateness_p99_ms"] = stats.percentile(late_ms, 99)
    s = stats.summarize(lat_ms)
    run.note(f"ingest: n={s['n']} at {INGEST_RATE:g}/s, p50={s['p50']:.2f}ms "
             f"p99={run.layers['service.ingest_p99_ms']:.2f}ms tail p{s['tail_p']}="
             f"{s['tail']:.2f}ms; lateness p50={stats.percentile(late_ms, 50):.2f}ms "
             f"max={max(late_ms):.2f}ms; within 100ms: {stats.share_within(lat_ms, 100):.3f}")

    fresh = []
    for r in sent:
        if r["ok"]:
            after = [t["end"] for t in ticks if t["start"] > r["done"]]
            fresh.append(min(after) - r["done"] if after else stats.FAILED)
    tick_s = [t["end"] - t["start"] for t in ticks]
    run.layers["streaming.rollup_tick_p50_s"] = stats.median(tick_s)
    run.layers["streaming.tick_s"] = sum(tick_s) / len(tick_s)
    run.layers["streaming.freshness_p50_s"] = stats.percentile(fresh, 50)
    run.layers["streaming.freshness_p99_s"] = stats.percentile(fresh, 99)
    for f in ("input_rows", "backlog_files", "state_rows", *STREAM_FIELDS):
        run.layers[f"streaming.{f}"] = sum(t[f] for t in ticks) / len(ticks)
    run.note(f"rollup: {len(ticks)} ticks, p50={stats.median(tick_s):.3f}s; freshness "
             f"p50={run.layers['streaming.freshness_p50_s']:.3f}s "
             f"p99={run.layers['streaming.freshness_p99_s']:.3f}s")

    landing = f"{base}/landing"
    files = [f for f in os.listdir(landing) if f.startswith("part-")]
    run.layers["service.landing_files"] = len(files)
    run.layers["service.landing_bytes_per_value"] = (
        sum(os.path.getsize(os.path.join(landing, f)) for f in files) / max(acked, 1)
    )
    rows = landing_rows(landing, threads)
    run.op(rows == acked, f"landing holds {rows} rows, {acked} values were acked")
    errors = check_rollup_store(landing, f"{base}/store", threads)
    run.op(not errors, "; ".join(errors[:5]))


def batch_pipeline(run: Run, w: WorkerProc, seconds: float, oracle: dict, sf_dir: str) -> None:
    def rep(_k: int) -> None:
        w.call("batch_setup", sf=sf_dir)

    _setup_reps(run, rep)
    w.call("mark")
    passes = []
    t_end = time.monotonic() + seconds
    while not passes or time.monotonic() < t_end:
        passes.append(w.call("batch_pass", sf=sf_dir, timeout=600))
    for p in passes:
        for e in p["entries"]:
            run.op(e["ok"], f"{e['name']}: {e.get('error')}")
            if not e["ok"]:
                continue
            want_hash, want_rows = oracle[e["name"]]
            run.op(e["hash"] == want_hash,
                   f"{e['name']}: {e['rows']} rows hash differs from its oracle "
                   f"({want_rows} rows)")
    results = [{"label": e["name"], "start": 0.0, "end": e["wall_s"], "ok": e["ok"]}
               for p in passes for e in p["entries"]]
    _query_metrics(run, results)
    run.layers["operators.batch_s"] = stats.median([p["pass_s"] for p in passes])
    for name in {e["name"] for p in passes for e in p["entries"]}:
        run.layers[f"operators.{name}.wall_s"] = stats.median(
            [e["wall_s"] for p in passes for e in p["entries"] if e["name"] == name])
    run.note(f"batch: {len(passes)} pass(es), median {run.layers['operators.batch_s']:.3f}s")


# ---------------------------------------------------------------------------
# command line
# ---------------------------------------------------------------------------


def run_workload(name: str, seed: int, seconds: float, trace: bool, out_root: str) -> Run:
    from checks import oracle_hashes
    from worker import BATCH_ENTRIES

    out_dir = os.path.join(out_root, f"{name}-{seed}-{int(trace)}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    run = Run(name, out_dir)
    cores = os.cpu_count() or 1
    w = WorkerProc(out_dir, cores, trace)
    try:
        oracle, sf_dir = {}, os.path.join(out_dir, "sf")
        if name == "batch_pipeline":
            # inputs and oracle answers are prepared while the worker boots,
            # on half the cores
            gen.write_batch_tables(seed, sf_dir)
            oracle = oracle_hashes(sf_dir, BATCH_ENTRIES, max(1, cores // 2))
        w.wait_ready()
        env = w.call("hello")
        run.note(f"worker ready (Spark boot {env['boot_s']:.1f}s)")
        if name == "dashboard_read":
            dashboard_read(run, w, seed, seconds, cores)
        elif name == "ingest_mixed":
            ingest_mixed(run, w, seed, seconds, cores)
        else:
            batch_pipeline(run, w, seconds, oracle, sf_dir)
        # calibrated after the workload, on a warm JVM
        env.update(w.call("calibrate"))
        env["workload"], env["seed"], env["trace"] = name, seed, int(trace)
        run.note("env: " + json.dumps(env, sort_keys=True))
        report = w.call("report")
        run.e2e["peak_rss_mb"] = report["peak_rss_mb"]
        if trace:
            run.layers.update(report["layers"], **{"host.calibration_s": env["calibration_s"]})
    except Exception as e:
        run.op(False, f"run aborted: {e!r}")
        print(w.log_tail(), file=sys.stderr)
    finally:
        w.close()
        run.note("worker stopped")
    run.e2e["ok_ratio"] = 1.0 - run.failed / max(run.attempted, 1)
    for err in run.errors:
        print(f"[{name}] CHECK FAILED: {err}", file=sys.stderr)
    if not run.failed:  # a failed run keeps its files for inspection
        for entry in os.listdir(out_dir):
            path = os.path.join(out_dir, entry)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif entry not in ("worker.log", "spans.json"):
                os.remove(path)
    return run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    # a TERM from outside unwinds through the finally blocks that stop the
    # worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "khronus_spark", "service.py")):
        print(f"no khronus_spark package next to {HERE}; run from the repository "
              "root of a khronus-spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_root = os.path.join(ROOT, ".perfbench_out")
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    runs = []
    for n in names:
        run = run_workload(n, args.seed, args.seconds, bool(args.trace), out_root)
        tracing_overhead(run, args.seed, bool(args.trace), out_root)
        runs.append(run)
    return report(runs, bool(args.trace))


def tracing_overhead(run: Run, seed: int, trace: bool, out_root: str) -> None:
    """An untraced run records its end-to-end numbers; a traced run of the
    same workload and seed prints its own next to them."""
    path = os.path.join(out_root, f"e2e-{run.name}-{seed}.json")
    if not trace:
        with open(path, "w") as f:
            json.dump(run.e2e, f)
        return
    try:
        with open(path) as f:
            base = json.load(f)
    except OSError:
        run.note("tracing overhead: no untraced run of this workload and seed to compare")
        return
    for m in ("query_mean_s", "query_p90_s"):
        if base.get(m) and run.e2e.get(m):
            run.note(f"tracing overhead on {m}: {run.e2e[m]:.3f}s traced vs "
                     f"{base[m]:.3f}s untraced ({run.e2e[m] / base[m] - 1:+.1%})")


def _finite(x: float) -> float:
    return float(x) if math.isfinite(x) else REQUEST_TIMEOUT_S


def report(runs: list[Run], trace: bool) -> int:
    lines = []
    for run in runs:
        values = run.layers if trace else run.e2e
        # a failed request's latency is +inf; JSON carries the client timeout
        metrics = {n: {"value": _finite(values.get(n, 0.0)), "unit": u}
                   for n, u in (per_layer_names() if trace else E2E)}
        for n, m in metrics.items():
            print(f"[{run.name}] {n} = {m['value']:.6g} {m['unit']}")
        lines.append({"workload": run.name, "correct": run.failed == 0,
                      "attempted": max(run.attempted, 1), "failed": run.failed,
                      "metrics": metrics})
    if len(lines) == 1:
        out = {k: lines[0][k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        for line in lines:
            print(json.dumps(line))
        out = {
            "correct": all(x["correct"] for x in lines),
            "attempted": sum(x["attempted"] for x in lines),
            "failed": sum(x["failed"] for x in lines),
            "metrics": {f"{x['workload']}.{k}": v
                        for x in lines for k, v in x["metrics"].items()},
        }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
