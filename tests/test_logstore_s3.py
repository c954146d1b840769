"""The REAL S3 LogStore (boto3, conditional PUT) through the txn
battery, under moto's S3 emulator — which enforces `IfNoneMatch: *`
with an actual 412 PreconditionFailed, so the mutual-exclusion wiring
is exercised against the genuine AWS API shapes, not a hand-rolled
stand-in. This upgrades the ObjectStoreLogStore proof (in-process
byte-faithful semantics) to proof that the production client code
itself is correct; live use differs only in credentials and bucket.

The log lives entirely in (mock) S3 — the nominal `_log` /
`_delta_log` paths never exist on disk, the same no-POSIX-leak
machine proof as the in-process battery. Staged parquet data dirs
stay local by design (outside the atomic-visibility contract)."""

from __future__ import annotations

import os
import threading

import pytest

boto3 = pytest.importorskip("boto3")
moto = pytest.importorskip("moto")

from khronus_spark.sources.logstore import (  # noqa: E402
    LogStoreContractError,
    S3LogStore,
)
from khronus_spark.sources.txnlog import (  # noqa: E402
    CommitConflict,
    TxnTable,
    change_feed,
)

_BUCKET = "khronus-txn-test"


class _AtomicConditionalPut:
    """The boto3 client with S3's per-key atomic conditional PUT. moto
    checks `IfNoneMatch` and stores the object later, under no lock, so
    two racing PUTs of one key can both succeed; real S3 lets exactly
    one win. Conditional PUTs of one key run one at a time here."""

    def __init__(self, client):
        self._client = client
        self._locks: dict[str, threading.Lock] = {}
        self._guard = threading.Lock()

    def put_object(self, **kwargs):
        if "IfNoneMatch" not in kwargs:
            return self._client.put_object(**kwargs)
        with self._guard:
            lock = self._locks.setdefault(kwargs["Key"], threading.Lock())
        with lock:
            return self._client.put_object(**kwargs)

    def __getattr__(self, name):
        return getattr(self._client, name)


@pytest.fixture()
def s3_store():
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=_BUCKET)
        yield S3LogStore(_BUCKET, client=_AtomicConditionalPut(client))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_s3_commit_replace_drop_snapshot(spark, tmp_path, s3_store):
    """The basic txn surface over real-client conditional-PUT
    visibility: commit / replace / drop / snapshot pinning."""
    t = TxnTable(str(tmp_path / "t"), log_store=s3_store)
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")]), "b": _df(spark, [(5, "q")])})
    t.commit({"a": _df(spark, [(1, "x"), (3, "z")])})
    t.commit({"b": None})
    assert t.version() == 3
    assert _rows(t.read_partition(spark, "a", 1)) == [(1, "x"), (2, "y")]
    assert _rows(t.read_partition(spark, "a", 3)) == [(1, "x"), (3, "z")]
    assert t.read_partition(spark, "b", 3) is None
    assert _rows(t.read_all(spark)) == [(1, "x"), (3, "z")]
    # no-POSIX-leak proof: the log dir was never created on disk
    assert not os.path.exists(t._log_dir)


def test_s3_cas_matrix_and_compaction(spark, tmp_path, s3_store):
    """Table- and partition-scoped CAS, and the verified compaction
    path, all through the boto3 client."""
    from khronus_spark.operators.rollup import compact_partition_txn

    t = TxnTable(str(tmp_path / "t"), log_store=s3_store)
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")]), "b": _df(spark, [(5, "q")])})
    v = t.version()
    cv = compact_partition_txn(spark, t, "a", n_files=1, sort_cols=("k",))
    assert t.commit_info(cv)["kind"] == "compaction"
    t.commit({"b": _df(spark, [(6, "r")])})
    got = t.commit(
        {"a": _df(spark, [(9, "w")])},
        expect_version=v,
        conflict_scope="partitions",
    )
    assert got == t.version()
    with pytest.raises(CommitConflict):
        t.commit({"a": _df(spark, [(0, "no")])}, expect_version=v)
    with pytest.raises(CommitConflict):
        t.commit(
            {"a": _df(spark, [(0, "no")])},
            expect_version=got - 1,
            conflict_scope="partitions",
        )
    assert not os.path.exists(t._log_dir)


def test_s3_change_feed_replay_theorem(spark, tmp_path, s3_store):
    """CDC replay: snapshot(from) + feed == snapshot(to), multiset,
    with the log read through the S3 client."""
    from collections import Counter

    t = TxnTable(str(tmp_path / "t"), log_store=s3_store)
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    t.commit({"a": _df(spark, [(1, "x"), (3, "z")]), "b": _df(spark, [(7, "n")])})
    t.commit({"b": None})
    feed = change_feed(spark, t, 1)
    state = Counter(
        (r["k"], r["v"]) for r in t.read_all(spark, version=1).collect()
    )
    for r in feed.collect():
        state[(r["k"], r["v"])] += 1 if r["_op"] == "insert" else -1
    state = Counter({k: n for k, n in state.items() if n})
    final = Counter((r["k"], r["v"]) for r in t.read_all(spark).collect())
    assert state == final
    assert not os.path.exists(t._log_dir)


def test_s3_mutual_exclusion_threads(s3_store):
    """Guarantee 1 against the real client: N concurrent conditional
    PUTs for one key — exactly one True."""
    results = []
    barrier = threading.Barrier(6)

    def attempt(i):
        barrier.wait()
        results.append(
            s3_store.put_if_absent("/x/_log/000001.json", b"w%d" % i)
        )

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert results.count(True) == 1 and results.count(False) == 5
    # the winner's bytes are what readers see, complete
    body = s3_store.read_bytes("/x/_log/000001.json")
    assert body in {b"w%d" % i for i in range(6)}


def test_s3_delta_export_roundtrip(spark, tmp_path, s3_store):
    """Delta export writes and the clean-room reader both route log
    I/O through the seam: the exported `_delta_log` lives in (mock)
    S3, never on disk, and every version round-trips."""
    from khronus_spark.sources.delta_export import (
        export_delta_log,
        read_delta_snapshot,
    )

    t = TxnTable(str(tmp_path / "t"), log_store=s3_store)
    t.commit({"a": _df(spark, [(1, "x")])})
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")]), "b": _df(spark, [(9, "p")])})
    t.commit({"b": None})
    assert export_delta_log(spark, t) == 3
    assert export_delta_log(spark, t) == 0  # incremental + idempotent
    for txn_v in range(1, 4):
        got = read_delta_snapshot(
            spark, t.root, txn_v - 1, log_store=s3_store
        )
        want = t.read_all(spark, version=txn_v)
        got_rows = set() if got is None else set(map(tuple, got.collect()))
        want_rows = set() if want is None else set(map(tuple, want.collect()))
        assert got_rows == want_rows, f"txn version {txn_v}"
    assert not os.path.exists(os.path.join(t.root, "_delta_log"))


def test_s3_refuses_put_outside_log_namespace(s3_store):
    with pytest.raises(LogStoreContractError):
        s3_store.put_if_absent("/data/part-0.parquet", b"bytes")


def test_s3_read_missing_raises_filenotfound(s3_store):
    with pytest.raises(FileNotFoundError):
        s3_store.read_bytes("/x/_log/does-not-exist.json")
