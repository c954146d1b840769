"""TxnTable: atomic multi-partition commits, snapshot isolation,
optimistic concurrency — the commit log under the streaming SCD2 and
corpus tables.

Every guarantee the module docstring states is pinned here: torn
commits are invisible, pinned snapshots never move, concurrent blind
writers all land with distinct versions, CAS writers detect conflicts
instead of clobbering, vacuum removes only unreferenced staging.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from khronus_spark.sources.txnlog import (
    CommitConflict,
    TxnTable,
    commit_optimistically,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_roundtrip_and_replace(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    assert t.version() == 0 and t.read_all(spark) is None

    v1 = t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    assert v1 == 1
    assert _rows(t.read_partition(spark, "a")) == [(1, "x"), (2, "y")]

    # replacing a partition is a new version; the old snapshot is
    # UNCHANGED (immutability + snapshot isolation)
    v2 = t.commit({"a": _df(spark, [(3, "z")])})
    assert v2 == 2
    assert _rows(t.read_partition(spark, "a")) == [(3, "z")]
    assert _rows(t.read_partition(spark, "a", version=1)) == [(1, "x"), (2, "y")]


def test_multi_partition_commit_is_atomic_and_drop_works(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "a")]), "b": _df(spark, [(2, "b")])})
    # one commit replaces a AND drops b — both effects share a version
    v = t.commit({"a": _df(spark, [(9, "a2")]), "b": None})
    files = t.snapshot_files()
    assert set(files) == {"a"}
    assert _rows(t.read_all(spark, key_col="part")) == [(9, "a2", "a")]
    # at v-1 both partitions still exist
    assert set(t.snapshot_files(v - 1)) == {"a", "b"}


def test_staged_but_uncommitted_data_is_invisible(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")])})
    # stage without committing (simulates a writer dying mid-flight)
    t._stage({"a": _df(spark, [(666, "torn")])})
    assert _rows(t.read_partition(spark, "a")) == [(1, "x")]
    assert t.version() == 1


def test_concurrent_blind_writers_all_land(spark, tmp_path):
    """8 threads commit distinct partitions concurrently: every commit
    must land with a distinct consecutive version and the final state
    must hold all 8 partitions (no lost update, no duplicate version)."""
    t = TxnTable(str(tmp_path / "t"))
    dfs = {f"p{i}": _df(spark, [(i, f"v{i}")]) for i in range(8)}
    versions, errors = [], []

    def worker(key):
        try:
            versions.append(t.commit({key: dfs[key]}))
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in dfs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert sorted(versions) == list(range(1, 9))
    assert set(t.snapshot_files()) == set(dfs)
    got = _rows(t.read_all(spark))
    assert got == sorted((i, f"v{i}") for i in range(8))


def test_cas_commit_detects_conflict(spark, tmp_path):
    """Read-modify-write safety: two writers derive from version 1;
    the first CAS commit wins, the second must raise CommitConflict
    instead of silently clobbering."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")])})
    base = t.version()
    t.commit({"a": _df(spark, [(2, "first")])}, expect_version=base)
    with pytest.raises(CommitConflict):
        t.commit({"a": _df(spark, [(3, "second")])}, expect_version=base)
    # the loser changed nothing
    assert _rows(t.read_partition(spark, "a")) == [(2, "first")]


def test_vacuum_keeps_pinned_versions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "v1")])})
    t.commit({"a": _df(spark, [(2, "v2")])})
    t.commit({"a": _df(spark, [(3, "v3")])})
    # pin version 2: v1's staging may go, v2/v3 must survive
    # (grace_seconds=0: this test IS the externally-quiesced case)
    deleted = t.vacuum(keep_from_version=2, grace_seconds=0)
    assert len(deleted) == 1
    assert _rows(t.read_partition(spark, "a", version=2)) == [(2, "v2")]
    assert _rows(t.read_partition(spark, "a")) == [(3, "v3")]


def test_vacuum_grace_spares_inflight_staging(spark, tmp_path):
    """A writer mid-commit (staged, not yet linked) must not have its
    staging deleted by a default-grace vacuum — only a grace_seconds=0
    vacuum (caller asserts writer quiescence) may remove it."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "v1")])})
    t.commit({"a": _df(spark, [(2, "v2")])})
    staged = t._stage({"a": _df(spark, [(7, "inflight")])})
    # default grace: fresh unreferenced dirs (v1's staging AND the
    # in-flight stage) all survive
    assert t.vacuum() == []
    # the in-flight writer can still land its commit afterwards
    nxt = t.version() + 1
    assert t._try_link(
        nxt, {"version": nxt, "partitions": staged, "committed_at_ms": 0}
    )
    assert _rows(t.read_partition(spark, "a")) == [(7, "inflight")]


def test_cas_rejects_future_expect_version(spark, tmp_path):
    """expect_version ahead of the log must fail FAST (no staging, no
    link): linking past a gap would make the commit permanently
    invisible to _commits_upto while version() still reports it."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")])})
    with pytest.raises(CommitConflict, match="ahead of the log"):
        t.commit({"a": _df(spark, [(2, "gap")])}, expect_version=5)
    # nothing landed, nothing staged became visible, no gap exists
    assert t.version() == 1
    assert _rows(t.read_partition(spark, "a")) == [(1, "x")]


def test_txn_compaction_survives_a_racing_writer(spark, tmp_path):
    """The race the raw delete-then-rename swap cannot survive: a
    writer commits BETWEEN the compaction's read and its commit. The
    CAS makes the stale compaction lose; the retry compacts the new
    content; nothing is lost."""
    from khronus_spark.operators.rollup import compact_partition_txn
    from khronus_spark.sources.txnlog import CommitConflict

    t = TxnTable(str(tmp_path / "t"))
    rows = [(i, i * 10, i) for i in range(50)]
    df = spark.createDataFrame(rows, "count long, ts long, metric long")
    t.commit({"day=0": df})

    # simulate the interleaving by hand: read at v, writer lands, CAS fails
    v = t.version()
    stale = t.read_partition(spark, "day=0", v)
    racing = spark.createDataFrame(
        [(999, 9990, 999)], "count long, ts long, metric long"
    )
    t.commit({"day=0": t.read_partition(spark, "day=0").unionByName(racing)})
    with pytest.raises(CommitConflict):
        t.commit(
            {"day=0": stale.repartitionByRange(1, "metric", "ts")},
            expect_version=v,
        )
    # the retrying helper wins and keeps the racing row
    ver = compact_partition_txn(spark, t, "day=0", n_files=1)
    assert ver == t.version()
    final = _rows(t.read_partition(spark, "day=0"))
    assert (999, 9990, 999) in final and len(final) == 51
    assert compact_partition_txn(spark, t, "missing") is None


# ------------------------------------------------- the LogStore seam
# (round-8 verdict "What's missing" #1: the atomic-visibility
# primitive is a constructor argument with a written contract, and
# the machinery REFUSES stores that cannot provide it rather than
# running degraded and corrupting under the first concurrent writer)


def test_refuses_non_atomic_store(tmp_path):
    """A store that declares it cannot provide put-if-absent (the
    bare-object-store shape) is refused at CONSTRUCTION — before any
    commit could fork the log."""
    from khronus_spark.sources.logstore import (
        LogStoreContractError,
        NonAtomicSimulatedStore,
    )

    with pytest.raises(LogStoreContractError, match="atomic put-if-absent"):
        TxnTable(str(tmp_path / "t"), log_store=NonAtomicSimulatedStore())
    # and even bypassing the capability check, the simulated store's
    # primitive refuses instead of racing
    with pytest.raises(LogStoreContractError, match="conditional PUT"):
        NonAtomicSimulatedStore().put_if_absent(str(tmp_path / "x"), b"")


def test_posix_probe_refuses_overwriting_link(tmp_path, monkeypatch):
    """Simulated non-POSIX filesystem where link() silently overwrites
    (copy-semantics FUSE/SMB bridges): the per-directory live probe
    must detect that fail-if-exists is broken and refuse — this is the
    'would corrupt' case, since two committers would both win."""
    import os as _os

    from khronus_spark.sources.logstore import (
        LogStoreContractError,
        PosixLinkLogStore,
    )

    real_link = _os.link

    def overwriting_link(src, dst, **kw):
        try:
            real_link(src, dst, **kw)
        except FileExistsError:
            _os.unlink(dst)
            real_link(src, dst, **kw)  # last-writer-wins, no error

    monkeypatch.setattr(_os, "link", overwriting_link)
    store = PosixLinkLogStore()
    d = tmp_path / "log"
    d.mkdir()
    with pytest.raises(LogStoreContractError, match="NOT fail-if-exists"):
        store.put_if_absent(str(d / "00000001.json"), b"{}")
    assert not (d / "00000001.json").exists()  # nothing half-published


def test_posix_probe_refuses_missing_link_support(tmp_path, monkeypatch):
    """Simulated store with no hard links at all (raw object-store
    FUSE): refuse with the contract pointer, don't fall back to a
    racy write."""
    import os as _os

    from khronus_spark.sources.logstore import (
        LogStoreContractError,
        PosixLinkLogStore,
    )

    def no_link(src, dst, **kw):
        raise OSError(95, "Operation not supported")

    monkeypatch.setattr(_os, "link", no_link)
    d = tmp_path / "log"
    d.mkdir()
    with pytest.raises(LogStoreContractError, match="conditional-PUT"):
        PosixLinkLogStore().put_if_absent(str(d / "00000001.json"), b"{}")


def test_custom_conforming_store_carries_the_table(spark, tmp_path):
    """A minimal CONFORMING implementation (in-process lock +
    fail-if-exists create — the shape a conditional-PUT client impl
    takes) drives the full commit/snapshot/CAS surface through the
    seam: proves TxnTable never bypasses the interface with a direct
    os.link."""
    import os as _os
    import threading as _threading

    from khronus_spark.sources.logstore import LogStore

    class LockedCreateStore(LogStore):
        atomic_put_if_absent = True

        def __init__(self):
            self._lock = _threading.Lock()
            self.puts = 0

        def put_if_absent(self, path, data):
            with self._lock:
                if _os.path.exists(path):
                    return False
                with open(path + ".tmp", "wb") as fh:
                    fh.write(data)
                _os.rename(path + ".tmp", path)
                self.puts += 1
                return True

    store = LockedCreateStore()
    t = TxnTable(str(tmp_path / "t"), log_store=store)
    t.commit({"a": _df(spark, [(1, "x")])})
    t.commit({"a": _df(spark, [(2, "y")]), "b": _df(spark, [(3, "z")])})
    assert store.puts == 2  # every commit went through the seam
    assert _rows(t.read_partition(spark, "a")) == [(2, "y")]
    assert _rows(t.read_partition(spark, "a", version=1)) == [(1, "x")]
    with pytest.raises(CommitConflict):
        t.commit({"a": None}, expect_version=1)


# ------------------------------- logical (partition-scoped) conflicts
# (round-9: the SCD2 soak starved — a long CAS merge window always
# overlaps a short-cadence compactor under table-scoped conflicts; the
# fix is the Delta/Iceberg concurrency matrix: only a DATA commit on
# an OVERLAPPING key invalidates a derivation)


def test_cas_partitions_scope_survives_disjoint_writer(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")]), "b": _df(spark, [(2, "y")])})
    v = t.version()
    # another writer lands on a DISJOINT key after our snapshot read
    t.commit({"b": _df(spark, [(3, "y2")])})
    # table scope: conflict (unchanged semantics)
    with pytest.raises(CommitConflict):
        t.commit({"a": _df(spark, [(9, "x2")])}, expect_version=v)
    # partitions scope: our derivation of 'a' is untouched — lands
    got = t.commit(
        {"a": _df(spark, [(9, "x2")])},
        expect_version=v,
        conflict_scope="partitions",
    )
    assert got == t.version()
    assert _rows(t.read_partition(spark, "a")) == [(9, "x2")]
    assert _rows(t.read_partition(spark, "b")) == [(3, "y2")]  # not clobbered


def test_cas_partitions_scope_conflicts_on_overlapping_data_commit(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")])})
    v = t.version()
    t.commit({"a": _df(spark, [(2, "newer")])})  # data commit on OUR key
    with pytest.raises(CommitConflict):
        t.commit(
            {"a": _df(spark, [(9, "stale")])},
            expect_version=v,
            conflict_scope="partitions",
        )
    # the concurrent update was not clobbered
    assert _rows(t.read_partition(spark, "a")) == [(2, "newer")]


def test_cas_partitions_scope_overrides_racing_compaction(spark, tmp_path):
    """A compaction-kind commit on an overlapping key is
    content-preserving, so the CAS writer re-links its staged result
    instead of re-deriving — ingest never starves on maintenance; the
    partition is merely uncompacted again."""
    from khronus_spark.operators.rollup import compact_partition_txn

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        {"a": _df(spark, [(1, "x"), (2, "y")]), "b": _df(spark, [(5, "q")])}
    )
    v = t.version()
    # a compactor rewrites BOTH keys (content-identical) after our read
    assert compact_partition_txn(spark, t, "a", n_files=1, sort_cols=("k",))
    assert compact_partition_txn(spark, t, "b", n_files=1, sort_cols=("k",))
    assert t.version() == v + 2
    got = t.commit(
        {"a": _df(spark, [(3, "z")])},
        expect_version=v,
        conflict_scope="partitions",
    )
    assert got == v + 3
    assert _rows(t.read_partition(spark, "a")) == [(3, "z")]
    assert _rows(t.read_partition(spark, "b")) == [(5, "q")]
    # kinds are recorded in the log
    assert t.commit_info(v + 1)["kind"] == "compaction"
    assert t.commit_info(got)["kind"] == "data"


def test_compaction_retries_past_disjoint_and_compaction_commits(spark, tmp_path):
    """compact_partition_txn itself runs partition-scoped: a data
    commit on ANOTHER key between its read and its CAS must not force
    a recompaction round (the commit just re-links)."""
    from khronus_spark.operators.rollup import compact_partition_txn
    from khronus_spark.sources.txnlog import TxnTable as _T

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(2, "b"), (1, "a")]), "other": _df(spark, [(7, "o")])})

    # wrap commit to inject a disjoint data commit between the
    # compactor's snapshot read and its CAS link
    orig = t.commit
    injected = {"done": False}

    def racing_commit(parts, expect_version=None, **kw):
        if not injected["done"] and "a" in parts and kw.get("kind") == "compaction":
            injected["done"] = True
            orig({"other": _df(spark, [(8, "o2")])})
        return orig(parts, expect_version=expect_version, **kw)

    t.commit = racing_commit
    ver = compact_partition_txn(spark, t, "a", n_files=1, sort_cols=("k",))
    assert ver == t.version()
    assert _rows(t.read_partition(spark, "a")) == [(1, "a"), (2, "b")]
    assert _rows(t.read_partition(spark, "other")) == [(8, "o2")]


def test_optimistic_commit_gives_up_after_eight_lost_rounds(spark, tmp_path):
    """The optimistic commit loop shared by the txn upsert sink, the
    streaming SCD2 sink and compact_partition_txn re-derives after every
    CommitConflict, and raises after 8 lost rounds without committing."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(0, "base")])})
    snapshots = []

    def derive(version):
        snapshots.append(version)
        # a racing writer lands a data commit on the touched key after
        # every snapshot read, so every compare-and-swap loses
        t.commit({"a": _df(spark, [(len(snapshots), "racer")])})
        return {"a": _df(spark, [(-1, "ours")])}

    with pytest.raises(RuntimeError, match="lost 8 CAS rounds"):
        commit_optimistically(t, derive)
    # each round re-derived from the version the racer left behind
    assert snapshots == list(range(1, 9))
    # every version is the base commit or a racer: nothing of ours landed
    assert t.version() == 9
    assert _rows(t.read_partition(spark, "a")) == [(8, "racer")]


# ----------------------------------------------- change feed (CDC)


def test_change_feed_inserts_deletes_and_replay(spark, tmp_path):
    """Row-level CDC: replaces emit exact delete+insert deltas
    (multiset semantics via exceptAll), drops emit all-deletes, and
    applying the feed to snapshot(from) reproduces snapshot(to) as a
    multiset — the replay theorem that makes the feed a faithful
    derivation of the log."""
    from khronus_spark.sources.txnlog import change_feed

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")]), "b": _df(spark, [(5, "q")])})
    t.commit({"a": _df(spark, [(1, "x"), (3, "z")])})   # 2 deleted, 3 added
    t.commit({"b": None})                                # drop b
    t.commit({"c": _df(spark, [(9, "new")])})            # create c

    feed = change_feed(spark, t, 1)  # changes AFTER v1
    rows = {(r["_version"], r["_partition"], r["_op"], r["k"], r["v"])
            for r in feed.collect()}
    assert rows == {
        (2, "a", "delete", 2, "y"),
        (2, "a", "insert", 3, "z"),
        (3, "b", "delete", 5, "q"),
        (4, "c", "insert", 9, "new"),
    }

    # replay: snapshot(1) + feed == snapshot(4) as a multiset
    base = [(r["k"], r["v"]) for r in t.read_all(spark, version=1).collect()]
    from collections import Counter

    state = Counter(base)
    for r in sorted(feed.collect(), key=lambda r: r["_version"]):
        if r["_op"] == "insert":
            state[(r["k"], r["v"])] += 1
        else:
            state[(r["k"], r["v"])] -= 1
    final = Counter((r["k"], r["v"]) for r in t.read_all(spark).collect())
    assert state == final


def test_change_feed_skips_compaction_without_reading(spark, tmp_path):
    """Compaction commits are content-preserving by contract, so the
    feed skips them WITHOUT reading their data — a racing compactor
    costs CDC consumers nothing, and the emitted feed is empty."""
    from khronus_spark.operators.rollup import compact_partition_txn
    from khronus_spark.sources.txnlog import change_feed

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(2, "b"), (1, "a")])})
    v = t.version()
    assert compact_partition_txn(spark, t, "a", n_files=1, sort_cols=("k",))

    reads = []
    orig = t.read_partition

    def counting_read(spark_, key, version=None):
        reads.append((key, version))
        return orig(spark_, key, version)

    t.read_partition = counting_read
    feed = change_feed(spark, t, v)
    assert feed is None          # nothing but the compaction in range
    assert reads == []           # and it was never read


def test_change_feed_range_validation(spark, tmp_path):
    from khronus_spark.sources.txnlog import change_feed

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")])})
    with pytest.raises(ValueError, match="ahead of the log"):
        change_feed(spark, t, 0, to_version=5)
    with pytest.raises(ValueError, match="from_version"):
        change_feed(spark, t, 2, to_version=1)
    assert change_feed(spark, t, 1) is None  # empty range


# ----------------------- verified compaction claims (fingerprints)


def test_compaction_claim_is_verified_not_honored(spark, tmp_path):
    """kind="compaction" is a content-preservation CLAIM with three
    silent-corruption surfaces hanging off it (CAS override, CDC skip,
    Delta dataChange:false) — so commit() verifies it: a rewrite that
    changes row count, drops a partition, or creates one is refused,
    and genuine compactions record the per-partition fingerprint."""
    from khronus_spark.operators.rollup import compact_partition_txn

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    v = t.version()
    with pytest.raises(ValueError, match="changes row count"):
        t.commit(
            {"a": _df(spark, [(1, "x")])}, expect_version=v, kind="compaction"
        )
    with pytest.raises(ValueError, match="drop"):
        t.commit({"a": None}, expect_version=v, kind="compaction")
    with pytest.raises(ValueError, match="creates partition"):
        t.commit(
            {"fresh": _df(spark, [(9, "n")])},
            expect_version=v,
            kind="compaction",
        )
    # none of the refused attempts committed
    assert t.version() == v
    # a genuine compaction records its fingerprint in the payload
    cv = compact_partition_txn(spark, t, "a", n_files=1, sort_cols=("k",))
    assert t.commit_info(cv)["fingerprint"] == {"a": 2}


def _forge_compaction_commit(spark, t, key, df):
    """Write a compaction-kind commit JSON directly through the log
    store (bypassing commit()'s verification) — the foreign-writer /
    corrupted-log shape the readers must detect."""
    import json
    import os

    staged = t._stage({key: df})
    version = t.version() + 1
    payload = {
        "version": version,
        "partitions": staged,
        "committed_at_ms": 0,
        "kind": "compaction",  # the lie: no fingerprint, content differs
    }
    assert t.log_store.put_if_absent(
        os.path.join(t._log_dir, f"{version:08d}.json"),
        json.dumps(payload).encode(),
    )
    return version


def test_change_feed_demotes_unverifiable_compaction(spark, tmp_path):
    """A compaction commit with no fingerprint (a writer bypassing
    commit(), or a pre-fingerprint legacy log) must not vanish from
    CDC — the feed DEMOTES it to the data path and emits its TRUE row
    deltas (r10 hardening: degrading costs the reads the skip saved,
    but a forged label can only make the feed slower, never wrong, and
    legacy logs keep working instead of being dead forever)."""
    from khronus_spark.sources.txnlog import change_feed

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    v = t.version()
    _forge_compaction_commit(spark, t, "a", _df(spark, [(7, "forged")]))
    feed = change_feed(spark, t, v)
    got = {(r["k"], r["v"], r["_op"]) for r in feed.collect()}
    assert got == {
        (7, "forged", "insert"),
        (1, "x", "delete"),
        (2, "y", "delete"),
    }


def test_cas_treats_unverifiable_compaction_as_conflict(spark, tmp_path):
    """Partition-scoped CAS may only override a compaction whose
    content-preservation fingerprint checks out; an unverifiable claim
    reads as a data conflict (re-derive is the safe failure)."""
    from khronus_spark.sources.txnlog import CommitConflict

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    v = t.version()
    _forge_compaction_commit(spark, t, "a", _df(spark, [(7, "forged")]))
    with pytest.raises(CommitConflict):
        t.commit(
            {"a": _df(spark, [(3, "z")])},
            expect_version=v,
            conflict_scope="partitions",
        )


def test_compaction_commit_requires_cas(spark, tmp_path):
    """r10 review fix: a BLIND compaction commit is refused up front —
    blind commits retry past intervening commits, so the
    content-preserving claim would have been verified against a
    snapshot that is no longer the pre-image (a racing data commit on
    the same key would be silently reverted under a content-preserving
    label, and the recorded fingerprint would poison later CDC)."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x")])})
    with pytest.raises(ValueError, match="expect_version"):
        t.commit({"a": _df(spark, [(1, "x")])}, kind="compaction")


def _forge_fingerprinted_compaction(spark, t, key, df, fingerprint):
    """The r13 forger: like `_forge_compaction_commit` but RECORDING a
    fingerprint — self-consistent forgeries (staged counts matching
    the forger's own fingerprint) used to pass the staged-side-only
    verification."""
    import json
    import os

    staged = t._stage({key: df}) if df is not None else {key: None}
    version = t.version() + 1
    payload = {
        "version": version,
        "partitions": staged,
        "committed_at_ms": 0,
        "kind": "compaction",
        "fingerprint": fingerprint,
    }
    assert t.log_store.put_if_absent(
        os.path.join(t._log_dir, f"{version:08d}.json"),
        json.dumps(payload).encode(),
    )
    return version


def test_change_feed_demotes_partition_dropping_forged_compaction(
    spark, tmp_path
):
    """r13 review: a forged compaction that DROPS a partition while
    recording the honest pre-image count passed the pre-image-only
    verification and the feed skipped it — the delete rows for the
    whole partition vanished, so applying the feed no longer
    reproduced the target snapshot. Both sides are checked now: a
    null/absent staged dir (or one whose counts disagree) demotes to
    the data path and the TRUE deletes are emitted."""
    from khronus_spark.sources.txnlog import change_feed

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    v = t.version()
    _forge_fingerprinted_compaction(spark, t, "a", None, {"a": 2})
    feed = change_feed(spark, t, v)
    got = {(r["k"], r["v"], r["_op"]) for r in feed.collect()}
    assert got == {(1, "x", "delete"), (2, "y", "delete")}


def test_cas_conflicts_on_self_consistent_forged_compaction(
    spark, tmp_path
):
    """r13 review: the CAS verified the compaction fingerprint against
    the compaction's OWN staged dirs — self-referential, so a forger
    recording its own counts always passed and the partitions-scoped
    re-link silently reverted its (content-changing) commit. The
    fingerprint must also match the PRE-IMAGE; a mismatch is a
    conflict."""
    from khronus_spark.sources.txnlog import CommitConflict

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [(1, "x"), (2, "y")])})
    v = t.version()
    # staged content differs (1 row), fingerprint matches the STAGED
    # side — the exact forge the old check could not see
    _forge_fingerprinted_compaction(
        spark, t, "a", _df(spark, [(7, "forged")]), {"a": 1}
    )
    with pytest.raises(CommitConflict):
        t.commit(
            {"a": _df(spark, [(3, "z")])},
            expect_version=v,
            conflict_scope="partitions",
        )
