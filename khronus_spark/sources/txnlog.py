"""A minimal filesystem commit log: atomic multi-partition overwrite
with snapshot reads and optimistic concurrency — the transactional
sink of the streaming SCD2 and corpus tables (`streaming/scd2.py`,
`streaming/corpus.py`), built from the one primitive a POSIX
filesystem (and HDFS) actually guarantees.

The summary store stays plain parquet overwrite-by-key
(`streaming/ingest.py::upsert_sink`), correct under its single
writer. Tables whose writers race need the reference's idempotent
set-upsert (`store/BucketStore.scala:159-172` — Cassandra's "INSERT is
an upsert" contract) to be concurrent-writer-safe, and `delta-spark`
is not a dependency. This module provides that with a
delta-shaped log whose entire correctness rests on ONE primitive:
`os.link(tmp, final)` is atomic and fails if `final` exists (POSIX).
Everything else is immutable files.

Layout:

    <root>/_log/00000001.json …   one JSON per commit, linked into
                                  place atomically; version = filename
    <root>/data/<token>/<pkey>/   immutable staged parquet, one dir
                                  per (commit attempt, partition key)

A commit maps partition keys to staged directories (or None = drop).
The LATEST commit mentioning a key owns it — so one commit replaces /
drops any number of partitions ATOMICALLY: readers either see all of
its changes or none, because visibility is the single link() of the
commit file. Writers race on the next version number; the loser's
link() fails and it retries against the refreshed log (blind mode) or
raises `CommitConflict` (compare-and-swap mode, for read-modify-write
transactions that must not clobber a concurrent update — the upsert
path). Staged data of a failed attempt is unreferenced garbage, never
visible.

Guarantees (stated exactly, not aspirationally):
- atomic visibility per commit (readers never see a torn commit);
- snapshot isolation for readers that pin a version: data files are
  immutable and never deleted by this module (`vacuum` is the
  caller's offline step, removing only dirs unreferenced by every
  commit ≤ the oldest pinned version);
- linearizable commit order (the version sequence has no gaps at the
  moment of each successful link);
- the visibility primitive is a constructor argument
  (`sources/logstore.py::LogStore`): `PosixLinkLogStore` (default)
  covers local and SHARED POSIX mounts, where `os.link` is the atomic
  fail-if-exists primitive, and live-probes each log directory on
  first write so a mount that fakes link with overwrite semantics is
  REFUSED instead of silently forking the log. Object stores need a
  conditional-PUT implementation (S3 `If-None-Match: *`, GCS
  `if-generation-match: 0` — the exact contract is written in
  logstore.py); a store that declares it cannot provide the primitive
  is refused at construction (`LogStoreContractError`), never run
  degraded. HDFS's `create(overwrite=false)` is the equivalent
  primitive; a thin client impl slots into the same seam.

Reference parity: BucketStore.scala:159-172 (idempotent set-upsert —
re-committing the same partition content is a new version with equal
data); TimeWindowChain's re-derive-only-what-changed discipline is
what partition-granular replacement preserves.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .logstore import LogStore, LogStoreContractError, PosixLinkLogStore


class CommitConflict(Exception):
    """Raised by compare-and-swap commits when the table moved past
    `expect_version` — the caller must re-read and re-derive."""


def _parquet_dir_rows(path: str) -> int:
    """Row count of a staged parquet dir from FOOTER METADATA only —
    the cheap content fingerprint that keeps kind="compaction" honest
    (no row reads; one metadata fetch per file). Staged data dirs are
    plain write-once files outside the LogStore seam (same rationale as
    `vacuum`), so a direct listdir is the intended access path."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return total


class TxnTable:
    """A transactional parquet table keyed by string partitions."""

    def __init__(self, root: str, log_store: LogStore | None = None):
        store = PosixLinkLogStore() if log_store is None else log_store
        if not store.atomic_put_if_absent:
            # refuse, never run degraded: without the primitive, two
            # concurrent committers can both "win" a version and the
            # log forks — see logstore.py for the contract a cloud
            # implementation must meet
            raise LogStoreContractError(
                f"{type(store).__name__} declares it cannot provide "
                "atomic put-if-absent; TxnTable's entire correctness "
                "rests on that primitive (logstore.py documents the "
                "conditional-PUT contract an object-store "
                "implementation needs)"
            )
        self.log_store = store
        self.root = root
        self._log_dir = os.path.join(root, "_log")
        store.makedirs(self._log_dir)
        store.makedirs(os.path.join(root, "data"))

    # ------------------------------------------------------------ log
    def version(self) -> int:
        """Latest committed version (0 = empty table)."""
        best = 0
        for name in self.log_store.list_names(self._log_dir):
            if name.endswith(".json"):
                try:
                    best = max(best, int(name[:-5]))
                except ValueError:
                    continue
        return best

    def _commits_upto(self, version: int) -> list[dict]:
        out = []
        for v in range(1, version + 1):
            path = os.path.join(self._log_dir, f"{v:08d}.json")
            if not self.log_store.exists(path):
                # a gap can only be a concurrent writer mid-link at the
                # listing instant; commits are ordered, so stop here
                break
            out.append(json.loads(self.log_store.read_bytes(path)))
        return out

    def commit_info(self, version: int) -> dict:
        """The commit payload of one version (partitions map +
        `committed_at_ms`) — bounded metadata, one small JSON read.
        Consumers that must be DETERMINISTIC across processes (the
        Delta export derives its action timestamps from here, so
        racing exporters produce byte-identical commit files) read
        the recorded commit time instead of their own clock."""
        path = os.path.join(self._log_dir, f"{version:08d}.json")
        return json.loads(self.log_store.read_bytes(path))

    def snapshot_files(self, version: int | None = None) -> dict[str, str]:
        """partition key → staged data dir (absolute), at `version`
        (default: latest). Keys whose latest mention is a drop are
        absent."""
        v = self.version() if version is None else version
        live: dict[str, str | None] = {}
        for c in self._commits_upto(v):
            for key, rel in c["partitions"].items():
                live[key] = rel
        return {
            k: os.path.join(self.root, rel)
            for k, rel in live.items()
            if rel is not None
        }

    # --------------------------------------------------------- writes
    def _stage(self, parts: dict[str, DataFrame | None]) -> dict[str, str | None]:
        # staged dirs are numbered, never named after the key (keys may
        # contain path separators); the key→dir map lives only in the
        # commit JSON
        token = uuid.uuid4().hex[:12]
        staged: dict[str, str | None] = {}
        for i, (key, df) in enumerate(sorted(parts.items())):
            if df is None:
                staged[key] = None
                continue
            rel = os.path.join("data", token, f"p{i}")
            df.write.mode("error").parquet(os.path.join(self.root, rel))
            staged[key] = rel
        return staged

    def _try_link(self, version: int, payload: dict) -> bool:
        # the name survives from the pre-seam implementation; the
        # primitive itself now lives behind LogStore.put_if_absent
        final = os.path.join(self._log_dir, f"{version:08d}.json")
        return self.log_store.put_if_absent(
            final, json.dumps(payload).encode()
        )

    def commit(
        self,
        parts: dict[str, DataFrame | None],
        expect_version: int | None = None,
        max_retries: int = 64,
        kind: str = "data",
        conflict_scope: str = "table",
    ) -> int:
        """Atomically replace (DataFrame) / drop (None) the given
        partitions. Returns the committed version.

        Blind mode (default): retries past concurrent committers —
        correct for writers whose content does not depend on table
        state (append-style ingest, independent partitions).

        CAS mode (`expect_version=V`): the commit is derived from the
        snapshot at V; if another writer got there first the default
        (`conflict_scope="table"`) raises `CommitConflict` WITHOUT
        committing — required for read-modify-write transactions
        (merge/upsert derived from a snapshot), where blind retry
        would silently clobber the concurrent update. `expect_version`
        must not exceed the current version: linking V+1 past a gap
        would leave that commit (and every later one) permanently
        invisible to `_commits_upto`.

        `conflict_scope="partitions"` is the LOGICAL-conflict CAS (the
        Delta/Iceberg concurrency matrix): an intervening commit only
        conflicts when it could invalidate what this writer derived —
        i.e. it is a `kind="data"` commit touching one of THIS
        commit's partition keys. Two other cases re-link the SAME
        staged data at the new version (no re-derivation, no
        recompute):
        - disjoint keys: the snapshot this commit was derived from is
          unchanged for its own keys;
        - `kind="compaction"` commits on ANY keys: compaction is
          content-preserving by construction (`compact_partition_txn`
          reads the partition at a pinned version and CAS-commits the
          rewrite), so the content this writer derived from is still
          the content, just in different files. This is the rule that
          keeps INGEST from starving under a racing compactor — the
          round-9 SCD2 soak starved in exactly this shape (a long
          merge window always overlaps a short-cadence compactor) —
          and mirrors production table services, where rewrite
          maintenance must never block or abort updates; losing a
          compaction's files to the override is safe (the partition
          is merely uncompacted again).
        The writer's own `kind` declares what the COMMIT is — but the
        claim is VERIFIED, not honored: a "compaction" commit must
        replace existing partitions with staged data of exactly equal
        row count (parquet-footer metadata, no row reads), and the
        per-partition counts are recorded in the commit payload as
        `fingerprint`, which `_logical_conflict` and `change_feed`
        re-check against the pre-image before relying on the
        content-preserving contract. Three silent-corruption surfaces
        hung off the unverified flag (partition-scoped CAS overriding a
        mislabeled commit, CDC dropping its row deltas, Delta export
        stamping dataChange:false); the fingerprint closes all three at
        the cost of one footer scan per compaction commit."""
        if kind not in ("data", "compaction"):
            raise ValueError(f"unknown commit kind {kind!r}")
        if conflict_scope not in ("table", "partitions"):
            raise ValueError(f"unknown conflict_scope {conflict_scope!r}")
        if expect_version is not None and expect_version > self.version():
            raise CommitConflict(
                f"expect_version={expect_version} is ahead of the log "
                f"(latest={self.version()}); committing past a gap would "
                "make the commit permanently invisible"
            )
        if kind == "compaction" and expect_version is None:
            # a blind commit retries past intervening commits, so the
            # content-preserving claim would have been verified against
            # a snapshot that is no longer the pre-image — a racing
            # data commit on the same key would be silently reverted
            # under a content-preserving label (and the recorded
            # fingerprint would disagree with the real pre-image,
            # poisoning every later change_feed crossing it)
            raise ValueError(
                'kind="compaction" requires expect_version (CAS): the '
                "fingerprint is only meaningful against the exact "
                "pre-image the commit verified it on"
            )
        staged = self._stage(parts)
        fingerprint: dict[str, int] | None = None
        if kind == "compaction":
            base = self.snapshot_files(expect_version)
            fingerprint = {}
            for key, rel in staged.items():
                if rel is None:
                    raise ValueError(
                        f"compaction commit drops partition {key!r}; a "
                        "drop is not content-preserving — commit it as "
                        'kind="data"'
                    )
                if key not in base:
                    raise ValueError(
                        f"compaction commit creates partition {key!r} "
                        "(absent from the pre-image snapshot); creation "
                        'is not content-preserving — commit it as '
                        'kind="data"'
                    )
                n_staged = _parquet_dir_rows(os.path.join(self.root, rel))
                n_base = _parquet_dir_rows(base[key])
                if n_staged != n_base:
                    raise ValueError(
                        f"commit claims kind=\"compaction\" but partition "
                        f"{key!r} changes row count {n_base} -> {n_staged}; "
                        "a non-content-preserving rewrite must commit as "
                        'kind="data" (partition-scoped CAS writers would '
                        "silently override it and CDC would drop its "
                        "deltas otherwise)"
                    )
                fingerprint[key] = n_staged
        attempt = (expect_version if expect_version is not None else self.version()) + 1
        for _ in range(max_retries):
            payload = {
                "version": attempt,
                "partitions": staged,
                "committed_at_ms": int(time.time() * 1000),
                "kind": kind,
            }
            if fingerprint is not None:
                payload["fingerprint"] = fingerprint
            if self._try_link(attempt, payload):
                return attempt
            if expect_version is None:
                attempt = max(attempt + 1, self.version() + 1)
                continue
            latest = self.version()
            if conflict_scope == "partitions" and not self._logical_conflict(
                attempt, latest, set(staged)
            ):
                # every intervening commit is compaction-kind or
                # disjoint-keyed: the derivation is still valid, land
                # the same staged data at the new head
                attempt = latest + 1
                continue
            raise CommitConflict(
                f"version {attempt} taken; table moved past "
                f"expect_version={expect_version}"
            )
        raise RuntimeError(f"commit did not land after {max_retries} attempts")

    def _logical_conflict(
        self, from_version: int, to_version: int, keys: set[str]
    ) -> bool:
        """True if any commit in [from_version, to_version] is a
        data-kind commit touching `keys` (or unreadable — conservative:
        a mid-link gap reads as a conflict rather than a green light).

        Compaction commits are exempt only when their recorded
        `fingerprint` checks out on BOTH sides (r13 review): the
        PRE-IMAGE (the partition's rows at v−1) must match the
        fingerprint — proving the claim describes what was actually
        there — AND the staged dirs must match it — proving the commit
        preserves it. Staged-side-only verification was
        self-referential: `commit()` records the fingerprint FROM the
        staged dirs, so any forger recording its own counts passed,
        and a content-changing foreign commit was silently overridden
        by the partitions-scoped CAS re-link. A compaction touching
        `keys` that carries no fingerprint (a foreign writer bypassing
        `commit`), or fails either side, is a CONFLICT — re-deriving
        is the safe failure for an unverifiable content-preservation
        claim. (Count fingerprints cannot catch an equal-count content
        swap; that residual is inherent to the design.)"""
        for v in range(from_version, to_version + 1):
            try:
                info = self.commit_info(v)
            except OSError:
                return True
            if info.get("kind", "data") != "compaction":
                if set(info["partitions"]) & keys:
                    return True
                continue
            touched = set(info["partitions"]) & keys
            if not touched:
                continue
            fp = info.get("fingerprint")
            if fp is None:
                return True  # unverifiable claim: conservative conflict
            try:
                pre_files = self.snapshot_files(v - 1)
            except OSError:
                return True
            for key in touched:
                rel = info["partitions"][key]
                pre = pre_files.get(key)
                if rel is None or pre is None:
                    return True
                try:
                    n = _parquet_dir_rows(os.path.join(self.root, rel))
                    n_pre = _parquet_dir_rows(pre)
                except OSError:
                    # staged dir gone (vacuumed past this superseded
                    # version): unverifiable — conservative conflict,
                    # never a crash out of the CAS path
                    return True
                if n != fp.get(key) or n_pre != fp.get(key):
                    return True
        return False

    # ---------------------------------------------------------- reads
    def read_partition(
        self, spark: SparkSession, key: str, version: int | None = None
    ) -> DataFrame | None:
        path = self.snapshot_files(version).get(key)
        return None if path is None else spark.read.parquet(path)

    def read_all(
        self,
        spark: SparkSession,
        version: int | None = None,
        key_col: str | None = None,
    ) -> DataFrame | None:
        """Union of every live partition (schemas must agree);
        `key_col` adds the partition key as a literal column. None for
        an empty table."""
        from pyspark.sql import functions as F

        files = self.snapshot_files(version)
        out = None
        for key in sorted(files):
            df = spark.read.parquet(files[key])
            if key_col is not None:
                df = df.withColumn(key_col, F.lit(key))
            out = df if out is None else out.unionByName(df)
        return out

    # ------------------------------------------------------- upkeep
    def vacuum(
        self, keep_from_version: int = 1, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Delete staged dirs unreferenced by EVERY commit ≥
        `keep_from_version` (callers pin the oldest snapshot they still
        serve). Returns deleted dirs.

        Offline step by contract — run it only when no READER holds an
        older version AND no WRITER may be mid-commit: a concurrent
        writer's staged-but-not-yet-linked dirs are indistinguishable
        from garbage (the `_stage` → `_try_link` window), so deleting
        them would let a commit land referencing missing files. As a
        belt-and-braces guard for imperfect coordination,
        `grace_seconds` skips staged dirs younger than the grace window
        (mtime-based, Delta VACUUM's convention); pass 0 only when
        writer quiescence is externally guaranteed.

        Local-FS surface by design: vacuum walks `data/` with
        os.listdir/getmtime/rmtree rather than the LogStore seam —
        it touches DATA dirs (plain write-once parquet, outside the
        atomic-visibility contract), and a cloud deployment's
        lifecycle tooling (object expiry keyed off the same
        referenced-set computation) replaces this walk wholesale
        rather than reimplementing it call-for-call."""
        import shutil

        latest = self.version()
        now = time.time()
        referenced: set[str] = set()
        for c in self._commits_upto(latest):
            if c["version"] >= keep_from_version:
                for rel in c["partitions"].values():
                    if rel is not None:
                        referenced.add(os.path.join(self.root, rel))
        # also everything still live at keep_from_version's snapshot
        referenced.update(
            self.snapshot_files(min(keep_from_version, latest)).values()
        )
        data_root = os.path.join(self.root, "data")
        deleted = []
        for token in os.listdir(data_root):
            tdir = os.path.join(data_root, token)
            for key in os.listdir(tdir):
                pdir = os.path.join(tdir, key)
                if pdir in referenced:
                    continue
                try:
                    age = now - os.path.getmtime(pdir)
                except OSError:
                    continue  # raced with a concurrent delete
                if age < grace_seconds:
                    continue  # possibly a writer mid-commit
                shutil.rmtree(pdir, ignore_errors=True)
                deleted.append(pdir)
            if not os.listdir(tdir):
                os.rmdir(tdir)
        return deleted


#: lost compare-and-swap rounds after which an optimistic commit gives up
CAS_ROUNDS = 8


def commit_optimistically(
    table: TxnTable,
    derive: Callable[[int], dict[str, DataFrame | None] | None],
    kind: str = "data",
) -> int | None:
    """The optimistic read-modify-write loop of every snapshot-derived
    writer: derive the partitions to commit from the latest version
    (`derive(version)`), compare-and-swap them against it with
    partition-scoped conflicts (`TxnTable.commit`), and on
    `CommitConflict` derive again from the new version. Returns the
    committed version, or None when `derive` returns None. Raises
    RuntimeError after `CAS_ROUNDS` lost rounds, having committed
    nothing."""
    for _ in range(CAS_ROUNDS):
        version = table.version()
        parts = derive(version)
        if parts is None:
            return None
        try:
            return table.commit(
                parts,
                expect_version=version,
                kind=kind,
                conflict_scope="partitions",
            )
        except CommitConflict:
            continue
    raise RuntimeError(
        f"optimistic commit lost {CAS_ROUNDS} CAS rounds; table too hot"
    )


def change_feed(
    spark: SparkSession,
    table: TxnTable,
    from_version: int,
    to_version: int | None = None,
):
    """Row-level change-data-feed between two versions — the CDC
    surface of the commit log (the Delta CDF analogue, derived rather
    than stored: the log already knows which partitions each commit
    touched, and partitions are immutable snapshots, so the row-level
    delta is two `exceptAll`s per touched partition).

    For each commit v in (from_version, to_version] and each partition
    key it touched, emits the data rows added and removed vs v-1 with
    three metadata columns: `_version`, `_partition`, `_op`
    ('insert' | 'delete'). An updated row appears as delete+insert
    (the store has no row identity by design; sinks that upsert by a
    key column MERGE on it). `exceptAll` keeps duplicate-row
    multiplicity exact, so applying the feed to snapshot(from_version)
    reproduces snapshot(to_version) as a multiset — test-pinned.

    Commits with kind='compaction' are SKIPPED WITHOUT READING DATA:
    they are content-preserving by construction (the same contract the
    partition-scoped CAS relies on), so their row-level delta is empty
    by definition — a through-the-log compactor costs CDC consumers
    nothing. The claim is VERIFIED first (recorded fingerprint vs the
    pre-image's parquet-footer counts, no row reads); a compaction
    whose fingerprint is missing (a pre-fingerprint legacy commit, or
    a foreign writer bypassing `commit`) or disagrees is DEMOTED to
    the data path: its true row deltas are computed and emitted.
    Degrading costs the reads the skip saved, but CDC stays CORRECT on
    any log — a forged label can make the feed slower, never wrong,
    and legacy logs keep working.

    Scale shape: work is bounded by the TOUCHED partitions of the
    requested version range (never the table), each read at pinned
    versions from immutable files; the per-partition delta is one
    co-partitionable exceptAll pair. The live partition map is
    maintained INCREMENTALLY across the version loop (one
    snapshot_files replay at from_version, then per-commit dict
    updates) — a feed over a long log is O(range), not O(range x
    log-length). Returns None when the range contains no data
    commits."""
    from pyspark.sql import functions as F

    to_v = table.version() if to_version is None else to_version
    if to_v > table.version():
        raise ValueError(
            f"to_version={to_v} is ahead of the log "
            f"(latest={table.version()})"
        )
    if from_version < 0 or from_version > to_v:
        raise ValueError(
            f"need 0 <= from_version <= to_version, got "
            f"{from_version}..{to_v}"
        )
    out = None
    # the live (key -> abs dir) map AT v-1, updated per commit below
    files = dict(table.snapshot_files(from_version))
    for v in range(from_version + 1, to_v + 1):
        info = table.commit_info(v)
        skip = False
        if info.get("kind", "data") == "compaction":
            skip = True
            fp = info.get("fingerprint")
            for key in info["partitions"]:
                recorded = None if fp is None else fp.get(key)
                base_dir = files.get(key)
                rel = info["partitions"][key]
                # BOTH sides must match the fingerprint (r13 review):
                # the pre-image proves the claim describes what was
                # there, the STAGED side proves the commit preserves
                # it — pre-image-only verification let a forged
                # compaction that drops/rewrites a partition (with an
                # honest pre-image count) skip as content-preserving,
                # and the feed silently lost its deltas
                try:
                    verified = (
                        recorded is not None
                        and base_dir is not None
                        and rel is not None
                        and _parquet_dir_rows(base_dir) == recorded
                        and _parquet_dir_rows(
                            os.path.join(table.root, rel)
                        )
                        == recorded
                    )
                except OSError:
                    verified = False
                if not verified:
                    skip = False  # demote: emit its real deltas below
                    break
        if skip:
            _apply_commit(files, table.root, info)
            continue  # verified content-preserving: empty delta
        for key in info["partitions"]:
            prev_dir = files.get(key)
            prev = (
                None if prev_dir is None else spark.read.parquet(prev_dir)
            )
            cur_rel = info["partitions"][key]
            cur = (
                None
                if cur_rel is None
                else spark.read.parquet(os.path.join(table.root, cur_rel))
            )
            deltas = []
            if cur is not None and prev is not None:
                deltas.append((cur.exceptAll(prev), "insert"))
                deltas.append((prev.exceptAll(cur), "delete"))
            elif cur is not None:
                deltas.append((cur, "insert"))
            elif prev is not None:
                deltas.append((prev, "delete"))
            for df, op in deltas:
                tagged = df.select(
                    "*",
                    F.lit(v).alias("_version"),
                    F.lit(key).alias("_partition"),
                    F.lit(op).alias("_op"),
                )
                out = tagged if out is None else out.unionByName(tagged)
        _apply_commit(files, table.root, info)
    return out


def _apply_commit(files: dict, root: str, info: dict) -> None:
    """Advance a live (key -> abs dir) snapshot map by one commit —
    the incremental step change_feed uses instead of replaying the log
    per version."""
    for key, rel in info["partitions"].items():
        if rel is None:
            files.pop(key, None)
        else:
            files[key] = os.path.join(root, rel)
