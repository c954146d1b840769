"""Delta-protocol export of the TxnTable commit log: clean-room
reader ∘ exporter == TxnTable snapshots version-for-version, log
immutability/incrementality, and spec-shape conformance."""

from __future__ import annotations

import json
import os

import pytest

from khronus_spark.sources.delta_export import (
    export_delta_log,
    exported_delta_version,
    read_delta_snapshot,
)
from khronus_spark.sources.txnlog import TxnTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "metric string, ts long, count long")


def _content(df):
    return set() if df is None else {tuple(r) for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    """Four commits: create two partitions, replace one, add a third,
    drop one — every action kind the exporter must translate."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        {
            "day=1": _df(spark, [("a", 1, 10), ("b", 1, 20)]),
            "day=2": _df(spark, [("a", 2, 30)]),
        }
    )
    t.commit({"day=1": _df(spark, [("a", 1, 11), ("c", 1, 5)])})
    t.commit({"day=3": _df(spark, [("z", 3, 99)])})
    t.commit({"day=2": None})
    return t


def test_export_roundtrips_every_version(spark, table):
    """Time travel: delta version v-1 read by the clean-room reader
    equals the TxnTable snapshot at version v, for every v."""
    assert export_delta_log(spark, table) == 4
    for txn_v in range(1, table.version() + 1):
        got = _content(read_delta_snapshot(spark, table.root, txn_v - 1))
        want = _content(table.read_all(spark, version=txn_v))
        assert got == want, f"txn version {txn_v}"
    # latest (default) == latest txn snapshot
    assert _content(read_delta_snapshot(spark, table.root)) == _content(
        table.read_all(spark)
    )


def test_export_is_incremental_and_immutable(spark, table):
    """Exported commit files are the Delta contract: a second export
    after new commits appends only the new versions and leaves the
    existing files byte-identical; re-export with nothing new is a
    no-op."""
    export_delta_log(spark, table, upto_version=2)
    assert exported_delta_version(table) == 1
    log_dir = os.path.join(table.root, "_delta_log")
    before = {
        n: open(os.path.join(log_dir, n), "rb").read()
        for n in os.listdir(log_dir)
        if n.endswith(".json")
    }
    assert export_delta_log(spark, table) == 2  # versions 2 and 3
    after = {n: open(os.path.join(log_dir, n), "rb").read() for n in before}
    assert before == after
    assert export_delta_log(spark, table) == 0


def test_log_shape_conforms_to_spec(spark, table):
    """Version 0 carries protocol + metaData; every add has
    path/size/modificationTime/dataChange with a RELATIVE path that
    exists; removes reference previously-added paths; filenames are
    20-digit zero-padded."""
    export_delta_log(spark, table)
    log_dir = os.path.join(table.root, "_delta_log")
    names = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    assert names == [f"{v:020d}.json" for v in range(4)]
    added: set[str] = set()
    for i, name in enumerate(names):
        actions = [
            json.loads(line)
            for line in open(os.path.join(log_dir, name))
            if line.strip()
        ]
        kinds = [next(iter(a)) for a in actions]
        if i == 0:
            assert kinds[0] == "protocol" and kinds[1] == "metaData"
            assert actions[0]["protocol"]["minReaderVersion"] == 1
            meta = actions[1]["metaData"]
            assert meta["format"]["provider"] == "parquet"
            assert meta["partitionColumns"] == []
            # schemaString parses as a Spark schema
            from pyspark.sql.types import StructType

            StructType.fromJson(json.loads(meta["schemaString"]))
        for a in actions:
            if "add" in a:
                add = a["add"]
                assert not os.path.isabs(add["path"])
                full = os.path.join(table.root, add["path"])
                assert os.path.isfile(full)
                assert add["size"] == os.path.getsize(full)
                assert add["dataChange"] is True
                assert add["partitionValues"] == {}
                added.add(add["path"])
            elif "remove" in a:
                assert a["remove"]["path"] in added
                assert a["remove"]["dataChange"] is True


def test_reader_refuses_gaps_and_future_protocol(spark, table, tmp_path):
    export_delta_log(spark, table)
    log_dir = os.path.join(table.root, "_delta_log")
    # unknown version
    with pytest.raises(ValueError, match="not in the log"):
        read_delta_snapshot(spark, table.root, version=99)
    # a gap in the log must refuse, not silently skip
    os.rename(
        os.path.join(log_dir, f"{1:020d}.json"),
        os.path.join(log_dir, f"{1:020d}.json.bak"),
    )
    with pytest.raises(ValueError, match="gaps"):
        read_delta_snapshot(spark, table.root)
    os.rename(
        os.path.join(log_dir, f"{1:020d}.json.bak"),
        os.path.join(log_dir, f"{1:020d}.json"),
    )
    # future protocol refuses loudly
    t2 = TxnTable(str(tmp_path / "p3"))
    t2.commit({"k": _df(spark, [("a", 1, 1)])})
    export_delta_log(spark, t2)
    p = os.path.join(t2.root, "_delta_log", f"{0:020d}.json")
    lines = open(p).read().splitlines()
    lines[0] = json.dumps(
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}
    )
    open(p, "w").write("\n".join(lines) + "\n")
    with pytest.raises(ValueError, match="newer reader"):
        read_delta_snapshot(spark, t2.root)


def test_empty_and_heterogeneous_exports_refuse(spark, tmp_path):
    t = TxnTable(str(tmp_path / "e"))
    with pytest.raises(ValueError, match="nothing to export"):
        export_delta_log(spark, t)
    # a table whose FIRST version is already empty has no schema to
    # publish in Delta commit 0 — still refuses
    t.commit({"k": None})
    with pytest.raises(ValueError, match="empty table"):
        export_delta_log(spark, t)
    # heterogeneous schemas refuse
    t2 = TxnTable(str(tmp_path / "h"))
    t2.commit({"k1": _df(spark, [("a", 1, 1)])})
    t2.commit(
        {"k2": spark.createDataFrame([(1.5,)], "x double")}
    )
    with pytest.raises(ValueError, match="heterogeneous"):
        export_delta_log(spark, t2)


def test_empty_snapshot_exports_as_removes_only_commit(spark, tmp_path):
    """Dropping the LAST live partition must not strand the export:
    the empty version becomes a removes-only Delta commit reusing the
    last published metaData (Delta versions are contiguous — one
    unexportable version would make every later commit permanently
    unexportable), the reader sees an empty snapshot there, and later
    commits keep exporting."""
    t = TxnTable(str(tmp_path / "eo"))
    t.commit({"k": _df(spark, [("a", 1, 1)])})
    t.commit({"k": None})  # snapshot at v2 is EMPTY
    t.commit({"k": _df(spark, [("b", 2, 7)])})  # table lives on
    assert export_delta_log(spark, t) == 3
    log_dir = os.path.join(t.root, "_delta_log")
    actions = [
        json.loads(line)
        for line in open(os.path.join(log_dir, f"{1:020d}.json"))
        if line.strip()
    ]
    kinds = sorted(next(iter(a)) for a in actions)
    assert kinds and set(kinds) == {"remove"}, kinds
    assert read_delta_snapshot(spark, t.root, 1) is None
    got = _content(read_delta_snapshot(spark, t.root, 2))
    assert got == {("b", 2, 7)}


def test_export_content_is_deterministic_across_processes(spark, tmp_path):
    """Racing-exporter soundness: every action timestamp derives from
    the txn commit's recorded committed_at_ms, so re-exporting the
    same history from scratch (a second process's would-be write)
    reproduces every commit file byte-for-byte."""
    t = TxnTable(str(tmp_path / "det"))
    t.commit({"k": _df(spark, [("a", 1, 1)])})
    t.commit({"k": _df(spark, [("a", 1, 2)]), "k2": _df(spark, [("c", 9, 9)])})
    t.commit({"k2": None})
    export_delta_log(spark, t)
    log_dir = os.path.join(t.root, "_delta_log")
    names = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    before = {n: open(os.path.join(log_dir, n), "rb").read() for n in names}
    for n in names:
        os.unlink(os.path.join(log_dir, n))
    assert export_delta_log(spark, t) == len(names)
    after = {n: open(os.path.join(log_dir, n), "rb").read() for n in names}
    assert before == after


def test_export_of_the_txn_summary_store(spark, tmp_path, sf_dir):
    """A day-partitioned counter-summary table's content survives the
    exporter + clean-room reader round trip."""
    from pyspark.sql import functions as F

    from khronus_spark.functions.summary import counter_summary
    from khronus_spark.sources.tables import measurements_from_events

    m = measurements_from_events(spark, sf_dir)
    summaries = counter_summary(
        m.where(F.col("mtype") == "counter"), 300_000
    ).withColumn("day", F.expr("ts div 86400000"))
    t = TxnTable(str(tmp_path / "store"))
    parts = {
        f"day={r['day']}": summaries.where(F.col("day") == r["day"])
        for r in summaries.select("day").distinct().collect()
    }
    t.commit(parts)
    export_delta_log(spark, t)
    got = _content(
        read_delta_snapshot(spark, t.root).select("metric", "ts", "count")
    )
    want = _content(t.read_all(spark).select("metric", "ts", "count"))
    assert got == want and got


def test_export_upto_ahead_of_table_refuses(spark, table):
    with pytest.raises(ValueError, match="ahead of the table"):
        export_delta_log(spark, table, upto_version=99)


def test_schema_evolution_emits_new_metadata(spark, tmp_path):
    """A version whose snapshot schema differs from the last published
    metaData carries a NEW metaData action (the spec's evolution
    mechanism); the reader honors the latest metaData <= the read
    version on both sides of the change."""
    t = TxnTable(str(tmp_path / "se"))
    t.commit({"k": _df(spark, [("a", 1, 1)])})
    t.commit(
        {
            "k": spark.createDataFrame(
                [("a", 1, 1, "x")],
                "metric string, ts long, count long, note string",
            )
        }
    )
    export_delta_log(spark, t)
    log_dir = os.path.join(t.root, "_delta_log")
    metas = []
    for v in range(2):
        for line in open(os.path.join(log_dir, f"{v:020d}.json")):
            a = json.loads(line)
            if "metaData" in a:
                metas.append((v, a["metaData"]["schemaString"]))
    assert [v for v, _ in metas] == [0, 1]
    assert "note" not in metas[0][1] and "note" in metas[1][1]
    old = read_delta_snapshot(spark, t.root, 0)
    new = read_delta_snapshot(spark, t.root, 1)
    assert old.columns == ["metric", "ts", "count"]
    assert new.columns == ["metric", "ts", "count", "note"]
    assert {tuple(r) for r in new.collect()} == {("a", 1, 1, "x")}


def test_vacuumed_superseded_dir_removes_come_from_log(spark, tmp_path):
    """Removes never list directories: a superseded dir vacuumed
    between exports is removed via the replayed log, and the export
    completes; reading delta versions past the vacuumed history fails
    only at the data files (Delta's own retention semantics)."""
    t = TxnTable(str(tmp_path / "v"))
    t.commit({"k": _df(spark, [("a", 1, 1)])})
    t.commit({"k": _df(spark, [("a", 1, 2)])})
    export_delta_log(spark, t)  # versions 1..2 exported
    t.commit({"k": _df(spark, [("a", 1, 3)])})
    # v2's dir is superseded by v3 and unreferenced >= keep_from=3
    t.vacuum(keep_from_version=3, grace_seconds=0)
    assert export_delta_log(spark, t) == 1
    got = {tuple(r) for r in read_delta_snapshot(spark, t.root).collect()}
    assert got == {("a", 1, 3)}


def test_vacuum_of_unexported_history_refuses_clearly(spark, tmp_path):
    t = TxnTable(str(tmp_path / "vu"))
    t.commit({"k": _df(spark, [("a", 1, 1)])})
    export_delta_log(spark, t)  # only version 1 exported
    t.commit({"k": _df(spark, [("a", 1, 2)])})
    t.commit({"k": _df(spark, [("a", 1, 3)])})
    t.vacuum(keep_from_version=3, grace_seconds=0)  # deletes v2's dir
    with pytest.raises(RuntimeError, match="vacuum"):
        export_delta_log(spark, t)


# ------------------------------------------- namespace export (SCD2)


def _df2(spark, rows):
    return spark.createDataFrame(rows, "user_id long, weeks long")


def test_namespace_export_roundtrips_where_whole_table_refuses(
    spark, tmp_path
):
    """A two-schema table (the streaming-SCD2 shape) refuses the
    whole-table export but exports per namespace: every dim/ touching
    commit becomes one Delta version whose clean-room read equals the
    namespace's rows at that txn version; facts-only commits create NO
    phantom dim versions; the commitInfo action records the mapping."""
    from khronus_spark.sources.delta_export import (
        export_delta_namespace,
        namespace_export_root,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        {
            "facts/bucket=0": _df(spark, [("a", 1, 1)]),
            "dim/bucket=0": _df2(spark, [(1, 3)]),
        }
    )  # v1: touches dim -> delta 0
    t.commit({"facts/bucket=0": _df(spark, [("a", 1, 2)])})  # v2: facts only
    t.commit({"dim/bucket=0": _df2(spark, [(1, 5), (2, 1)])})  # v3 -> delta 1

    with pytest.raises(ValueError, match="heterogeneous"):
        export_delta_log(spark, t)

    assert export_delta_namespace(spark, t, "dim/") == 2
    root = namespace_export_root(t, "dim/")

    def dim_at(txn_v):
        out = set()
        for k, p in t.snapshot_files(txn_v).items():
            if k.startswith("dim/"):
                out |= {tuple(r) for r in spark.read.parquet(p).collect()}
        return out

    assert _content(read_delta_snapshot(spark, root, 0)) == dim_at(1)
    assert _content(read_delta_snapshot(spark, root, 1)) == dim_at(3)
    # the mapping is recoverable from commitInfo
    line0 = open(f"{root}/_delta_log/{0:020d}.json").read().splitlines()[0]
    assert json.loads(line0)["commitInfo"]["txnVersion"] == 1
    line1 = open(f"{root}/_delta_log/{1:020d}.json").read().splitlines()[0]
    assert json.loads(line1)["commitInfo"]["txnVersion"] == 3


def test_namespace_export_incremental_and_compaction_datachange(
    spark, tmp_path
):
    """Incremental: a later export appends only new versions (existing
    files immutable); a compaction commit exports with
    dataChange: false (Delta's OPTIMIZE convention) and the snapshot
    content is unchanged across it."""
    from khronus_spark.operators.rollup import compact_partition_txn
    from khronus_spark.sources.delta_export import (
        export_delta_namespace,
        namespace_export_root,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"dim/bucket=0": _df2(spark, [(2, 2), (1, 1)])})
    assert export_delta_namespace(spark, t, "dim/") == 1
    root = namespace_export_root(t, "dim/")
    first = open(f"{root}/_delta_log/{0:020d}.json", "rb").read()

    assert compact_partition_txn(
        spark, t, "dim/bucket=0", n_files=1, sort_cols=("user_id",)
    )
    assert export_delta_namespace(spark, t, "dim/") == 1  # only the new one
    assert open(f"{root}/_delta_log/{0:020d}.json", "rb").read() == first

    acts = [
        json.loads(ln)
        for ln in open(f"{root}/_delta_log/{1:020d}.json").read().splitlines()
    ]
    assert acts[0]["commitInfo"]["kind"] == "compaction"
    for a in acts:
        if "add" in a:
            assert a["add"]["dataChange"] is False
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
    # content unchanged across the compaction version
    assert _content(read_delta_snapshot(spark, root, 1)) == _content(
        read_delta_snapshot(spark, root, 0)
    )


def test_namespace_export_refusals(spark, tmp_path):
    from khronus_spark.sources.delta_export import export_delta_namespace

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"facts/bucket=0": _df(spark, [("a", 1, 1)])})
    with pytest.raises(ValueError, match="touches namespace"):
        export_delta_namespace(spark, t, "dim/")
    with pytest.raises(ValueError, match="non-empty"):
        export_delta_namespace(spark, t, "")


def test_export_demotes_unverifiable_compaction_to_datachange_true(
    spark, tmp_path
):
    """r10 hardening: only a compaction whose recorded fingerprint
    verifies against the pre-image earns dataChange:false in the
    export — a forged/legacy compaction (no fingerprint, content
    differs) exports with dataChange:true so external incremental
    Delta readers REPROCESS it instead of silently dropping its row
    deltas; a genuine through-the-log compaction keeps the OPTIMIZE
    convention."""
    from tests.test_txnlog import _forge_compaction_commit

    from khronus_spark.operators.rollup import compact_partition_txn
    from khronus_spark.sources.logstore import PosixLinkLogStore
    from khronus_spark.sources.txnlog import TxnTable

    t = TxnTable(str(tmp_path / "t"), log_store=PosixLinkLogStore())
    t.commit({"a": _df(spark, [("m", 1, 10), ("m", 2, 20)])})
    genuine_v = compact_partition_txn(
        spark, t, "a", n_files=1, sort_cols=("ts",)
    )
    forged_v = _forge_compaction_commit(
        spark, t, "a", _df(spark, [("forged", 7, 70)])
    )
    assert export_delta_log(spark, t) == forged_v

    def actions(delta_v):
        raw = t.log_store.read_bytes(
            os.path.join(t.root, "_delta_log", f"{delta_v:020d}.json")
        )
        return [json.loads(line) for line in raw.decode().splitlines()]

    def changes(delta_v):
        return {
            a[k]["dataChange"]
            for a in actions(delta_v)
            for k in ("add", "remove")
            if k in a
        }

    assert changes(genuine_v - 1) == {False}  # verified: OPTIMIZE stamp
    assert changes(forged_v - 1) == {True}  # unverifiable: reprocess
    # and the clean-room reader still reproduces the final state
    got = {tuple(r) for r in read_delta_snapshot(spark, t.root).collect()}
    assert got == {("forged", 7, 70)}


def test_export_demotes_self_consistent_forged_compaction(spark, tmp_path):
    """r13 review: `_verified_compaction` checked only the pre-image
    count, so a forged compaction whose pre-image count was honest —
    but whose staged side dropped or rewrote the partition — exported
    as dataChange:false and external incremental Delta readers
    silently skipped its real row deltas. Both sides are checked now:
    the forge exports with dataChange:true (readers reprocess)."""
    import json

    from tests.test_txnlog import _forge_fingerprinted_compaction

    from khronus_spark.sources.delta_export import export_delta_log
    from khronus_spark.sources.txnlog import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit({"a": _df(spark, [("r1", 1, 10), ("r2", 2, 20)])})
    # honest pre-image count (2) but staged content differs (1 row)
    forged_v = _forge_fingerprinted_compaction(
        spark, t, "a", _df(spark, [("forged", 7, 70)]), {"a": 2}
    )
    assert export_delta_log(spark, t) == forged_v

    log_dir = f"{t.root}/_delta_log"
    with open(f"{log_dir}/{forged_v - 1:020d}.json") as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    changes = {
        a["add"]["dataChange"] for a in actions if "add" in a
    } | {a["remove"]["dataChange"] for a in actions if "remove" in a}
    assert changes == {True}  # demoted: reprocess, never skip
