"""Rows built on the driver reach Spark as a LocalRelation.

`session.local_frame` ships driver rows as a `pyarrow.Table`; a
`createDataFrame(<python list>)` would plan a `LogicalRDD` and start a
Python worker when it runs. Each case drives one call site with tiny
inputs (the helper itself with empty rows and an array<long> column)
while `SparkSession.createDataFrame` records the analyzed plan
of every frame it returns, and asserts the site made at least one frame
and every frame is a LocalRelation with no LogicalRDD in it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from khronus_spark.session import local_frame


def _embeddings(spark):
    return local_frame(
        spark,
        [(1, [0.0, 0.0]), (2, [0.5, 0.0]), (3, [0.0, 0.9]), (4, [0.4, 0.4])],
        "vec_id long, embedding array<float>",
    )


def _kcenter(spark, tmp_path, sf_dir):
    from khronus_spark.operators.coreset import kcenter_select

    emb = _embeddings(spark)
    return lambda: kcenter_select(emb, m=3)


def _kcenter_per_cell(spark, tmp_path, sf_dir):
    from khronus_spark.operators.coreset import kcenter_select_per_cell

    emb = _embeddings(spark)
    cells = local_frame(spark, [(1, 0), (2, 0), (3, 1), (4, 1)], "vec_id long, cell long")
    return lambda: kcenter_select_per_cell(emb, cells, m_per_cell=2)


def _components(spark, tmp_path, sf_dir):
    from khronus_spark.operators.components import connected_components

    edges = local_frame(spark, [(1, 2), (2, 3), (5, 4)], "src long, dst long")
    return lambda: connected_components(edges).collect()


def _bpe_docs(spark):
    return local_frame(spark, [(1, "aaab aaab ab")], "doc_id long, text string")


def _bpe_sequential(spark, tmp_path, sf_dir):
    from khronus_spark.operators.text import bpe_merges_sequential

    docs = _bpe_docs(spark)
    return lambda: bpe_merges_sequential(docs, k=2)


def _bpe_batched(spark, tmp_path, sf_dir):
    from khronus_spark.operators.text import bpe_merges_batched

    docs = _bpe_docs(spark)
    return lambda: bpe_merges_batched(docs, k=2)


def _clustering_empty(spark, tmp_path, sf_dir):
    from khronus_spark.operators.clustering import _assign, _mean_partials

    q = local_frame(spark, [(1, [1, 2])], "vec_id long, e array<long>")
    cents = local_frame(spark, [], "cid long, c array<long>")

    def run():
        assert _assign(q, cents).count() == 0
        assert _mean_partials(q, cents).count() == 0

    return run


def _streaming_kcenter_audit(spark, tmp_path, sf_dir):
    from khronus_spark import entry_queries

    entry = entry_queries.queries()["coreset_streaming_kcenter_audit"]
    return lambda: entry(spark, sf_dir).collect()


def _monitoring(spark, tmp_path, sf_dir):
    from khronus_spark.monitoring import Monitoring

    mon = Monitoring()

    def run():
        assert mon.flush(spark).count() == 0  # empty rows
        mon.increment("ingest.batches", 2, ts_ms=1_000)
        assert mon.flush(spark).count() == 1

    return run


def _dashboards(spark, tmp_path, sf_dir):
    from khronus_spark.sources.dashboards import DashboardStore

    store = DashboardStore(spark, str(tmp_path / "dash"))

    def run():
        assert store.lookup(".*") == []  # never stored: empty rows
        store.store("a", "{}")
        assert store.drop("a") == 1

    return run


def _helper(rows):
    def case(spark, tmp_path, sf_dir):
        def run():
            df = local_frame(spark, rows, "k long, v array<long>")
            assert df.schema.simpleString() == "struct<k:bigint,v:array<bigint>>"
            assert [tuple(r) for r in df.collect()] == rows

        return run

    return case


SITES = {
    "local_frame.empty": _helper([]),
    "local_frame.array_long": _helper([(7, [1, -2, 3]), (8, []), (9, None)]),
    "components.connected_components": _components,
    "coreset.kcenter_select": _kcenter,
    "coreset.kcenter_select_per_cell": _kcenter_per_cell,
    "text.bpe_merges_sequential": _bpe_sequential,
    "text.bpe_merges_batched": _bpe_batched,
    "clustering.empty_centroids": _clustering_empty,
    "entry_queries.coreset_streaming_kcenter_audit": _streaming_kcenter_audit,
    "monitoring.flush": _monitoring,
    "dashboards.store_drop": _dashboards,
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_driver_rows_are_local_relations(spark, tmp_path, sf_dir, monkeypatch, site):
    run = SITES[site](spark, tmp_path, sf_dir)
    plans = []
    create = SparkSession.createDataFrame

    def recording(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        plans.append(df._jdf.queryExecution().analyzed().toString())
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    run()
    assert plans, f"{site} built no frame from driver rows"
    for plan in plans:
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan

