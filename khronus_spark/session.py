"""Recommended Spark session configuration — ONE source of truth —
and the one way rows built on the driver enter Spark (`local_frame`).

The engine is a library: sessions are created by whoever embeds it
(bench.py, `python -m khronus_spark`, tests, notebooks, spark-defaults
on a cluster). Performance-relevant session conf must not live only in
the bench (r13 verdict What's-wrong #5: `hugeMethodLimit=8000` was a
bench-session artifact — production sessions silently ran z-order /
tokenizer codegen interpreted). Every in-repo session creator reads
this dict; cluster deploys copy it into spark-defaults.conf.
"""

from __future__ import annotations


def recommended_session_conf() -> dict[str, str]:
    """Session conf every khronus_spark session should carry.

    - ``spark.sql.codegen.hugeMethodLimit=8000``: align Spark's
      whole-stage-codegen fallback with HotSpot's 8 KB huge-method JIT
      ceiling. A fused pipeline whose generated method exceeds 8 KB of
      bytecode is REFUSED by C2 and runs interpreted (~3.8 µs/row
      measured on the z-order cell projection — a per-row cost that
      scales with the corpus); at 8000 Spark drops THAT subtree back
      to per-operator codegen (small, JIT-able methods) and leaves
      every other pipeline fused. Interleaved same-JVM A/B:
      sweeps/r13/huge_method_ab3_interleaved.json (zorder_layout
      2.533→1.756 s, others 0.90–1.08). The 8 KB ceiling is a HotSpot
      property, not a local-mode artifact — the same value is right
      for cluster executors.
    - adaptive execution + partition coalescing: scale-adaptive
      post-shuffle sizing instead of a constant tuned for one host.
    - ``spark.scheduler.mode=FAIR``: the HTTP service runs each
      request's jobs in its own pool (``service.QUERY_POOL``), so a
      dashboard read takes the next free core instead of queueing
      behind a rollup tick's stages. Jobs that name no pool share the
      ``default`` pool, which is FIFO inside, so batch work keeps its
      order.

    Deliberately NOT here: core counts, memory, shuffle partitions —
    those are deployment-sized, not engine properties.
    """
    return {
        "spark.sql.codegen.hugeMethodLimit": "8000",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.scheduler.mode": "FAIR",
    }


def local_frame(spark, rows, ddl: str):
    """DataFrame over `rows` (tuples built on the driver) with the DDL
    schema `ddl`, shipped as a `pyarrow.Table`.

    `spark.createDataFrame(<python list>)` plans a `LogicalRDD` whose
    execution starts a Python worker (measured 1.71 s on first use in a
    session, 0.40 s on each later one); the Arrow table lands as a
    `LocalRelation` instead (0.02 s, no worker), which Catalyst also
    sizes exactly for broadcast. Every driver-rows frame in the package
    goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
