"""Z-order (Morton-curve) data layout: multi-dimensional clustering for
scan pruning — the Delta Lake ``OPTIMIZE ZORDER BY`` / ClickHouse
``mortonEncode`` analogue, built from plain column algebra.

Why this matters at 100 TB: a table range-partitioned and sorted on ONE
key (say ts) gives parquet row-group min/max pruning on that key only —
a selective predicate on a second key (user_id) still scans every file.
Interleaving the bits of both keys into one Morton code and
range-partitioning + sorting on the code keeps EVERY file's min/max box
tight in BOTH dimensions, so the scan prunes on either predicate (or
both). The curve value is pure integer arithmetic — deterministic,
cross-engine, and computed map-only at write time.

The bit-extract uses only integer div/mod/multiply/add (no engine's
shift operators needed), so the SAME formula runs as a Spark column
expression, inside whole-stage codegen, and verbatim in the DuckDB
oracle.

Reference analogue: the reference engine orders its bucket store by
(metric, window, ts) only — one clustering dimension
(khronus-core/src/main/scala/com/searchlight/khronus/store/Buckets.scala
slice reads); this operator is the multi-dimensional generalization a
Spark lakehouse needs when queries filter on more than the primary key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_expr_sql(a: str, b: str, bits: int = 10, div: str = "div") -> str:
    """The Morton interleave of two `bits`-wide non-negative integer
    expressions as engine-portable SQL text: bit i of `a` lands at
    position 2i, bit i of `b` at 2i+1.

    Only `div`/`%`/`*`/`+` are used — pass div="div" for Spark SQL,
    div="//" for DuckDB. Both operands must already be < 2**bits
    (callers reduce with `% 2**bits`)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a}) {div} {1 << i} % 2) * {1 << (2 * i)}")
        terms.append(f"(({b}) {div} {1 << i} % 2) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def z_value(a: str, b: str, bits: int = 10) -> Column:
    """Morton code as a Spark Column (a/b are column-expression strings
    already reduced below 2**bits). Map-only, whole-stage-codegen
    friendly: the expression is a flat integer polynomial."""
    return F.expr(z_expr_sql(a, b, bits, div="div"))


def _rank_expr(bounds: list[float], col: str) -> str:
    """SQL expression for #{b in bounds : col >= b} as an O(log k)
    nested-IF binary search. The expression TREE is O(k) literals but
    any row evaluates only log2(k) comparisons — at bits=8 that is 8
    branches per row instead of the 255 a linear fold pays, and it
    stays inside whole-stage codegen (no higher-order-function
    interpreter, no ML UDF)."""
    c = f"CAST({col} AS DOUBLE)"

    def go(lo: int, hi: int) -> str:
        if hi == lo:
            return "0L"
        if hi - lo == 1:
            return f"IF({c} >= CAST({bounds[lo]!r} AS DOUBLE), 1L, 0L)"
        mid = (lo + hi) // 2
        return (
            f"IF({c} >= CAST({bounds[mid]!r} AS DOUBLE), "
            f"{mid - lo + 1}L + ({go(mid + 1, hi)}), {go(lo, mid)})"
        )

    return go(0, len(bounds))


def _cell_from_bounds(uniq: list[float], col: str, bits: int) -> Column:
    # Stretch the (deduped) rank back over the full 2**bits width: a
    # low-cardinality column yields few distinct boundaries, and an
    # unstretched rank would occupy only its low bits — recreating the
    # unbalanced-interleave problem quantiles exist to fix. After the
    # stretch both axes claim alternating significant curve bits no
    # matter their cardinality.
    k = max(1, len(uniq))
    return F.expr(f"({_rank_expr(uniq, col)}) * {(1 << bits) - 1}L div {k}L")


def quantile_bounds(
    df: DataFrame,
    cols: list[str],
    bits: int = 6,
    relative_error: float = 0.001,
) -> dict[str, list[float]]:
    """Deduped quantile boundary lists for several columns from ONE
    stats pass — `DataFrame.approxQuantile` accepts a column list and
    computes every sketch in a single scan, so a 2-D layout job pays
    one read for its statistics, not one per axis."""
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    all_bounds = df.approxQuantile(list(cols), probs, relative_error)
    return {c: sorted(set(b)) for c, b in zip(cols, all_bounds)}


def zorder_layout_ranked(
    df: DataFrame,
    a: str,
    b: str,
    bits: int = 6,
    n_partitions: int = 16,
    z_col: str = "_z",
) -> DataFrame:
    """Re-layout `df` along the Morton curve of quantile-ranked cells
    of (a, b): range-partition on the code, sort within partitions.
    Writing the result produces files whose min/max statistics are
    tight boxes in BOTH dimensions — a predicate on either column
    prunes files/row-groups at plan time.

    Each axis is first rank-normalized into 2**bits cells by its own
    quantiles (Delta's OPTIMIZE ZORDER BY does the same via
    range-partition ids), then Morton-interleaved — robust to skew and
    to columns of wildly different scales (epoch-ms vs small ids).
    Interleaving RAW values wastes curve bits whenever the two columns
    occupy unequal ranges: the top curve splits all go to one column
    and the other axis gets no clustering at all. Both axes' quantile
    boundaries (≤ 2**bits − 1 doubles each) come from ONE
    approxQuantile stats scan (`quantile_bounds`) and are baked into
    an O(log k) binary-search expression (`_rank_expr`); ties/skew
    collapse boundaries, so a dominant value gets one wide cell.

    Shape at 100 TB: one range shuffle (this IS the compaction/OPTIMIZE
    pass, run once per ingest window, not per query) and a
    per-partition sort; the curve value itself is map-only."""
    bounds = quantile_bounds(df, [a, b], bits)
    with_cells = df.withColumn(
        "_ca", _cell_from_bounds(bounds[a], a, bits)
    ).withColumn("_cb", _cell_from_bounds(bounds[b], b, bits))
    with_z = with_cells.withColumn(z_col, z_value("_ca", "_cb", bits))
    return with_z.repartitionByRange(n_partitions, z_col).sortWithinPartitions(
        z_col
    )
