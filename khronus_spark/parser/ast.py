"""AST for the InfluxQL-0.8-style query language.

Mirrors the reference's IRs (`parser/InfluxAst.scala:24-143`): a parsed
query (projections/tables/filters/groupBy/fill/scale/limit/order) and the
bound `InfluxCriteria` (sources resolved against the metric catalog,
`*`/`percentiles` expanded, functions type-checked).
"""

from __future__ import annotations

from dataclasses import dataclass


# ---- SELECT ---------------------------------------------------------------

@dataclass(frozen=True)
class Field:
    """One aggregate function of one source; `table_id` is the FROM alias
    (or, once bound, the alias-or-metric-name of its source)."""

    name: str
    alias: str | None = None
    table_id: str | None = None

    @property
    def series_id(self) -> str:
        return f"{self.table_id or ''}.{self.alias or self.name}"

    @property
    def series_name(self) -> str:
        return self.alias or self.name


@dataclass(frozen=True)
class Number:
    value: float
    alias: str | None = None

    @property
    def series_id(self) -> str:
        return self.alias or ""

    @property
    def series_name(self) -> str:
        return self.alias or ""


@dataclass(frozen=True)
class Operation:
    left: "Field | Number | Operation"
    right: "Field | Number | Operation"
    operator: str  # one of + - * /
    alias: str

    @property
    def series_id(self) -> str:
        return self.alias

    @property
    def series_name(self) -> str:
        return self.alias


@dataclass(frozen=True)
class AllField:
    """`*` or `alias.*` — expands at bind time to every function valid for
    the metric type (`InfluxCriteriaBuilder.scala:94-107`)."""

    table_id: str | None = None


Projection = Field | Number | Operation | AllField
SimpleProjection = Field | Number | Operation


# ---- FROM -----------------------------------------------------------------

@dataclass(frozen=True)
class Table:
    """FROM entry: a quoted metric-name regex with optional alias."""

    name: str
    alias: str | None = None


@dataclass(frozen=True)
class Source:
    """A bound source: one concrete catalog metric."""

    metric: str
    mtype: str
    alias: str | None = None

    @property
    def table_id(self) -> str:
        return self.alias or self.metric


# ---- WHERE ----------------------------------------------------------------

@dataclass(frozen=True)
class TimeFilter:
    operator: str  # > >= < <=
    value_ms: int
    identifier: str = "time"


@dataclass(frozen=True)
class StringFilter:
    """Parsed but never applied — dead surface kept for parity
    (`InfluxQueryParser.scala:158-162`, `InfluxQueryResolver.scala:78`)."""

    identifier: str
    operator: str  # = or <>
    value: str


Filter = TimeFilter | StringFilter


# ---- GROUP BY -------------------------------------------------------------

@dataclass(frozen=True)
class GroupBy:
    duration_ms: int
    force: bool = False


# ---- query / criteria -----------------------------------------------------

@dataclass(frozen=True)
class ParsedQuery:
    projections: tuple[Projection, ...]
    tables: tuple[Table, ...]
    filters: tuple[Filter, ...]
    group_by: GroupBy
    fill: float | str | None = None  # float, or "linear" (fill(linear))
    scale: float | None = None
    limit: int | None = None
    order_asc: bool = True


@dataclass(frozen=True)
class InfluxCriteria:
    projections: tuple[SimpleProjection, ...]
    sources: tuple[Source, ...]
    filters: tuple[Filter, ...]
    group_by: GroupBy
    fill: float | str | None = None  # float, or "linear" (fill(linear))
    scale: float | None = None
    limit: int | None = None
    order_asc: bool = True

    def source_by_table_id(self, table_id: str) -> Source:
        for s in self.sources:
            if s.table_id == table_id:
                return s
        raise KeyError(table_id)
