"""Bind a ParsedQuery against the metric catalog → InfluxCriteria (IR #2).

Re-derives the reference's analyzer (`parser/InfluxCriteriaBuilder.scala:12-117`):
- FROM entries are **case-insensitive full-match regexes** against the
  catalog (`getCaseInsensitiveRegex`, `store/MetaStore.scala:110-114`);
  zero matches is an error; >1 matches forbids an alias.
- duplicate table aliases are rejected; projections may only reference
  declared aliases.
- `*` expands to every function valid for the source's metric type;
  unqualified functions fan out to every source.
- functions are type-checked: counters allow only count/cpm
  (`HistogramSummary.scala:112-113`).
"""

from __future__ import annotations

import re

from khronus_spark.functions.summary import (
    ALL_COUNTER_FUNCTIONS,
    ALL_HISTOGRAM_FUNCTIONS,
    COUNTER,
    family_of,
)
from khronus_spark.parser.ast import (
    AllField,
    Field,
    InfluxCriteria,
    Number,
    Operation,
    ParsedQuery,
    SimpleProjection,
    Source,
    Table,
)


class QueryValidationError(Exception):
    pass


#: extension functions: valid in explicit projections but EXCLUDED from
#: `*` expansion (P2 stays reference-exact). `delta` is the bucket-over
#: previous-existing-bucket difference of count — the rate-of-change
#: primitive InfluxQL spells derivative().
EXTENDED_FUNCTIONS = ("delta",)


def functions_for_mtype(mtype: str) -> tuple[str, ...]:
    try:
        family = family_of(mtype)
    except ValueError as e:
        raise QueryValidationError(str(e)) from None
    return ALL_COUNTER_FUNCTIONS if family == COUNTER else ALL_HISTOGRAM_FUNCTIONS


def build_criteria(query: ParsedQuery, catalog: list[tuple[str, str]]) -> InfluxCriteria:
    """catalog: [(metric_name, mtype), ...] — the meta snapshot."""
    _validate_aliases(query)
    sources: list[Source] = []
    for table in query.tables:
        sources.extend(_resolve_table(table, catalog))

    # table_ids must be UNIQUE after binding (r13 review, verified by
    # execution): `from "cpu", "mem" as cpu` gave both sources the id
    # "cpu", the executor's per-id summaries dict let one read
    # overwrite the other, and BOTH output series silently rendered
    # mem's numbers under cpu's label. The alias-vs-alias check alone
    # can't see an alias colliding with a metric name (or the same
    # metric listed twice).
    ids = [s.table_id for s in sources]
    dupes = sorted({i for i in ids if ids.count(i) > 1})
    if dupes:
        raise QueryValidationError(
            f"FROM sources must bind unique identifiers: {dupes[0]!r} "
            "is claimed by more than one source (an alias colliding "
            "with a metric name, or a metric listed twice)"
        )

    projections: list[SimpleProjection] = []
    for proj in query.projections:
        projections.extend(_bind_projection(proj, sources))

    return InfluxCriteria(
        projections=tuple(projections),
        sources=tuple(sources),
        filters=query.filters,
        group_by=query.group_by,
        fill=query.fill,
        scale=query.scale,
        limit=query.limit,
        order_asc=query.order_asc,
    )


def _validate_aliases(query: ParsedQuery) -> None:
    aliases = [t.alias for t in query.tables if t.alias is not None]
    if len(set(aliases)) < len(aliases):
        raise QueryValidationError("Different metrics can't use the same alias")

    def check(proj) -> None:
        if isinstance(proj, (Field, AllField)):
            if proj.table_id is not None and proj.table_id not in aliases:
                raise QueryValidationError(
                    f"Projection is using an invalid alias: {proj.table_id}"
                )
        elif isinstance(proj, Operation):
            check(proj.left)
            check(proj.right)

    for p in query.projections:
        check(p)


def _resolve_table(table: Table, catalog: list[tuple[str, str]]) -> list[Source]:
    pattern = re.compile(table.name, re.IGNORECASE)
    matched = [(m, t) for (m, t) in catalog if pattern.fullmatch(m)]
    if not matched:
        raise QueryValidationError(
            f"There isn't any metric matching the regex [{table.name}]"
        )
    if len(matched) > 1 and table.alias is not None:
        raise QueryValidationError(
            f"Regex [{table.name}] matches more than one metric, so it can't have an alias"
        )
    return [Source(m, t, table.alias) for (m, t) in sorted(matched)]


def _bind_projection(proj, sources: list[Source]) -> list[SimpleProjection]:
    if isinstance(proj, AllField):
        return _bind_all_fields(proj.table_id, sources)
    if isinstance(proj, Field):
        return _bind_field(proj, sources)
    if isinstance(proj, Number):
        if proj.alias is None:
            raise QueryValidationError("Scalar projections require an alias")
        return [proj]
    if isinstance(proj, Operation):
        # operands may be bare Numbers — only top-level scalar
        # projections need an alias (`InfluxQueryParser.scala:102-108`)
        left = _bind_operand(proj.left, sources)
        right = _bind_operand(proj.right, sources)
        return [Operation(left, right, proj.operator, proj.alias)]
    raise QueryValidationError(f"Unknown projection {proj!r}")


def _bind_operand(proj, sources: list[Source]) -> SimpleProjection:
    if isinstance(proj, Number):
        return proj
    return _bind_projection(proj, sources)[0]


def _lookup_by_alias(alias: str, sources: list[Source]) -> Source:
    for s in sources:
        if s.alias == alias:
            return s
    raise QueryValidationError(f"Unknown table alias {alias}")


def _bind_field(field: Field, sources: list[Source]) -> list[SimpleProjection]:
    matched = (
        [_lookup_by_alias(field.table_id, sources)]
        if field.table_id is not None
        else sources
    )
    out = []
    for source in matched:
        valid = functions_for_mtype(source.mtype) + EXTENDED_FUNCTIONS
        if field.name not in valid:
            raise QueryValidationError(
                f"{field.name} is an invalid function for a {source.mtype}. "
                f"Valid options: [{','.join(valid)}]"
            )
        out.append(Field(field.name, field.alias, source.table_id))
    return out


def _bind_all_fields(table_id: str | None, sources: list[Source]) -> list[SimpleProjection]:
    matched = [_lookup_by_alias(table_id, sources)] if table_id is not None else sources
    out = []
    for source in matched:
        for fn in functions_for_mtype(source.mtype):
            out.append(Field(fn, None, source.table_id))
    return out
