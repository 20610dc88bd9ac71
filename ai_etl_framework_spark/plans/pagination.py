"""Drill-down pagination + distinct filter-values.

Reference: src/database/duckdb_service.py:477-505 (drill-down) and
507-562 (filter values).

Divergence, by design (SURVEY §7.4 item 11): the reference paginates
with LIMIT/OFFSET and *no* ORDER BY (file order). Spark has no stable
implicit order, so pagination here always applies a total order: the
caller's ``order_by``, else every projected column as a deterministic
default — pages stay consistent across requests either way.

Scale note: offset+limit on a sorted DataFrame compiles to a global
sort limited to offset+limit rows (TakeOrderedAndProject) — it does
not materialize the full sort. Deep pagination (huge offsets) should
use keyset pagination (WHERE order_col > last_seen) instead; exposed
via ``after``. The page's total (``total_count``, ``total_distinct``)
is counted by an observed ``count(1)`` just below that top-k, so a
page is one Spark action rather than a ``count()`` plus a ``collect()``
(see :func:`_page_total` for when a separate ``count()`` still runs).
"""

from __future__ import annotations

import uuid
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_etl_framework_spark.plans.filters import Filter, _escape_like, apply_filters
from ai_etl_framework_spark.sqlnames import ident


def _observe_total(frame: DataFrame) -> tuple[DataFrame, str]:
    """``frame`` with a ``count(1)`` observed on it, and the metric's
    name (unique per call, so it never clashes with an observation the
    caller's frame already carries)."""
    name = f"__page_total_{uuid.uuid4().hex}"
    return frame.observe(name, F.count(F.lit(1))), name


def _page_total(page: DataFrame, name: str, frame: DataFrame) -> int:
    """Row count of ``frame`` after ``page`` was collected: the observed
    ``name`` metric when it saw every row of ``frame``, else
    ``frame.count()``.

    The observed count is exact only because the page's top-k
    (TakeOrderedAndProjectExec) reads every input row to pick the
    first offset+limit in order — a bare ``limit()`` with no order
    stops its scan early, so both callers always sort. Two plans break
    that, and both are read off the page's executed plan (no new
    planning, a few py4j calls):

    - Catalyst proved the page empty (``limit == 0``, or an offset past
      a statically known row count such as a range's) and pruned the
      observed node: no metric arrives.
    - The top-k's input already arrives sorted within its partitions
      (a range, a sorted or sort-merged frame): it then takes only
      offset+limit rows per partition and the metric undercounts.
    """
    qe = page._jdf.queryExecution()
    node = qe.executedPlan()
    for wrapper, inner in (("AdaptiveSparkPlanExec", "executedPlan"),
                           ("ResultQueryStageExec", "plan")):
        if node.getClass().getSimpleName() == wrapper:
            node = getattr(node, inner)()
    presorted = (
        node.getClass().getSimpleName() == "TakeOrderedAndProjectExec"
        and not node.child().outputOrdering().isEmpty()
    )
    seen = qe.observedMetrics().get(name)
    if presorted or not seen.isDefined():
        return frame.count()
    return seen.get().getLong(0)


def drill_down(
    df: DataFrame,
    filters: Sequence[Filter | dict] | None = None,
    columns: Optional[Sequence[str]] = None,
    order_by: str | None = None,
    order_desc: bool = False,
    limit: int = 100,
    offset: int = 0,
    after: Any = None,
) -> dict[str, Any]:
    """Filtered raw-row page + total count (ref :482-505).

    ``total_count`` counts the filtered rows (before ``after``); it is
    observed inside the page's own action. Misuse (a negative ``limit``
    or ``offset``, ``after`` without ``order_by``) raises ValueError
    before any Spark job runs."""
    if limit < 0 or offset < 0:
        raise ValueError(f"limit and offset must be >= 0, got limit={limit}, offset={offset}")
    if after is not None and order_by is None:
        raise ValueError("keyset pagination (after=) requires order_by")
    filtered = apply_filters(df, filters)
    out, metric = _observe_total(filtered)
    if columns:
        out = out.select(*columns)  # projection (ref :477-480)
    if order_by is not None:
        oc = F.col(order_by)
        if after is not None:
            # keyset pagination: skip the global-sort-with-offset path
            out = out.filter(oc < F.lit(after) if order_desc else oc > F.lit(after))
            offset = 0
        out = out.orderBy(oc.desc() if order_desc else oc.asc())
    else:
        # no order column given: each page request is an independent
        # Spark job whose row order may differ (task scheduling, AQE,
        # shuffle fetch order), so offset pagination without SOME total
        # order can repeat/skip rows across pages. Order by every
        # ORDERABLE projected column — MapType has no ordering and
        # would make the whole request throw AnalysisException —
        # deterministic up to rows that tie on every sortable column,
        # which are interchangeable anyway. Still a bounded
        # TakeOrderedAndProject, not a full sort.
        from pyspark.sql import types as T

        # MapType has no ordering; neither do VARIANT (Spark 4) or
        # calendar intervals — any of them inside orderBy throws
        # DATATYPE_MISMATCH.INVALID_ORDERING_TYPE for the whole request
        unorderable = tuple(
            t for t in (
                getattr(T, "MapType", None),
                getattr(T, "VariantType", None),
                getattr(T, "CalendarIntervalType", None),
            )
            if t is not None
        )

        def _orderable(dt) -> bool:
            if isinstance(dt, unorderable):
                return False
            if isinstance(dt, T.ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        def _sort_expr(f):
            c = F.col(ident(f.name))  # a schema field: `v.x` is one column
            if _orderable(f.dataType):
                return c.asc_nulls_first()
            if isinstance(f.dataType, (T.MapType, T.ArrayType, T.StructType)):
                # a deterministic orderable surrogate — maps etc. still
                # contribute to the total order instead of silently
                # reinstating nondeterministic offset pagination
                return F.to_json(c).asc_nulls_first()
            return c.cast("string").asc_nulls_first()

        out = out.orderBy(*[_sort_expr(f) for f in out.schema.fields])
    page = out.offset(offset).limit(limit) if offset else out.limit(limit)
    rows = [r.asDict(recursive=True) for r in page.collect()]
    return {
        "records": rows,
        "columns": page.columns,
        "row_count": len(rows),
        "total_count": _page_total(page, metric, filtered),
        "limit": limit,
        "offset": offset,
    }


def distinct_values(
    df: DataFrame,
    column: str,
    search: str | None = None,
    limit: int = 100,
) -> dict[str, Any]:
    """Distinct non-null values of one column, optional case-insensitive
    substring search, sorted asc, limited; plus total distinct count and
    truncation flag (ref duckdb_service.py:507-562).

    ``total_distinct`` is observed inside the page's own action; a
    negative ``limit`` raises ValueError before any Spark job runs."""
    if limit < 0:
        raise ValueError(f"limit must be >= 0, got {limit}")
    c = F.col(column)
    base = df.select(c.alias(column)).where(c.isNotNull())
    if search:
        base = base.where(c.cast("string").ilike(f"%{_escape_like(search)}%"))
    distinct = base.distinct()
    observed, metric = _observe_total(distinct)
    page = observed.orderBy(c.asc()).limit(limit)
    vals = [r[0] for r in page.collect()]
    total = _page_total(page, metric, distinct)
    return {
        "values": vals,
        "total_distinct": total,
        "truncated": total > limit,
    }
