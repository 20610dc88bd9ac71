"""AggregationSpec → DataFrame compiler.

Reference semantics (src/database/duckdb_service.py:30-37 spec,
327-434 compiler/executor), reproduced exactly:

- metric aggs: SUM, AVG, MIN, MAX, COUNT, COUNT_DISTINCT
  (standard SQL null semantics — DuckDB executed these; Spark's
  built-ins match).
- default alias ``{column}_{agg}`` (ref :369).
- ORDER BY: explicit ``order_by``, else FIRST METRIC DESC by default
  (ref :384-393).
- optional LIMIT (ref :396-398).
- no group_by and no metrics → raw ``SELECT *`` with safety LIMIT
  1000 (ref :408-415).

Scale notes: the group-by compiles to a partial (map-side) + final
aggregate — shuffle volume is per-group, not per-row. COUNT_DISTINCT
is exact here because the oracle gate demands it; ``approx=True``
switches to HLL (approx_count_distinct) for the 100 TB path where a
global exact distinct would shuffle every value.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ai_etl_framework_spark.plans.filters import Filter, apply_filters
from ai_etl_framework_spark.sqlnames import ident, ref

AGG_FUNCS = {"sum", "avg", "min", "max", "count", "count_distinct"}


@dataclass
class Metric:
    column: str
    agg: str
    alias: Optional[str] = None

    def __post_init__(self) -> None:
        self.agg = self.agg.lower()
        if self.agg not in AGG_FUNCS:
            raise ValueError(f"unknown metric agg: {self.agg!r}")

    @property
    def out_name(self) -> str:
        # default alias {col}_{agg} (ref duckdb_service.py:369)
        return self.alias or f"{self.column}_{self.agg}"


@dataclass
class AggregationSpec:
    group_by: list[str] = field(default_factory=list)
    metrics: list[Metric] = field(default_factory=list)
    order_by: Optional[str] = None
    order_desc: bool = True
    limit: Optional[int] = None


def _metric_expr(m: Metric, approx: bool) -> Column:
    """One metric as SQL text, parsed JVM-side in one round trip (r14
    plan-build campaign: the Column-API build costs ~15-30 py4j round
    trips per metric, all pure driver latency). ``m.column`` is a user
    column reference (:func:`ref`, ``F.col``'s rules; ``*`` only means
    COUNT(*)), the alias a top-level name (:func:`ident`). The
    Column-API reference build lives in tests/column_reference.py;
    equality pinned in
    tests/test_plans.py::test_metric_expr_sql_text_matches_column_api."""
    if m.agg == "count" and m.column == "*":
        body = "count(1)"  # ref builds COUNT(*) when column is '*'
    else:
        c = ref(m.column)
        if m.agg == "count_distinct":
            body = (
                f"approx_count_distinct({c})" if approx
                else f"count(DISTINCT {c})"
            )
        else:
            # COUNT(column): SQL semantics — non-null rows
            body = f"{m.agg}({c})"
    return F.expr(f"{body} AS {ident(m.out_name)}")


def compile_query(
    df: DataFrame,
    filters: Sequence[Filter | dict] | None = None,
    spec: AggregationSpec | dict | None = None,
    approx: bool = False,
) -> DataFrame:
    """filters + spec → lazy DataFrame (the whole Entry-point-C plan)."""
    if isinstance(spec, dict):
        spec = AggregationSpec(
            group_by=list(spec.get("group_by", [])),
            metrics=[m if isinstance(m, Metric) else Metric(**m) for m in spec.get("metrics", [])],
            order_by=spec.get("order_by"),
            order_desc=spec.get("order_desc", True),
            limit=spec.get("limit"),
        )
    spec = spec or AggregationSpec()
    out = apply_filters(df, filters)

    if not spec.group_by and not spec.metrics:
        # raw query safety limit (ref duckdb_service.py:408-415).
        # NB: limit=0 deliberately means "unset" (→ 1000 here, no limit
        # below), NOT SQL's LIMIT 0 → empty — the reference uses the
        # same truthiness check (`if aggregation.limit:` :397-399), so
        # this is exact parity, not an accident.
        return out.limit(spec.limit or 1000)

    exprs = [_metric_expr(m, approx) for m in spec.metrics]
    if spec.group_by:
        out = out.groupBy(*spec.group_by).agg(*exprs) if exprs else out.select(*spec.group_by).distinct()
    else:
        out = out.agg(*exprs)

    order_col = spec.order_by
    if order_col is None and spec.metrics:
        # default: first metric DESC (ref duckdb_service.py:384-393)
        order_col = spec.metrics[0].out_name
    out_names = [m.out_name for m in spec.metrics]
    if order_col is not None and (spec.group_by or order_col in out_names):
        # a metric alias is a top-level output name (``st.x_sum`` is
        # not a struct path); anything else is a column reference
        key = F.expr(ident(order_col) if order_col in out_names else ref(order_col))
        out = out.orderBy(key.desc() if spec.order_desc else key.asc())

    if spec.limit:
        out = out.limit(spec.limit)
    return out


def run_query(
    df: DataFrame,
    filters: Sequence[Filter | dict] | None = None,
    spec: AggregationSpec | dict | None = None,
    approx: bool = False,
) -> dict[str, Any]:
    """Execute and serialize like the reference endpoint: records +
    columns + row_count + query_time_ms (ref duckdb_service.py:426-431)."""
    t0 = time.perf_counter()
    result = compile_query(df, filters, spec, approx=approx)
    rows = [r.asDict(recursive=True) for r in result.collect()]
    ms = (time.perf_counter() - t0) * 1000.0
    return {
        "records": rows,
        "columns": result.columns,
        "row_count": len(rows),
        "query_time_ms": round(ms, 2),
    }
