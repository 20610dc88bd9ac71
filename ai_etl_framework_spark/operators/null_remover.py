"""Null handling with the reference's ""≡NULL rule.

Reference: src/transformers/cleaners/null_remover.py.

Strategies:
- ``drop``       drop row if ANY considered value is NULL or "" (ref :54-58, 92-94)
- ``drop_all``   drop row only if ALL considered values are NULL/"" (ref :60-64, 96-98)
- ``fill``       replace NULL/"" with ``fill_value`` (ref :74-80)
- ``remove_fields``  reference deletes null keys PER RECORD (ragged
  rows, ref :66-72) — impossible in a columnar model. Deliberate
  divergence (SURVEY §7.4.2): values stay NULL, and columns that are
  100% null/empty are dropped, which matches the observable output of
  the reference's flagship pipeline (wholly-empty columns vanish).

The ""≡NULL normalization is applied *inside* this operator only —
loaders elsewhere still round-trip empty strings untouched.

Scale notes: drop/fill are narrow per-row expressions (no shuffle).
``remove_fields`` needs one aggregate pass to find the all-null
columns — a single map-side-combined job, then a metadata-only
projection.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_etl_framework_spark.sqlnames import ident

STRATEGIES = {"drop", "drop_all", "fill", "remove_fields"}


def _is_nullish(df: DataFrame, name: str) -> Column:
    """NULL, or empty string for string columns (""≡NULL, ref :92-98)."""
    c = F.col(name)
    if isinstance(df.schema[name].dataType, T.StringType):
        return c.isNull() | (c == F.lit(""))
    return c.isNull()


def _nullish_sql(df: DataFrame, name: str) -> str:
    """SQL text of :func:`_is_nullish` (same tree, one JVM parse)."""
    c = ident(name)
    if isinstance(df.schema[name].dataType, T.StringType):
        return f"({c} IS NULL OR {c} = '')"
    return f"({c} IS NULL)"


class NullRemover:
    def __init__(
        self,
        strategy: str = "drop",
        fields: Optional[Sequence[str]] = None,
        fill_value: Any = None,
    ) -> None:
        if strategy not in STRATEGIES:
            raise ValueError(f"unknown strategy: {strategy!r}")
        self.strategy = strategy
        self.fields = list(fields) if fields else None
        self.fill_value = fill_value

    def __call__(self, df: DataFrame) -> DataFrame:
        cols = self.fields or df.columns

        # drop / drop_all: the predicate as ONE JVM-parsed expression
        # (r13, guide §5 driver work) — the per-column Column-API
        # OR/AND fold cost ~60 py4j round trips ≈ 80 ms of plan-build
        # latency per call on a 9-column frame. The text is the same
        # tree: NOT (n1 OR n2 ...) / NOT (n1 AND n2 ...), left-assoc,
        # ""≡NULL for strings. Pinned against the Column build in
        # tests/test_quality.py::test_null_remover_sql_text_matches.
        if self.strategy in ("drop", "drop_all"):
            if not cols:
                return df
            glue = " OR " if self.strategy == "drop" else " AND "
            pred = glue.join(_nullish_sql(df, c) for c in cols)
            return df.filter(F.expr(f"NOT ({pred})"))
        if self.strategy == "fill":
            out = df
            for name in cols:
                c = F.col(name)
                dt = df.schema[name].dataType
                fill = F.lit(self.fill_value)
                if isinstance(dt, T.StringType):
                    repl = F.when(c.isNull() | (c == ""), fill.cast("string")).otherwise(c)
                else:
                    repl = F.coalesce(c, fill.cast(dt))
                out = out.withColumn(name, repl)
            return out
        # remove_fields: drop columns that are entirely null/empty
        counts = df.agg(
            *[F.sum(F.when(_is_nullish(df, c), 0).otherwise(1)).alias(c) for c in cols]
        ).collect()[0]
        dead = [c for c in cols if (counts[c] or 0) == 0]
        return df.drop(*dead) if dead else df
