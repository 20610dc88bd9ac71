"""Quality scoring as a static Column expression tree — no UDF.

Reference: src/transformers/validators/quality_scorer.py:14-313.
score = 0.4·completeness + 0.3·validity + 0.3·consistency (ref :60-70).

Semantics preserved exactly:
- completeness = fraction of fields that are non-NULL and != ""
  (ref :168-189).
- validity (ref :191-248): per field — NULL/"" counts as a single
  1.0 check; strings get a length check (>10000 → 0.0, >1000 → 0.5)
  AND, if the column name contains "email", an ADDITIONAL format
  check ('@' and '.' present) — i.e. a non-null email field
  contributes TWO entries to the mean; numerics get |v| > 1e15 → 0.0;
  everything else 1.0.
- consistency (ref :250-313): first-match-wins by column name —
  age ∈ (0,150); salary/price > 0; id/user_id/customer_id
  non-negative integer else 0.5; email must be string-typed; else 1.
- optional anomaly marking below min_score and optional filtering
  (filter takes precedence), ref :106-155.

Because the schema is fixed, the whole score is ONE projection the
optimizer pipelines into the scan — per-row cost is a handful of
branch instructions inside whole-stage codegen, at any scale.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_etl_framework_spark.sqlnames import ident

ID_EXACT = {"id", "user_id", "customer_id"}


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType),
    )


def _is_integer(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def quality_expressions(df: DataFrame) -> dict[str, Column]:
    """Build {completeness, validity, consistency, quality_score} from
    JVM-parsed SQL text — ONE py4j round trip per metric.

    r13 (guide §5 — driver work): the Column-API construction of these
    per-field when-trees cost ~400 py4j round trips ≈ 340 ms of pure
    plan-build latency per call on a 9-column frame — 65% of the p01
    pipeline's whole timed region at sf0.1. The text generator below
    mirrors the Column-API build kept as the test oracle in
    tests/column_reference.py (``quality_expressions_column_api``)
    check for check; literal suffixes
    matter (bare ``0.0`` parses as DECIMAL in Spark SQL — every float
    literal carries ``D``). Equality across dtypes/edge rows is pinned
    by tests/test_quality.py::test_quality_sql_text_matches_column_api
    and the q09/x09 oracle rows."""
    fields = df.schema.fields
    n = len(fields)

    complete = []
    val_num: list[str] = []
    val_den: list[str] = []
    cons: list[str] = []
    for f in fields:
        c = ident(f.name)
        is_str = isinstance(f.dataType, T.StringType)
        nullish = f"({c} IS NULL OR {c} = '')" if is_str else f"({c} IS NULL)"
        low = f.name.lower()

        complete.append(f"CASE WHEN {nullish} THEN 0.0D ELSE 1.0D END")

        if is_str:
            val_num.append(
                f"CASE WHEN {nullish} THEN 1.0D "
                f"WHEN (length({c}) > 10000) THEN 0.0D "
                f"WHEN (length({c}) > 1000) THEN 0.5D ELSE 1.0D END"
            )
            val_den.append("1.0D")
            if "email" in low:
                ok = f"(contains({c}, '@') AND contains({c}, '.'))"
                val_num.append(
                    f"CASE WHEN {nullish} THEN 0.0D ELSE "
                    f"CASE WHEN {ok} THEN 1.0D ELSE 0.0D END END"
                )
                val_den.append(
                    f"CASE WHEN {nullish} THEN 0.0D ELSE 1.0D END"
                )
        elif _is_numeric(f.dataType):
            val_num.append(
                f"CASE WHEN ({nullish} OR (abs({c}) <= 1.0E15D)) "
                f"THEN 1.0D ELSE 0.0D END"
            )
            val_den.append("1.0D")
        else:
            val_num.append("1.0D")
            val_den.append("1.0D")

        if "age" in low:
            cons.append(
                f"CASE WHEN {nullish} THEN 1.0D "
                f"WHEN (({c} > 0) AND ({c} < 150)) THEN 1.0D ELSE 0.0D END"
                if _is_numeric(f.dataType)
                else f"CASE WHEN {nullish} THEN 1.0D ELSE 0.0D END"
            )
        elif ("salary" in low) or ("price" in low):
            cons.append(
                f"CASE WHEN {nullish} THEN 1.0D "
                f"WHEN ({c} > 0) THEN 1.0D ELSE 0.0D END"
                if _is_numeric(f.dataType)
                else f"CASE WHEN {nullish} THEN 1.0D ELSE 0.0D END"
            )
        elif low in ID_EXACT:
            cons.append(
                f"CASE WHEN {nullish} THEN 1.0D "
                f"WHEN ({c} >= 0) THEN 1.0D ELSE 0.5D END"
                if _is_integer(f.dataType)
                else f"CASE WHEN {nullish} THEN 1.0D ELSE 0.5D END"
            )
        elif "email" in low:
            cons.append(
                f"CASE WHEN {nullish} THEN 1.0D ELSE 1.0D END"
                if is_str
                else f"CASE WHEN {nullish} THEN 1.0D ELSE 0.0D END"
            )
        else:
            cons.append("1.0D")

    if n:
        completeness = F.expr(
            "(" + " + ".join(complete) + f") / {float(n)!r}D"
        )
        consistency = F.expr(
            "(" + " + ".join(cons) + f") / {float(n)!r}D"
        )
    else:
        completeness = F.lit(0.0)
        consistency = F.lit(1.0)
    validity = (
        F.expr(
            "(" + " + ".join(val_num) + ") / ("
            + " + ".join(val_den) + ")"
        )
        if val_num
        else F.lit(1.0)
    )

    score = completeness * 0.4 + validity * 0.3 + consistency * 0.3
    return {
        "completeness": completeness,
        "validity": validity,
        "consistency": consistency,
        "quality_score": score,
    }


class QualityScorer:
    """Adds _meta_quality_score (+ breakdown); optional threshold
    filter / anomaly marking (filter wins, ref :106-155)."""

    def __init__(
        self,
        min_score: float = 0.7,
        filter_low_quality: bool = False,
        mark_anomalies: bool = False,
        weights: Optional[dict[str, float]] = None,
    ) -> None:
        self.min_score = min_score
        self.filter_low_quality = filter_low_quality
        self.mark_anomalies = mark_anomalies
        self.weights = weights or {"completeness": 0.4, "validity": 0.3, "consistency": 0.3}
        total = sum(self.weights.values())
        if not (0.99 <= total <= 1.01):
            raise ValueError(f"weights must sum to 1.0, got {total}")

    def __call__(self, df: DataFrame) -> DataFrame:
        ex = quality_expressions(df)
        score = (
            ex["completeness"] * self.weights["completeness"]
            + ex["validity"] * self.weights["validity"]
            + ex["consistency"] * self.weights["consistency"]
        )
        out = (
            df.withColumn("_meta_completeness", ex["completeness"])
            .withColumn("_meta_validity", ex["validity"])
            .withColumn("_meta_consistency", ex["consistency"])
            .withColumn("_meta_quality_score", score)
        )
        if self.filter_low_quality:
            return out.filter(F.col("_meta_quality_score") >= self.min_score)
        if self.mark_anomalies:
            low = F.col("_meta_quality_score") < self.min_score
            out = out.withColumn("_meta_is_anomaly", low).withColumn(
                "_meta_anomaly_reason",
                F.when(low, F.format_string("Quality: %.2f", F.col("_meta_quality_score"))),
            )
        return out
