"""Pin the r13 SQL-text build of the quality expressions against the
Column-API reference implementation (`quality_expressions_column_api`
in tests/column_reference.py — the pre-r13 construction, kept verbatim
as the executable spec).

The text generator must reproduce every check's value bit for bit —
including the DECIMAL-vs-DOUBLE literal trap (a bare ``0.0`` in Spark
SQL is DECIMAL(1,1); every float literal must carry ``D``) — across
the dtype/name-rule matrix: strings (empty/long/huge), email columns
(the two-check mean with a row-varying denominator), numerics at the
1e15 validity edge, age/salary/id/email consistency rules on both
matching and non-matching dtypes, and a backtick-hostile name."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_etl_framework_spark.operators.quality import (
    QualityScorer,
    quality_expressions,
)
from tests.column_reference import quality_expressions_column_api


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        # customer_id, email, name, age, salary, 'no te', big, id, flag
        (1, "a@b.c", "ok", 30, 100.0, "n", 1.0, 5, True),
        (2, "bad-email", "", 200, -5.0, None, 2e15, -1, False),
        (3, None, "x" * 1500, None, None, "t", -2e15, 0, None),
        (None, "", "y" * 10001, -1, 0.0, "u", 1e15, 7, True),
        (5, "e@f.gg", None, 149, 0.5, "v", -1e15, -9, False),
    ]
    return spark.createDataFrame(
        rows,
        "customer_id long, email string, name string, age int, "
        "salary double, `no te` string, big double, id int, "
        "flag boolean",
    )


def test_quality_sql_text_matches_column_api(frame):
    got = quality_expressions(frame)
    ref = quality_expressions_column_api(frame)
    out = frame.select(
        *[got[k].alias(f"g_{k}") for k in got],
        *[ref[k].alias(f"r_{k}") for k in ref],
    ).collect()
    for row in out:
        for k in ("completeness", "validity", "consistency",
                  "quality_score"):
            assert row[f"g_{k}"] == row[f"r_{k}"], (k, row)


def test_quality_sql_text_types_are_double(frame):
    """A DECIMAL-typed literal would silently change arithmetic
    (decimal division truncates differently) — pin every metric to
    DOUBLE."""
    got = frame.select(
        *[v.alias(k) for k, v in quality_expressions(frame).items()]
    )
    assert all(t == "double" for _, t in got.dtypes), got.dtypes


def test_quality_scorer_end_to_end_unchanged(frame):
    """QualityScorer over the text-built expressions equals a scorer
    rebuilt over the Column-API reference (monkeypatched)."""
    scored = QualityScorer()(frame)
    cols = ["_meta_completeness", "_meta_validity",
            "_meta_consistency", "_meta_quality_score"]
    ref = frame.select(
        "*",
        *[
            quality_expressions_column_api(frame)[k.removeprefix("_meta_")]
            .alias(k)
            for k in cols
        ],
    )
    a = sorted(map(tuple, scored.select(*cols).collect()))
    b = sorted(map(tuple, ref.select(*cols).collect()))
    assert a == b


def test_null_remover_sql_text_matches(spark):
    """NullRemover drop/drop_all via the one-parse SQL predicate must
    keep exactly the rows the Column-API fold kept (""≡NULL for
    strings only, NULL-boolean three-valued logic under NOT)."""
    from ai_etl_framework_spark.operators.null_remover import (
        NullRemover,
        _is_nullish,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 1.0),
            (2, "", 2.0),
            (3, None, 3.0),
            (None, "d", None),
            (5, "e", 5.0),
        ],
        "id long, s string, v double",
    )
    for strategy in ("drop", "drop_all"):
        got = NullRemover(strategy=strategy)(df).collect()
        preds = [_is_nullish(df, c) for c in df.columns]
        folded = None
        for p in preds:
            folded = p if folded is None else (
                (folded | p) if strategy == "drop" else (folded & p)
            )
        ref = df.filter(~folded).collect()
        assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, ref), key=repr), strategy
