"""The two column-name renderers: ``ident`` takes a name literally,
``ref`` reads it with ``F.col``'s rules — checked against ``F.col``
itself on a frame whose names need every rule."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ai_etl_framework_spark.sqlnames import ident, ref


def test_ident_quotes_one_top_level_name():
    assert ident("a") == "`a`"
    assert ident("a.b") == "`a.b`"
    assert ident("a`b") == "`a``b`"


@pytest.mark.parametrize("name", [
    "plain", "st.x", "st.`y.z`", "`v.x`", "`a``b`", "`st`.x", "`odd name`",
])
def test_ref_resolves_like_f_col(spark, name):
    df = spark.createDataFrame(
        [(1, (2, 3), 4, 5, 6)],
        "plain int, st struct<x: int, `y.z`: int>, `v.x` int, `a``b` int, "
        "`odd name` int",
    )
    want = df.select(F.col(name).alias("c")).collect()
    assert df.select(F.expr(ref(name)).alias("c")).collect() == want


@pytest.mark.parametrize("name", ["a..b", ".a", "a.", "a`b", "`a`b", "`a"])
def test_ref_rejects_what_f_col_rejects(spark, name):
    df = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(AnalysisException):
        df.select(F.col(name)).collect()
    with pytest.raises(ValueError, match="malformed column reference"):
        ref(name)
