"""Query-surface unit tests: filter compiler edge cases, drill-down
pagination (offset + keyset), distinct values with search/truncation,
schema profiling buckets/suggestions — and the scale assertions:
filters must reach the parquet scan (PushedFilters) and small dims
must broadcast."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ai_etl_framework_spark.plans import (
    Filter,
    compile_filters,
    distinct_values,
    drill_down,
    profile_schema,
)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


# -- filter compiler ---------------------------------------------------


def test_unknown_operator_rejected():
    with pytest.raises(ValueError):
        Filter("c", "like")


def test_empty_in_is_noop(orders):
    pred = compile_filters([Filter("o_custkey", "in", [])])
    assert pred is None


def test_bad_between_is_noop():
    assert compile_filters([Filter("c", "between", [1])]) is None
    assert compile_filters([Filter("c", "between", [1, 2, 3])]) is None


def test_contains_escapes_wildcards(spark):
    df = spark.createDataFrame([("100%",), ("100x",)], "s string")
    out = df.filter(compile_filters([Filter("s", "contains", "0%")]))
    assert [r.s for r in out.collect()] == ["100%"]


def test_filters_pushed_to_parquet_scan(orders):
    """The whole point of compiling specs to Columns: predicates reach
    the scan. At 100 TB this is the difference between reading a
    column chunk and reading the table."""
    filtered = orders.filter(
        compile_filters(
            [Filter("o_orderstatus", "eq", "O"), Filter("o_totalprice", "gt", 1000.0)]
        )
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1][:200]


# -- drill-down / distinct values --------------------------------------


def test_drill_down_pagination(orders):
    page1 = drill_down(
        orders,
        filters=[{"column": "o_orderstatus", "operator": "eq", "value": "O"}],
        columns=["o_orderkey", "o_totalprice"],
        order_by="o_orderkey",
        limit=10,
    )
    assert page1["row_count"] == 10
    assert page1["columns"] == ["o_orderkey", "o_totalprice"]
    assert page1["total_count"] > 10

    page2 = drill_down(
        orders,
        filters=[{"column": "o_orderstatus", "operator": "eq", "value": "O"}],
        columns=["o_orderkey", "o_totalprice"],
        order_by="o_orderkey",
        limit=10,
        offset=10,
    )
    keys1 = [r["o_orderkey"] for r in page1["records"]]
    keys2 = [r["o_orderkey"] for r in page2["records"]]
    assert keys1[-1] < keys2[0]  # disjoint, ordered pages

    # keyset pagination gives the identical page without the offset sort
    page2k = drill_down(
        orders,
        filters=[{"column": "o_orderstatus", "operator": "eq", "value": "O"}],
        columns=["o_orderkey", "o_totalprice"],
        order_by="o_orderkey",
        limit=10,
        after=keys1[-1],
    )
    assert [r["o_orderkey"] for r in page2k["records"]] == keys2


def test_distinct_values_search_and_truncation(orders):
    all_vals = distinct_values(orders, "o_orderpriority")
    assert all_vals["total_distinct"] == 5
    assert not all_vals["truncated"]
    assert all_vals["values"] == sorted(all_vals["values"])

    searched = distinct_values(orders, "o_orderpriority", search="high")
    assert searched["values"] == ["2-HIGH"]

    trunc = distinct_values(orders, "o_orderkey", limit=10)
    assert trunc["truncated"]
    assert len(trunc["values"]) == 10


# -- schema profiling ---------------------------------------------------


def test_profile_schema(orders):
    prof = profile_schema(orders)
    assert prof["row_count"] == orders.count()
    cols = prof["columns"]
    assert cols["o_totalprice"]["type"] == "numeric"
    assert cols["o_orderstatus"]["type"] == "categorical"
    assert cols["o_orderdate"]["type"] in ("datetime", "numeric")  # nanos may read long
    assert cols["o_orderpriority"]["distinct_count"] == 5
    assert "values" in cols["o_orderpriority"]
    # key columns are excluded from suggestions by the ID heuristic
    assert "o_orderkey" not in prof["suggested_metrics"]
    assert "o_orderpriority" in prof["suggested_dimensions"]
    # high-cardinality categorical → samples, not full list
    assert cols["o_comment"]["high_cardinality"] if "o_comment" in cols else True


def test_profile_schema_approx(orders):
    prof = profile_schema(orders, approx=True)
    exact = profile_schema(orders)
    a = prof["columns"]["o_orderpriority"]["distinct_count"]
    e = exact["columns"]["o_orderpriority"]["distinct_count"]
    assert abs(a - e) <= max(1, e * 0.05)


# -- broadcast of small dimensions --------------------------------------


def test_small_dim_join_broadcasts(spark, sf_dir):
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "25-row dim must broadcast, not shuffle"


def test_histogram_survives_nan(spark):
    """r4 review: one NaN made hi=NaN (NaN sorts greatest), every bin
    NaN, least(NaN, bins)=bins — the whole histogram collapsed into
    the last bar. NaN rows are dropped before binning."""
    import math

    from ai_etl_framework_spark.operators.viz_prep import histogram_prep

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(float("nan"),)], "v double"
    )
    bins = {r["bin"]: r["count"] for r in histogram_prep(df, "v", bins=10).collect()}
    assert sum(bins.values()) == 100
    assert len(bins) == 10 and all(c == 10 for c in bins.values())


def test_schema_inferrer_pattern_over_non_null_values(spark):
    """r4 review: a 50%-NULL column whose every real value is an email
    must still detect the 'email' pattern (frequency among non-null
    values, ref schema_inferrer.py:103-112,321)."""
    from ai_etl_framework_spark.operators.schema_inferrer import SchemaInferrer

    rows = [(f"user{i}@example.com" if i % 2 == 0 else None,) for i in range(100)]
    df = spark.createDataFrame(rows, "email string")
    info = SchemaInferrer().infer(df)["email"]
    assert info["pattern"] == "email"
    assert info["null_count"] == 50


def test_drill_down_map_column_default_order_is_deterministic(spark):
    """r4: with no order_by, unorderable (map) columns get a to_json
    surrogate instead of either throwing (pre-fix) or being silently
    dropped from the total order (which would reinstate
    nondeterministic offset pagination for map-only projections)."""
    df = spark.createDataFrame(
        [(i % 3, {"k": str(i % 5)}) for i in range(30)],
        "grp int, props map<string,string>",
    )
    out1 = drill_down(df, limit=10)
    out2 = drill_down(df, limit=10)
    assert out1["records"] == out2["records"]
    assert out1["total_count"] == 30
    # map-only projection: still deterministic, no AnalysisException
    only_map = drill_down(df, columns=["props"], limit=7)
    assert len(only_map["records"]) == 7


def test_metric_expr_sql_text_matches_column_api(spark):
    """r14 plan-build pin: every Metric agg's SQL text parses to the
    same result as the Column-API reference build, exact and approx,
    including COUNT(*) vs COUNT(col) null semantics — and a backticked
    top-level reference resolves as F.col would resolve it."""
    from ai_etl_framework_spark.plans.aggspec import Metric, _metric_expr

    from tests.column_reference import _metric_expr_column_api

    df = spark.createDataFrame(
        [(1, 2.0, "x"), (2, None, "x"), (3, 2.0, None), (4, 5.5, "y")],
        "id long, v double, s string",
    )
    metrics = [
        Metric("v", "sum"), Metric("v", "avg"), Metric("v", "min"),
        Metric("v", "max"), Metric("v", "count"), Metric("*", "count"),
        Metric("s", "count"), Metric("s", "count_distinct"),
    ]
    for approx in (False, True):
        got = df.agg(*[
            _metric_expr(m, approx).alias(f"g{i}")
            for i, m in enumerate(metrics)
        ]).collect()[0]
        ref = df.agg(*[
            _metric_expr_column_api(m, approx).alias(f"r{i}")
            for i, m in enumerate(metrics)
        ]).collect()[0]
        for i in range(len(metrics)):
            assert got[f"g{i}"] == ref[f"r{i}"], (metrics[i], approx)

    # default alias comes from the text path too
    out = df.agg(_metric_expr(Metric("v", "sum"), False))
    assert out.columns == ["v_sum"]
    # "`v.x`" is F.col's spelling of the top-level column v.x
    dotted = df.withColumnRenamed("v", "v.x")
    got = dotted.agg(_metric_expr(Metric("`v.x`", "sum"), False)).collect()[0]
    assert got[0] == 9.5


def test_struct_path_metric_default_order(spark, tmp_path):
    """A struct-path metric column (``st.x``) gets the default alias
    ``st.x_sum``, a top-level name: the default ORDER BY (first metric
    DESC) must resolve it as one, through compile_query and through
    DashboardService.query alike."""
    from ai_etl_framework_spark.plans import DashboardService
    from ai_etl_framework_spark.plans.aggspec import compile_query

    df = spark.createDataFrame(
        [("a", (1.0,)), ("a", (2.0,)), ("b", (5.0,)), ("c", (None,))],
        "g string, st struct<x: double>",
    )
    spec = {"group_by": ["g"], "metrics": [{"column": "st.x", "agg": "sum"}]}
    out = compile_query(df, None, spec)
    assert out.columns == ["g", "st.x_sum"]
    assert [tuple(r) for r in out.collect()] == [
        ("b", 5.0), ("a", 3.0), ("c", None),
    ]

    root = tmp_path / "acme" / "gold" / "bi" / "claims"
    root.mkdir(parents=True)
    df.coalesce(1).write.parquet(str(root / "claims.parquet"))
    res = DashboardService(spark, str(tmp_path), cache_data=False).query(
        "acme", "claims", None, spec
    )
    assert res["columns"] == ["g", "st.x_sum"]
    assert [r["st.x_sum"] for r in res["records"]] == [5.0, 3.0, None]
