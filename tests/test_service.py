"""DashboardService facade: medallion resolution, parquet-over-CSV
preference, cache + invalidation, and the four endpoint operations
(ref duckdb_service.py:56-113, main.py:905-1179)."""

from __future__ import annotations

import os

import pytest

from ai_etl_framework_spark.errors import ReadError
from ai_etl_framework_spark.plans import DashboardService



@pytest.fixture
def gold(tmp_path, spark):
    """Write a small gold/bi parquet for org 'Acme Corp', source 'My Claims'."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, None, 40.0)],
        "id long, grp string, amount double",
    )
    root = tmp_path / "acme-corp" / "gold" / "bi" / "my-claims"
    root.mkdir(parents=True)
    df.coalesce(1).write.mode("overwrite").parquet(str(root / "my-claims.parquet"))
    return str(tmp_path)


def test_query_schema_drill_values(spark, gold):
    svc = DashboardService(spark, gold)
    res = svc.query(
        "Acme Corp",
        "My Claims",
        filters=[{"column": "grp", "operator": "is_not_null", "value": None}],
        spec={"group_by": ["grp"], "metrics": [{"column": "amount", "agg": "sum"}]},
    )
    by_grp = {r["grp"]: r["amount_sum"] for r in res["records"]}
    assert by_grp == {"a": 40.0, "b": 20.0}
    assert res["row_count"] == 2 and "query_time_ms" in res

    prof = svc.schema("Acme Corp", "My Claims")
    assert prof["row_count"] == 4

    page = svc.drill_down("Acme Corp", "My Claims", limit=2, order_by="id")
    assert page["total_count"] == 4 and len(page["records"]) == 2

    vals = svc.filter_values("Acme Corp", "My Claims", "grp")
    assert vals["values"] == ["a", "b"]


def test_file_uri_base_matches_plain_path(spark, gold):
    """A ``file://`` base_dir finds the same gold data through the
    Hadoop FileSystem API and answers like the plain-path service."""
    plain = DashboardService(spark, gold, cache_data=False)
    uri = DashboardService(spark, "file://" + gold, cache_data=False)
    spec = {"group_by": ["grp"], "metrics": [{"column": "amount", "agg": "sum"}]}
    answers = []
    for svc in (plain, uri):
        res = svc.query("Acme Corp", "My Claims", spec=spec)
        page = svc.drill_down("Acme Corp", "My Claims", limit=3, order_by="id")
        answers.append((res["records"], res["row_count"],
                        page["records"], page["total_count"]))
    assert answers[1] == answers[0]
    assert answers[0][3] == 4


def test_cache_and_invalidate(spark, gold):
    svc = DashboardService(spark, gold)
    df1 = svc.get_df("Acme Corp", "My Claims")
    assert svc.get_df("acme corp", "my claims") is df1  # slug-keyed cache hit
    assert df1.storageLevel.useMemory  # cached

    # overwrite the gold file, then invalidate -> fresh read sees new data
    new = spark.createDataFrame([(99, "z", 1.0)], "id long, grp string, amount double")
    pq = os.path.join(gold, "acme-corp", "gold", "bi", "my-claims", "my-claims.parquet")
    new.coalesce(1).write.mode("overwrite").parquet(pq)
    svc.invalidate("Acme Corp", "My Claims")
    assert svc.get_df("Acme Corp", "My Claims").count() == 1


def test_csv_fallback_and_missing(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    root = tmp_path / "org" / "gold" / "bi" / "src"
    root.mkdir(parents=True)
    df.coalesce(1).write.option("header", True).mode("overwrite").csv(str(root / "src.csv"))
    svc = DashboardService(spark, str(tmp_path), cache_data=False)
    assert svc.get_df("org", "src").count() == 1
    with pytest.raises(ReadError):
        svc.get_df("org", "nope")


def test_streaming_refresh_loop(spark, tmp_path):
    """The living-pipeline loop: streaming micro-batches land in the
    gold layer (foreachBatch append), the dashboard cache is
    invalidated per batch, and the next query sees the new rows —
    streaming ingest and the Entry-point-C surface working together."""
    from ai_etl_framework_spark.sources.paths import generate_outputs
    from ai_etl_framework_spark.streaming.events import read_stream

    base = str(tmp_path / "medallion")
    paths = generate_outputs(base, "Acme", "Live Events")
    bronze = str(tmp_path / "bronze")
    svc = DashboardService(spark, base)

    schema = "id long, v double"
    spark.createDataFrame([(1, 10.0), (2, 20.0)], schema).write.mode(
        "append"
    ).parquet(bronze)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(paths["bi_path"])
        svc.invalidate("Acme", "Live Events")

    stream = read_stream(spark, bronze, fmt="parquet", schema=schema)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert svc.query("Acme", "Live Events")["row_count"] == 2

    # second wave of files: incremental, exactly-once, cache refreshed
    spark.createDataFrame([(3, 30.0)], schema).write.mode("append").parquet(bronze)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = svc.query("Acme", "Live Events")
    assert res["row_count"] == 3
    assert sorted(r["id"] for r in res["records"]) == [1, 2, 3]


# -- insights + auto-visualizations (entry-point-C parity, r12) --------
# ref main.py:789 (generate-insights precedence rules), :1238
# (visualizations/generate), exercised framework-free on the service.


def test_insights_offline_payload_and_etl_precedence(spark, gold):
    svc = DashboardService(spark, gold)
    # offline path (no LLM client): context payload, null summary
    out = svc.insights("Acme Corp", "My Claims", run_type="rag")
    assert out["status"] == "generated"
    ctx = out["insights"]["context"]
    assert ctx["row_count"] == 4
    assert "amount" in ctx["columns"]
    assert out["insights"]["generatedFrom"] == "rag"

    # RAG insights exist + another RAG run -> skipped (ref :842-848)
    again = svc.insights("Acme Corp", "My Claims", run_type="rag")
    assert again["status"] == "skipped"
    assert again["reason"] == "Insights already exist"

    # RAG insights exist + an ETL run -> regenerated as ETL (ref :850)
    etl = svc.insights("Acme Corp", "My Claims", run_type="etl")
    assert etl["status"] == "generated"
    assert etl["insights"]["generatedFrom"] == "etl"

    # ETL insights are never overwritten (ref :832-840)
    final = svc.insights("Acme Corp", "My Claims", run_type="etl+rag")
    assert final["status"] == "skipped"
    assert final["reason"] == "ETL insights already exist"
    assert svc.get_insights("Acme Corp", "My Claims")["generatedFrom"] == "etl"


def test_visualizations_generate_and_store(spark, gold):
    svc = DashboardService(spark, gold)
    out = svc.visualizations("Acme Corp", "My Claims", max_charts=6)
    assert out["status"] == "generated"
    assert out["count"] >= 1
    ok = [c for c in out["charts"] if "config" in c]
    # every successful chart carries an ECharts series and its spec
    for c in ok:
        assert "series" in c["config"] and c["spec"]["type"]
    # the store returns the same batch
    assert svc.get_visualizations("Acme Corp", "My Claims") == out["charts"]
    assert svc.get_visualizations("Acme Corp", "nope") is None


def test_custom_visualization_prompt_route(spark, gold):
    """NL prompt → chart on the service (ref generate_custom_chart via
    main.py:1300 POST /api/analytics/visualizations/custom): success
    payload carries the chart inline and nothing lands in the viz
    store; an unsatisfiable prompt returns the reference's error
    message (main.py:1340-1346)."""
    svc = DashboardService(spark, gold)
    out = svc.custom_visualization("Acme Corp", "My Claims", "bar of amount by grp")
    assert out["status"] == "success"
    chart = out["chart"]
    assert chart["chart_type"] == "bar"
    assert chart["x_column"] == "grp" and chart["y_column"] == "amount"
    assert "series" in chart["chart_config"]
    # custom charts are NOT persisted (the reference doesn't either)
    assert svc.get_visualizations("Acme Corp", "My Claims") is None

    bad = svc.custom_visualization("Acme Corp", "My Claims", "heat map please")
    assert bad["status"] == "error"
    assert bad["message"] == "Could not generate chart from the given prompt"
