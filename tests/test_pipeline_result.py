"""Pipeline.run's failure record: the failing stage, the exception's
type and its traceback, kept next to the reference's error strings."""

from __future__ import annotations

from ai_etl_framework_spark.operators.dedup import Deduplicator
from ai_etl_framework_spark.pipeline import Pipeline


def _run(df, transform=lambda d: d, loads=()):
    pipe = Pipeline("p").extract(df).transform(transform)
    for load in loads:
        pipe.load(load)
    return pipe.run()


def test_success_records_no_failure(spark):
    res = _run(spark.range(3), loads=[lambda d: None])
    assert res.success and res.records_loaded == 3
    assert res.errors == [] and res.failure is None


def test_transformer_that_raises_fails_the_plan_stage(spark):
    def broken(df):
        raise KeyError("no such field")

    res = _run(spark.range(3), broken)
    assert not res.success and res.errors == ["'no such field'"]
    assert res.failure.stage == "plan"
    assert res.failure.error_type == "KeyError"
    assert "in broken" in res.failure.traceback
    assert "plan" not in res.stage_durations


def test_misused_operator_fails_the_plan_stage(spark):
    res = _run(spark.range(3), Deduplicator("exact", match_fields=["nope"]))
    assert res.failure.stage == "plan"
    assert res.failure.error_type == "ValueError"
    assert "nope" in res.errors[0]


def test_execution_failure_is_the_execute_stage(spark):
    res = _run(spark.range(3), lambda d: d.selectExpr("raise_error('boom') AS x"))
    assert not res.success and "boom" in res.errors[0]
    assert res.failure.stage == "execute"
    assert "plan" in res.stage_durations


def test_load_that_raises_names_its_index(spark):
    written = []

    def disk_full(df):
        raise OSError("disk full")

    res = _run(spark.range(3), loads=[written.append, disk_full])
    assert len(written) == 1
    assert not res.success and res.errors == ["disk full"]
    assert res.failure.stage == "load[1]"
    assert res.failure.error_type == "OSError"
    assert "in disk_full" in res.failure.traceback
