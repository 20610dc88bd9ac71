"""IntermediateStorage over the Hadoop FileSystem API — the Spark-first
unification of the reference's FileStorage/S3Storage pair."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ai_etl_framework_spark.errors import ETLError
from ai_etl_framework_spark.storage import IntermediateStorage, StorageError


@pytest.fixture()
def store(spark, tmp_path):
    return IntermediateStorage(spark, str(tmp_path / "state"))


def test_save_load_roundtrip_with_sidecar(spark, store, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2.5).alias("v"), F.lit("x").alias("tag")
    )
    n = store.save("p1/extracted", df, metadata={"stage": "extract"})
    assert n == 100
    back, meta = store.load("p1/extracted")
    assert back.count() == 100
    assert set(back.columns) == {"id", "v", "tag"}
    assert meta["record_count"] == 100
    assert meta["custom_metadata"] == {"stage": "extract"}
    types = {f["name"]: f["type"] for f in meta["schema"]}
    assert types == {"id": "bigint", "v": "double", "tag": "string"}
    # sidecar is real JSON on disk next to the dataset
    raw = json.load(open(tmp_path / "state" / "p1" / "extracted.meta.json"))
    assert raw["record_count"] == 100


def test_exists_delete_cleanup(spark, store):
    df = spark.range(5)
    store.save("p2/extracted", df)
    store.save("p2/transformed", df)
    assert store.exists("p2/extracted") and store.exists("p2/transformed")
    store.delete("p2/extracted")
    assert not store.exists("p2/extracted")
    store.cleanup("p2")
    assert not store.exists("p2/transformed")
    with pytest.raises(StorageError, match="No stored records") as err:
        store.load("p2/transformed")
    # the engine's one StorageError: `except ETLError` catches it
    assert isinstance(err.value, ETLError)


def test_list_keys_prefix_and_sidecar_exclusion(spark, store):
    df = spark.range(3)
    store.save("pa/extracted", df)
    store.save("pa/transformed", df)
    store.save("pb/extracted", df)
    assert store.list_keys() == ["pa/extracted", "pa/transformed", "pb/extracted"]
    assert store.list_keys("pa") == ["pa/extracted", "pa/transformed"]
    assert store.list_keys("nope") == []


def test_presigned_requires_s3(store):
    with pytest.raises(StorageError, match="require an S3 base_path"):
        store.presigned_url("k")


def test_presigned_url_shape(spark, monkeypatch):
    """Presigning is a local signature computation — no network, so
    the real boto3 path is testable with throwaway credentials."""
    pytest.importorskip("boto3")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    s3store = IntermediateStorage(spark, "s3a://bucket/prefix")
    url = s3store.presigned_url("p9/extracted", expiration=60)
    assert url.startswith("https://") and "bucket" in url
    assert "p9/extracted" in url and "Signature=" in url


def test_list_keys_with_relative_base_path(spark):
    """r4 review: a RELATIVE base_path (incl. the default
    ./.state/intermediate) must still return relative keys —
    listStatus yields fully-qualified file:/ URIs, which the raw base
    string never matched, so every key came back as the full URI and
    load(key) then failed.

    NOTE: Hadoop resolves relative paths against the JVM's cwd (fixed
    at session start), NOT Python's — a monkeypatch.chdir would not
    contain the writes, so this test cleans up the JVM-cwd directory
    it actually creates."""
    import shutil

    base = "./.state_rel_test/intermediate"
    store = IntermediateStorage(spark, base)
    try:
        df = spark.range(3).toDF("n")
        store.save("p1/extracted", df)
        keys = store.list_keys()
        assert keys == ["p1/extracted"]
        loaded, _meta = store.load(keys[0])
        assert loaded.count() == 3
    finally:
        shutil.rmtree(".state_rel_test", ignore_errors=True)
