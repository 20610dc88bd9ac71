"""Framework-free e2e tests for the pipeline REST surface.

The handlers ARE the endpoints (ref src/api/main.py:102-304); fastapi
is absent from this container, so we drive the handler methods
directly with the reference's request shapes and assert the
reference's response shapes (src/api/models.py:138-180).
"""

import os

import pytest

from ai_etl_framework_spark.api import PipelineApiService

PIPELINE_RESPONSE_KEYS = {
    "pipeline_id", "mode", "status", "message", "stages", "created_at", "metadata",
}
STAGE_RESPONSE_KEYS = {
    "pipeline_id", "stage", "status", "records", "duration_seconds", "message", "error",
}
STATUS_KEYS = {
    "pipeline_id", "name", "mode", "overall_status", "extract_status",
    "transform_status", "load_status", "created_at", "updated_at",
    "extract_records", "transform_records", "load_records", "total_duration", "error",
}


def _root(tmp_path, form):
    """``tmp_path`` as a plain path or as its ``file://`` URI."""
    return ("file://" if form == "file_uri" else "") + str(tmp_path)


def _local(path):
    return path[len("file://"):] if path.startswith("file://") else path


@pytest.fixture()
def svc(spark, tmp_path, request):
    """The service over a plain base path, or over the same path as a
    ``file://`` URI when a test parametrizes it indirectly."""
    root = _root(tmp_path, getattr(request, "param", "plain"))
    return PipelineApiService(
        spark, base_dir=f"{root}/data", checkpoint_dir=f"{root}/ckpt"
    )


BOTH_FORMS = pytest.mark.parametrize("svc", ["plain", "file_uri"], indirect=True)


def _config(sf_dir, **overrides):
    cfg = {
        "name": "Orders Feed",
        "mode": "unified",
        "org_id": "Acme Corp",
        "source": {"type": "parquet", "path": os.path.join(sf_dir, "orders.parquet")},
        "transformers": [
            # reference nested shape {"type", "config"} (models.py:40-56)
            {"type": "null_remover", "config": {"strategy": "drop"}},
        ],
        "destinations": [{"type": "parquet"}],
    }
    cfg.update(overrides)
    return cfg


def test_unified_run_shapes_and_outputs(svc, spark, sf_dir):
    resp = svc.run_unified(_config(sf_dir))
    assert set(resp) == PIPELINE_RESPONSE_KEYS
    assert resp["status"] == "completed"
    assert [s["stage"] for s in resp["stages"]] == ["extract", "transform", "load"]

    n_src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    assert resp["stages"][2]["records_out"] == n_src  # orders has no nulls

    # org-isolated medallion outputs (ref path_generator.py:62-113)
    outs = resp["metadata"]["outputs"]
    assert "/acme-corp/gold/bi/orders-feed/" in outs["bi_path"]
    assert spark.read.parquet(outs["bi_path"]).count() == n_src
    assert os.path.exists(outs["rag_path"])  # gold/rag CSV twin

    status = svc.get_status(resp["pipeline_id"])
    assert set(status) == STATUS_KEYS
    assert status["overall_status"] == "completed"
    assert status["load_records"] == n_src


@BOTH_FORMS
def test_staged_lifecycle(svc, spark, sf_dir):
    resp = svc.init_staged(_config(sf_dir, mode="staged"))
    assert resp["status"] == "initialized"
    pid = resp["pipeline_id"]

    ex = svc.run_extract(pid)
    assert set(ex) == STAGE_RESPONSE_KEYS
    assert ex["status"] == "completed" and ex["records"] > 0

    tr = svc.run_transform(pid)
    assert tr["status"] == "completed" and tr["records"] == ex["records"]

    # preview between stages (ref main.py:368-404)
    prev = svc.preview_data(pid, stage="transformed", limit=5)
    assert prev["count"] == 5
    assert "o_orderkey" in prev["schema"]
    assert svc.preview_data(pid, stage="nope") is None

    ld = svc.run_load(pid)
    assert ld["status"] == "completed" and ld["records"] == tr["records"]

    status = svc.get_status(pid)
    assert (status["extract_status"], status["transform_status"],
            status["load_status"]) == ("completed",) * 3

    listed = svc.list_pipelines(mode="staged")
    assert pid in [s["pipeline_id"] for s in listed]
    assert svc.list_pipelines(mode="unified") == []

    ckpt = _local(os.path.join(svc.checkpoint_dir, pid))
    assert os.path.exists(ckpt)
    svc.delete_pipeline(pid)
    assert not os.path.exists(ckpt)
    assert svc.get_status(pid) is None


def test_staged_stage_failure_is_reported(svc, sf_dir):
    cfg = _config(sf_dir, mode="staged")
    resp = svc.init_staged(cfg)
    pid = resp["pipeline_id"]
    # transform before extract: checkpoint missing -> failed stage response
    tr = svc.run_transform(pid)
    assert tr["status"] == "failed" and tr["error"]
    assert svc.get_status(pid)["transform_status"] == "failed"


def test_quarantine_path_injected_for_anomaly_splitter(svc, sf_dir):
    cfg = _config(sf_dir, transformers=[{"type": "anomaly_splitter",
                                         "config": {"flag_col": "missing"}}])
    prepared, outs = svc._prepare_config(cfg)
    t = prepared["transformers"][0]
    assert t["quarantine_path"] == outs["quarantine_path"]
    assert "/acme-corp/quarantine/orders-feed_anomalies.csv" in outs["quarantine_path"]


@BOTH_FORMS
def test_bronze_upload_and_list(svc, tmp_path):
    """Bronze file management (r12, ref main.py:1550/1609): upload
    lands under {base}/{org-slug}/bronze, traversal is stripped, the
    listing carries name/path/size/modified."""
    out = svc.upload_bronze("Acme Corp", "sales.csv", b"a,b\n1,2\n")
    assert out["success"] and out["file"]["name"] == "sales.csv"
    assert out["file"]["size"] == 8
    assert "/acme-corp/bronze/sales.csv" in out["file"]["path"]
    landed = tmp_path / "data" / "acme-corp" / "bronze" / "sales.csv"
    assert landed.read_bytes() == b"a,b\n1,2\n"

    # path traversal cannot escape the bronze dir
    evil = svc.upload_bronze("Acme Corp", "../../etc/passwd", b"x")
    assert evil["file"]["name"] == "passwd"
    assert "/acme-corp/bronze/passwd" in evil["file"]["path"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        svc.upload_bronze("Acme Corp", "", b"x")

    listing = svc.list_bronze("Acme Corp")
    names = [f["name"] for f in listing["files"]]
    assert names == ["passwd", "sales.csv"] and listing["count"] == 2
    assert all(f["size"] >= 1 and f["modified"] for f in listing["files"])
    assert svc.list_bronze("empty-org") == {"files": [], "count": 0}


def test_bronze_upload_rejects_dot_names(svc):
    import pytest as _pytest

    for bad in (".", "..", "a/..", "./"):
        with _pytest.raises(ValueError, match="invalid filename|plain file"):
            svc.upload_bronze("Acme Corp", bad, b"x")


@BOTH_FORMS
def test_bronze_upload_replaced_out_of_band_still_reads(svc, spark, tmp_path):
    """An upload leaves no ``.crc`` checksum sidecar: a user copying a
    new file over it must not make Spark's CSV reader fail on a
    checksum that no longer matches."""
    path = svc.upload_bronze("Acme Corp", "sales.csv", b"a,b\n1,2\n")["file"]["path"]
    bronze = tmp_path / "data" / "acme-corp" / "bronze"
    (bronze / "sales.csv").write_bytes(b"a,b\n1,2\n3,4\n5,6\n")
    assert spark.read.option("header", True).csv(path).count() == 3
    assert sorted(p.name for p in bronze.iterdir()) == ["sales.csv"]
