"""Pipeline REST surface — unified + staged endpoints, framework-free.

Reference: src/api/main.py:102-304 (endpoints) and
src/api/pipeline_service.py:58-560 (service behavior). Every handler
here is a plain method taking/returning JSON-shaped dicts with the
reference's exact response keys (src/api/models.py:138-180:
StageResponse, PipelineResponse, PipelineStatus), so the surface is
testable without a web framework; ``plans.service.create_app`` mounts
them as FastAPI routes when fastapi is importable.

Divergences (documented, Spark-inherent):
- The reference materializes every stage in driver memory and counts
  records per stage (pipeline_service.py:139-163). A unified run here
  is ONE lazy DataFrame chain — counting extract/transform separately
  would force extra materializations of a plan Catalyst otherwise
  fuses, so unified responses report ``records_out`` only for the
  load stage and attribute plan-build time to extract. Staged mode
  checkpoints parquet per stage and reports true per-stage counts
  (parquet count() is a metadata read, not a scan).
- No organization database (SURVEY §1.4 scopes out auth/org CRUD):
  ``org_id`` is used directly as the isolation slug instead of a
  404-on-unknown-org lookup (ref main.py:119-123).
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone
from typing import Any, Optional

from pyspark.sql import SparkSession

from ai_etl_framework_spark.pipeline.config import build_pipeline
from ai_etl_framework_spark.pipeline.pipeline import Pipeline
from ai_etl_framework_spark.sources.paths import generate_outputs, slugify
from ai_etl_framework_spark.storage import _exists, _fs, _list_dir, _write_bytes


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def _stage_result(stage: str, records_in, records_out, duration: float,
                  started_at: str) -> dict[str, Any]:
    """StageResult shape (ref models.py:125-135)."""
    return {
        "stage": stage,
        "status": "completed",
        "records_in": records_in,
        "records_out": records_out,
        "duration_seconds": duration,
        "error": None,
        "started_at": started_at,
        "completed_at": _now(),
    }


class PipelineApiService:
    """Unified + staged pipeline execution with in-memory state
    (ref pipeline_service.py:40-560).

    State is a plain dict registry keyed by pipeline_id — same as the
    reference's ``self.pipelines`` / ``self.staged_pipelines``. On a
    cluster this object lives on the driver (or behind the API
    process); the heavy lifting is all Spark jobs.
    """

    def __init__(self, spark: SparkSession, base_dir: str = "./data",
                 checkpoint_dir: str = "./.pipeline_cache") -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.checkpoint_dir = checkpoint_dir
        self.pipelines: dict[str, dict[str, Any]] = {}
        self.staged_pipelines: dict[str, Pipeline] = {}

    # -- config preparation (ref main.py:114-176) --------------------

    def _prepare_config(self, config: dict[str, Any]) -> tuple[dict[str, Any], dict]:
        """Auto-generate org-isolated destinations + quarantine path.

        Mirrors main.py:125-160: ETL output type comes from the first
        parquet/csv destination (default parquet); destinations are
        REPLACED with the generated gold/bi file + gold/rag CSV; any
        anomaly_splitter transformer gets the generated quarantine
        path.
        """
        cfg = {k: (v.copy() if isinstance(v, (dict, list)) else v)
               for k, v in config.items()}
        cfg["transformers"] = [dict(t) for t in config.get("transformers", [])]

        etl_type = "parquet"
        for d in config.get("destinations") or []:
            if d.get("type") in ("parquet", "csv"):
                etl_type = d["type"]
                break

        org = str(cfg.get("org_id") or "default")
        # no directories made here: Spark's writers create their parents
        outputs = generate_outputs(self.base_dir, org, cfg["name"], etl_type)

        cfg["destinations"] = [
            {"type": etl_type, "path": outputs["bi_path"]},
            {"type": "csv", "path": outputs["rag_path"]},
        ]
        for t in cfg["transformers"]:
            if t.get("type") == "anomaly_splitter":
                t["quarantine_path"] = outputs["quarantine_path"]
        return cfg, outputs

    # -- unified mode (ref pipeline_service.py:58-170) ---------------

    def run_unified(self, config: dict[str, Any]) -> dict[str, Any]:
        pipeline_id = str(uuid.uuid4())
        started_at = _now()
        cfg, outputs = self._prepare_config(config)
        self.pipelines[pipeline_id] = {
            "id": pipeline_id,
            "name": cfg.get("name", "pipeline"),
            "mode": "unified",
            "status": "running",
            "extract_status": "running",
            "transform_status": "running",
            "load_status": "running",
            "created_at": started_at,
            "updated_at": started_at,
            "config": cfg,
            "outputs": outputs,
        }
        pipe = build_pipeline(self.spark, cfg)
        result = pipe.run()

        state = self.pipelines[pipeline_id]
        if result.success:
            state.update(
                status="completed", extract_status="completed",
                transform_status="completed", load_status="completed",
                load_records=result.records_loaded,
                duration=sum(result.stage_durations.values()),
                updated_at=_now(),
            )
        else:
            state.update(status="failed", load_status="failed",
                         error="; ".join(result.errors), updated_at=_now())
        plan_s = result.stage_durations.get("plan", 0.0)
        exec_s = result.stage_durations.get("execute", 0.0)
        return {
            "pipeline_id": pipeline_id,
            "mode": "unified",
            "status": state["status"],
            "message": (
                f"Pipeline completed: {result.records_loaded} records loaded"
                if result.success else f"Pipeline failed: {state.get('error')}"
            ),
            "stages": [
                _stage_result("extract", None, None, plan_s, started_at),
                _stage_result("transform", None, None, 0.0, started_at),
                _stage_result("load", None, result.records_loaded, exec_s, started_at),
            ] if result.success else None,
            "created_at": started_at,
            "metadata": {"outputs": outputs},
        }

    # -- staged mode (ref pipeline_service.py:279-462) ---------------

    def init_staged(self, config: dict[str, Any]) -> dict[str, Any]:
        pipeline_id = str(uuid.uuid4())
        started_at = _now()
        cfg, outputs = self._prepare_config(config)
        cfg["name"] = pipeline_id  # checkpoint isolation per pipeline run
        cfg["checkpoint_dir"] = self.checkpoint_dir
        self.staged_pipelines[pipeline_id] = build_pipeline(self.spark, cfg)
        self.pipelines[pipeline_id] = {
            "id": pipeline_id,
            "name": config.get("name", "pipeline"),
            "mode": "staged",
            "status": "initialized",
            "extract_status": "pending",
            "transform_status": "pending",
            "load_status": "pending",
            "created_at": started_at,
            "updated_at": started_at,
            "config": cfg,
            "outputs": outputs,
        }
        return {
            "pipeline_id": pipeline_id,
            "mode": "staged",
            "status": "initialized",
            "message": "Staged pipeline initialized. Ready for extract stage.",
            "stages": None,
            "created_at": started_at,
            "metadata": {"outputs": outputs},
        }

    def _staged(self, pipeline_id: str) -> Pipeline:
        if pipeline_id not in self.staged_pipelines:
            raise KeyError(f"Staged pipeline not found: {pipeline_id}")
        return self.staged_pipelines[pipeline_id]

    def _run_stage(self, pipeline_id: str, stage: str) -> dict[str, Any]:
        pipe = self._staged(pipeline_id)
        state = self.pipelines[pipeline_id]
        state[f"{stage}_status"] = "running"
        t0 = time.perf_counter()
        try:
            if stage == "extract":
                path = pipe.run_extract_only()
                records = self.spark.read.parquet(path).count()
            elif stage == "transform":
                path = pipe.run_transform_only()
                records = self.spark.read.parquet(path).count()
            else:
                records = pipe.run_load_only().records_loaded
        except Exception as e:  # noqa: BLE001 — becomes the API error field
            state.update({f"{stage}_status": "failed", "error": str(e),
                          "updated_at": _now()})
            return {
                "pipeline_id": pipeline_id, "stage": stage, "status": "failed",
                "records": None, "duration_seconds": time.perf_counter() - t0,
                "message": f"{stage.capitalize()} failed", "error": str(e),
            }
        state.update({f"{stage}_status": "completed",
                      f"{stage}_records": records, "updated_at": _now()})
        if stage == "load":
            state["status"] = "completed"
        return {
            "pipeline_id": pipeline_id,
            "stage": stage,
            "status": "completed",
            "records": records,
            "duration_seconds": time.perf_counter() - t0,
            "message": f"{stage.capitalize()} completed: {records} records",
            "error": None,
        }

    def run_extract(self, pipeline_id: str) -> dict[str, Any]:
        return self._run_stage(pipeline_id, "extract")

    def run_transform(self, pipeline_id: str) -> dict[str, Any]:
        return self._run_stage(pipeline_id, "transform")

    def run_load(self, pipeline_id: str) -> dict[str, Any]:
        return self._run_stage(pipeline_id, "load")

    # -- status / management (ref pipeline_service.py:464-560) -------

    def get_status(self, pipeline_id: str) -> Optional[dict[str, Any]]:
        state = self.pipelines.get(pipeline_id)
        if state is None:
            return None
        return {
            "pipeline_id": pipeline_id,
            "name": state["name"],
            "mode": state["mode"],
            "overall_status": state["status"],
            "extract_status": state["extract_status"],
            "transform_status": state["transform_status"],
            "load_status": state["load_status"],
            "created_at": state["created_at"],
            "updated_at": state["updated_at"],
            "extract_records": state.get("extract_records"),
            "transform_records": state.get("transform_records"),
            "load_records": state.get("load_records"),
            "total_duration": state.get("duration"),
            "error": state.get("error"),
        }

    def list_pipelines(self, limit: int = 50, offset: int = 0,
                       mode: Optional[str] = None) -> list[dict[str, Any]]:
        # filter BEFORE paginating: slicing first made offset/limit
        # count raw registry slots, so a mode filter could return
        # fewer than `limit` matches while later pages still had some.
        # The page only ever needs the first offset+limit MATCHES
        # (filtered or not), so stop building statuses there — 10k
        # registered pipelines must not mean 10k get_status calls for
        # a 50-row page.
        out = []
        for pid in list(self.pipelines):
            status = self.get_status(pid)
            if status and (mode is None or status["mode"] == mode):
                out.append(status)
                if len(out) >= offset + limit:
                    break
        return out[offset:offset + limit]

    def delete_pipeline(self, pipeline_id: str) -> dict[str, Any]:
        """Drop state + staged checkpoints (ref :504-512 cleanup)."""
        self.staged_pipelines.pop(pipeline_id, None)
        self.pipelines.pop(pipeline_id, None)
        fs, ckpt, _ = _fs(self.spark, os.path.join(self.checkpoint_dir, pipeline_id))
        fs.delete(ckpt, True)
        return {"message": "Pipeline deleted successfully",
                "pipeline_id": pipeline_id}

    # -- bronze file management (entry-point-C parity, r12) -----------

    def upload_bronze(self, org: str, filename: str,
                      content: bytes) -> dict[str, Any]:
        """Land an uploaded file in the org's bronze folder (ref
        main.py:1550 POST /api/organizations/{org}/files/upload — the
        medallion front door: bronze is where every pipeline config's
        extract path points). Framework-free: the route hands us the
        already-read bytes. The filename is basename-stripped so a
        crafted '../' can't escape the bronze dir, and the response
        carries the reference's exact {name, path, size} shape."""
        name = os.path.basename(filename or "")
        # '.'/'..' pass basename but name directories — without this
        # check the write dies deep in the filesystem instead of with
        # the contract's fail-loud ValueError
        if not name or name in (".", ".."):
            raise ValueError(
                f"upload_bronze: invalid filename {filename!r} — must "
                "name a plain file"
            )
        path = os.path.join(self.base_dir, slugify(org), "bronze", name)
        _write_bytes(self.spark, path, content)
        return {
            "success": True,
            "file": {"name": name, "path": path, "size": len(content)},
        }

    def list_bronze(self, org: str) -> dict[str, Any]:
        """List the org's bronze files (ref main.py:1609 GET
        /api/organizations/{org}/files): name, path, size, mtime."""
        bronze = os.path.join(self.base_dir, slugify(org), "bronze")
        files = [
            {
                "name": e.name,
                "path": os.path.join(bronze, e.name),
                "size": e.size,
                "modified": datetime.fromtimestamp(
                    e.mtime_ms / 1000, tz=timezone.utc
                ).isoformat(),
            }
            for e in _list_dir(self.spark, bronze)
            if not e.is_dir
        ]
        return {"files": files, "count": len(files)}

    def preview_data(self, pipeline_id: str, stage: str = "transformed",
                     limit: int = 100) -> Optional[dict[str, Any]]:
        """Read the staged checkpoint and return up to ``limit`` rows
        (ref :514-539). Returns None when the stage hasn't run."""
        if pipeline_id not in self.staged_pipelines:
            return None
        path = os.path.join(self.checkpoint_dir, pipeline_id, stage)
        if not _exists(self.spark, path):
            return None
        df = self.spark.read.parquet(path)
        rows = df.limit(limit).collect()
        return {
            "records": [r.asDict(recursive=True) for r in rows],
            "count": len(rows),
            "schema": [f.name for f in df.schema.fields],
        }
