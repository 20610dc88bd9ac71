"""Intermediate-artifact storage over the Hadoop FileSystem API.

Reference: src/storage/{base,file_storage,s3_storage}.py — an abstract
save/load/exists/delete/list/cleanup surface with a local-filesystem
implementation and an S3 twin (boto3, :26-260).

Spark-first mapping: ONE class. The Hadoop FileSystem API resolves the
scheme per URI, so the same code serves ``file://``, ``hdfs://`` and
``s3a://`` — on a cluster you point ``base_path`` at
``s3a://bucket/prefix`` and get the reference's S3Storage behavior
with the cluster's committers, credentials and retry policy instead of
driver-side boto3 loops. Records stay DataFrames end to end (the
reference materializes List[Record] through pandas/pyarrow — at 100 TB
an intermediate must never funnel through the driver).

Layout parity (file_storage.py:36-77): parquet dataset per key plus a
``<key>.meta.json`` sidecar carrying ``record_count``, the serialized
schema (engine-independent field dicts) and caller metadata; staged
pipeline keys are ``{pipeline_id}/extracted`` / ``{pipeline_id}/
transformed`` and ``cleanup(pipeline_id)`` removes the whole prefix.

Presigned upload/download URLs (s3_storage.py:217-259) are
boto3-specific; ``presigned_url`` is import-gated with an install
hint. Presigning is pure local signature math, so it is tested with
throwaway credentials — no bucket required.

The module-level helpers (``_fs``, ``_exists``, ``_swap``,
``_recover_interrupted_swap``) are the same layer for whole datasets:
the existence check and the two-rename directory swap shared by the
CDC snapshot, compaction, the keyed-store services and the
dashboard's gold lookup.
"""

from __future__ import annotations

import json
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from ai_etl_framework_spark.errors import StorageError


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return fs.exists(hpath)


def _recover_interrupted_swap(spark: SparkSession, cur_path: str) -> None:
    """Roll back a swap that died between its two renames: ``cur`` is
    missing but ``cur.old`` (the complete previous snapshot) survives.
    Without this, a reader would silently treat the dataset as EMPTY —
    and the next successful swap would then delete ``.old``, the only
    remaining copy. Call before reading or swapping ``cur_path``."""
    fs, cur, jvm = _fs(spark, cur_path)
    old = jvm.org.apache.hadoop.fs.Path(cur_path + ".old")
    if not fs.exists(cur) and fs.exists(old):
        if not fs.rename(old, cur):
            raise IOError(
                f"recovering interrupted swap: rename({cur_path}.old, "
                f"{cur_path}) failed"
            )


def _swap(spark: SparkSession, new_path: str, cur_path: str) -> None:
    """Replace ``cur`` with ``new`` via two renames, failing LOUDLY.

    Hadoop FileSystem.rename reports failure by returning False (it
    does not raise on most implementations, S3A included) — every
    rename here is checked, because an ignored ``rename(cur, old)``
    failure would make the following ``rename(new, cur)`` nest the
    new directory INSIDE the still-existing ``cur``, silently
    corrupting the dataset. The unavoidable non-atomic window between
    the two renames is covered by :func:`_recover_interrupted_swap`
    (the previous snapshot survives as ``cur.old`` until the new one
    is in place)."""
    _recover_interrupted_swap(spark, cur_path)
    fs, cur, jvm = _fs(spark, cur_path)
    _, new, _ = _fs(spark, new_path)
    old = jvm.org.apache.hadoop.fs.Path(cur_path + ".old")
    if fs.exists(old) and not fs.delete(old, True):
        raise IOError(f"could not delete stale backup {cur_path}.old")
    had_cur = fs.exists(cur)
    if had_cur and not fs.rename(cur, old):
        raise IOError(f"rename({cur_path}, {cur_path}.old) failed")
    if not fs.rename(new, cur):
        # roll back so readers keep seeing the previous snapshot
        if had_cur:
            fs.rename(old, cur)
        raise IOError(f"rename({new_path}, {cur_path}) failed")
    # best-effort backup cleanup: a leftover .old is harmless (next
    # swap deletes it) — a raise here would fail an already-successful
    # swap, so the return value is deliberately not checked
    if fs.exists(old):
        fs.delete(old, True)


class IntermediateStorage:
    def __init__(self, spark: SparkSession, base_path: str = "./.state/intermediate"):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        jvm = spark._jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()

    # -- hadoop fs plumbing -------------------------------------------

    def _path(self, *parts: str):
        return self._jpath("/".join((self.base_path,) + parts))

    def _fs(self, path):
        return path.getFileSystem(self._conf)

    # -- reference surface --------------------------------------------

    def save(
        self,
        key: str,
        df: DataFrame,
        metadata: Optional[dict[str, Any]] = None,
        mode: str = "overwrite",
    ) -> int:
        """Persist ``df`` under ``key`` as snappy parquet + meta.json
        sidecar. Returns the record count (one extra metadata-level
        count job; parquet row-group stats make it a footer read)."""
        data_path = self._path(key)
        try:
            df.write.mode(mode).parquet(str(data_path))
            n = self.spark.read.parquet(str(data_path)).count()
            sidecar = {
                "record_count": n,
                "schema": [
                    {"name": f.name, "type": f.dataType.simpleString(),
                     "nullable": f.nullable}
                    for f in df.schema.fields
                ],
                "custom_metadata": metadata or {},
            }
            meta_path = self._path(key + ".meta.json")
            fs = self._fs(meta_path)
            out = fs.create(meta_path, True)
            try:
                out.write(json.dumps(sidecar, indent=2, default=str).encode("utf-8"))
            finally:
                out.close()
            return n
        except Exception as e:
            raise StorageError(f"Failed to save records to {key}: {e}") from e

    def load(self, key: str) -> tuple[DataFrame, Optional[dict[str, Any]]]:
        """DataFrame + sidecar dict (None when no sidecar). The data
        never routes through the driver — callers keep planning on it."""
        data_path = self._path(key)
        if not self.exists(key):
            raise StorageError(f"No stored records for key: {key}")
        df = self.spark.read.parquet(str(data_path))
        meta = None
        meta_path = self._path(key + ".meta.json")
        fs = self._fs(meta_path)
        if fs.exists(meta_path):
            stream = fs.open(meta_path)
            try:
                # readAllBytes is Java 9+; Java 17 is the floor here
                meta = json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
            finally:
                stream.close()
        return df, meta

    def exists(self, key: str) -> bool:
        p = self._path(key)
        return bool(self._fs(p).exists(p))

    def delete(self, key: str) -> None:
        for suffix in ("", ".meta.json"):
            p = self._path(key + suffix)
            self._fs(p).delete(p, True)

    def list_keys(self, prefix: Optional[str] = None) -> list[str]:
        """Keys (relative paths) of stored parquet datasets under the
        optional prefix, sidecars excluded."""
        root = self._path(prefix) if prefix else self._jpath(self.base_path)
        fs = self._fs(root)
        if not fs.exists(root):
            return []
        # strip the QUALIFIED base: listStatus returns fully-qualified
        # URIs (file:/abs/...), so a relative base_path (including the
        # default ./.state/intermediate) would never match as a raw
        # string and every key came back as the full URI (r4 review)
        base = str(fs.makeQualified(self._jpath(self.base_path))) + "/"
        out = []
        stack = [root]
        while stack:
            for status in fs.listStatus(stack.pop()):
                p = status.getPath()
                name = p.getName()
                if name.endswith(".meta.json"):
                    continue
                if status.isDirectory():
                    # a parquet dataset dir contains _SUCCESS / part files
                    if fs.exists(self._jpath(str(p) + "/_SUCCESS")):
                        out.append(str(p).split(base, 1)[-1])
                    else:
                        stack.append(p)
        return sorted(out)

    def cleanup(self, pipeline_id: str) -> None:
        """Remove every artifact of one pipeline run (ref :194-211)."""
        self.delete(pipeline_id)

    def presigned_url(
        self, key: str, expiration: int = 3600, method: str = "get_object"
    ) -> str:
        """S3 presigned URL (ref s3_storage.py:217-259). Needs boto3 +
        an s3a:// base_path; import-gated because the Spark side never
        requires boto3."""
        if not self.base_path.startswith(("s3a://", "s3://")):
            raise StorageError("presigned URLs require an S3 base_path")
        try:
            import boto3  # noqa: F401
        except ImportError as exc:
            raise ImportError(
                "boto3 is required for presigned URLs. Install it with: "
                "pip install boto3"
            ) from exc
        bucket, _, prefix = self.base_path.split("://", 1)[1].partition("/")
        client = boto3.client("s3")
        return client.generate_presigned_url(
            method,
            Params={"Bucket": bucket, "Key": f"{prefix}/{key}".lstrip("/")},
            ExpiresIn=expiration,
        )
