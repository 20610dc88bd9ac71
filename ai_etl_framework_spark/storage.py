"""The library's filesystem layer, over the Hadoop FileSystem API.

Every library call that lists, reads, writes or deletes a path goes
through this module. ``_fs`` resolves a path to its Hadoop FileSystem
by scheme, so one code path serves plain paths, ``file://``,
``hdfs://`` and ``s3a://`` alike, with the cluster's credentials and
retry policy instead of driver-side client loops:

- ``_exists`` and ``_list_dir`` — existence and a directory's visible
  children (``_``/``.`` names skipped, as Spark's file index skips
  them);
- ``_read_bytes`` / ``_write_bytes`` — small files: manifests,
  sidecars, uploads;
- ``_swap`` / ``_recover_interrupted_swap`` — the two-rename replace
  shared by the CDC snapshot, compaction, the keyed-store services and
  ``_write_bytes`` off the local filesystem.

Two local-only sites stay outside it, each for a reason:

- ``sinks/versioned.py`` claims each version with a posix ``os.link``
  (atomic create-if-absent); it refuses a URI root at construction.
- ``session.py::_table_cache_key`` stats testdata tables with
  ``os.stat``: a path it cannot read only means no plan cache, and a
  Hadoop listing per ``load_table`` call would cost what the cache
  exists to save.

``IntermediateStorage`` is the reference's artifact store
(src/storage/{base,file_storage,s3_storage}.py: a save/load/exists/
delete/list/cleanup surface with a local and an S3 implementation) as
ONE class over these helpers. Records stay DataFrames end to end (the
reference materializes List[Record] through pandas/pyarrow — at 100 TB
an intermediate must never funnel through the driver). Layout parity
(file_storage.py:36-77): parquet dataset per key plus a
``<key>.meta.json`` sidecar carrying ``record_count``, the serialized
schema (engine-independent field dicts) and caller metadata; staged
pipeline keys are ``{pipeline_id}/extracted`` / ``{pipeline_id}/
transformed`` and ``cleanup(pipeline_id)`` removes the whole prefix.
Presigned upload/download URLs (s3_storage.py:217-259) are
boto3-specific; ``presigned_url`` is import-gated with an install
hint. Presigning is pure local signature math, so it is tested with
throwaway credentials — no bucket required.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Any, NamedTuple, Optional

from py4j.java_gateway import is_instance_of
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


class _Entry(NamedTuple):
    name: str
    size: int
    mtime_ms: int
    is_dir: bool


def _list_dir(spark: SparkSession, path: str) -> list[_Entry]:
    """The children of directory ``path``, sorted by name, skipping
    ``_``/``.`` names as Spark's file index does; ``[]`` when ``path``
    does not exist."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    entries = [
        _Entry(st.getPath().getName(), st.getLen(), st.getModificationTime(),
               st.isDirectory())
        for st in fs.listStatus(hpath)
    ]
    return sorted(e for e in entries if not e.name.startswith(("_", ".")))


def _read_bytes(spark: SparkSession, path: str) -> Optional[bytes]:
    """A small file's bytes, or ``None`` when ``path`` does not exist."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # readAllBytes is Java 9+; Java 17 is the floor here
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path``, replacing it; missing parent
    directories are created.

    The bytes go to a local temp file and move in with one
    ``moveFromLocalFile``: streaming them over py4j is an order of
    magnitude slower. A ``ChecksumFileSystem`` (the local one) is
    bypassed for its raw filesystem: its ``.crc`` sidecar would make
    Spark's readers fail on the file once it is replaced out of band.
    The payload lands beside the target as ``<path>.next``. The raw
    local filesystem renames it over the target with one atomic
    rename(2); other filesystems refuse a rename onto an existing file,
    so there the two-rename :func:`_swap` replaces it."""
    fs, dst, jvm = _fs(spark, path)
    gateway = spark.sparkContext._gateway
    if is_instance_of(gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"):
        crc = fs.getChecksumFile(dst)
        fs = fs.getRawFileSystem()
        # a sidecar left by an earlier checksummed write would not match
        fs.delete(crc, False)
    nxt = path + ".next"
    with tempfile.TemporaryDirectory() as tmp:
        local = os.path.join(tmp, "payload")
        with open(local, "wb") as fh:
            fh.write(data)
        fs.moveFromLocalFile(jvm.org.apache.hadoop.fs.Path(local),
                             jvm.org.apache.hadoop.fs.Path(nxt))
    if not is_instance_of(gateway, fs, "org.apache.hadoop.fs.RawLocalFileSystem"):
        _swap(spark, nxt, path)
    elif not fs.rename(jvm.org.apache.hadoop.fs.Path(nxt), dst):
        raise IOError(f"rename({nxt}, {path}) failed")


class IntermediateStorage:
    def __init__(self, spark: SparkSession, base_path: str = "./.state/intermediate"):
        self.spark = spark
        self.base_path = base_path.rstrip("/")

    def _path(self, key: str) -> str:
        return f"{self.base_path}/{key}".rstrip("/")

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
            df.write.mode(mode).parquet(data_path)
            n = self.spark.read.parquet(data_path).count()
            sidecar = {
                "record_count": n,
                "schema": [
                    {"name": f.name, "type": f.dataType.simpleString(),
                     "nullable": f.nullable}
                    for f in df.schema.fields
                ],
                "custom_metadata": metadata or {},
            }
            _write_bytes(self.spark, data_path + ".meta.json",
                         json.dumps(sidecar, indent=2, default=str).encode("utf-8"))
            return n
        except Exception as e:
            raise StorageError(f"Failed to save records to {key}: {e}") from e

    def load(self, key: str) -> tuple[DataFrame, Optional[dict[str, Any]]]:
        """DataFrame + sidecar dict (None when no sidecar). The data
        never routes through the driver — callers keep planning on it."""
        if not self.exists(key):
            raise StorageError(f"No stored records for key: {key}")
        raw = _read_bytes(self.spark, self._path(key) + ".meta.json")
        meta = None if raw is None else json.loads(raw.decode("utf-8"))
        return self.spark.read.parquet(self._path(key)), meta

    def exists(self, key: str) -> bool:
        return _exists(self.spark, self._path(key))

    def delete(self, key: str) -> None:
        for suffix in ("", ".meta.json"):
            fs, hpath, _ = _fs(self.spark, self._path(key) + suffix)
            fs.delete(hpath, True)

    def list_keys(self, prefix: Optional[str] = None) -> list[str]:
        """Keys (relative paths) of stored parquet datasets under the
        optional prefix: directories holding a ``_SUCCESS`` marker.
        Keys are built from the listed names, never from the listing's
        fully-qualified URIs, so a relative ``base_path`` yields
        relative keys."""
        out = []
        stack = [prefix.strip("/")] if prefix else [""]
        while stack:
            rel = stack.pop()
            for e in _list_dir(self.spark, self._path(rel)):
                if not e.is_dir:
                    continue
                key = f"{rel}/{e.name}".lstrip("/")
                if _exists(self.spark, self._path(key) + "/_SUCCESS"):
                    out.append(key)
                else:
                    stack.append(key)
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
