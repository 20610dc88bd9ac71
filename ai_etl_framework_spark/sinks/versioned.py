"""Versioned parquet table — a minimal manifest-log snapshot store
(the Delta/Iceberg pattern at its core: data files are immutable,
a numbered manifest pins which files form each version, readers pick
a manifest): commit / time-travel read / history / vacuum. Gives the
repo's MERGE, SCD2, CDC-apply and snapshot_diff operators a durable
versioned target without a lake-format dependency. Beyond-reference
scope (the reference overwrites files in place, parquet_loader.py —
no versions, no time travel).

Guarantees and HONEST limits:

- **Atomic commits**: data files land under ``data/`` with a
  version-unique prefix BEFORE the manifest exists; the manifest is
  written to a temp name and ``os.rename``d — readers either see a
  complete version or nothing of it. A crash mid-commit leaves only
  orphan data files (cleaned by ``vacuum``).
- **Immutable versions**: ``read(version)`` is reproducible until a
  ``vacuum`` drops that version's files (vacuum refuses to break
  versions it was told to keep).
- **SINGLE WINNER per version (posix CAS)**: the manifest is claimed
  with ``os.link`` (atomic create-if-absent on posix — Delta's
  putIfAbsent shape): of two concurrent committers racing for the
  same version number, exactly one wins; the loser raises
  :class:`~ai_etl_framework_spark.errors.WriteError` (its staged data
  files become orphans, reclaimed by ``vacuum``) and can simply
  retry. Readers are always safe. CAVEAT: object stores without
  atomic create-if-absent (plain S3) still need an external lock or
  a putIfAbsent-capable commit service — the posix CAS only holds on
  local/NFS-with-proper-link/fuse-posix mounts.

Scale shape: the manifest holds file NAMES (the compaction module's
contract — driver memory is O(files), never O(rows)); reads hand the
file list straight to the parquet scan, so column pruning/pushdown
are unchanged; ``commit(mode="append")`` reuses the previous
version's files by REFERENCE (no rewrite — append cost is O(new
data), the same argument as the native-append divergence note in
MIGRATION.md)."""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

__all__ = ["VersionedTable"]


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str) -> None:
        # The one filesystem site outside storage.py, by design: the
        # single-winner commit is a posix os.link claim, so the table
        # lives on a local path and a URI root fails here, loudly.
        if urlparse(root).scheme:
            raise ValueError(
                f"VersionedTable needs a local posix path, got {root!r}: each "
                "commit claims its version with os.link (posix atomic "
                "create-if-absent), which a URI filesystem does not provide"
            )
        self.spark = spark
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- log plumbing ------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:08d}.json")

    def _versions(self) -> list[int]:
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def _load_manifest(self, version: int) -> dict:
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise ValueError(
                f"version {version} does not exist"
                + (" (vacuumed or never committed)" if self._versions() else
                   " (empty table)")
            )
        with open(path) as fh:
            return json.load(fh)

    def latest_version(self) -> Optional[int]:
        vs = self._versions()
        return vs[-1] if vs else None

    # -- commits -------------------------------------------------------

    def commit(self, df: DataFrame, mode: str = "overwrite") -> int:
        """Write ``df`` as the next version. ``overwrite`` = the new
        version is exactly ``df``; ``append`` = previous files +
        ``df``'s files (no rewrite). Returns the version number."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite or append, got {mode!r}")
        prev = self.latest_version()
        version = (prev or 0) + 1
        stage = os.path.join(self.root, f"_stage_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        new_files = []
        for f in sorted(os.listdir(stage)):
            if not f.endswith(".parquet"):
                continue
            dst = f"v{version:08d}_{f}"
            shutil.move(os.path.join(stage, f), os.path.join(self.data_dir, dst))
            new_files.append(dst)
        shutil.rmtree(stage, ignore_errors=True)
        files = list(new_files)
        if mode == "append" and prev is not None:
            files = self._load_manifest(prev)["files"] + files
        manifest = {
            "version": version,
            "mode": mode,
            "files": files,
            "n_files": len(files),
            "timestamp": time.time(),
        }
        tmp = self._manifest_path(version) + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        # CAS claim: os.link is atomic create-if-absent on posix — if a
        # concurrent committer already claimed this version number, the
        # link fails and THIS commit loses (its data files are orphans
        # until vacuum). rename() would silently overwrite the winner.
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            from ai_etl_framework_spark.errors import WriteError

            raise WriteError(
                f"concurrent commit detected: version {version} was "
                "claimed by another writer while this commit staged its "
                "files. Retry the commit (staged files are orphans; "
                "vacuum() reclaims them)."
            ) from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return version

    # -- reads -----------------------------------------------------------

    def read(self, version: Optional[int] = None) -> DataFrame:
        """The table at ``version`` (default: latest)."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError("empty table: no versions committed")
        m = self._load_manifest(version)
        if not m["files"]:
            return self.spark.createDataFrame([], "dummy string").limit(0)
        paths = [os.path.join(self.data_dir, f) for f in m["files"]]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise ValueError(
                f"version {version} is broken: {len(missing)} data files "
                "were removed (vacuumed past this version?)"
            )
        return self.spark.read.parquet(*paths)

    def history(self) -> list[dict]:
        """All manifests, oldest first."""
        return [self._load_manifest(v) for v in self._versions()]

    def diff(
        self,
        from_version: int,
        to_version: Optional[int] = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        include_unchanged: bool = False,
    ) -> DataFrame:
        """Change feed between two committed versions — time travel
        composed with the corpus snapshot differ
        (:func:`~ai_etl_framework_spark.operators.corpus.snapshot_diff`,
        the x17 operator): which rows were added / removed / modified
        between ``from_version`` and ``to_version`` (default: latest).
        Both versions must still be readable (vacuum respects kept
        versions); the diff itself is the x17 shape — two (id,
        fingerprint) aggregations + one co-partitioned full outer
        join, never a content sort."""
        from ai_etl_framework_spark.operators.corpus import snapshot_diff

        old = self.read(from_version)
        new = self.read(to_version)
        return snapshot_diff(
            old, new, id_col=id_col, text_col=text_col,
            include_unchanged=include_unchanged,
        )

    # -- maintenance ------------------------------------------------------

    def vacuum(self, keep_last: int = 1) -> dict:
        """Drop manifests older than the last ``keep_last`` versions
        and delete data files no kept version references (including
        crash-orphaned files no manifest ever referenced). Returns
        {"kept_versions", "removed_files"}."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        vs = self._versions()
        keep = vs[-keep_last:]
        referenced: set = set()
        for v in keep:
            referenced.update(self._load_manifest(v)["files"])
        removed = 0
        for f in os.listdir(self.data_dir):
            if f not in referenced:
                os.remove(os.path.join(self.data_dir, f))
                removed += 1
        for v in vs:
            if v not in keep:
                os.remove(self._manifest_path(v))
        return {"kept_versions": keep, "removed_files": removed}
