"""Small-file compaction for parquet datasets.

The silent killer of big-data tables: a streaming sink or a
high-parallelism write leaves thousands of KB-sized parquet files, and
every later scan pays per-file open/footer costs (plus NameNode /
object-store listing pressure). Compaction rewrites a dataset into
~``target_bytes`` files and atomically swaps it in.

Design:

- File inventory comes from the Hadoop FileSystem API (works for
  file://, hdfs://, s3a:// alike); only the *listing* touches the
  driver — O(n_files) names, never data.
- The rewrite is one narrow job: ``spark.read.parquet`` →
  ``repartition(ceil(bytes/target))`` → write. Round-robin
  repartition gives uniformly-sized output files regardless of input
  skew (a ``coalesce`` would inherit whatever skew the inputs had and
  can't *increase* parallelism for the read).
- Partitioned datasets keep their layout: ``partition_cols`` are
  re-encoded on write, and the rewrite hash-clusters rows on the
  partition columns first so each partition value is written by as
  few tasks as possible (round-robin + ``partitionBy`` would emit
  one file per (task, partition-value) pair — small files again).
- The swap is rename-based via the same helpers the CDC snapshot
  uses: new data lands in a sibling directory, then one rename —
  readers never observe a half-compacted dataset on rename-atomic
  filesystems.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ai_etl_framework_spark.storage import (
    _exists,
    _fs,
    _recover_interrupted_swap,
    _swap,
)


def dataset_stats(spark: SparkSession, path: str) -> dict:
    """File count / byte totals for a parquet dataset (driver lists
    names only — no data is read)."""
    fs, hpath, jvm = _fs(spark, path)
    it = fs.listFiles(hpath, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.endswith(".parquet"):
            continue
        n += 1
        total += st.getLen()
    return {"n_files": n, "total_bytes": total,
            "avg_bytes": (total // n) if n else 0}


def needs_compaction(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_ratio: float = 0.5,
) -> bool:
    """True when the average data file is under ``small_ratio`` of the
    target size (and there is more than one file)."""
    s = dataset_stats(spark, path)
    return s["n_files"] > 1 and s["avg_bytes"] < target_bytes * small_ratio


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
    force: bool = False,
) -> dict:
    """Rewrite a parquet dataset into ~``target_bytes`` files and swap
    it in atomically. Returns before/after stats.

    No-op (returns stats, ``compacted=False``) when the dataset is
    already healthy, unless ``force``.
    """
    # a previous compaction may have died between its swap's two
    # renames, leaving only `path + ".old"` — roll it back before
    # reading (and before stats see a missing dataset)
    _recover_interrupted_swap(spark, path)
    before = dataset_stats(spark, path)
    if not force and not needs_compaction(spark, path, target_bytes):
        return {"compacted": False, "before": before, "after": before}

    df: DataFrame = spark.read.parquet(path)
    n_out = max(1, math.ceil(before["total_bytes"] / target_bytes))
    tmp = path.rstrip("/") + ".compact-tmp"

    if partition_cols:
        clustered = df.repartition(n_out, *partition_cols)
        writer = clustered.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        writer = df.repartition(n_out).write.mode("overwrite")
    writer.parquet(tmp)

    _swap(spark, tmp, path)
    after = dataset_stats(spark, path)
    return {"compacted": True, "before": before, "after": after}
