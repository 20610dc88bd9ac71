"""Streaming CDC apply: upsert each micro-batch into a keyed snapshot.

The reference's incremental load is append-only (file manifests); a
CDC feed (debezium-style key + latest row) needs *upsert* semantics.
Structured Streaming's contract for that is ``foreachBatch`` — each
micro-batch is a plain DataFrame, folded in by :func:`apply_cdc_batch`
(``merge_upsert``'s anti-join + union shape, tombstones in the same
pass), and the checkpoint gives exactly-once batch replay.

Snapshot storage here is plain parquet with an atomic directory swap
(write new snapshot → rename), the format-agnostic equivalent of a
Delta/Iceberg MERGE at the engine level this repo targets.  On a real
lake you'd point ``apply_cdc_stream`` at the table format's own MERGE;
the operator seam (keys, mode, dedup-within-batch) is identical.

Within-batch ordering: a CDC batch may carry several versions of one
key; the latest (by ``seq_col``) wins — resolved with one per-key
``row_number`` before the merge, the same single-shuffle shape as the
merge itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def latest_per_key(batch: DataFrame, keys: list[str], seq_col: str) -> DataFrame:
    """Collapse a CDC batch to its latest row per key (max seq_col)."""
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_cdc_batch(
    snapshot: DataFrame,
    batch: DataFrame,
    keys: list[str],
    seq_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Merge one CDC batch into a snapshot DataFrame.

    ``delete_col`` (boolean) marks tombstones: those keys are removed,
    all other rows (``delete_col`` false or NULL) upsert. One merge:
    the snapshot LEFT ANTI JOIN the keys of the batch's latest rows,
    union the latest non-tombstone rows (without ``delete_col``; a
    batch column the snapshot lacks is added, NULL on old rows). The
    batch side is small, so AQE broadcasts it. Building the result runs
    no Spark job.

    NULL keys follow ``merge_upsert``: NULL never matches NULL, so a
    NULL-key batch row never replaces or deletes a snapshot row; the
    latest NULL-key upsert is inserted. ``row_number() == 1`` already
    leaves one row per key, so ``merge_upsert``'s duplicate-key guard
    could never fire here and is not run.
    """
    missing = [k for k in keys if k not in batch.columns or k not in snapshot.columns]
    if missing:
        raise ValueError(f"merge keys missing from input: {missing}")
    latest = latest_per_key(batch, keys, seq_col)
    ups = latest
    if delete_col is not None and delete_col in latest.columns:
        ups = latest.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    kept = snapshot.join(latest.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(ups, allowMissingColumns=True)


def apply_cdc_stream(
    cdc: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    seq_col: str,
    checkpoint_dir: str,
    delete_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Run a streaming query that folds a CDC stream into a parquet
    snapshot via foreachBatch + :func:`apply_cdc_batch`.

    Exactly-once: the sink is idempotent per epoch (same batch merged
    twice yields the same snapshot), and the checkpoint replays only
    uncommitted epochs. Returns the StreamingQuery.
    """
    spark = cdc.sparkSession

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        cur_path = os.path.join(snapshot_dir, "current")
        _recover_interrupted_swap(spark, cur_path)
        if _exists(spark, cur_path):
            snap = spark.read.parquet(cur_path)
        else:
            snap = batch.limit(0).drop(
                *([delete_col] if delete_col and delete_col in batch.columns else [])
            )
        merged = apply_cdc_batch(snap, batch, keys, seq_col, delete_col=delete_col)
        tmp = os.path.join(snapshot_dir, f"epoch-{epoch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        _swap(spark, tmp, cur_path)

    writer = cdc.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -- Hadoop FS helpers (work on any supported filesystem, not just local) --

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
