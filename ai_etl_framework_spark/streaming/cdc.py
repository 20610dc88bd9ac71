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

from pyspark.sql import DataFrame, Window, functions as F

# bound here, not only used: apply_cdc_stream looks _swap up in this
# module at call time, so a caller can rebind cdc._swap
from ai_etl_framework_spark.storage import (
    _exists,
    _recover_interrupted_swap,
    _swap,
)


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

