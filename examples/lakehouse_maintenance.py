"""Lakehouse maintenance loop: CDC upserts -> snapshot -> compaction
-> sketch-based monitoring.

The operational triad a 100 TB keyed table needs, beyond the
reference's append-only incremental load:

1. A CDC feed (insert/update/delete events with a sequence number)
   folds into a keyed parquet snapshot via checkpointed
   foreachBatch + apply_cdc_batch (streaming/cdc.py) — exactly-once.
2. Streaming upserts fragment the snapshot; compact_parquet
   (sinks/compaction.py) rewrites it into target-size files behind an
   atomic swap once needs_compaction trips.
3. Health telemetry comes from the sketch family (functions/
   sketches.py): mergeable HLL key-cardinality per epoch and a
   quantile profile — constant-size state you can store alongside
   each snapshot version instead of re-scanning it.

Run: python examples/lakehouse_maintenance.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ai_etl_framework_spark.functions.sketches import (
    approx_distinct,
    quantile_sketch,
)
from ai_etl_framework_spark.session import get_spark, load_table
from ai_etl_framework_spark.sinks.compaction import (
    compact_parquet,
    dataset_stats,
)
from ai_etl_framework_spark.streaming.cdc import apply_cdc_stream

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark(app_name="example-lakehouse")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="lakehouse-")
    bronze = os.path.join(work, "cdc")
    snap_dir = os.path.join(work, "snapshot")
    ckpt = os.path.join(work, "ckpt")

    # --- 1. two CDC epochs derived from the customer table ----------
    cust = load_table(spark, SF_DIR, "customer")
    epoch1 = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).cast("long").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    epoch1.write.mode("append").parquet(bronze)

    stream = spark.readStream.schema(epoch1.schema).parquet(bronze)
    q = apply_cdc_stream(stream, snap_dir, ["k"], "seq", ckpt, delete_col="deleted")
    # AvailableNow terminates on its own; a timed wait that expires
    # would let the script read / rewrite the snapshot while the
    # stream is still swapping it
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("epoch-1 CDC backfill did not finish")

    # epoch 2: every 10th key changes segment, every 100th is deleted
    epoch2 = epoch1.where(F.col("k") % 10 == 0).select(
        "k",
        "name",
        F.concat(F.lit("MOVED-"), F.col("segment")).alias("segment"),
        F.lit(2).cast("long").alias("seq"),
        (F.col("k") % 100 == 0).alias("deleted"),
    )
    epoch2.write.mode("append").parquet(bronze)
    stream2 = spark.readStream.schema(epoch1.schema).parquet(bronze)
    q2 = apply_cdc_stream(stream2, snap_dir, ["k"], "seq", ckpt, delete_col="deleted")
    if not q2.awaitTermination(600):
        q2.stop()
        raise TimeoutError("epoch-2 CDC backfill did not finish")

    cur = os.path.join(snap_dir, "current")
    snap = spark.read.parquet(cur)
    n_total = snap.count()
    n_moved = snap.where(F.col("segment").startswith("MOVED-")).count()
    print(f"snapshot rows={n_total} moved={n_moved}")

    # --- 2. compaction ----------------------------------------------
    # many tiny epochs fragment the snapshot; simulate the steady
    # state by rewriting it as 24 splinter files
    snap.repartition(24).write.mode("overwrite").parquet(cur + ".frag")
    shutil.rmtree(cur)
    os.rename(cur + ".frag", cur)
    before = dataset_stats(spark, cur)
    res = compact_parquet(spark, cur, target_bytes=8 * 1024 * 1024, force=True)
    after = res["after"]
    print(
        f"compaction: {before['n_files']} files "
        f"({before['avg_bytes']}B avg) -> {after['n_files']} files"
    )
    assert spark.read.parquet(cur).count() == n_total

    # --- 3. sketch telemetry ----------------------------------------
    n_keys = approx_distinct(spark.read.parquet(cur), "k", rsd=0.05).first()[0]
    qs = quantile_sketch(
        spark.read.parquet(cur).withColumn("klen", F.length("name")),
        "klen",
        [0.5, 0.99],
    ).first()
    print(f"telemetry: ~{n_keys} distinct keys, name-length p50={qs['p50']} p99={qs['p99']}")

    # --- 4. versioned publication (sinks/versioned.py) --------------
    # each maintenance cycle PUBLISHES the compacted snapshot as an
    # immutable version: consumers pin a version, snapshot_diff audits
    # version n vs n-1, vacuum reclaims past the retention window
    from ai_etl_framework_spark.operators.corpus import snapshot_diff
    from ai_etl_framework_spark.sinks.versioned import VersionedTable

    table = VersionedTable(spark, os.path.join(work, "published"))
    v1 = table.commit(spark.read.parquet(cur).where(F.col("k") % 100 != 50))
    v2 = table.commit(spark.read.parquet(cur))
    diff = snapshot_diff(
        table.read(v1), table.read(v2), id_col="k", text_col="segment"
    )
    added = diff.where(F.col("status") == "added").count()
    print(f"published v{v1}->v{v2}: {added} rows added between versions")
    assert table.read(v2).count() == n_total
    table.vacuum(keep_last=1)
    print(f"vacuum kept v{table.latest_version()} only — "
          f"{len(table.history())} manifest(s) remain")

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
