"""Streaming CDC upsert (streaming/cdc.py): batch merge semantics and
the foreachBatch snapshot loop with exactly-once incremental replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_etl_framework_spark.streaming.cdc import (
    apply_cdc_batch,
    apply_cdc_stream,
    latest_per_key,
)

SCHEMA = "k int, v string, seq long, deleted boolean"


@pytest.fixture(scope="module")
def snapshot(spark):
    return spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)], "k int, v string, seq long"
    )


def test_latest_per_key(spark):
    batch = spark.createDataFrame(
        [(1, "old", 1, False), (1, "new", 2, False), (2, "x", 1, False)], SCHEMA
    )
    got = {(r.k, r.v) for r in latest_per_key(batch, ["k"], "seq").collect()}
    assert got == {(1, "new"), (2, "x")}


def test_apply_cdc_batch_upsert_and_tombstone(spark, snapshot):
    batch = spark.createDataFrame(
        [
            (2, "b2", 5, False),   # update
            (3, None, 5, True),    # tombstone
            (4, "d", 5, False),    # insert
            (4, "d-old", 4, False),  # superseded within batch
        ],
        SCHEMA,
    )
    out = apply_cdc_batch(snapshot, batch, ["k"], "seq", delete_col="deleted")
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "b2"), (4, "d")}
    assert "deleted" not in out.columns


def test_apply_cdc_batch_without_delete_col(spark, snapshot):
    batch = spark.createDataFrame([(1, "a1", 9)], "k int, v string, seq long")
    out = apply_cdc_batch(snapshot, batch, ["k"], "seq")
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a1"), (2, "b"), (3, "c")}


def _replay(snapshot, batch, keys, seq, delete_col):
    """Plain-Python apply_cdc_batch: the latest batch row per key wins
    (NULL keys group together); a key matches only when it holds no
    NULL; a tombstone removes its key, every other latest row replaces
    or inserts it; a batch column the snapshot lacks is NULL on kept
    rows."""
    latest = {}
    for r in batch:
        k = tuple(r[c] for c in keys)
        if k not in latest or r[seq] > latest[k][seq]:
            latest[k] = r
    matched = {k for k in latest if None not in k}
    cols = list(snapshot[0]) + [
        c for c in batch[0] if c not in snapshot[0] and c != delete_col
    ]
    kept = [r for r in snapshot if tuple(r[c] for c in keys) not in matched]
    ups = [r for r in latest.values() if not (delete_col and r.get(delete_col))]
    return cols, sorted(
        (tuple(r.get(c) for c in cols) for r in kept + ups), key=repr
    )


SNAP = [
    {"k": 1, "k2": "x", "v": "a", "seq": 0},
    {"k": 2, "k2": "x", "v": "b", "seq": 0},
    {"k": 3, "k2": None, "v": "c", "seq": 0},
    {"k": None, "k2": "x", "v": "n", "seq": 0},
]


def _b(k, v, seq, deleted=False, k2="x", **extra):
    return {"k": k, "k2": k2, "v": v, "seq": seq, "deleted": deleted, **extra}


CDC_CASES = {
    "no-tombstones": (["k"], "deleted", [_b(1, "a1", 1), _b(4, "d", 1), _b(4, "d0", 0)]),
    "null-is-delete": (["k"], "deleted", [
        _b(1, "a1", 1, None), _b(2, None, 1, True), _b(5, "e", 1, None),
    ]),
    "null-keys": (["k"], "deleted", [
        _b(None, "n1", 1), _b(None, "n2", 2), _b(2, "b1", 1), _b(3, None, 1, True),
    ]),
    "null-key-tombstone": (["k"], "deleted", [_b(None, None, 3, True), _b(1, "a1", 1)]),
    "two-keys-null-part": (["k", "k2"], "deleted", [
        _b(3, "c1", 1, k2=None), _b(1, None, 1, True), _b(2, "b1", 1, k2="y"),
    ]),
    "delete-col-absent": (["k"], "deleted", [
        {"k": 2, "k2": "x", "v": "b1", "seq": 1}, {"k": 7, "k2": "x", "v": "g", "seq": 1},
    ]),
    "extra-batch-column": (["k"], "deleted", [
        _b(1, "a1", 1, extra=10), _b(8, "h", 1, extra=None), _b(2, None, 1, True, extra=3),
    ]),
}


@pytest.mark.parametrize("case", list(CDC_CASES))
def test_apply_cdc_batch_matches_python_replay(spark, jobs_of, case):
    keys, delete_col, batch_rows = CDC_CASES[case]
    snap = spark.createDataFrame(SNAP, "k int, k2 string, v string, seq long")
    ddl = "k int, k2 string, v string, seq long" + "".join(
        f", {c} {t}" for c, t in (("deleted", "boolean"), ("extra", "int"))
        if c in batch_rows[0]
    )
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in batch_rows], ddl
    ).repartition(2)
    out, jobs = jobs_of(lambda: apply_cdc_batch(snap, batch, keys, "seq", delete_col=delete_col))
    assert jobs == 0  # building the merge is lazy: no probe of the batch
    cols, want = _replay(SNAP, batch_rows, keys, "seq", delete_col)
    assert out.columns == cols
    assert sorted((tuple(r) for r in out.collect()), key=repr) == want


def test_apply_cdc_batch_rejects_missing_keys(spark, snapshot):
    batch = spark.createDataFrame([(1, "a1", 9)], "id int, v string, seq long")
    with pytest.raises(ValueError, match="missing"):
        apply_cdc_batch(snapshot, batch, ["k"], "seq")


def test_cdc_stream_incremental_snapshot(spark, tmp_path):
    bronze = str(tmp_path / "cdc")
    snap_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False), (2, "b-old", 0, False)], SCHEMA
    )
    b1.write.mode("append").parquet(bronze)

    stream = spark.readStream.schema(b1.schema).parquet(bronze)
    q = apply_cdc_stream(stream, snap_dir, ["k"], "seq", ckpt, delete_col="deleted")
    q.awaitTermination(120)
    assert not q.isActive

    snap = spark.read.parquet(snap_dir + "/current")
    assert {(r.k, r.v) for r in snap.collect()} == {(1, "a"), (2, "b")}

    # second increment: update k=1, delete k=2, insert k=9; the
    # restarted query must process ONLY the new file (checkpoint)
    b2 = spark.createDataFrame(
        [(1, "a2", 2, False), (2, None, 2, True), (9, "z", 2, False)], SCHEMA
    )
    b2.write.mode("append").parquet(bronze)

    stream2 = spark.readStream.schema(b1.schema).parquet(bronze)
    q2 = apply_cdc_stream(stream2, snap_dir, ["k"], "seq", ckpt, delete_col="deleted")
    q2.awaitTermination(120)

    snap2 = spark.read.parquet(snap_dir + "/current")
    assert {(r.k, r.v) for r in snap2.collect()} == {(1, "a2"), (9, "z")}


def test_cdc_stream_replay_is_idempotent(spark, tmp_path):
    """Re-running with the same checkpoint and no new files must leave
    the snapshot unchanged (no duplicate merge of batch 0)."""
    bronze = str(tmp_path / "cdc")
    snap_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame([(1, "a", 1, False)], SCHEMA).write.mode("append").parquet(bronze)
    for _ in range(2):
        stream = spark.readStream.schema(
            spark.read.parquet(bronze).schema
        ).parquet(bronze)
        q = apply_cdc_stream(stream, snap_dir, ["k"], "seq", ckpt, delete_col="deleted")
        q.awaitTermination(120)

    snap = spark.read.parquet(snap_dir + "/current")
    assert [(r.k, r.v) for r in snap.collect()] == [(1, "a")]
