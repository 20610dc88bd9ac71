"""Small-file compaction (sinks/compaction.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_etl_framework_spark.sinks.compaction import (
    compact_parquet,
    dataset_stats,
    needs_compaction,
)


def _fragmented(spark, path, n_files=40, rows=4000):
    df = spark.range(rows).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), F.rand(seed=1).alias("x")
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_stats_and_needs_compaction(spark, tmp_path):
    path = str(tmp_path / "frag")
    _fragmented(spark, path)
    s = dataset_stats(spark, path)
    assert s["n_files"] == 40 and s["total_bytes"] > 0
    assert needs_compaction(spark, path)  # 40 tiny files vs 128MB target


def test_compact_preserves_data_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    _fragmented(spark, path)
    before_sum = spark.read.parquet(path).agg(F.sum("id")).first()[0]

    res = compact_parquet(spark, path)
    assert res["compacted"] is True
    assert res["after"]["n_files"] == 1  # tiny dataset -> one target file
    assert res["after"]["n_files"] < res["before"]["n_files"]

    after = spark.read.parquet(path)
    assert after.count() == 4000
    assert after.agg(F.sum("id")).first()[0] == before_sum


def test_compact_noop_when_healthy(spark, tmp_path):
    path = str(tmp_path / "healthy")
    _fragmented(spark, path, n_files=1)
    res = compact_parquet(spark, path)
    assert res["compacted"] is False
    assert dataset_stats(spark, path)["n_files"] == 1


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 3).alias("grp"), F.rand(seed=2).alias("x")
    )
    df.repartition(20).write.mode("overwrite").partitionBy("grp").parquet(path)
    assert dataset_stats(spark, path)["n_files"] >= 20

    res = compact_parquet(spark, path, partition_cols=["grp"], force=True)
    assert res["compacted"] is True

    out = spark.read.parquet(path)
    assert out.count() == 2000
    assert set(out.select("grp").distinct().rdd.map(lambda r: r[0]).collect()) == {0, 1, 2}
    # partition directories survived the rewrite
    import os

    assert sorted(d for d in os.listdir(path) if d.startswith("grp=")) == [
        "grp=0", "grp=1", "grp=2"
    ]


def test_swap_recovers_from_interrupted_rename(spark, tmp_path):
    """r4 review: a swap that died between rename(cur→old) and
    rename(new→cur) leaves only `.old`. A reader/next-swap must roll
    it back instead of treating the dataset as empty — the old code
    would even delete `.old` (the only copy) on the next success."""
    import os

    from ai_etl_framework_spark.storage import (
        _recover_interrupted_swap,
        _swap,
    )

    cur = str(tmp_path / "current")
    spark.range(10).write.parquet(cur)
    # simulate the crash window: cur moved aside, new never landed
    os.rename(cur, cur + ".old")
    assert not os.path.exists(cur)

    _recover_interrupted_swap(spark, cur)
    assert os.path.exists(cur) and not os.path.exists(cur + ".old")
    assert spark.read.parquet(cur).count() == 10

    # and _swap itself performs the same recovery before swapping
    os.rename(cur, cur + ".old")
    new = str(tmp_path / "incoming")
    spark.range(7).write.parquet(new)
    _swap(spark, new, cur)
    assert spark.read.parquet(cur).count() == 7
    assert not os.path.exists(cur + ".old")
