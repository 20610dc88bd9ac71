"""IncrementalQuantiles (pipeline/monitor.py) + binned_quantiles
(operators/scaling.py): the additive-store boundary-independence
claim — quantiles after ANY batch split equal the batch operator over
the full event set — plus the interpolation rule pinned by hand and
against exact percentiles in the width→0 limit."""

from __future__ import annotations

import random

import pytest

from ai_etl_framework_spark.operators.scaling import binned_quantiles
from ai_etl_framework_spark.pipeline.monitor import IncrementalQuantiles



def _events(spark, n=400):
    rng = random.Random(95)
    rows = [
        (i, "k" + str(i % 2), round(rng.uniform(0, 100), 2))
        for i in range(n)
    ]
    rows.append((n, "k0", None))   # NULL value dropped
    rows.append((n + 1, None, 5.0))  # NULL key dropped
    return spark.createDataFrame(rows, "event_id long, k string, v double")


def _key(rows):
    return sorted(
        (r["k"], r["q"], r["n_total"], r["bin"], r["estimate"]) for r in rows
    )


# ---------------------------------------------------------------------------
# batch operator semantics
# ---------------------------------------------------------------------------

def test_binned_quantiles_hand_math(spark):
    # values: 1,2,3,4 with width 2 → bins 0:{1}, 1:{2,3}, 2:{4}... careful:
    # floor(1/2)=0, floor(2/2)=1, floor(3/2)=1, floor(4/2)=2
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0)], "g string, v double"
    )
    got = {
        r["q"]: r
        for r in binned_quantiles(
            df, "v", width=2.0, qs=(0.25, 0.5, 1.0), key_col="g"
        ).collect()
    }
    # q=0.25: t=1 → bin 0 (cum 1 ≥ 1), est = 0·2 + 2·(1−0)/1 = 2.0
    assert got[0.25]["bin"] == 0 and got[0.25]["estimate"] == 2.0
    # q=0.5: t=2 → bin 1 (cum 3 ≥ 2), est = 2 + 2·(2−1)/2 = 3.0
    assert got[0.5]["bin"] == 1 and got[0.5]["estimate"] == 3.0
    # q=1: t=4 → bin 2, est = 4 + 2·(4−3)/1 = 6.0 (top bin's upper edge)
    assert got[1.0]["bin"] == 2 and got[1.0]["estimate"] == 6.0
    assert all(r["n_total"] == 4 for r in got.values())


def test_binned_quantiles_tiny_width_matches_exact(spark):
    """With width far below the value granularity every bin holds one
    distinct value, so the estimate's bin recovers the exact type-1
    quantile's value."""
    vals = [float(v) for v in range(1, 101)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    got = {
        r["q"]: r
        for r in binned_quantiles(
            df, "v", width=0.5, qs=(0.5, 0.95), key_col="g"
        ).collect()
    }
    # type-1 p50 = 50th value = 50.0 → bin floor(50/0.5) = 100
    assert got[0.5]["bin"] == 100
    assert got[0.95]["bin"] == 190  # 95th value = 95.0


def test_binned_quantiles_guards(spark):
    df = spark.createDataFrame([("g", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="width"):
        binned_quantiles(df, "v", width=0.0)
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        binned_quantiles(df, "v", width=1.0, qs=(1.5,))


def test_binned_quantiles_negative_values(spark):
    """floor binning is exact for negatives too (bin −1 ≠ bin 0)."""
    df = spark.createDataFrame(
        [("g", -3.0), ("g", -1.0), ("g", 1.0), ("g", 3.0)],
        "g string, v double",
    )
    got = {
        r["q"]: r
        for r in binned_quantiles(
            df, "v", width=2.0, qs=(0.25, 1.0), key_col="g"
        ).collect()
    }
    assert got[0.25]["bin"] == -2  # floor(−3/2) = −2
    assert got[1.0]["bin"] == 1


# ---------------------------------------------------------------------------
# streaming service
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("split", [1, 2, 3])
def test_quantiles_boundary_independent(spark, tmp_path, split):
    """The SAME events through 1, 2 or 3 batches (split by event_id
    mod) produce identical quantiles, equal to batch binned_quantiles."""
    from pyspark.sql import functions as F

    ev = _events(spark)
    svc = IncrementalQuantiles(
        spark, str(tmp_path / f"q{split}"), value_col="v", key_col="k",
        width=5.0, qs=(0.5, 0.95, 0.99),
    )
    svc.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    expected = binned_quantiles(
        ev, "v", width=5.0, qs=(0.5, 0.95, 0.99), key_col="k"
    )
    assert _key(svc.quantiles().collect()) == _key(expected.collect())


def test_stream_equals_batch(spark, tmp_path):
    """readStream → foreachBatch over two files == batch operator."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    ev = _events(spark)
    root = str(tmp_path / "svc")
    bronze = os.path.join(root, "bronze")
    os.makedirs(bronze)
    for i in (0, 1):
        stage = os.path.join(root, f"stage{i}")
        ev.where(F.col("event_id") % 2 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(bronze, f"feed_{i}.parquet")
        shutil.move(os.path.join(stage, src), dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    svc = IncrementalQuantiles(
        spark, root, value_col="v", key_col="k", width=5.0
    )
    svc.run_stream(
        bronze, os.path.join(root, "ckpt"), schema=ev.schema,
        max_files_per_trigger=1,
    )
    expected = binned_quantiles(ev, "v", width=5.0, key_col="k")
    assert _key(svc.quantiles().collect()) == _key(expected.collect())


def test_empty_store_raises(spark, tmp_path):
    svc = IncrementalQuantiles(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="store is empty"):
        svc.quantiles()
    with pytest.raises(ValueError, match="width"):
        IncrementalQuantiles(spark, str(tmp_path / "w"), width=-1.0)


# ---------------------------------------------------------------------------
# IncrementalCusumMonitor (st08)
# ---------------------------------------------------------------------------

def _cusum_events(spark):
    import datetime as dt

    rows = []
    for d in range(30):
        for j in range(4):
            v = 10.0 + (d % 3) + (5.0 if d >= 20 else 0.0) + j * 0.5
            rows.append(
                (d * 10 + j, "k", dt.datetime(2024, 1, 1 + d, j), v)
            )
    return spark.createDataFrame(
        rows, "event_id long, k string, t timestamp, v double"
    )


@pytest.mark.parametrize("split", [1, 2, 3])
def test_cusum_monitor_boundary_independent(spark, tmp_path, split):
    from pyspark.sql import functions as F

    from ai_etl_framework_spark.operators.timeseries import cusum_screen
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalCusumMonitor,
    )

    ev = _cusum_events(spark)
    mon = IncrementalCusumMonitor(
        spark, str(tmp_path / f"c{split}"), value_col="v", key_col="k",
        ts_col="t", bucket_unit="day",
    )
    mon.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    expected = cusum_screen(ev, "v", "t", key_col="k", bucket_unit="day")
    got = sorted(map(tuple, mon.screen().collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want
    # the +5 level shift at day 21 must alarm
    assert any(r[-2] for r in got)
