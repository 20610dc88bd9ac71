"""IncrementalBurstMonitor (pipeline/monitor.py): the additive-store
boundary-independence claim — alerts after ANY batch split equal the
batch operator over the full event set — plus store merge semantics
and the st04 registry row's oracle equivalence; the same for the other
keyed-store services, and the store contract they share
(``IncrementalStore``: Hadoop-FS roots, write-next-then-swap, crash
recovery, one job fewer per batch, the stream timeout)."""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

import pytest

from ai_etl_framework_spark.operators.timeseries import burst_detection
from ai_etl_framework_spark.pipeline.monitor import IncrementalBurstMonitor


T0 = datetime(2024, 5, 1, 0, 0, 0)


def _events(spark):
    rows = []
    eid = 0
    for h, n in enumerate([3, 3, 3, 3, 12, 3, 2]):
        for _ in range(n):
            rows.append((eid, T0 + timedelta(hours=h, minutes=eid % 50), "a"))
            eid += 1
    rows.append((eid, None, "a"))        # NULL ts dropped
    rows.append((eid + 1, T0, None))     # NULL key dropped
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )


def _key(rows):
    return sorted(
        (r["event_type"], r["bucket"], r["n"], r["baseline"], r["ratio"],
         r["is_burst"])
        for r in rows
    )


@pytest.mark.parametrize("split", [1, 2, 3])
def test_alerts_boundary_independent(spark, tmp_path, split):
    """The SAME events through 1, 2 or 3 batches (split by event_id
    mod) produce identical alerts, equal to batch burst_detection."""
    ev = _events(spark)
    from pyspark.sql import functions as F

    mon = IncrementalBurstMonitor(
        spark, str(tmp_path / f"m{split}"), trailing=3, factor=2.0,
        min_baseline_buckets=2,
    )
    mon.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    expected = burst_detection(
        ev, trailing=3, factor=2.0, min_baseline_buckets=2
    )
    assert _key(mon.alerts().collect()) == _key(expected.collect())


def test_burst_row_flagged(spark, tmp_path):
    ev = _events(spark)
    mon = IncrementalBurstMonitor(
        spark, str(tmp_path / "m"), trailing=3, factor=2.0,
        min_baseline_buckets=2,
    )
    mon.run_batches([ev])
    got = {r["bucket"].hour: r for r in mon.alerts().collect()}
    assert got[4]["is_burst"] is True and got[4]["ratio"] == 4.0
    assert got[0]["is_burst"] is None  # no baseline yet
    assert got[5]["is_burst"] is False
    with pytest.raises(ValueError, match="bucket_unit"):
        IncrementalBurstMonitor(spark, str(tmp_path / "x"), bucket_unit="ns")


def test_stream_equals_batch_loop(spark, tmp_path):
    """foreachBatch drive == plain loop == batch operator."""
    ev = _events(spark)
    from pyspark.sql import functions as F

    bronze = str(tmp_path / "bronze")
    os.makedirs(bronze)
    for i in range(2):
        stage = str(tmp_path / f"stage{i}")
        ev.where(F.col("event_id") % 2 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(bronze, f"feed_{i}.parquet")
        shutil.move(os.path.join(stage, src), dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    mon = IncrementalBurstMonitor(
        spark, str(tmp_path / "m"), trailing=3, factor=2.0,
        min_baseline_buckets=2,
    )
    mon.run_stream(bronze, str(tmp_path / "ckpt"), schema=ev.schema)
    expected = burst_detection(
        ev, trailing=3, factor=2.0, min_baseline_buckets=2
    )
    assert _key(mon.alerts().collect()) == _key(expected.collect())
    # empty store errors loudly
    fresh = IncrementalBurstMonitor(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="store is empty"):
        fresh.alerts()


# -- incremental OHLC store ------------------------------------------------


def _ticks(spark):
    rows = []
    eid = 0
    for h in range(3):
        for m, v in ((5, 10.0), (20, 30.0), (40, 5.0), (55, 20.0)):
            rows.append((eid, T0 + timedelta(hours=h, minutes=m), "a", v))
            eid += 1
    rows.append((eid, T0, "b", 7.0))
    rows.append((eid + 1, None, "a", 1.0))    # dropped
    rows.append((eid + 2, T0, "a", None))     # dropped
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )


def _ckey(rows):
    return sorted(
        (r["event_type"], r["bucket"], r["open"], r["high"], r["low"],
         r["close"], r["volume"], r["n"])
        for r in rows
    )


@pytest.mark.parametrize("split", [1, 2, 3])
def test_ohlc_store_boundary_independent(spark, tmp_path, split):
    from pyspark.sql import functions as F

    from ai_etl_framework_spark.operators.timeseries import ohlc_bars
    from ai_etl_framework_spark.pipeline.monitor import IncrementalOhlcStore

    ev = _ticks(spark)
    store = IncrementalOhlcStore(spark, str(tmp_path / f"o{split}"))
    store.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    assert _ckey(store.candles().collect()) == _ckey(ohlc_bars(ev).collect())


def test_ohlc_store_pinned(spark, tmp_path):
    from ai_etl_framework_spark.pipeline.monitor import IncrementalOhlcStore

    ev = _ticks(spark)
    store = IncrementalOhlcStore(spark, str(tmp_path / "o"))
    store.run_batches([ev])
    got = {(r["event_type"], r["bucket"].hour): r
           for r in store.candles().collect()}
    a0 = got[("a", 0)]
    assert (a0["open"], a0["high"], a0["low"], a0["close"]) == (
        10.0, 30.0, 5.0, 20.0
    )
    assert a0["volume"] == 65.0 and a0["n"] == 4
    assert got[("b", 0)]["n"] == 1
    fresh = IncrementalOhlcStore(spark, str(tmp_path / "fresh"))
    with pytest.raises(ValueError, match="store is empty"):
        fresh.candles()


# ---------------------------------------------------------------------------
# IncrementalActiveUsers (st06)
# ---------------------------------------------------------------------------

def _activity_events(spark):
    rows = []
    eid = 0
    for u in range(6):
        for d in (0, 1, 2, 9, 10, 20):
            if (u + d) % 2 == 0:
                rows.append(
                    (eid, T0 + timedelta(days=d, minutes=u), u)
                )
                eid += 1
    rows.append((eid, None, 1))      # NULL ts dropped
    rows.append((eid + 1, T0, None))  # NULL user dropped
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )


def _curve_key(rows):
    return sorted((r["day"], r["active_users"]) for r in rows)


@pytest.mark.parametrize("split", [1, 2, 3])
def test_active_users_boundary_independent(spark, tmp_path, split):
    from ai_etl_framework_spark.operators.activity import (
        rolling_active_users,
    )
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalActiveUsers,
    )

    ev = _activity_events(spark)
    expected = _curve_key(rolling_active_users(ev, window_days=7).collect())
    root = tmp_path / f"au{split}"
    mon = IncrementalActiveUsers(spark, str(root), window_days=7)
    import pyspark.sql.functions as F

    mon.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    assert _curve_key(mon.curve().collect()) == expected


def test_active_users_replay_idempotent(spark, tmp_path):
    """At-least-once delivery: re-processing the SAME batch changes
    nothing (union+distinct absorbs replays)."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalActiveUsers,
    )

    ev = _activity_events(spark)
    root = tmp_path / "replay"
    mon = IncrementalActiveUsers(spark, str(root), window_days=7)
    mon.process_batch(ev, 0)
    once = _curve_key(mon.curve().collect())
    mon.process_batch(ev, 1)
    assert _curve_key(mon.curve().collect()) == once


def test_active_users_stream_equals_batch(spark, tmp_path):
    from ai_etl_framework_spark.operators.activity import (
        rolling_active_users,
    )
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalActiveUsers,
    )
    import pyspark.sql.functions as F

    ev = _activity_events(spark)
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    for i in (0, 1):
        stage = tmp_path / f"stage{i}"
        ev.where(F.col("event_id") % 2 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        src = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        dst = bronze / f"feed_{i}.parquet"
        shutil.move(str(stage / src), str(dst))
        os.utime(dst, (time.time() + i, time.time() + i))
    mon = IncrementalActiveUsers(spark, str(tmp_path / "root"), window_days=7)
    mon.run_stream(
        str(bronze), str(tmp_path / "ckpt"), schema=ev.schema,
        max_files_per_trigger=1,
    )
    expected = _curve_key(rolling_active_users(ev, window_days=7).collect())
    assert _curve_key(mon.curve().collect()) == expected


# ---------------------------------------------------------------------------
# IncrementalCategoryMix (st09)
# ---------------------------------------------------------------------------

def _mix_events(spark):
    rows = []
    eid = 0
    for d in range(4):
        # day d: (3 - d%3) views, (1 + d%3) clicks — the mix moves
        for _ in range(3 - d % 3):
            rows.append((eid, T0 + timedelta(days=d, minutes=eid), "view"))
            eid += 1
        for _ in range(1 + d % 3):
            rows.append((eid, T0 + timedelta(days=d, minutes=eid), "click"))
            eid += 1
    rows.append((eid, None, "view"))      # NULL ts dropped
    rows.append((eid + 1, T0, None))      # NULL category dropped
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )


def _jsd_key(rows):
    return sorted(
        (str(r[0]), r["n"], r["n_categories"], r["jsd"]) for r in rows
    )


@pytest.mark.parametrize("split", [1, 2, 3])
def test_mix_monitor_boundary_independent(spark, tmp_path, split):
    """Additive cell store ⇒ the streaming JSD table equals the batch
    operator under ANY partition of the events into micro-batches —
    the property that justifies st09's real hash oracle."""
    from ai_etl_framework_spark.operators.drift import jsd_drift
    from ai_etl_framework_spark.pipeline.monitor import IncrementalCategoryMix

    import pyspark.sql.functions as F

    ev = _mix_events(spark)
    batch = jsd_drift(
        ev.select(F.to_date("ts").alias("day"), "event_type"),
        "event_type", "day",
    )
    expected = _jsd_key(batch.collect())
    mon = IncrementalCategoryMix(spark, str(tmp_path / f"mix{split}"))
    mon.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    assert _jsd_key(mon.jsd(period_name="day").collect()) == expected


def test_mix_monitor_empty_store_fails_loud(spark, tmp_path):
    from ai_etl_framework_spark.pipeline.monitor import IncrementalCategoryMix

    mon = IncrementalCategoryMix(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="store is empty"):
        mon.jsd()


def test_active_users_second_readout_new_returning(spark, tmp_path):
    """st10: the SAME idempotent (user, day) store serves the
    new-vs-returning decomposition; equals the batch operator under
    any batch split and absorbs replays."""
    from ai_etl_framework_spark.operators.activity import new_returning_users
    from ai_etl_framework_spark.pipeline.monitor import IncrementalActiveUsers

    import pyspark.sql.functions as F

    ev = _activity_events(spark)
    expected = sorted(
        tuple(r) for r in new_returning_users(ev).collect()
    )
    mon = IncrementalActiveUsers(spark, str(tmp_path / "nr"), window_days=7)
    mon.run_batches(
        [ev.where(F.col("event_id") % 2 == i) for i in range(2)]
    )
    got = sorted(tuple(r) for r in mon.new_returning().collect())
    assert got == expected
    # replay absorbs
    mon.process_batch(ev, 9)
    assert sorted(tuple(r) for r in mon.new_returning().collect()) == expected


# -- heavy hitters (st11, r12) -------------------------------------------


def _hh_events(spark):
    rows = []
    eid = 0
    # user u gets u+1 events -> a known skewed distribution; one NULL
    # user (skew_report pins NULL as a key value, usually the culprit)
    for u in range(8):
        for _ in range(u + 1):
            rows.append((eid, T0 + timedelta(minutes=eid), u))
            eid += 1
    rows.append((eid, T0, None))
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )


def _hh_key(rows):
    return sorted(
        (r["rank"], str(r["user_id"]), r["n"], r["share"],
         r["n_rows"], r["n_keys"], r["hhi"], r["max_share"])
        for r in rows
    )


@pytest.mark.parametrize("split", [1, 2, 3])
def test_heavy_hitters_boundary_independent(spark, tmp_path, split):
    """Additive key store ⇒ the streaming skew report equals the batch
    advisor under ANY partition of the events into micro-batches —
    the property that justifies st11's real hash oracle."""
    from ai_etl_framework_spark.operators.audit import skew_report
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalHeavyHitters,
    )

    import pyspark.sql.functions as F

    ev = _hh_events(spark)
    expected = _hh_key(skew_report(ev, ["user_id"], top_k=5).collect())
    mon = IncrementalHeavyHitters(spark, str(tmp_path / f"hh{split}"))
    mon.run_batches(
        [ev.where(F.col("event_id") % split == i) for i in range(split)]
    )
    assert _hh_key(mon.report(top_k=5).collect()) == expected
    # NULL key survives into the report as its own group
    assert any(r["user_id"] is None for r in mon.report(top_k=20).collect())


def test_heavy_hitters_empty_store_fails_loud(spark, tmp_path):
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalHeavyHitters,
    )

    mon = IncrementalHeavyHitters(spark, str(tmp_path / "hhempty"))
    with pytest.raises(ValueError, match="store is empty"):
        mon.report()


# -- the store contract every service shares (IncrementalStore) ----------


def test_file_uri_root_matches_plain_path(spark, tmp_path):
    """The store is found through the Hadoop FileSystem API, so a
    ``file://`` root folds batch 2 onto batch 1 exactly like a plain
    path (a local-only existence check never finds a URI's store and
    overwrites it every batch)."""
    from pyspark.sql import functions as F

    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalHeavyHitters,
    )

    ev = _hh_events(spark)
    batches = [ev.where(F.col("event_id") % 2 == i) for i in range(2)]
    plain = IncrementalHeavyHitters(spark, str(tmp_path / "plain"))
    uri = IncrementalHeavyHitters(spark, (tmp_path / "uri").as_uri())
    for mon in (plain, uri):
        mon.run_batches(batches)
    want = _hh_key(plain.report().collect())
    assert _hh_key(uri.report().collect()) == want
    assert sum(r["n"] for r in uri.report().collect()) == ev.count()


def _checkpoint_overwrite_fold(mon, batch):
    """The fold the swap replaced: materialize the merged store with
    localCheckpoint, then overwrite the store in place."""
    part = mon._partial(batch)
    store = mon._read(mon.store_dir)
    merged = part if store is None else mon._merge(store.unionByName(part))
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        mon.store_dir
    )


def test_fold_runs_one_job_fewer_than_checkpoint_overwrite(
    spark, tmp_path, jobs_of
):
    """Writing the merged store beside the old one and swapping it in
    needs no eager localCheckpoint: one Spark job fewer per batch, and
    the same store."""
    from pyspark.sql import functions as F

    ev = _events(spark)
    kw = dict(trailing=3, factor=2.0, min_baseline_buckets=2)
    new = IncrementalBurstMonitor(spark, str(tmp_path / "new"), **kw)
    old = IncrementalBurstMonitor(spark, str(tmp_path / "old"), **kw)
    for i in range(3):
        b = ev.where(F.col("event_id") % 3 == i)
        _, n_new = jobs_of(lambda: new.process_batch(b, i))
        _, n_old = jobs_of(lambda: _checkpoint_overwrite_fold(old, b))
        assert n_new == n_old - 1, (i, n_new, n_old)
    assert _key(new.alerts().collect()) == _key(old.alerts().collect())


def test_interrupted_swap_is_recovered(spark, tmp_path):
    """A crash between the swap's two renames leaves only
    ``<store>.old``: the readout and the next batch both read it back
    instead of starting from an empty store."""
    from pyspark.sql import functions as F

    ev = _events(spark)
    kw = dict(trailing=3, factor=2.0, min_baseline_buckets=2)
    b0, b1 = (ev.where(F.col("event_id") % 2 == i) for i in range(2))
    mon = IncrementalBurstMonitor(spark, str(tmp_path / "m"), **kw)
    mon.process_batch(b0, 0)
    after_b0 = _key(mon.alerts().collect())

    os.rename(mon.store_dir, mon.store_dir + ".old")
    assert _key(mon.alerts().collect()) == after_b0
    assert os.path.isdir(mon.store_dir)

    os.rename(mon.store_dir, mon.store_dir + ".old")
    mon.process_batch(b1, 1)
    expected = burst_detection(ev, **kw)
    assert _key(mon.alerts().collect()) == _key(expected.collect())
    assert not os.path.exists(mon.store_dir + ".old")


def test_run_stream_timeout_names_the_service(spark, tmp_path):
    """A timeout stops the stream and names the service; a timeout that
    is not positive fails before any stream starts (``awaitTermination``
    would reject it only after ``start()``, leaving the query running)."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    mon = IncrementalBurstMonitor(spark, str(tmp_path / "m"))
    schema = "event_id long, ts timestamp, event_type string"
    with pytest.raises(TimeoutError, match="IncrementalBurstMonitor"):
        mon.run_stream(
            str(bronze), str(tmp_path / "ckpt"), schema=schema,
            timeout_sec=0.001,
        )
    assert not spark.streams.active
    with pytest.raises(ValueError, match="timeout_sec"):
        mon.run_stream(
            str(bronze), str(tmp_path / "ckpt0"), schema=schema,
            timeout_sec=0,
        )
    assert not spark.streams.active
