"""Incremental streaming services: each folds an event stream, one
micro-batch at a time, into a persisted keyed store, and answers its
readouts from that store — so a readout sees every event the service
has seen, not just the current batch.

Every service subclasses :class:`IncrementalStore`, which owns the
store contract:

- **Any Hadoop filesystem.** The store lives at ``root/<name>`` and is
  found, read and replaced through the Hadoop FileSystem API
  (``storage.py``'s helpers, as in ``sinks/compaction.py``), so a
  ``file://``, ``hdfs://`` or ``s3a://`` root behaves like a plain path.
- **Write next, then swap.** A batch never overwrites the store it
  reads. The merged store is written to the sibling ``<name>.next`` and
  swapped in with two checked renames; a crash between them leaves the
  previous store as ``<name>.old``, which the next read restores.
- **One fold.** A service supplies the batch's partial frame and the
  merge of (store ∪ partial); the base folds, writes and swaps. The
  first batch writes its partial frame as is.
- **One driver.** :meth:`IncrementalStore.run_stream` drives
  ``process_batch`` under ``foreachBatch`` with
  ``Trigger.AvailableNow``; :meth:`IncrementalStore.run_batches` is its
  plain-loop twin.

Every store is MERGEABLE — additive counts and sums, min/max with
position keys, or an idempotent distinct — so the final store, and
every readout, is independent of micro-batch BOUNDARIES: after any
partition of the same events into batches it equals the batch operator
over the full event set. That is why the st04–st11 registry rows carry
REAL hash oracles rather than rows-only checks. Additive stores (burst,
OHLC volume, quantile bins, CUSUM moments, category cells, heavy
hitters) do NOT absorb at-least-once replays: pair them with upstream
exactly-once file semantics or an id-dedup stage. The activity store
is union + distinct, so a replayed batch changes nothing.

Scale shape per batch: one batch-sized aggregation plus one
store-sized merge; every store is dimension-bounded (keys × observed
buckets, bins or days), never event-scale.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_etl_framework_spark.storage import (
    _exists,
    _recover_interrupted_swap,
    _swap,
)

__all__ = [
    "IncrementalBurstMonitor",
    "IncrementalOhlcStore",
    "IncrementalActiveUsers",
    "IncrementalQuantiles",
    "IncrementalCusumMonitor",
    "IncrementalCategoryMix",
    "IncrementalHeavyHitters",
]


def _check_bucket_unit(bucket_unit: str) -> None:
    if bucket_unit not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported bucket_unit {bucket_unit!r}")


class IncrementalStore:
    """Base of the foreachBatch services: the store at ``store_dir``,
    its read, the fold that replaces it per batch, and the stream and
    plain-loop drivers.

    A subclass supplies ``_partial(batch)`` (the batch's contribution,
    in the store's columns) and ``_merge(both)`` (store ∪ partial
    reduced back to one row per store key), plus its readouts.
    """

    def __init__(self, spark: SparkSession, root: str, store_name: str) -> None:
        self.spark = spark
        self.root = root
        self.store_dir = os.path.join(root, store_name)

    def _read(self, path: str) -> Optional[DataFrame]:
        """The parquet dataset at ``path``, or None when it does not
        exist — after restoring a swap that died between its renames."""
        _recover_interrupted_swap(self.spark, path)
        if not _exists(self.spark, path):
            return None
        return self.spark.read.parquet(path)

    def _store(self) -> DataFrame:
        store = self._read(self.store_dir)
        if store is None:
            raise ValueError("no events processed yet: store is empty")
        return store

    def _partial(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self, both: DataFrame) -> DataFrame:
        raise NotImplementedError

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """Fold one batch into the store: merge its partial frame with
        the current store, write the result beside the store and swap
        it in. Runs identically under foreachBatch and in a plain
        loop."""
        part = self._partial(batch)
        store = self._read(self.store_dir)
        merged = part if store is None else self._merge(store.unionByName(part))
        nxt = self.store_dir + ".next"
        merged.write.mode("overwrite").parquet(nxt)
        _swap(self.spark, nxt, self.store_dir)

    def run_stream(
        self,
        bronze_dir: str,
        checkpoint_dir: str,
        schema,
        max_files_per_trigger: int = 1,
        timeout_sec: int = 300,
    ) -> None:
        """Drive :meth:`process_batch` over a parquet file-source
        stream to completion (Trigger.AvailableNow).
        ``max_files_per_trigger=1`` makes each bronze file its own
        micro-batch — the incremental shape; raise it for bulk
        backfills. Raises TimeoutError naming the service when the
        stream has not finished in ``timeout_sec``, and ValueError before
        the stream starts when ``timeout_sec`` is not positive."""
        if timeout_sec <= 0:
            raise ValueError(f"timeout_sec must be > 0, got {timeout_sec}")
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(bronze_dir)
        )
        q = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"{type(self).__name__} stream did not finish in {timeout_sec}s"
            )

    def run_batches(self, batches) -> None:
        """Batch twin of :meth:`run_stream`: the same per-batch fold
        over an explicit batch sequence."""
        for i, b in enumerate(batches):
            self.process_batch(b, i)


class IncrementalBurstMonitor(IncrementalStore):
    """Streaming burst monitor — the production form of
    operators/timeseries.burst_detection: each batch adds its
    (key, bucket, n) counts to the store, and ``alerts()`` runs
    :func:`burst_flags` (one key-partitioned window) over the store's
    trailing windows, so the monitor sees corpus-lifetime baselines.
    The counts are additive, so ``alerts()`` equals batch
    ``burst_detection`` over every event seen (pinned in
    tests/test_burst_monitor.py; the st04 row carries x61's oracle)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "event_type",
        ts_col: str = "ts",
        bucket_unit: str = "hour",
        trailing: int = 24,
        factor: float = 3.0,
        min_baseline_buckets: int = 3,
    ) -> None:
        _check_bucket_unit(bucket_unit)
        super().__init__(spark, root, "bucket_counts")
        self.key_col = key_col
        self.ts_col = ts_col
        self.bucket_unit = bucket_unit
        self.trailing = trailing
        self.factor = factor
        self.min_baseline_buckets = min_baseline_buckets

    def _partial(self, batch: DataFrame) -> DataFrame:
        return (
            batch.where(
                F.col(self.key_col).isNotNull()
                & F.col(self.ts_col).isNotNull()
            )
            .groupBy(
                F.col(self.key_col),
                F.date_trunc(self.bucket_unit, F.col(self.ts_col)).alias(
                    "bucket"
                ),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.groupBy(self.key_col, "bucket").agg(
            F.sum("n").cast("long").alias("n")
        )

    def alerts(self) -> DataFrame:
        """Burst table over the CURRENT store state — identical to
        batch burst_detection over every event the monitor has seen."""
        from ai_etl_framework_spark.operators.timeseries import burst_flags

        return burst_flags(
            self._store(),
            self.key_col,
            trailing=self.trailing,
            factor=self.factor,
            min_baseline_buckets=self.min_baseline_buckets,
        )


class IncrementalOhlcStore(IncrementalStore):
    """Streaming OHLC candle service — the incremental twin of
    operators/timeseries.ohlc_bars: each micro-batch folds its ticks
    into a persisted per-(key, bucket) candle store. Every candle
    component is MERGEABLE (open/close carry their BIGINT position
    keys so min_by/max_by re-reduce exactly; high/low/volume/n are
    plain min/max/sum), so the final store is independent of
    micro-batch boundaries and ``candles()`` equals the batch operator
    over all ticks seen — the st04 argument again, giving this
    streaming row a real hash oracle (x49's SQL).

    Store columns: (key, bucket, open_k, open, high, low, close_k,
    close, volume, n) — the position keys stay INSIDE the store;
    ``candles()`` projects the public OHLC shape with the operator's
    rounding."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "event_type",
        ts_col: str = "ts",
        value_col: str = "value",
        tiebreak_col: str = "event_id",
        bucket_unit: str = "hour",
    ) -> None:
        _check_bucket_unit(bucket_unit)
        super().__init__(spark, root, "candles")
        self.key_col = key_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.tiebreak_col = tiebreak_col
        self.bucket_unit = bucket_unit

    def _partial(self, batch: DataFrame) -> DataFrame:
        from ai_etl_framework_spark.operators.timeseries import _pos_key

        k = _pos_key(self.ts_col, self.tiebreak_col)
        v = F.col(self.value_col)
        return (
            batch.where(
                F.col(self.key_col).isNotNull()
                & F.col(self.ts_col).isNotNull()
                & v.isNotNull()
            )
            .groupBy(
                F.col(self.key_col),
                F.date_trunc(self.bucket_unit, F.col(self.ts_col)).alias(
                    "bucket"
                ),
            )
            .agg(
                F.min(k).alias("open_k"),
                F.min_by(v, k).alias("open"),
                F.max(v).alias("high"),
                F.min(v).alias("low"),
                F.max(k).alias("close_k"),
                F.max_by(v, k).alias("close"),
                F.sum(v).alias("volume"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.groupBy(self.key_col, "bucket").agg(
            F.min("open_k").alias("open_k"),
            F.min_by(F.col("open"), F.col("open_k")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max("close_k").alias("close_k"),
            F.max_by(F.col("close"), F.col("close_k")).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("n").cast("long").alias("n"),
        )

    def candles(self) -> DataFrame:
        """Public OHLC table over the store — the ohlc_bars shape and
        rounding."""
        return self._store().select(
            self.key_col,
            "bucket",
            F.round("open", 6).alias("open"),
            F.round("high", 6).alias("high"),
            F.round("low", 6).alias("low"),
            F.round("close", 6).alias("close"),
            F.round("volume", 6).alias("volume"),
            "n",
        )


class IncrementalActiveUsers(IncrementalStore):
    """Streaming rolling-active-users service — the incremental twin
    of operators/activity.rolling_active_users: each micro-batch
    collapses to its distinct (user, day) pairs and MERGES into a
    persisted activity-day store (union + distinct — idempotent and
    commutative, the strongest mergeability there is: re-delivered
    events are absorbed, so the store is independent of micro-batch
    boundaries AND of at-least-once replays). ``curve()`` runs the
    sweep-line core over the store, so it equals the batch operator
    over every event seen — the st04 argument; the st06 registry row
    therefore carries x86's REAL hash oracle (which is itself the
    NAIVE per-day COUNT DISTINCT definition).

    The store is the (users × active days) frame — the same frame ANY
    correct rolling-distinct needs, persisted once instead of
    recomputed per refresh. Compact it on the maintenance cadence like
    the dedup stores."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        user_col: str = "user_id",
        ts_col: str = "ts",
        window_days: int = 7,
    ) -> None:
        if window_days < 1:
            raise ValueError(f"window_days must be >= 1, got {window_days}")
        super().__init__(spark, root, "active_days")
        self.user_col = user_col
        self.ts_col = ts_col
        self.window_days = window_days

    def _partial(self, batch: DataFrame) -> DataFrame:
        return (
            batch.where(
                F.col(self.user_col).isNotNull()
                & F.col(self.ts_col).isNotNull()
            )
            .select(
                F.col(self.user_col).alias("u"),
                F.to_date(self.ts_col).alias("d"),
            )
            .distinct()
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.distinct()

    def curve(self) -> DataFrame:
        """(day, active_users) over everything seen — identical to the
        batch operator on the full event set."""
        from ai_etl_framework_spark.operators.activity import (
            rolling_active_from_days,
        )

        return rolling_active_from_days(self._store(), self.window_days)

    def new_returning(self) -> DataFrame:
        """New-vs-returning decomposition over everything seen — the
        SAME persisted (user, day) store, second readout (st10; the
        store is idempotent-distinct, so this equals the batch
        operator over the full event set — st06's argument verbatim,
        and the st10 registry row carries x127's REAL hash oracle)."""
        from ai_etl_framework_spark.operators.activity import (
            new_returning_from_days,
        )

        # the store's frame is (u, d); the seam's contract is (u, day)
        return new_returning_from_days(
            self._store().select("u", F.col("d").alias("day"))
        )


class IncrementalQuantiles(IncrementalStore):
    """Streaming latency/value-quantile service — the incremental twin
    of operators/scaling.binned_quantiles: each micro-batch bins its
    values to ``floor(v/width)`` and MERGES the counts into a
    persisted (key, bin, n) histogram store. Bin counts are ADDITIVE,
    so ``quantiles()`` equals the batch operator over the full event
    set after any batch split (the st07 registry row carries x95's
    REAL hash oracle).

    ``quantiles()`` runs :func:`quantiles_from_bins` — the SAME code
    path the batch operator uses (the rolling_active_from_days seam).
    The store is |keys|·(value range/width) rows — bounded by the
    DOMAIN, not the corpus, so it never compacts."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        value_col: str = "value",
        key_col: str = "event_type",
        width: float = 5.0,
        qs: tuple = (0.5, 0.95, 0.99),
    ) -> None:
        if width <= 0:
            raise ValueError(f"width must be > 0, got {width}")
        super().__init__(spark, root, "value_bins")
        self.value_col = value_col
        self.key_col = key_col
        self.width = width
        self.qs = qs

    def _partial(self, batch: DataFrame) -> DataFrame:
        return (
            batch.where(
                F.col(self.key_col).isNotNull()
                & F.col(self.value_col).isNotNull()
            )
            .groupBy(
                F.col(self.key_col),
                F.floor(F.col(self.value_col) / F.lit(self.width))
                .cast("long")
                .alias("bin"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.groupBy(self.key_col, "bin").agg(
            F.sum("n").cast("long").alias("n")
        )

    def quantiles(self) -> DataFrame:
        """Quantile table over the CURRENT store — identical to batch
        binned_quantiles over every event the service has seen."""
        from ai_etl_framework_spark.operators.scaling import (
            quantiles_from_bins,
        )

        return quantiles_from_bins(
            self._store(), self.width, self.qs, key_col=self.key_col
        )


class IncrementalCusumMonitor(IncrementalStore):
    """Streaming CUSUM drift monitor — the incremental twin of
    operators/timeseries.cusum_screen: each micro-batch folds its
    per-(key, bucket) value SUMS and COUNTS into a persisted store
    (both additive ⇒ the bucket MEAN sum/n re-derives exactly), and
    ``screen()`` runs cusum_from_series over the store's mean series —
    the same code path as the batch operator, so the st08 registry
    row carries x96's REAL hash oracle. The store is (keys × observed
    buckets) — the burst monitor's bound."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        value_col: str = "value",
        key_col: str = "event_type",
        ts_col: str = "ts",
        bucket_unit: str = "day",
        slack: float = 0.5,
        threshold: float = 4.0,
    ) -> None:
        _check_bucket_unit(bucket_unit)
        super().__init__(spark, root, "bucket_moments")
        self.value_col = value_col
        self.key_col = key_col
        self.ts_col = ts_col
        self.bucket_unit = bucket_unit
        self.slack = slack
        self.threshold = threshold

    def _partial(self, batch: DataFrame) -> DataFrame:
        return (
            batch.where(
                F.col(self.key_col).isNotNull()
                & F.col(self.ts_col).isNotNull()
                & F.col(self.value_col).isNotNull()
            )
            .groupBy(
                F.col(self.key_col),
                F.date_trunc(self.bucket_unit, F.col(self.ts_col)).alias(
                    "bucket"
                ),
            )
            .agg(
                F.sum(self.value_col).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.groupBy(self.key_col, "bucket").agg(
            F.sum("s").alias("s"), F.sum("n").cast("long").alias("n")
        )

    def screen(self) -> DataFrame:
        """CUSUM table over the CURRENT store — identical to batch
        cusum_screen over every event the monitor has seen, up to the
        float note below: the store mean is sum/n over MERGED partial
        sums, associativity-equal to the batch mean (documented; the
        6dp rounding absorbs the last-ulp difference in practice and
        the stream==batch equality test pins it)."""
        from ai_etl_framework_spark.operators.timeseries import (
            cusum_from_series,
        )

        series = self._store().select(
            self.key_col,
            "bucket",
            (F.col("s") / F.col("n")).alias("__x"),
        )
        return cusum_from_series(
            series, [self.key_col], slack=self.slack,
            threshold=self.threshold,
        )


class IncrementalCategoryMix(IncrementalStore):
    """Streaming categorical-mix drift service — the incremental twin
    of operators/drift.jsd_drift: each micro-batch collapses to its
    (period, category) counts and MERGES them additively into a
    persisted cell store, so ``jsd()`` — which runs
    :func:`~ai_etl_framework_spark.operators.drift.jsd_from_cells`,
    the SAME core the batch operator uses — equals the batch operator
    over every event seen. The st09 registry row therefore carries
    x121's REAL hash oracle.

    The store is the periods × categories cell frame —
    dimension-bounded by construction, persisted once instead of
    recomputed per refresh. Compact it on the maintenance cadence like
    the dedup stores."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cat_col: str = "event_type",
        ts_col: str = "ts",
        bucket_unit: str = "day",
    ) -> None:
        super().__init__(spark, root, "mix_cells")
        self.cat_col = cat_col
        self.ts_col = ts_col
        self.bucket_unit = bucket_unit

    def _partial(self, batch: DataFrame) -> DataFrame:
        return (
            batch.where(
                F.col(self.cat_col).isNotNull()
                & F.col(self.ts_col).isNotNull()
            )
            .select(
                F.date_trunc(self.bucket_unit, F.col(self.ts_col))
                .cast("date")
                .alias("per"),
                F.col(self.cat_col).alias("cat"),
            )
            .groupBy("per", "cat")
            .agg(F.count(F.lit(1)).cast("double").alias("n_pc"))
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.groupBy("per", "cat").agg(F.sum("n_pc").alias("n_pc"))

    def jsd(self, period_name: str = "period") -> DataFrame:
        """(period_name, n, n_categories, jsd) over everything seen —
        identical to the batch operator on the full event set."""
        from ai_etl_framework_spark.operators.drift import jsd_from_cells

        return jsd_from_cells(self._store(), period_name)


class IncrementalHeavyHitters(IncrementalStore):
    """Streaming heavy-hitters / key-skew service — the incremental
    twin of operators/audit.skew_report: each micro-batch collapses
    to its per-key counts and MERGES them additively into a persisted
    key store, so ``report()`` — which runs
    :func:`~ai_etl_framework_spark.operators.audit.skew_report_from_counts`,
    the SAME rider/top-k core the batch advisor uses — equals the
    batch operator over every event seen. The st11 registry row
    therefore carries a REAL hash oracle (x131's SQL shape over the
    same input).

    The store is the |distinct keys| frame — exactly the thing being
    measured (skew_report's contract); for key spaces too large to
    persist exactly, a Misra-Gries bounded-memory variant would trade
    the exact oracle for an ε-approximate one — out of scope here,
    documented so the 100 TB deployment decision is explicit."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "user_id",
    ) -> None:
        super().__init__(spark, root, "hh_counts")
        self.key_col = key_col

    def _partial(self, batch: DataFrame) -> DataFrame:
        # NULL keys are KEPT (as their own group): skew_report pins
        # NULL as a key value — usually the heaviest skew culprit
        return batch.groupBy(F.col(self.key_col).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    def _merge(self, both: DataFrame) -> DataFrame:
        return both.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    def report(self, top_k: int = 20) -> DataFrame:
        """skew_report over everything seen — (rank, key, n, share,
        n_rows, n_keys, hhi, max_share), identical to the batch
        advisor on the full event set."""
        from ai_etl_framework_spark.operators.audit import (
            skew_report_from_counts,
        )

        return skew_report_from_counts(
            self._store().withColumnRenamed("k", self.key_col),
            [self.key_col],
            top_k,
        )
