"""Incremental corpus ingest — the continuous-crawl composition every
training-data pipeline runs in production (r8 verdict item 6): a
document stream is cleaned, exact-deduped against the corpus's
persisted fingerprint store, NEAR-deduped against its persisted LSH
band index, and only then appended to the silver corpus — with both
stores updated from the accepted batch so later batches dedup against
earlier ones, not just the initial history. No reference-repo
counterpart (the reference dedups one static frame at a time,
deduplicator.py); this composes the repo's own incremental primitives:

- :func:`~ai_etl_framework_spark.functions.text.clean_text` (txt08)
- :func:`~ai_etl_framework_spark.operators.dedup.dedup_against_history`
  with a precomputed fingerprint store (x14)
- :func:`~ai_etl_framework_spark.operators.dedup.near_dedup_against_history`
  with a persisted :func:`minhash_band_table` (x15)
- :func:`~ai_etl_framework_spark.operators.corpus.corpus_report`
  (rpt01) refreshed after the run.

Scale shape: each micro-batch touches batch-sized text plus TWO
probe joins against corpus-scale INT/HASH stores — the fingerprint
anti-join and the band-collision join both shuffle on hashes, never
on corpus text; the corpus itself is re-read by nothing. Store
updates are appends of batch-sized frames. This is the same contract
the x14/x15 batch rows pin, driven through foreachBatch.

Stream-vs-batch determinism: given the same batch sequence, the
stream and the plain loop produce the same accepted set (asserted in
tests/test_incremental_ingest.py) — survivor choice depends on batch
ORDER (earlier batches win cross-batch collisions; within a batch,
min doc_id wins, for BOTH exact and near dedup), which the file
source fixes by modification time under ``maxFilesPerTrigger``.

Known boundary sensitivity (documented, not a bug): near-dup CHAINS
(a~b, b~c, a≁c) can yield different survivor sets under different
batch splits — in one batch the min-id anti-join keeps only ``a``
(b and c each collide with a smaller id), while across batches ``b``
is rejected and therefore never indexed, so ``c`` survives. Only the
band index of ACCEPTED docs is persisted (indexing rejects would let
junk suppress good docs forever). Pair-shaped duplicates — the
overwhelmingly common case — are boundary-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_etl_framework_spark.pipeline.monitor import IncrementalStore

__all__ = ["IncrementalCorpusIngest"]


class IncrementalCorpusIngest(IncrementalStore):
    """Owns the silver corpus directory and its two dedup side
    stores, and processes document batches through clean → exact
    dedup → near dedup → append.

    Layout under ``root``::

        root/silver/        accepted documents (parquet, append)
        root/fingerprints/  (doc_id, fp) exact-dup store
        root/bands/         (doc_id, band_idx, band_hash) LSH index

    ``num_hashes``/``bands``/``k`` parameterize the MinHash index and
    must stay fixed for the lifetime of the store (band hashes are
    only comparable under one signature scheme — same contract as any
    persisted LSH index).

    The three stores are appended per batch, not folded and swapped,
    so this service takes only the stream and loop drivers and the
    Hadoop-FS store read from :class:`IncrementalStore`, and sets up
    its own layout instead of the base's single ``store_dir``.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 16,
        bands: int = 4,
        k: int = 3,
    ) -> None:
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.k = k
        self.silver_dir = os.path.join(root, "silver")
        self.fp_dir = os.path.join(root, "fingerprints")
        self.band_dir = os.path.join(root, "bands")

    # -- store plumbing --------------------------------------------

    def _fp_frame(self, df: DataFrame) -> DataFrame:
        from ai_etl_framework_spark.functions.text import fingerprint

        return df.select(
            F.col(self.id_col),
            fingerprint(
                F.coalesce(F.col(self.text_col), F.lit(""))
            ).alias("fp"),
        )

    def _band_frame(self, df: DataFrame) -> DataFrame:
        from ai_etl_framework_spark.operators.dedup import minhash_band_table

        return minhash_band_table(
            df, self.id_col, self.text_col,
            self.num_hashes, self.bands, self.k,
        )

    def _within_batch_near_dedup(self, batch: DataFrame) -> DataFrame:
        """Drop batch docs that LSH band-collide with a SMALLER id in
        the same batch (min-id-wins, same policy as
        :func:`~ai_etl_framework_spark.operators.dedup.minhash_dedup`'s
        keep-canonical-smallest). The self-join shuffles batch-sized
        band hashes only — never text, never the corpus."""
        bands = self._band_frame(batch)
        a = bands.select(
            F.col(self.id_col).alias("__a"), "band_idx", "band_hash"
        )
        b = bands.select(
            F.col(self.id_col).alias("__b"), "band_idx", "band_hash"
        )
        losers = (
            a.join(b, ["band_idx", "band_hash"])
            .where(F.col("__b") > F.col("__a"))
            .select(F.col("__b").alias(self.id_col))
            .distinct()
        )
        return batch.join(losers, on=self.id_col, how="left_anti")

    def seed_history(self, history: DataFrame) -> None:
        """Initialize the stores from an existing corpus (one-time
        backfill): writes silver + both side stores."""
        history.write.mode("overwrite").parquet(self.silver_dir)
        self._fp_frame(history).write.mode("overwrite").parquet(self.fp_dir)
        self._band_frame(history).write.mode("overwrite").parquet(self.band_dir)

    # -- the per-batch pipeline ------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """clean_text → exact dedup vs fingerprint store → near dedup
        vs band index → append accepted docs + their store rows.

        Runs identically under foreachBatch and in a plain loop (the
        batch twin) — it only uses batch DataFrame ops.
        """
        from ai_etl_framework_spark.functions.text import clean_text
        from ai_etl_framework_spark.operators.dedup import (
            dedup_against_history,
            near_dedup_against_history,
        )

        cleaned = batch.withColumn(
            self.text_col, clean_text(F.col(self.text_col))
        )
        fp_store = self._read(self.fp_dir)
        band_store = self._read(self.band_dir)
        accepted = cleaned
        if fp_store is not None:
            accepted = dedup_against_history(
                accepted, fp_store, self.id_col, self.text_col,
                history_fingerprint_col="fp",
            )
        else:
            # first batch ever: still dedup WITHIN the batch by
            # probing an empty history of the right shape
            accepted = dedup_against_history(
                accepted,
                self._fp_frame(accepted.limit(0)),
                self.id_col, self.text_col,
                history_fingerprint_col="fp",
            )
        if band_store is not None:
            accepted = near_dedup_against_history(
                accepted, None, self.id_col, self.text_col,
                self.num_hashes, self.bands, self.k,
                history_bands=band_store,
            )
        # near-dedup the batch WITHIN itself (ADVICE r9): two near-dup
        # docs arriving in the same micro-batch would otherwise both be
        # accepted (and both indexed) — the store probe above only sees
        # PRIOR batches. Min doc_id wins, mirroring the exact path.
        accepted = self._within_batch_near_dedup(accepted)
        # Materialize the accepted batch ONCE before the three writes:
        # the silver append and both store appends would otherwise each
        # re-run the dedup joins, and the fingerprint append would race
        # the store read in its own plan (read-your-own-append). A
        # batch is bounded by construction — localCheckpoint is
        # batch-sized, never corpus-sized.
        accepted = accepted.localCheckpoint(eager=True)
        accepted.write.mode("append").parquet(self.silver_dir)
        self._fp_frame(accepted).write.mode("append").parquet(self.fp_dir)
        self._band_frame(accepted).write.mode("append").parquet(self.band_dir)

    def silver(self) -> DataFrame:
        return self.spark.read.parquet(self.silver_dir)

    def report(self, source_col: str = "source", lang_col: str = "lang") -> DataFrame:
        """Refreshed per-source dataset card over the silver corpus."""
        from ai_etl_framework_spark.operators.corpus import corpus_report

        return corpus_report(
            self.silver(), source_col=source_col,
            text_col=self.text_col, lang_col=lang_col,
        )
