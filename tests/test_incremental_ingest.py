"""IncrementalCorpusIngest (pipeline/ingest.py, r8 verdict item 6):
stream-vs-batch equality of the full clean → exact-dedup → near-dedup
→ append loop, store-update semantics (later batches dedup against
earlier ones), idempotent re-crawl, and the st03 registry entry."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from ai_etl_framework_spark.pipeline.ingest import IncrementalCorpusIngest


HIST = [
    (100, "the quick brown fox jumps over the lazy dog", "en", "web"),
    (101, "pack my box with five dozen liquor jugs", "en", "web"),
]
# batch 1: 1 exact dup of history (normalized), 1 near dup of history,
# 2 fresh (one with control chars to prove clean_text runs first)
B1 = [
    (1, "The  Quick Brown Fox jumps over the lazy dog", "en", "crawl"),
    (2, "pack my box with five dozen liquor jugs thanks", "en", "crawl"),
    (3, "completely novel document number three here today", "en", "crawl"),
    (4, "another\x00 fresh​ document with noise chars", "en", "crawl"),
]
# batch 2: exact dup of batch-1 doc 3 (cross-batch store hit), near dup
# of batch-1 doc 3, one fresh
B2 = [
    (10, "completely novel document number three here today", "en", "crawl"),
    (11, "completely novel document number three here today extra", "en", "crawl"),
    (12, "genuinely new content in the second crawl batch", "en", "crawl"),
]
SCHEMA = "doc_id long, text string, lang string, source string"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _accepted_ids(ing):
    return sorted(r["doc_id"] for r in ing.silver().collect())


def test_batch_loop_semantics(spark, tmp_path):
    ing = IncrementalCorpusIngest(spark, str(tmp_path / "c"))
    ing.seed_history(_mk(spark, HIST))
    ing.run_batches([_mk(spark, B1), _mk(spark, B2)])
    # 1: exact dup of 100 (case/ws normalize). 2: near dup of 101.
    # 10: exact dup of batch-1 3. 11: near dup of batch-1 3.
    assert _accepted_ids(ing) == [3, 4, 12, 100, 101]
    # clean_text ran before storage: noise chars are gone from silver
    txt = {r["doc_id"]: r["text"] for r in ing.silver().collect()}
    assert txt[4] == "another fresh document with noise chars"


def test_stream_equals_batch(spark, tmp_path):
    """The foreachBatch drive and the plain loop produce the SAME
    accepted set given the same batch order (mtime-ordered files,
    maxFilesPerTrigger=1)."""
    batch_root = str(tmp_path / "batch")
    ing_b = IncrementalCorpusIngest(spark, batch_root)
    ing_b.seed_history(_mk(spark, HIST))
    ing_b.run_batches([_mk(spark, B1), _mk(spark, B2)])

    stream_root = str(tmp_path / "stream")
    bronze = str(tmp_path / "bronze")
    os.makedirs(bronze)
    for i, rows in enumerate((B1, B2)):
        stage = str(tmp_path / f"stage{i}")
        _mk(spark, rows).coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(bronze, f"crawl_{i}.parquet")
        shutil.move(os.path.join(stage, src), dst)
        os.utime(dst, (time.time() + i * 2, time.time() + i * 2))
    ing_s = IncrementalCorpusIngest(spark, stream_root)
    ing_s.seed_history(_mk(spark, HIST))
    ing_s.run_stream(
        bronze, str(tmp_path / "ckpt"), schema=_mk(spark, B1).schema,
        max_files_per_trigger=1,
    )
    assert _accepted_ids(ing_s) == _accepted_ids(ing_b)
    # and the refreshed dataset cards agree
    cb = sorted(map(tuple, ing_b.report().collect()))
    cs = sorted(map(tuple, ing_s.report().collect()))
    assert cs == cb


def test_recrawl_is_noop(spark, tmp_path):
    ing = IncrementalCorpusIngest(spark, str(tmp_path / "c"))
    ing.seed_history(_mk(spark, HIST))
    ing.run_batches([_mk(spark, B1)])
    before = _accepted_ids(ing)
    ing.run_batches([_mk(spark, B1)])  # same crawl again
    assert _accepted_ids(ing) == before


def test_no_history_first_batch(spark, tmp_path):
    """Cold start: no seed_history — the first batch still dedups
    within itself and later batches dedup against it."""
    ing = IncrementalCorpusIngest(spark, str(tmp_path / "c"))
    b = [
        (5, "same text twice", "en", "s"),
        (6, "same  TEXT twice", "en", "s"),
        (7, "other text", "en", "s"),
    ]
    ing.run_batches([_mk(spark, b)])
    assert _accepted_ids(ing) == [5, 7]
    ing.run_batches([_mk(spark, [(8, "other text", "en", "s")])])
    assert _accepted_ids(ing) == [5, 7]


def test_within_batch_near_dedup(spark, tmp_path):
    """Two NEAR-dup docs in the SAME micro-batch (ADVICE r9): min id
    survives, the loser is neither accepted nor indexed in the band
    store — and on a cold start (no band store at all) the same
    within-batch pass still runs."""
    ing = IncrementalCorpusIngest(spark, str(tmp_path / "c"))
    b = [
        (20, "alpha beta gamma delta epsilon zeta eta theta", "en", "s"),
        (21, "alpha beta gamma delta epsilon zeta eta iota", "en", "s"),
        (22, "wholly different content lives over here now", "en", "s"),
    ]
    ing.run_batches([_mk(spark, b)])
    assert _accepted_ids(ing) == [20, 22]
    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(ing.band_dir).select("doc_id").collect()
    }
    assert indexed == {20, 22}
    # a later near-dup of the ACCEPTED doc is still caught cross-batch
    ing.run_batches([_mk(
        spark,
        [(23, "alpha beta gamma delta epsilon zeta eta kappa", "en", "s")],
    )])
    assert _accepted_ids(ing) == [20, 22]


def test_bulk_backfill_one_survivor_per_cluster(spark, tmp_path):
    """Cold-start BULK backfill (VERDICT r10 item 8): the r10 fix
    covered near-dup pairs arriving in the same batch; this pins the
    harder shape — a streaming cold start with maxFilesPerTrigger
    raised so EVERY file lands in one giant first batch, containing
    whole near-dup CLUSTERS (3 and 2 members) plus exact dups.
    Exactly the min-id member of each cluster survives, only
    survivors are indexed, and the stream drive equals the one-batch
    loop drive."""
    # cluster A: 3 near-dups (30/31/32) — shared 8-token prefix, one
    # token varies; cluster B: 2 near-dups (40/41); 50/51 exact dups
    # after normalization; 60 a singleton
    rows_all = [
        (30, "alpha beta gamma delta epsilon zeta eta theta", "en", "s"),
        (31, "alpha beta gamma delta epsilon zeta eta iota", "en", "s"),
        (32, "alpha beta gamma delta epsilon zeta eta kappa", "en", "s"),
        # cluster B texts are band-collision-verified under the
        # (16 hashes, 4 bands, k=3) defaults — a shorter pair
        # ("...eight nine"/"...eight ten", Jaccard 0.75) has only a
        # ~78% collision probability and lost the md5 lottery
        (40, "the committee approved the annual budget for the city "
             "parks department yesterday afternoon", "en", "s"),
        (41, "the committee approved the annual budget for the city "
             "parks department yesterday evening", "en", "s"),
        (50, "identical sentence content for the exact pair", "en", "s"),
        (51, "identical  Sentence CONTENT for the exact pair", "en", "s"),
        (60, "wholly unrelated singleton document stands alone", "en", "s"),
    ]
    expected = [30, 40, 50, 60]

    # stream drive: 4 bronze files, ALL consumed in ONE trigger
    bronze = str(tmp_path / "bronze")
    os.makedirs(bronze)
    for i in range(0, len(rows_all), 2):
        stage = str(tmp_path / f"stage{i}")
        _mk(spark, rows_all[i:i + 2]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(stage, src), os.path.join(bronze, f"bulk_{i}.parquet")
        )
    ing_s = IncrementalCorpusIngest(spark, str(tmp_path / "stream"))
    ing_s.run_stream(
        bronze, str(tmp_path / "ckpt"), schema=_mk(spark, rows_all).schema,
        max_files_per_trigger=100,  # whole backfill in one batch
    )
    assert _accepted_ids(ing_s) == expected
    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(ing_s.band_dir).select("doc_id").collect()
    }
    assert indexed == set(expected), "losers leaked into the band store"

    # one-batch loop drive agrees (stream ≡ batch on the bulk shape)
    ing_b = IncrementalCorpusIngest(spark, str(tmp_path / "batch"))
    ing_b.run_batches([_mk(spark, rows_all)])
    assert _accepted_ids(ing_b) == expected

    # a later near-dup of EACH surviving cluster head is still caught
    ing_s.run_batches([_mk(spark, [
        (70, "alpha beta gamma delta epsilon zeta eta lambda", "en", "s"),
        (71, "the committee approved the annual budget for the city "
             "parks department yesterday morning", "en", "s"),
    ])])
    assert _accepted_ids(ing_s) == expected


def test_st03_registry_entry(spark):
    """The rows-only registry row runs end-to-end at sf0.001 and its
    floor holds: accepted ⊆ input, history all present, report joined."""
    import __spark_entry__ as entrymod

    out = entrymod.st03_incremental_ingest(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    kinds = {r["kind"] for r in rows}
    assert kinds == {"accepted", "report"}
    n_acc = sum(1 for r in rows if r["kind"] == "accepted")
    import duckdb

    n_docs = duckdb.sql(
        "select count(*) from '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert 0 < n_acc <= n_docs
    # deterministic: same result on a second run
    again = entrymod.st03_incremental_ingest(spark, "/root/testdata/sf0.001")
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_file_uri_root_matches_plain_path(spark, tmp_path):
    """The fingerprint and band stores are found through the Hadoop
    FileSystem API, so under a ``file://`` root batch 2 still dedups
    against batch 1 and the history, as under a plain path."""
    plain = IncrementalCorpusIngest(spark, str(tmp_path / "plain"))
    uri = IncrementalCorpusIngest(spark, (tmp_path / "uri").as_uri())
    for ing in (plain, uri):
        ing.seed_history(_mk(spark, HIST))
        ing.run_batches([_mk(spark, B1), _mk(spark, B2)])
    assert _accepted_ids(uri) == _accepted_ids(plain) == [3, 4, 12, 100, 101]
