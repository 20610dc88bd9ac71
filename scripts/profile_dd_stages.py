#!/usr/bin/env python
"""Stage-level decomposition of dd03/dd04 at $SPARK_GRAFT_SF_DIR
(guide §1: isolate each expensive piece with the noop sink so we time
the computation, not the sink; label jobs).

Each piece is timed warm (median of N after 1 warm pass), forcing with
df.write.format("noop") so nothing is collected.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("REPS", "3"))


def force(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, build):
    # fresh plan per rep; warm pass first
    force(build())
    runs = []
    for _ in range(REPS):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        force(build())
        runs.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    runs.sort()
    med = runs[len(runs) // 2]
    print(f"{label:44s} {med:7.3f}s  (min {min(runs):.3f})")
    return med


def main() -> None:
    from pyspark.sql import functions as F

    from ai_etl_framework_spark.operators.dedup import (
        _banded_frame,
        _prefix_frame,
        minhash_signatures,
        prefix_filter_candidates,
        shingles,
    )
    from ai_etl_framework_spark.session import get_spark, load_table, widen

    spark = get_spark(app_name="profile_dd_stages")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents")

    # --- pieces shared by dd03/dd04 ---
    def sh_sets():
        return (
            widen(docs.select(F.col("doc_id").alias("id"), F.col("text").alias("__txt")))
            .select("id", shingles("__txt", 3).alias("sh"))
            .withColumn("n_sh", F.size("sh"))
        )

    timed(spark, "A. shingle sets (widen+shingle expr)", sh_sets)
    timed(spark, "B. exploded shingles", lambda: sh_sets().select(
        "id", F.explode("sh").alias("s")))

    # --- dd03 pieces ---
    def sig():
        return minhash_signatures(docs, "doc_id", "text", num_hashes=8, k=3)

    timed(spark, "C. dd03 signatures (8 mins)", sig)
    timed(spark, "D. dd03 banded frame", lambda: _banded_frame(
        sig(), "doc_id", 8, 4))

    def dd03_full():
        from ai_etl_framework_spark.operators.dedup import minhash_candidates
        return minhash_candidates(docs, "doc_id", "text", num_hashes=8, bands=4, k=3)

    timed(spark, "E. dd03 full (sig+band+selfjoin+distinct)", dd03_full)

    # --- dd04 pieces ---
    def pref():
        s = sh_sets()
        return _prefix_frame(s, 0.5)

    timed(spark, "F. dd04 prefix frame (freq+window)", pref)

    def cands():
        s = sh_sets()
        return prefix_filter_candidates(s, 0.5)

    timed(spark, "G. dd04 candidates (prefix selfjoin)", cands)

    def dd04_full():
        from ai_etl_framework_spark.operators.dedup import ngram_jaccard_pairs
        return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)

    timed(spark, "H. dd04 full (cand+verify)", dd04_full)

    spark.stop()


if __name__ == "__main__":
    main()
