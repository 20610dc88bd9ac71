#!/usr/bin/env python
"""Interleaved A/B: the current HOF shingle expression (split +
transform/slice/array_join — interpreted, no codegen) vs a fully
JVM-native regexp shingle producer (guide §4.1 "prefer built-ins" +
§1.2 per-task work): normalize whitespace once, then extract every
overlapping k-token window with ONE regexp_extract_all pass using a
lookahead capture — codegen'd, no Python boundary, no per-shingle
array slices.

    pattern (k=3):  (?=((\\S+ ){2}\\S+))\\S+

Each find() consumes one token+space and the lookahead captures the
k-token window starting there, so matches land exactly at token
starts with >= k tokens remaining — the same n-k+1 positional windows
the transform(sequence, slice) tree builds, in the same order, so
array_distinct keeps identical arrays.

Asserts byte-identical shingle frames AND identical dd03/dd04 final
outputs, then times: (a) the isolated shingle-set materialization
(stage A of the r13 decomposition — 1.66 s median there), (b) dd03/
dd04 in context, order-rotated.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from ai_etl_framework_spark.operators import dedup as dd
from ai_etl_framework_spark.session import get_spark, load_table, widen

spark = get_spark(app_name="ab_dd_native_shingles")
spark.sparkContext.setLogLevel("ERROR")
docs = load_table(spark, SF_DIR, "documents")


def shingles_native(name, k=3):
    """Regexp-native distinct k-token shingles of column ``name`` (same
    contract as dedup.shingles: NULL/blank -> [], n<k -> whole-doc
    shingle)."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(name), F.lit(""))), r"\s+", " ")
    )
    n_spaces = F.length(norm) - F.length(F.translate(norm, " ", ""))
    pat = r"(?=((\S+ ){%d}\S+))\S+ " % (k - 1)
    return (
        F.when(norm == "", F.expr("CAST(array() AS array<string>)"))
        .when(
            n_spaces >= k - 1,
            F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1)),
        )
        .otherwise(F.array(norm))
    )


def sh_sets_cur():
    return (
        widen(docs.select(F.col("doc_id").alias("id"), F.col("text").alias("__txt")))
        .select("id", dd.shingles("__txt", 3).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


def sh_sets_nat():
    return (
        widen(docs.select(F.col("doc_id").alias("id"), F.col("text").alias("__txt")))
        .select("id", shingles_native("__txt", 3).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


# ---------- correctness: byte-identical shingle frames ----------
a = sh_sets_cur().orderBy("id").toPandas()
b = sh_sets_nat().orderBy("id").toPandas()
same = len(a) == len(b) and all(
    list(x) == list(y) for x, y in zip(a["sh"], b["sh"])
) and (a["id"] == b["id"]).all()
print(f"shingle frames identical: {same} (rows {len(a)} vs {len(b)})")
if not same:
    for i, (x, y) in enumerate(zip(a["sh"], b["sh"])):
        if list(x) != list(y):
            print("first diff id", a["id"][i])
            print(" cur:", list(x)[:6])
            print(" nat:", list(y)[:6])
            break
    sys.exit(1)


# ---------- in-context variants ----------
def dd04_with(sh_builder):
    sh_sets = dd._cache_keep_one("ngram_shingles", sh_builder())
    candidates = dd.prefix_filter_candidates(sh_sets, 0.5)
    pairs = (
        candidates.join(
            sh_sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                           F.col("n_sh").alias("n_a")), "id_a")
        .join(
            sh_sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dd03_with(shingle_fn):
    sh = widen(docs.select("doc_id", "text")).select(
        F.col("doc_id"), F.explode(shingle_fn("text", 3)).alias("__s")
    )
    sh = sh.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(__s), 1, 15), 16, 10) AS BIGINT) AS __a",
        "CAST(conv(substring(md5(__s), 17, 8), 16, 10) AS BIGINT) AS __b",
    )
    aggs = [
        F.min((F.col("__a") + F.lit(i) * F.col("__b")) % F.lit(dd.MINHASH_P)).alias(f"h{i}")
        for i in range(8)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    banded = dd._banded_frame(sig, "doc_id", 8, 4).select(
        F.col("doc_id").alias("id"), "band_idx", "band_hash"
    )
    aa, bb = banded.alias("a"), banded.alias("b")
    return (
        aa.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def canon(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


print("dd04 outputs identical:",
      canon(dd04_with(sh_sets_cur)).equals(canon(dd04_with(sh_sets_nat))))
print("dd03 outputs identical:",
      canon(dd03_with(dd.shingles)).equals(canon(dd03_with(shingles_native))))


# ---------- timing ----------
def noop(df):
    df.write.format("noop").mode("overwrite").save()


builds = {
    "stageA_cur": lambda: sh_sets_cur(),
    "stageA_nat": lambda: sh_sets_nat(),
    "dd04_cur": lambda: dd04_with(sh_sets_cur),
    "dd04_nat": lambda: dd04_with(sh_sets_nat),
    "dd03_cur": lambda: dd03_with(dd.shingles),
    "dd03_nat": lambda: dd03_with(shingles_native),
}
runs = {k: [] for k in builds}


def run_once(key):
    f = builds[key]
    spark.sparkContext.setJobDescription(f"ab_native_shingles:{key}")
    t0 = time.perf_counter()
    noop(f())
    dt = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return dt


for k in builds:
    run_once(k)  # warm
order = list(builds)
for rep in range(7):
    seq = order if rep % 2 == 0 else order[::-1]
    for k in seq:
        runs[k].append(run_once(k))
for k, rs in runs.items():
    s = sorted(rs)
    print(f"{k:12s} median {s[len(s)//2]:.3f} min {s[0]:.3f} "
          f"mean {statistics.mean(rs):.3f} ± {statistics.stdev(rs):.3f}")
spark.stop()
