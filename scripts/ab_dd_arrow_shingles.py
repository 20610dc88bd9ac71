#!/usr/bin/env python
"""Interleaved A/B: dd03/dd04 with the current all-JVM shingle
expression vs a mapInArrow Python shingle stage (guide 4.2 — the one
untried dd04 shape named in OPTIMIZATION_r13). Asserts identical
outputs, then times both in context with order rotation. Measured
r13: NO win at sf0.1 (dd04 2.11 vs 2.17 s, dd03 1.05 vs 1.20 s) or at
sf1 on the 10x rotated-copy corpus (8.42 vs 8.71 s) — the PPJoin/
signature AGGREGATIONS dominate in context, and the Python boundary
costs exceed the interpreted-HOF savings. Kept as the reproducible
record; point SF_DIR at a scaled corpus (e.g. a scale_smoke build)
to reproduce the sf1 reading."""
import os, sys, time, statistics, re
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
import pyarrow as pa
from pyspark.sql import functions as F, types as T
import __spark_entry__ as entrymod
from ai_etl_framework_spark.session import get_spark, load_table, widen
from ai_etl_framework_spark.operators import dedup as dd

spark = get_spark(app_name="ab_dd_arrow_shingles")
spark.sparkContext.setLogLevel("ERROR")
docs = load_table(spark, SF_DIR, "documents")

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s equivalent

def _sh_py(txt, k):
    if txt is None:
        return []
    toks = [t for t in _WS.split(txt.lower()) if t]
    n = len(toks)
    if n == 0:
        return []
    if n < k:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i:i+k]) for i in range(n - k + 1)))

def shingle_sets_arrow(df, id_col, text_col, k):
    id_field = df.schema[id_col]
    out_schema = T.StructType([id_field, T.StructField("sh", T.ArrayType(T.StringType()), False)])
    def fn(it):
        for batch in it:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            shs = pa.array([_sh_py(t, k) for t in texts], type=pa.list_(pa.string()))
            yield pa.RecordBatch.from_arrays([ids, shs], names=[id_field.name, "sh"])
    return widen(df.select(id_col, text_col)).mapInArrow(fn, out_schema)

# --- dd04 variant: identical pipeline with arrow sh_sets
def dd04_arrow():
    sh_sets = (shingle_sets_arrow(
            docs.select(F.col("doc_id").alias("id"), F.col("text").alias("__txt")),
            "id", "__txt", 3)
        .withColumn("n_sh", F.size("sh")))
    sh_sets = dd._cache_keep_one("ngram_shingles", sh_sets)
    candidates = dd.prefix_filter_candidates(sh_sets, 0.5)
    pairs = (candidates
        .join(sh_sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sh_sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b"))))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (pairs.withColumn("jaccard", jac).where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))

def dd04_cur():
    return entrymod.dd04_ngram_jaccard(spark, SF_DIR)

# --- dd03 variant
def dd03_arrow():
    sh_sets = shingle_sets_arrow(
        docs.select(F.col("doc_id"), F.col("text")), "doc_id", "text", 3)
    sig_src = sh_sets  # (doc_id, sh)
    sh = sig_src.select(F.col("doc_id"), F.explode("sh").alias("__s"))
    sh = sh.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(__s), 1, 15), 16, 10) AS BIGINT) AS __a",
        "CAST(conv(substring(md5(__s), 17, 8), 16, 10) AS BIGINT) AS __b",
    )
    aggs = [F.min((F.col("__a") + F.lit(i) * F.col("__b")) % F.lit(dd.MINHASH_P)).alias(f"h{i}") for i in range(8)]
    sig = dd._cache_keep_one("minhash_sig", sh.groupBy("doc_id").agg(*aggs))
    banded = dd._banded_frame(sig, "doc_id", 8, 4).select(F.col("doc_id").alias("id"), "band_idx", "band_hash")
    aa = banded.alias("a"); bb = banded.alias("b")
    return (aa.join(bb, (F.col("a.band_idx") == F.col("b.band_idx")) & (F.col("a.band_hash") == F.col("b.band_hash")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")).distinct())

def dd03_cur():
    return entrymod.dd03_minhash_band_pairs(spark, SF_DIR)

def canon(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

# correctness first
import pandas as pd
for name, cur, new in (("dd04", dd04_cur, dd04_arrow), ("dd03", dd03_cur, dd03_arrow)):
    a, b = canon(cur()), canon(new())
    eq = a.equals(b)
    print(f"{name} outputs identical: {eq} (rows {len(a)} vs {len(b)})")
    if not eq:
        print(a.compare(b).head() if len(a)==len(b) else "row count differs")

# timing, rotated
builds = {"dd04_cur": dd04_cur, "dd04_arrow": dd04_arrow, "dd03_cur": dd03_cur, "dd03_arrow": dd03_arrow}
runs = {k: [] for k in builds}
def run_once(f):
    t0 = time.perf_counter(); f().toPandas(); return time.perf_counter() - t0
for f in builds.values():
    run_once(f)  # warm
order = list(builds)
for rep in range(6):
    seq = order if rep % 2 == 0 else order[::-1]
    for k in seq:
        runs[k].append(run_once(builds[k]))
for k, rs in runs.items():
    s = sorted(rs)
    print(f"{k:12s} median {s[len(s)//2]:.3f} min {s[0]:.3f} mean {statistics.mean(rs):.3f} ± {statistics.stdev(rs):.3f}")
spark.stop()
