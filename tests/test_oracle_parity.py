"""Local replica of the driver's correctness gate: run every
queries() entry on Spark AND its oracle_sql() on DuckDB over the same
parquet, compare row-count + column names + order-insensitive values.

This is the highest-signal test in the repo — if it's green at
sf0.001, the driver's sf0.01 gate should be green too.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod

ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def _canon(val):
    if val is None:
        return "∅"
    if isinstance(val, bool):
        return str(int(val))
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        # normalize -0.0 and int-valued floats
        if val == 0:
            return "0"
        if abs(val) < 1e-12:
            return "0"
        return f"{val:.9g}"
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in val) + "]"
    import datetime

    if isinstance(val, datetime.datetime):
        return val.replace(tzinfo=None).isoformat()
    if isinstance(val, datetime.date):
        return val.isoformat()
    return str(val)


def _canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        out.append(tuple(_canon(r[i]) for i in order))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _canon_rows(spark_cols, spark_rows)
    b = _canon_rows(duck_cols, duck_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_rows_only_queries(spark, sf_dir):
    for name in sorted(set(QUERIES) - set(ORACLE)):
        df = QUERIES[name](spark, sf_dir)
        n = df.count()
        assert n >= 0, name
        assert df.columns, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


# The gate is the first 50 ``queries()`` entries, in order.
GATE = [
    "q01_pricing_summary", "q02_filter_spec", "q03_join_revenue_suite",
    "q04_topk_suite", "q05_distinct_values", "q06_drilldown_page",
    "q07_agg_semantics", "q08_null_suite", "q09_quality_score",
    "q10_anomaly_methods", "q12_dedup_modes", "q15_profile_stats",
    "q17_window_events", "q20_column_remover", "q21_rollup_dims",
    "q23_schema_infer", "q24_dedup_cc", "q27_agg_custom_udaf",
    "q28_sessionize", "q29_chart_prep", "q32_agg_list",
    "q34_asof_range_suite", "x82_interpolate", "x139_grouped_auc",
    "q38_window_json_suite", "q40_exists_antijoin", "q43_merge_scd2_suite",
    "dd01_fingerprint_dups", "dd02_signatures", "dd03_minhash_band_pairs",
    "dd04_ngram_jaccard", "sim01_cosine_topk", "sim02_embedding_dup_pairs",
    "txt01_text_profile", "txt05_pii_redact", "txt07_gopher_quality",
    "dc01_decontaminate", "sk01_sketch_sample_suite", "x110_rollup",
    "x03_media_meta", "st01_stream_suite", "x01_ann_recall", "x04_iforest",
    "x100_pca", "x107_log_odds", "x133_grouped_ols2", "x48_funnel_timings",
    "x140_cluster_canonical", "st11_heavy_hitters",
    "st03_incremental_ingest",
]


def test_registry_gate_order():
    """The gate's names and order are pinned, and every oracle keys a
    registry entry."""
    assert list(QUERIES)[:50] == GATE
    assert set(ORACLE) <= set(QUERIES)
