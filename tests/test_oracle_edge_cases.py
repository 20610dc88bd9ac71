"""Edge-corpus oracle parity: blank / whitespace-only / NULL documents
and zero / NULL embeddings, which the driver's synthetic testdata never
contains. Each gated text/dedup/similarity query runs Spark-vs-DuckDB
over the SAME edge-case parquet with the driver's canonical hash — so
the boundary semantics (empty token lists, NULL text, zero vectors)
are PROVEN to agree rather than just untested (r4 review: bare
string_split in the oracle fragments yielded [''] for blank text and
NULL for NULL text while Spark yields [])."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry
from scripts.drive_oracle import canon



# queries over documents/embeddings only (the edge tables we synthesize)
EDGE_QUERIES = [
    "dd01_fingerprint_dups",
    "dd02_signatures",
    "dd03_minhash_band_pairs",
    "dd04_ngram_jaccard",
    "txt01_text_profile",
    "txt05_pii_redact",
    "txt07_gopher_quality",
    # clean_text normalization over blank / whitespace-only / NULL
    # docs: doc 6's literal tab+newline mix exercises every rule in
    # one value; NULL text ≡ '' through the dirt wrapper
    "txt08_clean_text",
    # HTML extraction over blank / whitespace-only / NULL docs and
    # text containing regex-significant punctuation; the wrapper shell
    # exercises script/style/comment/block/entity rules on every row
    "txt12_strip_html",
    # BPE apply over blank / whitespace-only / NULL docs and
    # punctuation/unknown-char words — the replace-chain oracle must
    # agree token-for-token with the lowest-rank apply loop
    "txt14_bpe_apply",
    # contained-passage pairs over the near-dup pair + blank/NULL/
    # single-token docs (short docs pair via whole-doc fingerprints)
    "x22_contained_passages",
    # exact top-k vocabulary: blank/whitespace/NULL docs contribute
    # zero tokens, ties at the cut resolve by the (n DESC, token ASC)
    # total order on both engines
    "txt09_vocab_topk",
    # per-source dataset card: blank/NULL docs count as blank AND
    # share one '' fingerprint (dup_rate), per-source language winner
    # with deterministic tie-break
    "rpt01_corpus_report",
    "dc01_decontaminate",
    "sim02_embedding_dup_pairs",
    # 3 engines (expr / matmul / IVF) vs one SQL: with only 5 real
    # vectors, a zero vector and a NULL embedding, k=10 forces every
    # engine to agree on the directionless rows (cos_sim NULL, sorted
    # last) — the matmul path used to drop them / emit -inf
    "sim01_cosine_topk",
    # repeated-line dedup over blank / NULL / whitespace-only docs —
    # doc 6 contains an embedded newline, so the page construction
    # yields a genuine multi-line split with a whitespace-only line
    # that must be preserved as structure on both engines
    "x07_repeated_line_dedup",
    # repeated-span dedup over the same corpus: doc 9's 8x"dup" run
    # self-flags (4 identical 5-token windows >= min_count 3) while the
    # docs 0/1 near-dup pair shares every window only TWICE -> kept;
    # blank/NULL/whitespace docs exercise the zero-token guards
    "x08_repeated_span_dedup",
    # bigram-LM perplexity: the even/odd split puts the whitespace-only
    # and single-token docs in the REFERENCE (zero bigrams contributed)
    # and the NULL / empty / repeated-run docs in the scored half
    # (NULL ppl for no-bigram docs, OOV back-off for the french doc)
    "x10_perplexity_score",
    # CCNet perplexity buckets over the same even/odd split: the
    # scored half carries NULL-ppl docs (NULL bucket) and the cut
    # points interpolate over a handful of values — the 4dp rounding
    # contract must agree on both engines
    "x11_perplexity_buckets",
    # incremental dedup: history = doc_id%3==0 holds doc 0 ("...fox...")
    # and blank-ish docs 6/9; the batch's NULL doc 7 and empty doc 5
    # must both fingerprint as '' — doc 6 (whitespace-only) normalizes
    # to '' in HISTORY, so both are dropped as history hits
    "x14_incremental_dedup",
    # near-dup increment: doc 1 (batch) band-collides with its
    # near-dup doc 0 (history) and verifies at Jaccard >= 0.5 ->
    # dropped; blank/NULL/short docs have no bands -> survive
    "x15_incremental_near_dedup",
    # dup-cluster histogram over the edge corpus: exactly one 2-doc
    # cluster (the 0/1 near-dup pair); blank/NULL docs are singletons
    # and never appear
    "x16_dup_cluster_sizes",
    # SemDeDup over the edge embeddings: the (0,1) near-dup pair
    # collapses, the 3/4 pair (cos .7071 >= .3) collapses, the zero
    # vector (NULL cosine -> never a candidate) and the NULL embedding
    # survive — kept set {0,2,3,5,6}
    "x13_semantic_dedup",
    # snapshot diff: doc 7 (NULL text) falls in the revised set, so
    # its fingerprint moves ''→'rev2' (modified — the NULL≡'' rule
    # crossing the coalesce+concat path); doc 5 ('' text) is added,
    # doc 6 (whitespace-only) removed, and the unrevised overlap
    # {3,4,8} must NOT appear
    "x17_snapshot_diff",
    # paragraph-granularity dedup: doc 6's embedded single newline
    # stays INTRA-paragraph (preserved), the trailing empty footer
    # paragraph (doc_id%17==0 -> doc 0) survives as structure, and
    # the 10-doc corpus keeps the rotating class paragraphs under
    # min_count while removing the boilerplate
    "x12_repeated_paragraph_dedup",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("edge_sf"))
    docs = [
        # normal docs incl. a near-dup pair and PII
        (0, "the quick brown fox jumps over the lazy dog again and again", "en", "web", 60),
        (1, "the quick brown fox jumps over the lazy dog again and again!", "en", "web", 61),
        (2, "contact me at alice@example.com or call 555-123-4567 today", "en", "mail", 59),
        (3, "une phrase en francais avec des mots differents et la suite", "fr", "web", 59),
        (4, "short", "en", "web", 5),
        # the edge cases the real testdata lacks
        (5, "", "en", "web", 0),
        (6, "   \t  \n ", "en", "web", 8),
        (7, None, "en", "web", 0),
        (8, "x", "en", "web", 1),
        (9, "dup dup dup dup dup dup dup dup", "en", "web", 31),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    embs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9999, 0.0141, 0.0, 0.0], 0),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 0.70710678, 0.70710678], 1),
        (5, [0.0, 0.0, 0.0, 0.0], 1),          # zero vector
        (6, None, 1),                           # NULL embedding
    ]
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    return d


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_corpus_oracle_parity(spark, edge_dir, name):
    qs, oq = entry.queries(), entry.oracle_sql()
    sdf = qs[name](spark, edge_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        # Spark writes a directory; DuckDB needs the part-file glob
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{edge_dir}/{t}.parquet/*.parquet')"
        )
    res = con.execute(oq[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    sh, sn = canon(srows, scols)
    oh, on = canon(orows, ocols)
    assert sorted(scols) == sorted(ocols)
    assert (sh, sn) == (oh, on), (
        f"{name}: spark={sn} oracle={on}\n"
        f"  spark: {sorted('|'.join(map(str, r)) for r in srows)[:4]}\n"
        f"  duck : {sorted('|'.join(map(str, r)) for r in orows)[:4]}"
    )


EVENT_EDGE_QUERIES = [
    "q10_anomaly_methods",
    "q17_window_events",
    "q28_sessionize",
    "q33_topk_per_group",
    "q34_asof_join",
    "q35_range_join",
    "q38_window_analytics",
    "q39_json_extract",
    "sk01_sketch_bounds",
    # z-order codes over NULL user/value rows: NULLs must quantize to
    # bucket 0 (least/greatest skip NULL operands in BOTH engines —
    # the coalesce-inside-clamp ordering is what this row pins)
    "x23_zorder_values",
    # grid resampling over NULL ts/user rows (dropped on both
    # engines) and duplicate (user, ts) pairs (sum within the bucket)
    "x24_resample_ffill",
    # funnel over NULL ts/user rows, duplicate timestamps, and types
    # that never complete the sequence
    "x25_funnel",
    # winsorize over NULL values: NULL must pass through unclipped on
    # both engines (least/greatest skip NULLs — the explicit restore)
    "x26_winsorize",
    # r10 event-table families: NULL ts/value/type rows must drop
    # identically, duplicate (user, ts) pairs must tie-break
    # identically (position keys / lead ordering / ASOF), and the
    # dayofweek-convention mapping must hold on boundary rows
    "x49_ohlc_bars",
    "x50_time_weighted_avg",
    "x51_ab_test",
    "x52_seasonal_zscore",
    "x61_burst_detection",
    "x63_attribution",
    "x67_seasonal_naive_eval",
    "x69_session_stats",
]


@pytest.fixture(scope="module")
def event_edge_dir(spark, tmp_path_factory):
    """Events with the boundary rows the driver testdata lacks: NULL
    timestamp, NULL value, NULL user/type, duplicate (user, ts) pairs,
    NULL and malformed JSON props."""
    from datetime import datetime, timedelta

    d = str(tmp_path_factory.mktemp("edge_events_sf"))
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    types = ["view", "click", "purchase", "error"]
    for i in range(60):
        rows.append(
            (i, t0 + timedelta(minutes=7 * i), i % 5, types[i % 4],
             float(10 + (i * 37) % 200), '{"k": %d}' % (i % 9))
        )
    rows += [
        (100, None, 1, "view", 5.0, '{"k": 1}'),          # NULL ts
        (101, t0 + timedelta(minutes=3), 1, "view", None, '{"k": 2}'),  # NULL value
        (102, t0 + timedelta(minutes=4), None, "click", 7.0, '{"k": 3}'),  # NULL user
        (103, t0 + timedelta(minutes=5), 2, None, 8.0, '{"k": 4}'),    # NULL type
        (104, t0 + timedelta(minutes=14), 2, "view", 9.0, None),       # NULL props
        (105, t0 + timedelta(minutes=14), 2, "view", 9.5, "not json"), # bad props
        # duplicate (user, ts) with the row right above
        (106, t0 + timedelta(minutes=14), 2, "view", 1.5, '{"k": 5}'),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


@pytest.mark.parametrize("name", EVENT_EDGE_QUERIES)
def test_edge_events_oracle_parity(spark, event_edge_dir, name):
    qs, oq = entry.queries(), entry.oracle_sql()
    sdf = qs[name](spark, event_edge_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{event_edge_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(oq[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    sh, sn = canon(srows, scols)
    oh, on = canon(orows, ocols)
    assert sorted(scols) == sorted(ocols)
    assert (sh, sn) == (oh, on), (
        f"{name}: spark={sn} oracle={on}\n"
        f"  spark: {sorted('|'.join(map(str, r)) for r in srows)[:4]}\n"
        f"  duck : {sorted('|'.join(map(str, r)) for r in orows)[:4]}"
    )


TPCH_EDGE_QUERIES = [
    "q01_pricing_summary", "q02_filter_spec", "q03_join_revenue",
    "q04_topk_customers", "q05_distinct_values", "q06_drilldown_page",
    "q07_agg_semantics", "q08_null_semantics",
    # q09 deliberately absent: its oracle is a CLOSED-FORM formula of
    # the injected defect pattern (valid on the driver corpus, where
    # part columns are never NULL) — not a semantic replica of the
    # scorer. The scorer's NULL behavior is pinned by
    # test_quality_scorer_null_fields_reference_tree below.
    "q12_dedup_modes", "q13_rollup_by_date", "q15_profile_stats",
    "q16_pivot_flag_qty", "q19_null_handling", "q20_column_remover",
    "q21_rollup_dims", "q23_schema_infer", "q27_agg_custom_udaf",
    "q32_agg_list", "q36_rollup_grouping", "q37_set_ops",
    "q40_exists_antijoin", "q42_local_supplier_revenue",
    "q43_merge_scd2_suite",
    # r10 relational families over NULL join keys / prices / dates /
    # flags: NULL-group drops, NULL-order exclusion in survivorship,
    # NULL-key reconciliation and sizing must match per engine
    "x53_gini", "x55_golden_record", "x56_reconcile",
    "x58_profile_drift", "x60_quantile_normalize",
    "x68_join_size_estimate", "x70_heatmap_bins",
]

_SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tpch_edge_dir(spark, tmp_path_factory):
    """sf0.001 tables with NULL-laden edge rows appended: NULL join
    keys, NULL prices/dates/flags, empty strings, orphan keys — the
    relational boundary cases the synthetic generator never emits."""
    d = str(tmp_path_factory.mktemp("tpch_edge_sf"))
    extra = {
        "lineitem": [
            # NULL quantity/price/flag/status/date; NULL order key
            (9900001, 1, 1, 1, None, None, 0.05, 0.02, None, None, None),
            # orphan orderkey (joins must not resurrect it)
            (8888888, 2, 2, 1, 5.0, 100.0, 0.0, 0.0, "N", "O", None),
            # duplicate (orderkey, linenumber) with NULL-vs-real mix
            (9900002, 3, 3, 1, 1.0, 10.0, None, None, "R", "F", None),
            (9900002, 3, 3, 1, 2.0, 20.0, 0.1, 0.0, "R", "F", None),
            (None, 4, 4, 2, 3.0, 30.0, 0.0, 0.0, "A", "F", None),
        ],
        "orders": [
            (9900001, None, None, None, None, None),   # all-NULL payload
            (9900002, 1, "O", 0.0, None, ""),          # NULL date, empty prio
            (None, 2, "F", 123.45, None, "1-URGENT"),  # NULL key
        ],
        "customer": [
            (9900001, None, None, None, None),          # NULL everything
            (9900002, "", 0, -1.5, ""),                 # empty strings
            (None, "Customer#null", None, None, "AUTOMOBILE"),
        ],
        "part": [
            (9900001, None, None, None, None, None),
            (9900002, "", "", "", 0, 0.0),
        ],
        "supplier": [
            (9900001, None, None, None),
        ],
    }
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        base = spark.read.parquet(os.path.join(_SF001, f"{t}.parquet"))
        if t in extra:
            add = spark.createDataFrame(extra[t], base.schema)
            base = base.unionByName(add)
        base.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.parametrize("name", TPCH_EDGE_QUERIES)
def test_tpch_edge_oracle_parity(spark, tpch_edge_dir, name):
    qs, oq = entry.queries(), entry.oracle_sql()
    sdf = qs[name](spark, tpch_edge_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tpch_edge_dir}/{t}.parquet/*.parquet')"
        )
    res = con.execute(oq[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    sh, sn = canon(srows, scols)
    oh, on = canon(orows, ocols)
    assert sorted(scols) == sorted(ocols)
    assert (sh, sn) == (oh, on), (
        f"{name}: spark={sn} oracle={on}\n"
        f"  spark: {sorted('|'.join(map(str, r)) for r in srows)[:4]}\n"
        f"  duck : {sorted('|'.join(map(str, r)) for r in orows)[:4]}"
    )


def test_quality_scorer_null_fields_reference_tree(spark):
    """Hand-computed reference-tree scores for NULL-laden part rows
    (quality_scorer.py :60-70/:168-313 semantics):

    row A (payload all NULL): completeness 2/6, validity 6/7
    (email fmt check fails on 'bademail'), consistency 6/6
      → 0.4·(1/3) + 0.3·(6/7) + 0.3·1 = 0.690476
    row B ('' strings, age 0, price -0.0): completeness 4/6,
    validity 6/7, consistency 4/6 (age 0 and price -0.0 both fail
    their >0 range checks)
      → 0.4·(2/3) + 0.3·(6/7) + 0.3·(2/3) = 0.72381
    """
    from pyspark.sql import functions as F

    from ai_etl_framework_spark.operators import QualityScorer

    df = spark.createDataFrame(
        [
            (9900001, None, "bademail", None, None, None),
            (9900002, "", "bademail", 0, -0.0, ""),
        ],
        "p_partkey long, name string, contact_email string, "
        "age long, price double, brand string",
    )
    out = QualityScorer()(df)
    scores = {
        r["p_partkey"]: round(r["_meta_quality_score"], 6)
        for r in out.collect()
    }
    assert scores == {9900001: 0.690476, 9900002: 0.72381}
