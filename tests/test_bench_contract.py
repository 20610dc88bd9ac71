"""The bench's DuckDB-twin resolver must time the SAME work the
single-path Spark functions do: several gate rows are merged queries
(q12 unions three keep-modes, dd03 unions SimHash) whose oracle SQL
would measure different work than the bench's module-level functions.
No SparkSession needed — pure resolution checks."""

from __future__ import annotations

import json

import pytest

import bench
import __spark_entry__ as entry


def test_every_bench_query_resolves_a_twin():
    for name in bench.BENCH_QUERIES:
        sql = bench._twin_sql(entry, name)
        assert sql and isinstance(sql, str), name


def test_twin_prefers_single_path_over_merged_gate_sql():
    assert bench._twin_sql(entry, "q12_dedup_exact") == entry._Q12_SQL
    assert bench._twin_sql(entry, "q12_dedup_exact") != entry._Q12M_SQL
    assert bench._twin_sql(entry, "dd03_minhash_band_pairs") == entry._dd03_sql()
    assert bench._twin_sql(entry, "dd03_minhash_band_pairs") != entry._dd03m_sql()
    assert bench._twin_sql(entry, "sim01_cosine_topk") == entry._SIM01_SQL


def test_every_bench_query_is_a_module_level_function():
    # bench resolves module functions FIRST so the measured work stays
    # apples-to-apples across rounds (the r3 sim01 regression lesson)
    for name in bench.BENCH_QUERIES:
        assert callable(getattr(entry, name, None)), name


@pytest.mark.parametrize(
    "body",
    [
        [["q01_pricing_summary", 0.5]],  # list-shaped file
        {"duckdb_twin_sec": {"q01_pricing_summary": "0.5"}},  # string-valued
        {"duckdb_twin_sec": [0.5]},
    ],
    ids=["list-file", "string-value", "list-map"],
)
def test_malformed_twin_ref_is_a_reason_not_a_crash(tmp_path, body):
    """The twin reference is read before the timed loops; a malformed
    one yields no reference and a recorded reason, never an exception
    after the loops have run."""
    path = tmp_path / "ref.json"
    path.write_text(json.dumps(body))
    twins, reason = bench._load_twin_ref(str(path))
    assert twins is None and "duckdb_twin_sec" in reason


def test_twin_ref_loads_a_name_to_seconds_map(tmp_path):
    path = tmp_path / "ref.json"
    path.write_text(json.dumps({"duckdb_twin_sec": {"q01_pricing_summary": 0.5}}))
    assert bench._load_twin_ref(str(path)) == ({"q01_pricing_summary": 0.5}, None)
    twins, reason = bench._load_twin_ref(str(tmp_path / "missing.json"))
    assert twins is None and reason.startswith("FileNotFoundError")
