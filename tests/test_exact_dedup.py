"""exact_dedup (operators/dedup.py). On key columns: the per-column
HashAggregate fast path (order_unique / auto-generated order) must be
value-identical to the whole-row struct SortAggregate path whenever
its precondition (unique, non-NULL order within groups) holds. On the
whole row: the duplicate rule (every column equal, NULL = NULL,
NaN = NaN, 0.0 != -0.0 at any depth), a Python-model differential, and
the plan pins that each path compiles to the intended aggregate."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from ai_etl_framework_spark.operators.dedup import Deduplicator, exact_dedup


def _rows(spark, data):
    return spark.createDataFrame(data, "k long, v string, q double, ord long")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_fast_path_matches_struct_path(spark):
    data = [
        (1, "a", 0.1, 10),
        (1, "b", 0.9, 5),
        (2, "c", 0.5, 7),
        (2, None, 0.2, 3),
        (3, "e", None, 1),
    ]
    df = _rows(spark, data)
    for keep in ("keep_first", "keep_last"):
        fast = exact_dedup(df, ["k"], keep, order_col="ord", order_unique=True)
        slow = exact_dedup(df, ["k"], keep, order_col="ord", order_unique=False)
        assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    # HashAggregate pin needs fixed-width picked columns (a var-length
    # string in the min_by buffer forces SortAggregate regardless of
    # path — the q12 shape is all-numeric)
    num = df.select("k", "q", "ord")
    assert "SortAggregate" not in _plan(
        exact_dedup(num, ["k"], "keep_first", order_col="ord", order_unique=True)
    )
    assert "SortAggregate" in _plan(
        exact_dedup(num, ["k"], "keep_first", order_col="ord")
    )


def test_auto_order_uses_fast_path(spark):
    df = _rows(spark, [(1, "a", 0.1, 0), (2, "b", 0.2, 0)])
    out = exact_dedup(df.drop("ord", "v"), ["k"], "keep_first")
    assert "SortAggregate" not in _plan(out)
    assert sorted((r["k"], r["q"]) for r in out.collect()) == [(1, 0.1), (2, 0.2)]


@pytest.mark.parametrize("keep", ["keep_first", "keep_best_quality"])
def test_all_columns_key_is_whole_row(spark, keep):
    # naming every column takes the whole-row path: a map column
    # works and ±0.0 stay apart, exactly as with match_fields=None
    df = spark.createDataFrame(
        [(1, 0.0, {"a": 1}), (1, 0.0, {"a": 1}), (1, -0.0, {"a": 1})],
        "k long, q double, m map<string,int>",
    )
    out = exact_dedup(df, ["m", "q", "k"], keep, quality_col="q")
    assert out.columns == ["k", "q", "m"]
    got = sorted(math.copysign(1.0, r["q"]) for r in out.collect())
    assert got == [-1.0, 1.0]
    assert out.count() == exact_dedup(df).count() == 2


def test_no_match_fields_whole_row_path(spark):
    df = _rows(spark, [(1, "a", 0.1, 5), (1, "a", 0.1, 5), (2, "b", 0.2, 7)])
    out = exact_dedup(df.drop("ord"), None, "keep_first")
    assert out.count() == 2
    assert out.columns == ["k", "v", "q"]


def test_whole_row_plan_is_one_hash_aggregate(spark):
    """Whole-row dedup over string columns: HashAggregate only — no
    SortAggregate, no Sort, no md5 row key, no monotonic order id."""
    df = _rows(spark, [(1, "a", 0.1, 5), (1, "a", 0.1, 5)]).withColumn(
        "w", F.lit("x")
    )
    plan = _plan(Deduplicator("exact")(df))
    assert "HashAggregate" in plan
    for banned in ("SortAggregate", "Sort", "md5", "monotonically_increasing_id"):
        assert banned not in plan, banned


# One row pair per case of the whole-row duplicate rule, plus the three
# inputs the md5 row key used to merge by mistake. Each case fills one
# column; the others keep their defaults, and the ``case`` column
# keeps the pairs apart.
_RULE_SCHEMA = (
    "case string, s string, s2 string, d double, f float, ad array<double>, "
    "sd struct<x: double>, m map<string, double>, arr array<string>, "
    "b binary, st struct<ts: timestamp, x: double>"
)
_RULE_CASES = [
    # (case, column, value of row A, value of row B, rows kept)
    ("every column equal", "s", "v", "v", 1),
    ("NULL matches NULL", "s", None, None, 1),
    ("NaN matches NaN", "d", float("nan"), float("nan"), 1),
    ("0.0 vs -0.0", "d", 0.0, -0.0, 2),
    ("float 0.0 vs -0.0", "f", 0.0, -0.0, 2),
    ("nested 0.0 vs -0.0 in an array", "ad", [0.0], [-0.0], 2),
    ("nested 0.0 vs -0.0 in a struct", "sd", (0.0,), (-0.0,), 2),
    ("equal maps", "m", {"k": 1.5}, {"k": 1.5}, 1),
    ("map 0.0 vs -0.0", "m", {"k": 0.0}, {"k": -0.0}, 2),
    ("NaN in equal arrays", "ad", [float("nan")], [float("nan")], 1),
    ("binary byte for byte", "b", bytearray(b"\xff"), bytearray(b"\xfe"), 2),
    ("nested microseconds", "st", "2024-01-01 00:00:00.000001",
     "2024-01-01 00:00:00.000002", 2),
    # md5 rendering merged these three; now compared by value
    ("NULL vs the string '\\x00null'", "s", None, "\x00null", 2),
    ("separators inside values", "s", ("x\x1fs2=y", "z"), ("x", "y\x1fs2=z"), 2),
    ("array('a, b') vs array('a', 'b')", "arr", ["a, b"], ["a", "b"], 2),
]


def _rule_row(case, col, value):
    from datetime import datetime

    row = {"case": case, "s": "s", "s2": "t", "d": 1.0, "f": 1.0, "ad": [1.0],
           "sd": (1.0,), "m": {"k": 1.0}, "arr": ["a"], "b": bytearray(b"\x01"),
           "st": (datetime(2024, 1, 1), 1.0)}
    if col == "s" and isinstance(value, tuple):  # two columns at once
        row["s"], row["s2"] = value
    elif col == "st":
        row["st"] = (datetime.fromisoformat(value), 1.0)
    else:
        row[col] = value
    return tuple(row.values())


def test_whole_row_duplicate_rule_table(spark):
    rows = [
        _rule_row(case, col, v)
        for case, col, a, b, _ in _RULE_CASES
        for v in (a, b)
    ]
    df = spark.createDataFrame(rows, _RULE_SCHEMA)
    out = exact_dedup(df).collect()
    kept = {case: 0 for case, *_ in _RULE_CASES}
    for r in out:
        kept[r["case"]] += 1
    assert kept == {case: n for case, _, _, _, n in _RULE_CASES}
    # the kept values are the input values: -0.0 keeps its sign
    signs = sorted(
        math.copysign(1.0, r["d"]) for r in out if r["case"] == "0.0 vs -0.0"
    )
    assert signs == [-1.0, 1.0]


def test_misuse_fails_at_the_call_site(spark):
    with pytest.raises(ValueError, match="merge strategy"):
        Deduplicator(merge_strategy="keep_any")
    with pytest.raises(ValueError, match="match_mode"):
        Deduplicator(match_mode="nope")
    df = _rows(spark, [(1, "a", 0.1, 5)])
    with pytest.raises(ValueError, match="merge strategy"):
        exact_dedup(df, keep="keep_any")
    for kwargs, name in [
        ({"match_fields": ["k", "nope"]}, "nope"),
        ({"order_col": "when"}, "when"),  # not read on the whole-row path
        ({"match_fields": ["k"], "keep": "keep_best_quality"}, "_meta_quality_score"),
    ]:
        with pytest.raises(ValueError, match=name):
            exact_dedup(df, **kwargs)
    # quality_col is only needed by keep_best_quality; a struct path
    # and a differently-cased name resolve as Spark resolves them
    assert exact_dedup(df, ["k"], "keep_first").count() == 1
    nested = df.selectExpr("named_struct('x', k) AS st", "v")
    assert exact_dedup(nested, ["st.x"], order_col="V").count() == 1


def test_null_order_group_survives_on_struct_path(spark):
    # every order key NULL in group 9 → the NULL-safe struct ordering
    # must still return one real row, not erase or NULL the group
    df = _rows(spark, [(9, "a", 0.1, None), (9, "b", 0.2, None)])
    out = exact_dedup(df, ["k"], "keep_first", order_col="ord").collect()
    assert len(out) == 1 and out[0]["v"] in ("a", "b")


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.sampled_from(["x", "y", "z", None]),  # value
        ),
        min_size=1,
        max_size=12,
    ),
    keep=st.sampled_from(["keep_first", "keep_last"]),
)
def test_fast_path_differential_hypothesis(spark, pairs, keep):
    # unique global order = list index (never NULL) → precondition holds
    data = [(k, v, float(i), i) for i, (k, v) in enumerate(pairs)]
    df = _rows(spark, data)
    fast = exact_dedup(df, ["k"], keep, order_col="ord", order_unique=True)
    slow = exact_dedup(df, ["k"], keep, order_col="ord")
    # python model
    best: dict[int, tuple] = {}
    for row in data:
        k, ordv = row[0], row[3]
        if k not in best or (
            ordv < best[k][3] if keep == "keep_first" else ordv > best[k][3]
        ):
            best[k] = row
    exp = sorted(best.values())
    assert sorted(map(tuple, fast.collect())) == exp
    assert sorted(map(tuple, slow.collect())) == exp


_DOUBLES = [0.0, -0.0, float("nan"), 1.5, None]


def _row_model_key(row):
    """A row under the duplicate rule: NaN equals NaN, -0.0 differs
    from 0.0 (Python's own == says the opposite on both)."""
    def norm(v):
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, float):
            return ("nan",) if math.isnan(v) else (v, math.copysign(1.0, v))
        return v
    return tuple(norm(v) for v in row)


def _sign_twin(row):
    """``row`` with the sign of every zero flipped: a different row
    that a grouping on normalized floats would merge with it."""
    def flip(v):
        return -v if v == 0 else v
    k, d, s, ad = row
    return (k, flip(d), s, [flip(v) for v in ad])


_ROW = st.tuples(
    st.sampled_from([0, 1, None]),
    st.sampled_from(_DOUBLES),
    st.sampled_from(["a", "", None, "a\x1f"]),
    st.lists(st.sampled_from(_DOUBLES), max_size=2),
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    # distinct-looking rows, some with their sign twin, then exact
    # duplicates drawn from them
    rows=st.lists(st.tuples(_ROW, st.booleans()), min_size=1, max_size=8)
    .map(lambda rs: [r for r, _ in rs] + [_sign_twin(r) for r, twin in rs if twin])
    .flatmap(lambda rs: st.lists(st.sampled_from(rs), max_size=len(rs))
             .map(lambda dups: rs + dups)),
)
def test_whole_row_differential_hypothesis(spark, rows):
    df = spark.createDataFrame(rows, "k long, d double, s string, ad array<double>")
    got = [_row_model_key(r) for r in exact_dedup(df).collect()]
    want = {_row_model_key(r) for r in rows}
    assert sorted(got, key=repr) == sorted(want, key=repr)
