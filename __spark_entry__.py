"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data operators); ``oracle_sql()`` gives
the DuckDB-equivalent SQL for the differential correctness gate.

Conventions that keep the cross-engine value-hash stable:
- every computed float is ROUNDed identically on both sides (sums of
  doubles to 2dp, means to 4dp, ratios/similarities to 6dp) so
  aggregation-order ulps can't flip the hash;
- counts are CAST to BIGINT in DuckDB (its integer SUM/COUNT widen to
  HUGEINT/INT128, Spark's stay int64);
- all text hashing is md5 hex (identical strings in both engines);
- order-sensitive aggregates (first/last/concat) take an explicit
  order column on both sides (SURVEY §7.4.1).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_etl_framework_spark.session import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _money_exprs(total_col: str, n_col: str, dialect: str) -> tuple[str, str]:
    """Deterministic ``ROUND(total, 2)`` / ``ROUND(total / n, 4)`` SQL.

    ``total_col`` must hold an exact decimal(·,4) sum cast to double
    (DashboardAggregator guarantees this). Recover the integer sum in
    1e-4 units, then round by integer half-away-from-zero division —
    bit-identical in Spark and DuckDB, immune to double summation
    order and to the engines' different double-round() behavior at
    .xxx5 boundaries (the q13 round-1 hash failure).
    """
    div = "div" if dialect == "spark" else "//"
    s4 = f"CAST(round({total_col} * 10000) AS BIGINT)"
    sign = f"(CASE WHEN {s4} < 0 THEN -1 ELSE 1 END)"
    total = f"CAST({sign} * ((abs({s4}) * 2 + 100) {div} 200) AS DOUBLE) / 100.0"
    avg = (
        f"CAST({sign} * ((abs({s4}) * 2 + {n_col}) {div} (2 * {n_col})) AS DOUBLE)"
        " / 10000.0"
    )
    return total, avg


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# core query surface (reference: duckdb_service.py dialect)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape through the engine ops: filter → groupBy → agg.
    Reference dialect: AggregationSpec (duckdb_service.py:30-37)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1999-06-30")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                              AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                         AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                              AS avg_qty,
       ROUND(AVG(l_discount), 4)                              AS avg_disc,
       CAST(COUNT(*) AS BIGINT)                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-operator Filter spec + AggregationSpec compiler
    (reference: duckdb_service.py:255-325, 327-434)."""
    from ai_etl_framework_spark.plans import Filter, compile_query

    orders = load_table(spark, sf_dir, "orders")
    out = compile_query(
        orders,
        filters=[
            Filter("o_orderpriority", "in", ["1-URGENT", "2-HIGH"]),
            Filter("o_totalprice", "between", [10000.0, 400000.0]),
            Filter("o_orderstatus", "neq", "X"),
            Filter("o_orderdate", "is_not_null"),
            Filter("o_orderpriority", "contains", "h"),
            Filter("o_custkey", "in", []),  # empty IN → no-op (ref :281)
        ],
        spec={
            "group_by": ["o_orderstatus", "o_orderpriority"],
            "metrics": [
                {"column": "*", "agg": "count", "alias": "n_orders"},
                {"column": "o_totalprice", "agg": "sum", "alias": "total_price_raw"},
            ],
        },
    )
    # selectExpr (r14 plan-build): one JVM parse per column vs the
    # F.round/alias py4j chain — identical projection
    return out.selectExpr(
        "o_orderstatus",
        "o_orderpriority",
        "n_orders",
        "round(total_price_raw, 2) AS total_price",
    )


_Q02_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT)       AS n_orders,
       ROUND(SUM(o_totalprice), 2)    AS total_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 10000.0 AND 400000.0
  AND o_orderstatus != 'X'
  AND o_orderdate IS NOT NULL
  AND CAST(o_orderpriority AS VARCHAR) ILIKE '%h%'
GROUP BY o_orderstatus, o_orderpriority
"""


def q03_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join (broadcast dims) + revenue rollup per nation.

    Two scale decisions Catalyst does not make on its own:
    - Aggregation PUSHED BELOW the join (r5): lineitem collapses to
      one (orderkey, rev) row per order BEFORE any join, so the join
      probes 150k pre-aggregated rows instead of streaming 600k fact
      rows through it — at 100× the fact table that 4× row reduction
      is the difference between joining 100 TB and joining 25 TB.
      Orderkeys are unique after the pre-agg, so per-nation
      n_orders = COUNT(*) of joined rows (no distinct needed).
    - No countDistinct anywhere: its RewriteDistinctAggregates Expand
      would double every joined row through the shuffle (the r4
      two-level form avoided the Expand; the pre-agg removes even the
      (nation, orderkey) shuffle). Identical results
      (r4: 1.66→1.27s; r5 pre-agg: 1.22→0.75s warm at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    per_order = (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "rev")
    )
    return per_order.groupBy("n_name").agg(
        F.round(F.sum("rev"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_Q03_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q04_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k pattern (ref: order by first metric desc + limit,
    duckdb_service.py:384-398)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


_Q04_SQL = """
SELECT o_custkey,
       ROUND(SUM(o_totalprice), 2) AS total_spent,
       CAST(COUNT(*) AS BIGINT)    AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey
LIMIT 10
"""


def q05_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct filter-values query (ref duckdb_service.py:507-562)."""
    cust = load_table(spark, sf_dir, "customer")
    c = F.col("c_mktsegment")
    return (
        cust.select(c.alias("value"))
        .where(c.isNotNull())
        .distinct()
        .orderBy(F.col("value").asc())
        .limit(100)
    )


_Q05_SQL = """
SELECT DISTINCT c_mktsegment AS value
FROM customer
WHERE c_mktsegment IS NOT NULL
ORDER BY value
LIMIT 100
"""


def q06_drilldown_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-down pagination with explicit order (ref :482-505; the
    reference's unordered LIMIT/OFFSET is nondeterministic — SURVEY
    §7.4.11 imposes an order column on both sides)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_orderkey").asc())
        .offset(100)
        .limit(50)
    )


_Q06_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'O'
ORDER BY o_orderkey
LIMIT 50 OFFSET 100
"""


def q07_agg_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference Aggregator's exact non-SQL semantics
    (aggregator.py:17-28): count incl. NULLs, string-cast
    count_distinct, sum-empty→0, positional first/last/concat over an
    explicit order column."""
    from ai_etl_framework_spark.operators import Aggregator

    # (l_orderkey, l_linenumber) is NOT unique in this data — order by
    # the full discrete tuple instead; rows tied on it are identical in
    # l_linestatus, so first/last/concat stay deterministic.
    # r5: the order key is the RAW COLUMN LIST, not a derived
    # md5/concat hash — computing md5 over 600k rows in the (3-split)
    # scan stage was ~0.9s of q07's 2.37s warm latency, while Tungsten
    # sorts the raw columns directly (the Aggregator's presorted
    # collect path); the oracle mirrors it with
    # `ORDER BY col, ... NULLS LAST` aggregate modifiers.
    li = load_table(spark, sf_dir, "lineitem")
    agg = Aggregator(
        group_by=["l_returnflag"],
        aggregations={
            "n_rows": {"field": "l_quantity", "function": "count"},
            "n_status": {"field": "l_linestatus", "function": "count_distinct"},
            "sum_qty_raw": {"field": "l_quantity", "function": "sum"},
            "avg_qty_raw": {"field": "l_quantity", "function": "avg"},
            "min_qty_raw": {"field": "l_quantity", "function": "min"},
            "max_qty_raw": {"field": "l_quantity", "function": "max"},
            "first_status": {"field": "l_linestatus", "function": "first"},
            "last_status": {"field": "l_linestatus", "function": "last"},
            "status_concat": {"field": "l_linestatus", "function": "concat"},
        },
        order_col=[
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            "l_partkey",
            "l_returnflag",
            "l_linestatus",
        ],
        # r7: l_returnflag has 3 values, so the default collecting
        # path sorts the whole table in 3 tasks — the sf1 smoke's
        # worst relational scaler (8.05s, 3.73x for 10x data).
        # "auto" keeps the one-exchange latency plan on small inputs
        # and switches to the range-partitioned two-level shape
        # (distributed sort + distributed per-slice assembly) once
        # the scan estimate passes the threshold. r10 (sf1 drift
        # re-profile, VERDICT r9 item 2): under the distributed path
        # only status_concat rides the range-sorted frame — first/
        # last/numerics/count_distinct split to their shuffle-free /
        # plain-agg paths and broadcast-join back — sf1 warm 4.2 →
        # 2.8s, alternating-order ratio 3.28x → 2.96x for 10x data
        # (scripts/profile_q07_sf1.py holds the protocol).
        distribute_sort="auto",
    )
    # selectExpr (r14 plan-build): the string select + four
    # F.round/alias chains cost ~113 py4j round trips per call; the
    # identical projection parses JVM-side in one trip per column
    return agg(li).selectExpr(
        "l_returnflag",
        "n_rows",
        "n_status",
        "round(sum_qty_raw, 2) AS sum_qty",
        "round(avg_qty_raw, 4) AS avg_qty",
        "round(min_qty_raw, 2) AS min_qty",
        "round(max_qty_raw, 2) AS max_qty",
        "first_status",
        "last_status",
        "status_concat",
    )


_Q07_ORD = (
    # the Spark side sorts each order column asc_nulls_last — the
    # explicit NULLS LAST keeps the two engines aligned even though
    # DuckDB's ASC default is already nulls-last
    "l_orderkey NULLS LAST, l_linenumber NULLS LAST, "
    "l_suppkey NULLS LAST, l_partkey NULLS LAST, "
    "l_returnflag NULLS LAST, l_linestatus NULLS LAST"
)

_Q07_SQL = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT)                                        AS n_rows,
       CAST(COUNT(DISTINCT CAST(l_linestatus AS VARCHAR)) AS BIGINT)   AS n_status,
       ROUND(COALESCE(SUM(TRY_CAST(l_quantity AS DOUBLE)), 0), 2)      AS sum_qty,
       ROUND(AVG(TRY_CAST(l_quantity AS DOUBLE)), 4)                   AS avg_qty,
       ROUND(MIN(TRY_CAST(l_quantity AS DOUBLE)), 2)                   AS min_qty,
       ROUND(MAX(TRY_CAST(l_quantity AS DOUBLE)), 2)                   AS max_qty,
       CAST(first(l_linestatus ORDER BY {_Q07_ORD}) AS VARCHAR)        AS first_status,
       CAST(last(l_linestatus ORDER BY {_Q07_ORD}) AS VARCHAR)         AS last_status,
       COALESCE(string_agg(CAST(l_linestatus AS VARCHAR), ', '
                  ORDER BY {_Q07_ORD}), '')                            AS status_concat
FROM lineitem
GROUP BY l_returnflag
"""


def q08_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NullRemover 'drop' with the ""≡NULL rule (null_remover.py:54-58,
    92-94) over a derived table with injected ""/NULL cells."""
    from ai_etl_framework_spark.operators import NullRemover

    cust = load_table(spark, sf_dir, "customer")
    derived = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("")).otherwise(F.col("c_name")).alias("name"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    return NullRemover(strategy="drop")(derived)


_Q08_SQL = """
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END AS name,
       NULLIF(c_mktsegment, 'BUILDING')                     AS seg
FROM customer
WHERE NOT (c_custkey IS NULL)
  AND NOT (CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END IS NULL
           OR CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END = '')
  AND NOT (NULLIF(c_mktsegment, 'BUILDING') IS NULL
           OR NULLIF(c_mktsegment, 'BUILDING') = '')
"""


def q09_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QualityScorer 0.4/0.3/0.3 weighting with the reference's field
    checks (quality_scorer.py:61-313) over a defect-injected table."""
    from ai_etl_framework_spark.operators import QualityScorer

    part = load_table(spark, sf_dir, "part")
    derived = part.select(
        "p_partkey",
        F.col("p_name").alias("name"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("user@example.com"))
        .otherwise(F.lit("bademail"))
        .alias("contact_email"),
        F.when(F.col("p_partkey") % 11 == 0, F.lit(200).cast("long"))
        .otherwise(F.col("p_size").cast("long"))
        .alias("age"),
        F.when(F.col("p_partkey") % 7 == 0, -F.col("p_retailprice"))
        .otherwise(F.col("p_retailprice"))
        .alias("price"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit("")).otherwise(F.col("p_brand")).alias("brand"),
    )
    scored = QualityScorer()(derived)
    return scored.select("p_partkey", F.round("_meta_quality_score", 6).alias("quality_score"))


# completeness: 6 fields, only `brand` can be "" → 5/6 or 6/6
# validity: partkey 1 + name 1 + email (len 1 + fmt e) + age 1 + price 1
#           + brand 1 → (6+e)/7 ; brand "" counts as valid-null check 1
# consistency: partkey 1 + name 1 + email(string) 1 + age(0<v<150) +
#           price(>0) + brand 1 → (4+a+p)/6 ; brand "" → 1
_Q09_SQL = """
SELECT p_partkey,
       ROUND(
         0.4 * (CASE WHEN p_partkey % 5 = 0 THEN 5 ELSE 6 END / 6.0)
       + 0.3 * ((6 + CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 0 END) / 7.0)
       + 0.3 * ((4 + CASE WHEN (CASE WHEN p_partkey % 11 = 0 THEN 200 ELSE p_size END) > 0
                          AND (CASE WHEN p_partkey % 11 = 0 THEN 200 ELSE p_size END) < 150
                          THEN 1 ELSE 0 END
                   + CASE WHEN (CASE WHEN p_partkey % 7 = 0 THEN -p_retailprice ELSE p_retailprice END) > 0
                          THEN 1 ELSE 0 END) / 6.0)
       , 6) AS quality_score
FROM part
"""


def q10_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z-score anomaly flags with POPULATION std (np.std ddof=0,
    anomaly_detector.py:201 → stddev_pop, SURVEY §7.4.5)."""
    from ai_etl_framework_spark.operators import AnomalyDetector

    events = load_table(spark, sf_dir, "events")
    det = AnomalyDetector(method="statistical", threshold=3.0, fields=["value"])
    return det(events).filter(F.col("_meta_is_anomaly")).select("event_id")


_Q10_SQL = """
SELECT event_id
FROM events,
     (SELECT AVG(value) AS m, STDDEV_POP(value) AS s, COUNT(value) AS c FROM events)
WHERE c >= 3 AND s > 0 AND value IS NOT NULL AND ABS((value - m) / s) > 3.0
"""


def q11_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR anomaly flags with exact linear-interpolation percentiles
    (np.percentile ≡ Spark `percentile` ≡ DuckDB quantile_cont,
    SURVEY §7.4.6); threshold 1.5 (classic fence)."""
    from ai_etl_framework_spark.operators import AnomalyDetector

    events = load_table(spark, sf_dir, "events")
    det = AnomalyDetector(method="iqr", threshold=1.5, fields=["value"])
    return det(events).filter(F.col("_meta_is_anomaly")).select("event_id")


_Q11_SQL = """
SELECT event_id
FROM events,
     (SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3,
             COUNT(value) AS c
      FROM events)
WHERE c >= 4 AND (q3 - q1) > 0 AND value IS NOT NULL
  AND (value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1))
"""


def q12_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep_first over an explicit order column
    (deduplicator.py:137-170, 314-346) — one aggregation, no Window,
    no driver-side state; the unique order key engages the per-column
    HashAggregate fast path."""
    from ai_etl_framework_spark.operators.dedup import exact_dedup

    # l_linenumber alone is not unique per order in this data; the
    # order key folds in quantity so tied rows are identical in every
    # projected column → deterministic in both engines. NULL parts
    # coalesce to 99999 (line numbers ≤7, qty ≤50 → round ≤5000, so
    # the sentinel can't collide) — the fast path (order_unique)
    # requires a NON-NULL unique key, and the edge corpus has NULL
    # quantities.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (
            F.coalesce(F.col("l_linenumber").cast("long"), F.lit(99999))
            * 100000
            + F.coalesce(
                F.round(F.col("l_quantity") * 100).cast("long"), F.lit(99999)
            )
        ).alias("__ord"),
    )
    # __ord is unique within each order (l_linenumber is), so the
    # HashAggregate per-column fast path applies (order_unique)
    out = exact_dedup(
        li,
        match_fields=["l_orderkey"],
        keep="keep_first",
        order_col="__ord",
        order_unique=True,
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


_Q12_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_quantity,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY coalesce(l_linenumber, 99999) * 100000
                        + coalesce(CAST(ROUND(l_quantity * 100, 0) AS BIGINT), 99999)
             ) AS rn
      FROM lineitem)
WHERE rn = 1
"""


def q13_rollup_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DashboardAggregator.by_date with name-pattern column
    auto-detection (dashboard_aggregator.py:274-334; detection
    :64-79 first-pattern-first-column-wins)."""
    from ai_etl_framework_spark.operators import DashboardAggregator

    orders = load_table(spark, sf_dir, "orders")
    out = DashboardAggregator(orders).by_date()
    t, a = _money_exprs("total_billed", "total_claims", "spark")
    return out.selectExpr(
        "date",
        "total_claims",
        f"{t} AS total_billed",
        f"{a} AS avg_billed",
    )


# detected: date col = o_orderdate ('date'), amount = o_totalprice
# ('price'), claim col falls back to the date col → COUNT(date)
def _q13_sql() -> str:
    t, a = _money_exprs("total_billed", "total_claims", "duckdb")
    return f"""
WITH g AS (
  SELECT CAST(o_orderdate AS DATE)                                AS date,
         CAST(COUNT(o_orderdate) AS BIGINT)                       AS total_claims,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_billed
  FROM orders
  WHERE o_orderdate IS NOT NULL
  GROUP BY CAST(o_orderdate AS DATE)
)
SELECT date, total_claims, {t} AS total_billed, {a} AS avg_billed
FROM g
"""


def q14_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DashboardAggregator.summary single-row rollup
    (dashboard_aggregator.py:126-162)."""
    from ai_etl_framework_spark.operators import DashboardAggregator

    orders = load_table(spark, sf_dir, "orders")
    out = DashboardAggregator(orders).summary()
    t, a = _money_exprs("total_billed", "total_claims", "spark")
    return out.selectExpr(
        "total_claims",
        f"{t} AS total_billed",
        f"{a} AS avg_billed",
        "round(min_billed, 2) AS min_billed",
        "round(max_billed, 2) AS max_billed",
    )


def _q14_sql() -> str:
    t, a = _money_exprs("total_billed", "total_claims", "duckdb")
    return f"""
WITH g AS (
  SELECT CAST(COUNT(*) AS BIGINT)                                 AS total_claims,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_billed,
         ROUND(MIN(o_totalprice), 2)                              AS min_billed,
         ROUND(MAX(o_totalprice), 2)                              AS max_billed
  FROM orders
)
SELECT total_claims, {t} AS total_billed, {a} AS avg_billed, min_billed, max_billed
FROM g
"""


def q15_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-profiling aggregates in ONE pass (ref duckdb_service.py:
    115-240 runs one query per column; SURVEY §2.6d)."""
    part = load_table(spark, sf_dir, "part")
    return part.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.round(F.min("p_retailprice"), 2).alias("price_min"),
        F.round(F.max("p_retailprice"), 2).alias("price_max"),
        F.round(F.avg("p_retailprice"), 4).alias("price_avg"),
        F.countDistinct("p_retailprice").alias("price_distinct"),
        F.min("p_size").alias("size_min"),
        F.max("p_size").alias("size_max"),
        F.round(F.avg(F.col("p_size").cast("double")), 4).alias("size_avg"),
        F.countDistinct("p_brand").alias("brand_distinct"),
        F.countDistinct("p_type").alias("type_distinct"),
    )


_Q15_SQL = """
SELECT CAST(COUNT(*) AS BIGINT)                    AS row_count,
       ROUND(MIN(p_retailprice), 2)                AS price_min,
       ROUND(MAX(p_retailprice), 2)                AS price_max,
       ROUND(AVG(p_retailprice), 4)                AS price_avg,
       CAST(COUNT(DISTINCT p_retailprice) AS BIGINT) AS price_distinct,
       MIN(p_size)                                 AS size_min,
       MAX(p_size)                                 AS size_max,
       ROUND(AVG(CAST(p_size AS DOUBLE)), 4)       AS size_avg,
       CAST(COUNT(DISTINCT p_brand) AS BIGINT)     AS brand_distinct,
       CAST(COUNT(DISTINCT p_type) AS BIGINT)      AS type_distinct
FROM part
"""


def q16_pivot_flag_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap pivot (ref visualization_generator.py:444 pivot_table
    sum) — groupBy(y).pivot(x, values).sum(z) with explicit value
    list so the plan is a single aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_linestatus").pivot("l_returnflag", ["A", "N", "R"]).sum("l_quantity")
    return out.select(
        "l_linestatus",
        F.round("A", 2).alias("A"),
        F.round("N", 2).alias("N"),
        F.round("R", 2).alias("R"),
    )


_Q16_SQL = """
SELECT l_linestatus,
       ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
       ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
       ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
FROM lineitem
GROUP BY l_linestatus
"""


def q17_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (F.window) — the batch twin of the
    Structured Streaming query (streaming/events.py); the reference
    has no streaming (SURVEY §2.13), this is the beyond-parity op."""
    from ai_etl_framework_spark.streaming import windowed_counts_batch

    events = load_table(spark, sf_dir, "events")
    out = windowed_counts_batch(events, "ts", "1 hour")
    return out.select(
        "window_start",
        "window_end",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )


_Q17_SQL = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))                   AS window_start,
       date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
       CAST(COUNT(*) AS BIGINT)                                    AS n_events,
       ROUND(SUM(value), 2)                                        AS total_value
FROM events
WHERE ts IS NOT NULL  -- F.window drops NULL event times
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# training-data operators: dedup family
# ---------------------------------------------------------------------------

# shared DuckDB fragments (tokenization identical to functions/text.py:
# empty tokens filtered, NULL text → empty list — bare string_split
# would yield [''] for blank text and NULL for NULL text, making every
# token-based oracle disagree with Spark exactly at the blank-document
# boundary)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = (
    f"coalesce(list_filter(string_split({_NORM}, ' '), t -> t <> ''), "
    "CAST([] AS VARCHAR[]))"
)
_SHINGLES = (
    f"CASE WHEN len({_TOKS}) >= 3 THEN "
    f"list_transform(range(1, len({_TOKS}) - 1), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]) "
    f"WHEN len({_TOKS}) > 0 THEN [array_to_string({_TOKS}, ' ')] "
    f"ELSE CAST([] AS VARCHAR[]) END"
)


def dd01_exact_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups by normalized-text fingerprint (md5) — the
    canonical-smallest-id representative per group."""
    from ai_etl_framework_spark.functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


_DD01_SQL = f"""
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT)    AS n_copies
FROM documents
GROUP BY md5({_NORM})
"""


def dd02_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes over 3-token shingles) using the
    engine-independent md5-hex minhash family."""
    from ai_etl_framework_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text", num_hashes=8, k=3)


# affine minhash family (matches operators/dedup.py): one md5 per
# shingle, h_i = (a + i*b) mod 2^61-1 with a/b cut from the digest
_MH_P = (1 << 61) - 1
_MH_A = "('0x' || substr(md5(x), 1, 15))::BIGINT"
_MH_B = "('0x' || substr(md5(x), 17, 8))::BIGINT"


def _mh_min(i: int) -> str:
    return f"list_min(list_transform(sh, x -> ({_MH_A} + {i} * {_MH_B}) % {_MH_P}))"


def _dd02_sql() -> str:
    mins = ",\n       ".join(f"{_mh_min(i)} AS h{i}" for i in range(8))
    return f"""
WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents)
SELECT doc_id, {mins}
FROM s
"""


def dd03_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 8 hashes → 4 bands × 2 rows;
    shuffle on band hashes only (no O(n²) stage)."""
    from ai_etl_framework_spark.operators.dedup import minhash_candidates

    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(docs, "doc_id", "text", num_hashes=8, bands=4, k=3)


def _dd03_sql() -> str:
    mins = ", ".join(f"{_mh_min(i)} AS h{i}" for i in range(8))
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(h{2*b} AS VARCHAR) || '|' || CAST(h{2*b+1} AS VARCHAR)) AS band_hash FROM sig"
        for b in range(4)
    )
    return f"""
WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
sig AS (SELECT doc_id, {mins} FROM s),
banded AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""


def dd04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs ≥ 0.5 (explode +
    self-join on shingle; |A∪B| = |A|+|B|−|A∩B|)."""
    from ai_etl_framework_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)


_DD04_SQL = f"""
WITH d AS (SELECT doc_id, {_SHINGLES} AS shl FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM d),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(ni / (ca.n + cb.n - ni), 6) AS jaccard
FROM inter
JOIN counts ca ON id_a = ca.doc_id
JOIN counts cb ON id_b = cb.doc_id
WHERE ni / (ca.n + cb.n - ni) >= 0.5
"""


def dd05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens; md5-hex bit extraction is
    pure arithmetic, reproducible in any engine."""
    from ai_etl_framework_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text"), bits=32).alias("simhash"))


def _dd05_sql() -> str:
    votes = []
    for b in range(32):
        ci, shift = b // 4, 3 - (b % 4)
        bit = (
            f"((strpos('0123456789abcdef', substr(md5(tok), {ci + 1}, 1)) - 1) "
            f"// {2 ** shift}) % 2"
        )
        votes.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{b}")
    total = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2 ** (31 - b)} ELSE 0 END" for b in range(32)
    )
    return f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
v AS (SELECT doc_id, {', '.join(votes)} FROM t GROUP BY doc_id)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM v
"""


def dd06_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×8-bit band blocking (exact for
    hamming ≤ 3 by pigeonhole) + bit_count verification."""
    from ai_etl_framework_spark.operators.dedup import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "doc_id", "text", bits=32, bands=4, max_hamming=3)


def _dd06_sql() -> str:
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, sim, {b} AS band_idx, (sim >> {(3 - b) * 8}) & 255 AS band_val FROM sims"
        for b in range(4)
    )
    return f"""
WITH sims AS (SELECT doc_id, simhash AS sim FROM ({_dd05_sql()}) dd05),
banded AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


# ---------------------------------------------------------------------------
# training-data operators: similarity search
# ---------------------------------------------------------------------------

def sim01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding —
    exact ANN baseline (scan → project → TakeOrderedAndProject)."""
    from ai_etl_framework_spark.functions.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return brute_force_topk(emb, "embedding", "vec_id", [float(x) for x in query], k=10)


_SIM01_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
-- NULL embeddings scored separately: DuckDB's list_dot_product ERRORS
-- (not NULLs) when a parquet-sourced list column feeds it NULL rows in
-- a flat-vector batch, so they can't flow through the arithmetic. A
-- zero vector divides 0/0 -> NULL. Both end up cos_sim NULL, sorted
-- last — exactly the Spark paths' guarded-cosine semantics.
scored AS (
    SELECT vec_id,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
    FROM embeddings, q
    WHERE embedding IS NOT NULL
    UNION ALL
    SELECT vec_id, CAST(NULL AS DOUBLE) AS cos_sim
    FROM embeddings WHERE embedding IS NULL
)
SELECT vec_id, cos_sim
FROM scored
ORDER BY cos_sim DESC NULLS LAST, vec_id
LIMIT 10
"""


def sim02_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks (label = blocking
    key here; at scale an LSH bucket) — join shuffles on the block key
    only, never a global O(n²)."""
    from ai_etl_framework_spark.operators.dedup import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(emb, "vec_id", "embedding", "label", threshold=0.3)


_SIM02_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
             6) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
      >= 0.3
"""


# ---------------------------------------------------------------------------
# training-data operators: text analysis
# ---------------------------------------------------------------------------

def txt01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count / mean word length / punctuation ratio / English
    stopword ratio — one projection pass (functions/text.py)."""
    from ai_etl_framework_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # one tokenizer pass shared by all three token metrics (r6: the
    # per-metric text functions each rebuilt split+filter — see
    # functions/text.py _let_tokens)
    toks = F.col("__toks")
    return docs.withColumn("__toks", X.tokens(t)).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(X.mean_word_length_of(toks), 6).alias("mean_word_len"),
        F.round(X.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(X.stopword_ratio_of(toks, "en"), 6).alias("stopword_en"),
    )


def _txt01_sql() -> str:
    from ai_etl_framework_spark.functions.text import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       -- zero-guards mirror functions/text.py's WHEN n>0 ... ELSE 0.0
       -- (bare division would yield NULL for blank/NULL docs)
       CASE WHEN len(toks) > 0
            THEN ROUND(list_sum(list_transform(toks, t -> length(t))) / len(toks), 6)
            ELSE 0.0 END AS mean_word_len,
       CASE WHEN length(text) > 0
            THEN ROUND(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text), 6)
            ELSE 0.0 END AS punct_ratio,
       CASE WHEN len(toks) > 0
            THEN ROUND(len(list_filter(toks, t -> t IN ({en}))) * 1.0 / len(toks), 6)
            ELSE 0.0 END AS stopword_en
FROM d
"""


def txt02_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic tie-break
    (functions/text.py lang_id)."""
    from ai_etl_framework_spark.functions.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _txt02_sql() -> str:
    from ai_etl_framework_spark.functions.text import LANGS, STOPWORDS

    # zero-guard: blank/NULL docs score 0.0 in every language (the
    # Spark side's stopword_ratio otherwise(0.0)), so the tie-break
    # picks the FIRST language — a bare division would make every
    # ratio NULL and fall through the CASE to the LAST language
    ratios = ", ".join(
        f"CASE WHEN len(toks) > 0 THEN "
        f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in STOPWORDS[lang])})))"
        f" * 1.0 / len(toks) ELSE 0.0 END AS r_{lang}"
        for lang in LANGS
    )
    # earliest lang in LANGS wins ties (>= against all later langs)
    cases = []
    for i, lang in enumerate(LANGS[:-1]):
        conds = " AND ".join(f"r_{lang} >= r_{o}" for o in LANGS[i + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{LANGS[-1]}' END"
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
r AS (SELECT doc_id, {ratios} FROM d)
SELECT doc_id, {case} AS lang_pred FROM r
"""


def txt03_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score in [0,1]
    (functions/text.py quality_score)."""
    from ai_etl_framework_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score("text"), 6).alias("doc_quality"))


def _txt03_sql() -> str:
    from ai_etl_framework_spark.functions.text import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             len(toks) AS n_tok,
             CASE WHEN len(toks) >= 10 AND len(toks) <= 100000 THEN 1.0
                  WHEN len(toks) > 0 THEN 0.5 ELSE 0.0 END AS length_ok,
             -- zero-guards ≡ functions/text.py WHEN n>0 ... ELSE 0.0
             least(CASE WHEN length(text) > 0
                        THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text)
                        ELSE 0.0 END * 5.0, 1.0) AS punct_excess,
             least(CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, t -> t IN ({en}))) * 1.0 / len(toks)
                        ELSE 0.0 END * 4.0, 1.0) AS sw,
             CASE WHEN len(toks) > 0
                  THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                  ELSE 0.0 END AS rep
      FROM d)
SELECT doc_id,
       ROUND(length_ok * 0.3 + (1.0 - punct_excess) * 0.3 + sw * 0.2 + (1.0 - rep) * 0.2, 6)
         AS doc_quality
FROM m
"""


def txt04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text md5 fingerprint (functions/text.py)."""
    from ai_etl_framework_spark.functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


_TXT04_SQL = f"SELECT doc_id, md5({_NORM}) AS fp FROM documents"


def smp01_hash_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling + train/val/test split
    (operators/sampling.py): md5-derived membership is byte-identical
    across engines, so split sizes AND the overlap with an independent
    25% sample hash-match the DuckDB oracle exactly — the
    reproducibility contract a 100 TB corpus pipeline needs."""
    from ai_etl_framework_spark.operators.sampling import (
        hash_split,
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", (0.8, 0.1, 0.1), names=("train", "val", "test"))
    # sample membership per-row with hash_uniform — the SAME predicate
    # deterministic_sample applies — rather than equi-joining back on
    # doc_id: a join can never match NULL ids (undercounting the
    # sentinel-bucketed rows the oracle counts per-row) and would fan
    # out if ids ever repeated. Per-row keeps Spark and the oracle
    # structurally identical.
    in_sample = (hash_uniform(F.col("doc_id"), "s1") < 0.25).cast("int")
    return (
        split.withColumn("in_sample", in_sample)
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("in_sample").cast("long").alias("n_sampled"),
        )
    )


_SMP01_SQL = """
WITH u AS (
  -- COALESCE to the same '\\x00' sentinel hash_uniform uses: a bare
  -- md5(NULL) would NULL-propagate and silently dump NULL-id rows
  -- into the 'test' range with n_sampled 0, diverging from Spark
  SELECT doc_id,
         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 8))::BIGINT
             / 4294967296.0 AS u_split,
         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0)) || 's1'), 1, 8))::BIGINT
             / 4294967296.0 AS u_sample
  FROM documents)
SELECT CASE WHEN u_split < 0.8 THEN 'train'
            WHEN u_split < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u_sample < 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM u
GROUP BY 1
"""


def smp02_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted upsampling for epoch mixing
    (operators/sampling.py upsample): per-language mixing weights
    (en×2.5, zh×1.4, rest×0.75) replicate rows floor(w) times plus a
    hash-decided extra — fractional weights land exactly, copies are
    reproducible, and the whole thing is one narrow explode (no
    shuffle before the verification groupBy)."""
    from ai_etl_framework_spark.operators.sampling import upsample

    docs = load_table(spark, sf_dir, "documents")
    w = (
        F.when(F.col("lang") == "en", F.lit(2.5))
        .when(F.col("lang") == "zh", F.lit(1.4))
        .otherwise(F.lit(0.75))
    )
    up = upsample(docs, w, "doc_id", salt="ep0")
    return up.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.max("copy_idx").cast("long").alias("max_copies"),
    )


_SMP02_SQL = """
WITH w AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 2.5
              WHEN lang = 'zh' THEN 1.4
              ELSE 0.75 END AS wt,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ep0'), 1, 8))::BIGINT
             / 4294967296.0 AS u
  FROM documents),
n AS (
  SELECT doc_id, lang,
         CAST(FLOOR(wt) AS BIGINT)
           + CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END AS n_copies
  FROM w),
e AS (
  SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy_idx
  FROM n WHERE n_copies > 0)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MAX(copy_idx) AS BIGINT) AS max_copies
FROM e
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q18-q27: second coverage wave (anomaly vote, null fill, column ops,
# provider/diagnosis rollups, schema inference, CC dedup, search,
# best-quality dedup, custom UDAF)
# ---------------------------------------------------------------------------

def q18_anomaly_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined anomaly vote: flagged by ≥2 of {z-score, IQR}
    (anomaly_detector.py:326-355); shared threshold like the
    reference's single `threshold` param."""
    from ai_etl_framework_spark.operators import AnomalyDetector

    events = load_table(spark, sf_dir, "events")
    det = AnomalyDetector(method="combined", threshold=2.0, fields=["value"])
    return det(events).filter(F.col("_meta_is_anomaly")).select("event_id")


_Q18_SQL = """
SELECT event_id
FROM events,
     (SELECT AVG(value) AS m, STDDEV_POP(value) AS s,
             quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3,
             COUNT(value) AS c
      FROM events)
WHERE value IS NOT NULL
  AND (CASE WHEN c >= 3 AND s > 0 AND ABS((value - m) / s) > 2.0 THEN 1 ELSE 0 END
     + CASE WHEN c >= 4 AND (q3 - q1) > 0
             AND (value < q1 - 2.0 * (q3 - q1) OR value > q3 + 2.0 * (q3 - q1))
            THEN 1 ELSE 0 END) >= 2
"""


def q19_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NullRemover drop_all then fill (null_remover.py:60-64, 74-80):
    drop rows where ALL of (name, seg) are NULL/"", then fill seg with
    'UNKNOWN' and bal with 0.0 — the ""≡NULL rule throughout."""
    from ai_etl_framework_spark.operators import NullRemover

    cust = load_table(spark, sf_dir, "customer")
    derived = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("")).otherwise(F.col("c_name")).alias("name"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    out = NullRemover(strategy="drop_all", fields=["name", "seg"])(derived)
    out = NullRemover(strategy="fill", fields=["seg"], fill_value="UNKNOWN")(out)
    out = NullRemover(strategy="fill", fields=["bal"], fill_value=0.0)(out)
    return out.select("c_custkey", "name", "seg", F.round("bal", 2).alias("bal"))


_Q19_SQL = """
WITH d AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END AS name,
         NULLIF(c_mktsegment, 'BUILDING')                     AS seg,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer)
SELECT c_custkey, name,
       COALESCE(NULLIF(seg, ''), 'UNKNOWN') AS seg,
       ROUND(COALESCE(bal, 0.0), 2)         AS bal
FROM d
WHERE NOT ((name IS NULL OR name = '') AND (seg IS NULL OR seg = ''))
"""


def q20_column_remover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColumnRemover precedence: keep > exact > prefix > regex
    (column_remover.py:86-112) — '_meta_' prefix and 'seg' regex
    removed, but keep_columns rescues c_mktsegment."""
    from ai_etl_framework_spark.operators import ColumnRemover

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "_meta_score", F.col("c_acctbal") / 1000.0
    )
    remover = ColumnRemover(
        columns=["c_nationkey"],
        prefix="_meta_",
        pattern="seg",
        keep_columns=["c_mktsegment"],
    )
    return remover(cust)


_Q20_SQL = "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer"


def q21_rollup_by_provider(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DashboardAggregator.by_provider: name-pattern auto-detection,
    amount stats, LEFT-JOIN of mean quality, sort total_billed desc
    (dashboard_aggregator.py:164-223)."""
    from ai_etl_framework_spark.operators import DashboardAggregator

    sup = load_table(spark, sf_dir, "supplier")
    derived = sup.select(
        F.col("s_nationkey").alias("provider_region"),   # 'prov' pattern
        F.col("s_acctbal").alias("billed_amount"),       # 'billed' pattern
        F.col("s_suppkey").alias("claim_id"),            # 'claim' pattern
        ((F.col("s_suppkey") % 100) / 100.0).alias("_meta_quality_score"),
    )
    out = DashboardAggregator(derived).by_provider()
    t, a = _money_exprs("total_billed", "total_claims", "spark")
    return out.selectExpr(
        "provider_region",
        "total_claims",
        f"{t} AS total_billed",
        f"{a} AS avg_billed",
        "round(min_billed, 2) AS min_billed",
        "round(max_billed, 2) AS max_billed",
        "round(avg_quality_score, 6) AS avg_quality_score",
    )


def _q21_sql() -> str:
    t, a = _money_exprs("total_billed", "total_claims", "duckdb")
    return f"""
WITH g AS (
  SELECT s_nationkey                                            AS provider_region,
         CAST(COUNT(s_suppkey) AS BIGINT)                       AS total_claims,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(20,4))) AS DOUBLE)  AS total_billed,
         ROUND(MIN(s_acctbal), 2)                               AS min_billed,
         ROUND(MAX(s_acctbal), 2)                               AS max_billed,
         ROUND(AVG((s_suppkey % 100) / 100.0), 6)               AS avg_quality_score
  FROM supplier
  GROUP BY s_nationkey
)
SELECT provider_region, total_claims, {t} AS total_billed, {a} AS avg_billed,
       min_billed, max_billed, avg_quality_score
FROM g
"""


def q22_rollup_by_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DashboardAggregator.by_diagnosis: count + sum/mean of detected
    amount, sort count desc (dashboard_aggregator.py:225-272)."""
    from ai_etl_framework_spark.operators import DashboardAggregator

    part = load_table(spark, sf_dir, "part")
    derived = part.select(
        F.col("p_type").alias("diagnosis_code"),   # 'diagnosis' pattern
        F.col("p_retailprice").alias("cost_amount"),  # 'amount' pattern
        F.col("p_partkey").alias("record_id"),     # 'id' claim pattern
    )
    out = DashboardAggregator(derived).by_diagnosis()
    t, a = _money_exprs("total_billed", "total_claims", "spark")
    return out.selectExpr(
        "diagnosis_code",
        "total_claims",
        f"{t} AS total_billed",
        f"{a} AS avg_billed",
    )


def _q22_sql() -> str:
    t, a = _money_exprs("total_billed", "total_claims", "duckdb")
    return f"""
WITH g AS (
  SELECT p_type                                                     AS diagnosis_code,
         CAST(COUNT(p_partkey) AS BIGINT)                           AS total_claims,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(20,4))) AS DOUBLE)  AS total_billed
  FROM part
  GROUP BY p_type
)
SELECT diagnosis_code, total_claims, {t} AS total_billed, {a} AS avg_billed
FROM g
"""


def q23_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SchemaInferrer single-pass profiling (schema_inferrer.py:165-253):
    null counts, distinct counts, dominant regex pattern ≥ 0.8,
    enum suggestion ≤ 10 distinct, confidence = (type + pattern)/2."""
    from ai_etl_framework_spark.operators import SchemaInferrer

    cust = load_table(spark, sf_dir, "customer")
    derived = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("not-an-email"))
        .otherwise(
            F.concat(
                F.regexp_replace(F.lower(F.col("c_name")), "[^a-z0-9]", ""),
                F.lit("@example.com"),
            )
        )
        .alias("email"),
        F.concat(
            F.lit("2024-01-"), F.lpad((F.col("c_custkey") % 28 + 1).cast("string"), 2, "0")
        ).alias("iso_date"),
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    info = SchemaInferrer().infer(derived)
    rows = []
    for col in derived.columns:
        i = info[col]
        rows.append(
            (
                col,
                int(i["null_count"]),
                int(i["distinct_count"]),
                i.get("pattern"),
                round(float(i["confidence"]), 6),
                ",".join(i["enum_values"]) if "enum_values" in i else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "col string, null_count long, distinct_count long, pattern string, "
        "confidence double, enum_vals string",
    )


_Q23_SQL = """
WITH d AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'not-an-email'
              ELSE regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g') || '@example.com'
         END AS email,
         '2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS iso_date,
         c_mktsegment AS seg,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer),
stats AS (
  SELECT 'c_custkey' AS col, CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT) AS null_count,
         CAST(COUNT(DISTINCT CAST(c_custkey AS VARCHAR)) AS BIGINT) AS distinct_count,
         NULL AS pattern, 1.0 AS confidence, COUNT(DISTINCT c_custkey) AS nd,
         list_sort(list(DISTINCT CAST(c_custkey AS VARCHAR))) AS vals
  FROM d
  UNION ALL
  SELECT 'email', CAST(COUNT(*) - COUNT(email) AS BIGINT),
         CAST(COUNT(DISTINCT email) AS BIGINT),
         CASE WHEN AVG(CASE WHEN email IS NOT NULL AND email <> '' THEN CASE WHEN regexp_matches(email, '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$') THEN 1.0 ELSE 0.0 END END) >= 0.8 THEN 'email' END,
         CASE WHEN AVG(CASE WHEN email IS NOT NULL AND email <> '' THEN CASE WHEN regexp_matches(email, '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$') THEN 1.0 ELSE 0.0 END END) >= 0.8
              THEN (1.0 + AVG(CASE WHEN email IS NOT NULL AND email <> '' THEN CASE WHEN regexp_matches(email, '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$') THEN 1.0 ELSE 0.0 END END)) / 2
              ELSE 1.0 END,
         COUNT(DISTINCT email), list_sort(list(DISTINCT email))
  FROM d
  UNION ALL
  SELECT 'iso_date', CAST(COUNT(*) - COUNT(iso_date) AS BIGINT),
         CAST(COUNT(DISTINCT iso_date) AS BIGINT),
         CASE WHEN AVG(CASE WHEN iso_date IS NOT NULL AND iso_date <> '' THEN CASE WHEN regexp_matches(iso_date, '^\\d{4}-\\d{2}-\\d{2}$') THEN 1.0 ELSE 0.0 END END) >= 0.8 THEN 'date_iso' END,
         CASE WHEN AVG(CASE WHEN iso_date IS NOT NULL AND iso_date <> '' THEN CASE WHEN regexp_matches(iso_date, '^\\d{4}-\\d{2}-\\d{2}$') THEN 1.0 ELSE 0.0 END END) >= 0.8
              THEN (1.0 + AVG(CASE WHEN iso_date IS NOT NULL AND iso_date <> '' THEN CASE WHEN regexp_matches(iso_date, '^\\d{4}-\\d{2}-\\d{2}$') THEN 1.0 ELSE 0.0 END END)) / 2
              ELSE 1.0 END,
         COUNT(DISTINCT iso_date), list_sort(list(DISTINCT iso_date))
  FROM d
  UNION ALL
  SELECT 'seg', CAST(COUNT(*) - COUNT(seg) AS BIGINT),
         CAST(COUNT(DISTINCT seg) AS BIGINT),
         NULL, 1.0, COUNT(DISTINCT seg), list_sort(list(DISTINCT seg))
  FROM d
  UNION ALL
  SELECT 'bal', CAST(COUNT(*) - COUNT(bal) AS BIGINT),
         CAST(COUNT(DISTINCT bal) AS BIGINT),
         NULL, 1.0, COUNT(DISTINCT bal), list_sort(list(DISTINCT CAST(bal AS VARCHAR)))
  FROM d)
SELECT col, null_count, distinct_count, pattern,
       ROUND(confidence, 6) AS confidence,
       CASE WHEN nd <= 10 THEN array_to_string(vals, ',') END AS enum_vals
FROM stats
"""


def q24_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components near-dup removal — the scalable (100 TB)
    alternative to the reference's greedy scan-order grouping
    (SURVEY §7.4.7): iterative min-label propagation over the
    Jaccard≥0.5 pair graph, keep each component's smallest doc_id."""
    from ai_etl_framework_spark.operators.dedup import (
        dedup_connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    return dedup_connected_components(docs, "doc_id", pairs).select("doc_id")


_Q24_SQL = f"""
WITH RECURSIVE d AS (SELECT doc_id, {_SHINGLES} AS shl FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM d),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM inter
          JOIN counts ca ON id_a = ca.doc_id
          JOIN counts cb ON id_b = cb.doc_id
          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.5),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM labels WHERE id != label)
"""


def q25_distinct_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct filter-values with ILIKE search (the `search` branch of
    duckdb_service.py:507-562, escaped %/_)."""
    part = load_table(spark, sf_dir, "part")
    c = F.col("p_type")
    return (
        part.select(c.alias("value"))
        .where(c.isNotNull() & c.cast("string").ilike("%om%"))
        .distinct()
        .orderBy(F.col("value").asc())
        .limit(50)
    )


_Q25_SQL = """
SELECT DISTINCT p_type AS value
FROM part
WHERE p_type IS NOT NULL AND CAST(p_type AS VARCHAR) ILIKE '%om%'
ORDER BY value
LIMIT 50
"""


def q26_dedup_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep_best_quality: max quality wins, earliest order
    breaks ties (deduplicator.py:314-346 keep_best_quality)."""
    from ai_etl_framework_spark.operators.dedup import exact_dedup

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_linenumber").cast("long") * 10000
         + F.round(F.col("l_quantity") * 100).cast("long")).alias("__ord"),
        ((F.col("l_partkey") % 97) / 97.0).alias("q"),
    )
    out = exact_dedup(
        li, match_fields=["l_orderkey"], keep="keep_best_quality",
        order_col="__ord", quality_col="q",
    )
    return out.select("l_orderkey", "l_linenumber", F.round("q", 6).alias("q"))


_Q26_SQL = """
SELECT l_orderkey, l_linenumber, ROUND(q, 6) AS q
FROM (SELECT l_orderkey, l_linenumber,
             (l_partkey % 97) / 97.0 AS q,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY (l_partkey % 97) / 97.0 DESC,
                        l_linenumber * 10000 + CAST(ROUND(l_quantity * 100, 0) AS BIGINT)
             ) AS rn
      FROM lineitem)
WHERE rn = 1
"""


def q33_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-window top-k per group: the 3 highest-value events per
    event_type (row_number over a partition — the windowed sibling of
    the global top-k q04)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("event_type", "rn", "event_id", F.round("value", 2).alias("value"))
    )


_Q33_SQL = """
SELECT event_type, CAST(rn AS INT) AS rn, event_id, ROUND(value, 2) AS value
FROM (SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events)
WHERE rn <= 3
"""


def q34_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every 20th event acts as a
    'rate' row; each other event picks up the most recent rate at or
    before its timestamp per user. Oracle: DuckDB's native ASOF LEFT
    JOIN."""
    from ai_etl_framework_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    rates = events.where(F.col("event_id") % 20 == 0).select(
        "user_id", "ts", F.round("value", 2).alias("rate")
    )
    evs = events.where(F.col("event_id") % 20 != 0).select("event_id", "user_id", "ts")
    out = asof_join(evs, rates, on="ts", by=["user_id"], right_cols=["rate"])
    return out.select("event_id", "rate")


_Q34_SQL = """
WITH rates AS (SELECT user_id, ts, ROUND(value, 2) AS rate
               FROM events WHERE event_id % 20 = 0),
evs AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 20 != 0)
SELECT e.event_id, r.rate
FROM evs e
ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND e.ts >= r.ts
"""


def q35_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned point-in-interval range join (operators/asof.py
    range_join_points): every 50th event spawns a 2-hour interval;
    count events falling inside each. Oracle: DuckDB's inequality
    join (IEJoin)."""
    from ai_etl_framework_spark.operators.asof import range_join_points

    events = load_table(spark, sf_dir, "events")
    intervals = events.where(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    pts = events.select("event_id", "ts")
    joined = range_join_points(pts, intervals, "ts", "start_ts", "end_ts")
    return joined.groupBy("interval_id").agg(F.count(F.lit(1)).alias("n_events"))


_Q35_SQL = """
WITH intervals AS (SELECT event_id AS interval_id, ts AS start_ts,
                          ts + INTERVAL 2 HOUR AS end_ts
                   FROM events WHERE event_id % 50 = 0)
SELECT interval_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e
JOIN intervals i ON e.ts >= i.start_ts AND e.ts <= i.end_ts
GROUP BY interval_id
"""


def q34_asof_range_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 11): temporal-join family — as-of join (q34,
    most-recent-rate-at-or-before per user) + binned point-in-interval
    range join (q35, per-interval event counts) tag-unioned into one
    long-format oracle row, freeing a gate slot for a post-r9 family
    (VERDICT r10 item 4). Same verbatim-composition pattern as
    q04_topk_suite; the single-path q34/q35 stay registry/pytest
    units."""
    a = q34_asof_join(spark, sf_dir).select(
        F.lit("asof").alias("suite"),
        F.col("event_id").cast("long").alias("entity_id"),
        F.col("rate").cast("double").alias("value"),
    )
    b = q35_range_join(spark, sf_dir).select(
        F.lit("range_count").alias("suite"),
        F.col("interval_id").cast("long").alias("entity_id"),
        F.col("n_events").cast("double").alias("value"),
    )
    return a.unionByName(b)


_Q34M_SQL = f"""
SELECT 'asof' AS suite, CAST(event_id AS BIGINT) AS entity_id,
       CAST(rate AS DOUBLE) AS value
FROM ({_Q34_SQL}) a
UNION ALL
SELECT 'range_count' AS suite, CAST(interval_id AS BIGINT) AS entity_id,
       CAST(n_events AS DOUBLE) AS value
FROM ({_Q35_SQL}) b
"""


def q36_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (native `df.rollup` — Catalyst
    expands to a single Expand + one aggregation, so subtotal levels
    share one shuffle instead of one scan per level). Beyond-reference:
    SURVEY.md §2.6 notes the reference has no grouping sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


_Q36_SQL = """
SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
       COALESCE(l_linestatus, '(all)') AS linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q37_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT, distinct semantics):
    customers who placed both 1-URGENT and 5-LOW orders, minus those
    with any open ('O') order. Spark `intersect`/`subtract` lower to
    left-semi/left-anti joins over distinct inputs — broadcast-able
    and AQE-planned, no driver work."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = orders.where(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    open_ = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return urgent.intersect(low).subtract(open_)


_Q37_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def q38_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions per user ordered by time: lag,
    running sum, and a 4-row trailing sum — one window partition,
    one shuffle on user_id shared by all three expressions. Explicit
    ROWS frames + a unique (ts, event_id) sort key keep row order
    deterministic; values are rounded BEFORE summing (multiples of
    0.01) so the oracle compare is immune to the engines' different
    summation trees (DuckDB windows aggregate via segment tree,
    Spark sequentially — raw-double sums differ in the last ulp)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trail = w.rowsBetween(-3, Window.currentRow)
    v = F.round(F.col("value"), 2)
    return events.select(
        "event_id",
        F.round(F.lag(v).over(w), 2).alias("prev_value"),
        F.round(F.sum(v).over(run), 2).alias("run_sum"),
        F.round(F.sum(v).over(trail), 2).alias("trail_sum"),
    )


_Q38_SQL = """
SELECT event_id,
       ROUND(lag(ROUND(value, 2)) OVER w, 2) AS prev_value,
       ROUND(SUM(ROUND(value, 2)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
       ROUND(SUM(ROUND(value, 2)) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS trail_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
"""


def q39_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column query (SURVEY §1.2 JSON type): extract a
    typed field from the events.props JSON string and aggregate on it.
    `get_json_object` is JVM-side (codegen'd Jackson path eval), so the
    extraction runs inside the scan stage — no UDF, no extra pass."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_Q39_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN json_valid(props) THEN CAST(json_extract(props, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k,
       ROUND(AVG(CASE WHEN json_valid(props) THEN CAST(json_extract(props, '$.k') AS BIGINT) END), 4) AS avg_k,
       MIN(CASE WHEN json_valid(props) THEN CAST(json_extract(props, '$.k') AS BIGINT) END) AS min_k,
       MAX(CASE WHEN json_valid(props) THEN CAST(json_extract(props, '$.k') AS BIGINT) END) AS max_k
FROM events
GROUP BY event_type
"""


def q40_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS expressed as a left-semi join (what Catalyst
    decorrelates EXISTS subqueries into): orders having at least one
    lineitem shipped after 2000-01-01, counted by status. The semi
    join never materializes lineitem columns and short-circuits per
    key — at 100 TB the filtered build side stays far smaller than an
    inner-join + distinct."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    shipped = li.where(F.col("l_shipdate") > F.lit("2000-01-01")).select("l_orderkey")
    return (
        orders.join(shipped, orders.o_orderkey == shipped.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q40_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > TIMESTAMP '2000-01-01')
GROUP BY o_orderstatus
"""


def q41_not_exists_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (q40's complement): orders whose
    lineitems all shipped on/before 2000-01-01 — plus orders with no
    lineitems at all, matching SQL NOT EXISTS semantics exactly."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    shipped = li.where(F.col("l_shipdate") > F.lit("2000-01-01")).select("l_orderkey")
    return (
        orders.join(shipped, orders.o_orderkey == shipped.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q41_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > TIMESTAMP '2000-01-01')
GROUP BY o_orderpriority
"""


def q42_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with the customer⋈supplier
    same-nation correlation and a region filter. The dims (supplier,
    customer, nation, region) broadcast; only lineitem⋈orders
    shuffles — at 100 TB that is one exchange, with the region filter
    cutting the build sides before broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


_Q42_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q32_agg_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregator 'list' function (non-null values in input order,
    aggregator.py:27), serialized to JSON so the array compares
    byte-identically across engines."""
    from ai_etl_framework_spark.operators import Aggregator

    orders = load_table(spark, sf_dir, "orders")
    agg = Aggregator(
        group_by=["o_orderpriority"],
        aggregations={"statuses": {"field": "o_orderstatus", "function": "list"}},
        order_col="o_orderkey",
    )
    out = agg(orders)
    return out.select("o_orderpriority", F.to_json("statuses").alias("statuses"))


_Q32_SQL = """
SELECT o_orderpriority,
       -- NULLS LAST: the Aggregator's one NULLS-LAST sequence for
       -- every order-sensitive function (r4 — first/last/concat/list
       -- share the (null-flag, order) key, so NULL-order values sit
       -- at the sequence tail)
       to_json(list_filter(list(o_orderstatus ORDER BY o_orderkey NULLS LAST),
                           x -> x IS NOT NULL)) AS statuses
FROM orders
GROUP BY o_orderpriority
"""


def q28_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) — the batch twin of the
    applyInPandasWithState streaming operator (streaming/sessions.py).
    lag/cumsum over one shuffle on user_id."""
    from ai_etl_framework_spark.streaming.sessions import sessionize_batch

    events = load_table(spark, sf_dir, "events")
    out = sessionize_batch(events, gap_minutes=30.0)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )


_Q28_SQL = """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE ts IS NOT NULL  -- an event without a time cannot be sessionized
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s2 AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
)
SELECT user_id,
       MIN(ts)                     AS session_start,
       MAX(ts)                     AS session_end,
       CAST(COUNT(*) AS BIGINT)    AS n_events,
       ROUND(SUM(value), 2)        AS total_value
FROM s2
GROUP BY user_id, sess
"""


def q29_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram chart-prep: 30 equal-width bins over o_totalprice
    (visualization_generator.py:433 nbins=30) — explicit floor-bin
    arithmetic identical in both engines."""
    from ai_etl_framework_spark.operators.viz_prep import histogram_prep

    orders = load_table(spark, sf_dir, "orders")
    return histogram_prep(orders, "o_totalprice", bins=30)


_Q29_SQL = """
WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
SELECT CAST(LEAST(FLOOR((o_totalprice - lo) / (hi - lo) * 30) + 1, 30) AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS count
FROM orders, b
WHERE o_totalprice IS NOT NULL
GROUP BY 1
"""


def q30_box_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-plot chart-prep: five-number summary per category with
    exact linear-interpolation percentiles
    (visualization_generator.py:441)."""
    from ai_etl_framework_spark.operators.viz_prep import box_prep

    li = load_table(spark, sf_dir, "lineitem")
    out = box_prep(li, "l_returnflag", "l_quantity")
    return out.select(
        "l_returnflag",
        F.round("min", 2).alias("min"),
        F.round("q1", 4).alias("q1"),
        F.round("median", 4).alias("median"),
        F.round("q3", 4).alias("q3"),
        F.round("max", 2).alias("max"),
    )


_Q30_SQL = """
SELECT l_returnflag,
       ROUND(MIN(l_quantity), 2)                  AS min,
       ROUND(quantile_cont(l_quantity, 0.25), 4)  AS q1,
       ROUND(quantile_cont(l_quantity, 0.5), 4)   AS median,
       ROUND(quantile_cont(l_quantity, 0.75), 4)  AS q3,
       ROUND(MAX(l_quantity), 2)                  AS max
FROM lineitem
GROUP BY l_returnflag
"""


def q31_pie_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pie chart-prep: value_counts().head(10)
    (visualization_generator.py:393-395), id-ordered tiebreak so the
    top-10 cut is deterministic in both engines."""
    from ai_etl_framework_spark.operators.viz_prep import pie_prep

    events = load_table(spark, sf_dir, "events")
    return pie_prep(events, "event_type", top_n=10)


_Q31_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS count
FROM events
GROUP BY event_type
ORDER BY count DESC, event_type
LIMIT 10
"""


def q27_agg_custom_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-registered custom aggregation function — an Arrow-batched
    pandas UDAF (ref aggregator.py:302-321 add_custom_function).
    Median matches DuckDB quantile_cont (linear interpolation)."""
    import pandas as pd

    from ai_etl_framework_spark.operators import Aggregator

    agg = Aggregator(
        group_by=["l_returnflag"],
        aggregations={"median_qty_raw": {"field": "l_quantity", "function": "median"}},
    )

    def median_fn(s: pd.Series) -> float:
        return float(s.median())

    agg.add_custom_function("median", median_fn)
    li = load_table(spark, sf_dir, "lineitem")
    return agg(li).select("l_returnflag", F.round("median_qty_raw", 4).alias("median_qty"))


_Q27_SQL = """
SELECT l_returnflag, ROUND(median(l_quantity), 4) AS median_qty
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# rows-only checks (non-SQL-expressible: ANN probing, Pandas-UDF media)
# ---------------------------------------------------------------------------

def x01_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH bucket probing
    (functions/similarity.py lsh_topk). Approximation → rows-only."""
    from ai_etl_framework_spark.functions.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    # planes=5, hamming<=2 probing: 50% scan fraction, measured
    # recall@10 = 0.9 on the sf0.01 table (see x01_ann_recall). The
    # probe budget is forced high by the synthetic table's weak cluster
    # structure (true neighbors sit at cos ~0.3); clustered real
    # embeddings reach the same recall at far smaller scan fractions.
    return lsh_topk(
        emb, "embedding", "vec_id", [float(x) for x in query],
        k=10, n_planes=5, probe_hamming=2,
    )


def x02_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse search probing the 3 nearest k-means cells
    (functions/similarity.py ivf_topk). Approximation → rows-only;
    recall floor gated via x01_ann_recall / tests/test_ann_recall.py.
    Round 3: the coarse quantizer is the fully-distributed MLlib
    spherical k-means (kmeans_cells_ml) — trains on EVERY vector with
    per-partition partial aggregation, so centroid quality holds when
    the corpus far exceeds a driver sample; the exhaustive (nprobe=all)
    setting of this same machinery is oracle-gated in
    sim01_cosine_topk."""
    from ai_etl_framework_spark.functions.similarity import (
        assign_cells,
        ivf_topk,
        kmeans_cells_ml,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    # Real coarse quantizer (the table's `label` column is uncorrelated
    # with similarity — probing it caps recall at ~0.5 no matter what).
    # k-means cells + nprobe=3 on this weakly-clustered synthetic table
    # scan ~30% for recall ≥ the tests' floor; see x01_ann_recall.
    # Hash-repartition by vec_id + sort within partitions before the
    # fit: k-means|| init draws per-partition seeded samples in row
    # order, so both the row→partition mapping AND the within-
    # partition order must be value-determined (file splits, core
    # count, and shuffle fetch order all vary by environment) for the
    # centroids — and the x01 ivf recall number — to reproduce across
    # machines. One bounded exchange + local sort of the embeddings.
    cents = kmeans_cells_ml(
        emb.repartition(32, "vec_id").sortWithinPartitions("vec_id"),
        "embedding", k=8, max_iter=10,
    )
    cells = assign_cells(emb, "embedding", cents)
    return ivf_topk(cells, "embedding", "vec_id", "__cell", [float(x) for x in query], k=10, nprobe=3)


def x04_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation-forest anomaly flags (deterministic seeded numpy
    implementation — operators/iforest.py; sklearn path used when
    available). Algorithmic approximation → rows-only check."""
    from ai_etl_framework_spark.operators import AnomalyDetector

    events = load_table(spark, sf_dir, "events")
    det = AnomalyDetector(method="isolation_forest", fields=["value", "user_id"])
    return det(events).filter(F.col("_meta_is_anomaly")).select("event_id")


def x05_iforest_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB isolation-forest path: fit on a bounded driver-side
    sample, broadcast the forest, score per-partition with mapInPandas
    (no shuffle). Rows-only (sampling-dependent)."""
    from ai_etl_framework_spark.operators.iforest import fit_sample_predict_distributed

    events = load_table(spark, sf_dir, "events")
    out = fit_sample_predict_distributed(events, ["value", "user_id"], sample_rows=5000)
    return out.filter(F.col("_meta_is_anomaly")).select("event_id", "_meta_anomaly_score")


def x06_batched_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query ANN: numpy matmul per Arrow batch
    (functions/similarity.py topk_batch_pandas) — the high-throughput
    path for many simultaneous queries. Rows-only."""
    from ai_etl_framework_spark.functions.similarity import topk_batch_pandas

    emb = load_table(spark, sf_dir, "embeddings")
    queries_ = [r[0] for r in emb.where(F.col("vec_id") < 3).select("embedding").collect()]
    return topk_batch_pandas(emb, "embedding", "vec_id", [[float(x) for x in q] for q in queries_], k=5)


def x03_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns, both tiers (functions/multimodal.py +
    functions/codecs.py): 'fake_plumbing' rows push raw text bytes
    through the md5 stand-in kernel (schema/batching exercised with no
    codec assumptions); 'real_bmp_decode' rows synthesize a VALID 4x4
    24-bit BMP per document and run the actual pure-numpy decoder +
    feature extraction (fake=False). Deterministic end to end."""
    from pyspark.sql.functions import pandas_udf

    from ai_etl_framework_spark.functions.multimodal import image_features

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("blob"))
    fake = image_features(blobs, "doc_id", "blob", dim=8, fake=True)

    @pandas_udf("binary")
    def synth_bmp(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        from ai_etl_framework_spark.functions.codecs import encode_bmp

        def one(t):
            seed = hashlib.md5((t or "").encode("utf-8")).digest() * 3
            img = np.frombuffer(seed, dtype="u1")[:48].reshape(4, 4, 3)
            return encode_bmp(img)

        return texts.map(one)

    real = image_features(
        docs.select("doc_id", synth_bmp(F.col("text")).alias("blob")),
        "doc_id", "blob", dim=8, fake=False,
    )
    tag = lambda df, mode: df.select(  # noqa: E731
        F.lit(mode).alias("mode"), "id", "n_bytes", "sha",
        F.round(F.element_at("feat", 1), 6).alias("feat0"),
    )
    return tag(fake, "fake_plumbing").unionByName(tag(real, "real_bmp_decode"))


# ---------------------------------------------------------------------------
# merged gate queries
#
# The driver's CORRECTNESS gate records at most the first 50 registered
# queries (round 1 gated exactly queries 1-50 of 62, dropping txt*/x*).
# To keep EVERY operator inside the gate, near-duplicate queries are
# merged into tag-unions: each part keeps its original semantics and
# oracle SQL verbatim, tagged with a literal discriminator column and
# UNION ALL'd on both engines. The original single-purpose functions
# stay (bench.py and the pytest suites use them directly).
# ---------------------------------------------------------------------------

def q05_distinct_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct filter-values: plain (q05) + ILIKE search (q25)."""
    a = q05_distinct_values(spark, sf_dir).select(F.lit("segment").alias("src"), "value")
    b = q25_distinct_search(spark, sf_dir).select(F.lit("type_search").alias("src"), "value")
    return a.unionByName(b)


_Q05M_SQL = f"""
SELECT 'segment' AS src, value FROM ({_Q05_SQL})
UNION ALL
SELECT 'type_search' AS src, value FROM ({_Q25_SQL})
"""


def q03_join_revenue_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-revenue suite (r12 gate rotation, VERDICT r11 item 2):
    the star-schema pre-agg rollup (q03) + the TPC-H-Q5-shape 6-table
    local-supplier join (q42), each arm verbatim, NULL-filled where a
    column belongs to one arm only. The single-path q03/q42 stay
    registry/bench entries after the gate."""
    a = q03_join_revenue(spark, sf_dir).select(
        F.lit("star_rollup").alias("src"), "n_name", "revenue", "n_orders"
    )
    b = q42_local_supplier_revenue(spark, sf_dir).select(
        F.lit("local_supplier").alias("src"),
        "n_name",
        "revenue",
        F.lit(None).cast("long").alias("n_orders"),
    )
    return a.unionByName(b)


def q38_window_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-analytics (q38) + typed-JSON-extract aggregation (q39)
    suite (r12 gate rotation, VERDICT r11 item 2). The two arms keep
    their own column sets verbatim — each row NULL-fills the other
    arm's columns (no cast coercion, so each arm's oracle compare is
    bit-identical to its single-path row). The single-path q38/q39
    stay registry entries after the gate."""
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")
    a = q38_window_analytics(spark, sf_dir).select(
        F.lit("window").alias("src"),
        "event_id", "prev_value", "run_sum", "trail_sum",
        F.lit(None).cast("string").alias("event_type"),
        nl.alias("n"), nl.alias("sum_k"), nd.alias("avg_k"),
        nl.alias("min_k"), nl.alias("max_k"),
    )
    b = q39_json_extract(spark, sf_dir).select(
        F.lit("json").alias("src"),
        nl.alias("event_id"), nd.alias("prev_value"),
        nd.alias("run_sum"), nd.alias("trail_sum"),
        "event_type", "n", "sum_k", "avg_k", "min_k", "max_k",
    )
    return a.unionByName(b)


_Q03M_SQL = f"""
SELECT 'star_rollup' AS src, n_name, revenue, n_orders
FROM ({_Q03_SQL})
UNION ALL
SELECT 'local_supplier' AS src, n_name, revenue, CAST(NULL AS BIGINT) AS n_orders
FROM ({_Q42_SQL})
"""

_Q38M_SQL = f"""
SELECT 'window' AS src, event_id, prev_value, run_sum, trail_sum,
       CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS sum_k, CAST(NULL AS DOUBLE) AS avg_k,
       CAST(NULL AS BIGINT) AS min_k, CAST(NULL AS BIGINT) AS max_k
FROM ({_Q38_SQL})
UNION ALL
SELECT 'json' AS src, CAST(NULL AS BIGINT) AS event_id,
       CAST(NULL AS DOUBLE) AS prev_value, CAST(NULL AS DOUBLE) AS run_sum,
       CAST(NULL AS DOUBLE) AS trail_sum,
       event_type, n, sum_k, avg_k, min_k, max_k
FROM ({_Q39_SQL})
"""


def q10_anomaly_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly flags by method: z-score t=3.0 (q10), IQR t=1.5 (q11),
    combined >=2-vote t=2.0 (q18) — each part verbatim."""
    parts = [
        q10_anomaly_zscore(spark, sf_dir).select(F.lit("zscore").alias("method"), "event_id"),
        q11_anomaly_iqr(spark, sf_dir).select(F.lit("iqr").alias("method"), "event_id"),
        q18_anomaly_combined(spark, sf_dir).select(F.lit("combined").alias("method"), "event_id"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_Q10M_SQL = f"""
SELECT 'zscore' AS method, event_id FROM ({_Q10_SQL})
UNION ALL
SELECT 'iqr' AS method, event_id FROM ({_Q11_SQL})
UNION ALL
SELECT 'combined' AS method, event_id FROM ({_Q18_SQL})
"""


def q12_dedup_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep_first (q12) + keep_best_quality (q26)."""
    a = q12_dedup_exact(spark, sf_dir).select(
        F.lit("keep_first").alias("mode"), "l_orderkey", "l_linenumber",
        F.col("l_quantity").alias("metric"),
    )
    b = q26_dedup_best_quality(spark, sf_dir).select(
        F.lit("best_quality").alias("mode"), "l_orderkey", "l_linenumber",
        F.col("q").alias("metric"),
    )
    return a.unionByName(b)


_Q12M_SQL = f"""
SELECT 'keep_first' AS mode, l_orderkey, l_linenumber, l_quantity AS metric FROM ({_Q12_SQL})
UNION ALL
SELECT 'best_quality' AS mode, l_orderkey, l_linenumber, q AS metric FROM ({_Q26_SQL})
"""


def q21_rollup_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DashboardAggregator.by_provider (q21) + by_diagnosis (q22) +
    the single-row grand-total summary (q14), aligned on a string
    group_key; rows carry NULL for stats their dim doesn't compute.
    (Round 3: q14 folded in here to free a gate slot — same operators,
    same oracle SQL, one driver row. Round 10: q36's hierarchical
    ROLLUP subtotals folded in as dim='rollup' rows — group_key =
    'returnflag|linestatus', its COUNT rides in total_claims and its
    SUM(l_quantity) in total_billed, the suite's count and sum slots;
    the single-path q36 stays a registry/bench unit. Round 12: q13's
    by_date rollup folded in as dim='date' rows — group_key =
    CAST(date AS VARCHAR), ISO on both engines; the single-path q13
    stays a registry/bench/smoke unit.)"""
    nd = F.lit(None).cast("double")
    a = q21_rollup_by_provider(spark, sf_dir).select(
        F.lit("provider").alias("dim"),
        F.col("provider_region").cast("string").alias("group_key"),
        "total_claims", "total_billed", "avg_billed",
        "min_billed", "max_billed", "avg_quality_score",
    )
    b = q22_rollup_by_diagnosis(spark, sf_dir).select(
        F.lit("diagnosis").alias("dim"),
        F.col("diagnosis_code").cast("string").alias("group_key"),
        "total_claims", "total_billed", "avg_billed",
        nd.alias("min_billed"), nd.alias("max_billed"), nd.alias("avg_quality_score"),
    )
    c = q14_rollup_summary(spark, sf_dir).select(
        F.lit("summary").alias("dim"),
        F.lit("__all__").alias("group_key"),
        "total_claims", "total_billed", "avg_billed",
        "min_billed", "max_billed", nd.alias("avg_quality_score"),
    )
    d = q36_rollup_grouping(spark, sf_dir).select(
        F.lit("rollup").alias("dim"),
        F.concat_ws("|", "returnflag", "linestatus").alias("group_key"),
        F.col("n_rows").alias("total_claims"),
        F.col("sum_qty").alias("total_billed"),
        nd.alias("avg_billed"),
        nd.alias("min_billed"), nd.alias("max_billed"),
        nd.alias("avg_quality_score"),
    )
    e = q13_rollup_by_date(spark, sf_dir).select(
        F.lit("date").alias("dim"),
        F.col("date").cast("string").alias("group_key"),
        "total_claims", "total_billed", "avg_billed",
        nd.alias("min_billed"), nd.alias("max_billed"),
        nd.alias("avg_quality_score"),
    )
    return a.unionByName(b).unionByName(c).unionByName(d).unionByName(e)


def _q21m_sql() -> str:
    return f"""
SELECT 'provider' AS dim, CAST(provider_region AS VARCHAR) AS group_key,
       total_claims, total_billed, avg_billed, min_billed, max_billed, avg_quality_score
FROM ({_q21_sql()})
UNION ALL
SELECT 'diagnosis' AS dim, CAST(diagnosis_code AS VARCHAR) AS group_key,
       total_claims, total_billed, avg_billed,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM ({_q22_sql()})
UNION ALL
SELECT 'summary' AS dim, '__all__' AS group_key,
       total_claims, total_billed, avg_billed, min_billed, max_billed,
       CAST(NULL AS DOUBLE)
FROM ({_q14_sql()})
UNION ALL
SELECT 'rollup' AS dim, returnflag || '|' || linestatus AS group_key,
       n_rows AS total_claims, sum_qty AS total_billed,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM ({_Q36_SQL})
UNION ALL
SELECT 'date' AS dim, CAST(date AS VARCHAR) AS group_key,
       total_claims, total_billed, avg_billed,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM ({_q13_sql()})
"""


def q29_chart_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart-prep long format: histogram (q29) + box five-number
    summary (q30) + pie top-n (q31) as (chart, k, metric, value).
    (Round 10: q16's heatmap pivot folded in as chart='heatmap' rows —
    k = l_linestatus, metric = the pivoted returnflag column; the
    single-path q16 stays a registry/bench/smoke unit.)"""
    hist = q29_histogram(spark, sf_dir).select(
        F.lit("histogram").alias("chart"),
        F.col("bin").cast("string").alias("k"),
        F.lit("count").alias("metric"),
        F.col("count").cast("double").alias("value"),
    )
    box = q30_box_quartiles(spark, sf_dir).selectExpr(
        "'box' AS chart",
        "l_returnflag AS k",
        "stack(5, 'min', min, 'q1', q1, 'median', median, 'q3', q3, 'max', max) AS (metric, value)",
    )
    pie = q31_pie_counts(spark, sf_dir).select(
        F.lit("pie").alias("chart"),
        F.col("event_type").alias("k"),
        F.lit("count").alias("metric"),
        F.col("count").cast("double").alias("value"),
    )
    heat = q16_pivot_flag_qty(spark, sf_dir).selectExpr(
        "'heatmap' AS chart",
        "l_linestatus AS k",
        "stack(3, 'A', A, 'N', N, 'R', R) AS (metric, value)",
    )
    return hist.unionByName(box).unionByName(pie).unionByName(heat)


_Q29M_SQL = f"""
SELECT 'histogram' AS chart, CAST(bin AS VARCHAR) AS k, 'count' AS metric,
       CAST(count AS DOUBLE) AS value
FROM ({_Q29_SQL})
UNION ALL
SELECT 'box' AS chart, l_returnflag AS k, m.metric,
       CASE m.metric WHEN 'min' THEN min WHEN 'q1' THEN q1 WHEN 'median' THEN median
                     WHEN 'q3' THEN q3 ELSE max END AS value
FROM ({_Q30_SQL}) b
CROSS JOIN (SELECT UNNEST(['min','q1','median','q3','max']) AS metric) m
UNION ALL
SELECT 'pie' AS chart, event_type AS k, 'count' AS metric, CAST(count AS DOUBLE) AS value
FROM ({_Q31_SQL})
UNION ALL
SELECT 'heatmap' AS chart, l_linestatus AS k, m.metric,
       CASE m.metric WHEN 'A' THEN A WHEN 'N' THEN N ELSE R END AS value
FROM ({_Q16_SQL}) h
CROSS JOIN (SELECT UNNEST(['A','N','R']) AS metric) m
"""


def q40_exists_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS left-semi (q40, by status) + NOT EXISTS left-anti (q41,
    by priority) on a shared group_key column."""
    a = q40_exists_semijoin(spark, sf_dir).select(
        F.lit("exists").alias("mode"), F.col("o_orderstatus").alias("group_key"), "n_orders"
    )
    b = q41_not_exists_antijoin(spark, sf_dir).select(
        F.lit("not_exists").alias("mode"), F.col("o_orderpriority").alias("group_key"), "n_orders"
    )
    return a.unionByName(b)


_Q40M_SQL = f"""
SELECT 'exists' AS mode, o_orderstatus AS group_key, n_orders FROM ({_Q40_SQL})
UNION ALL
SELECT 'not_exists' AS mode, o_orderpriority AS group_key, n_orders FROM ({_Q41_SQL})
"""


def q04_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 10): global top-k (q04, sort-desc + limit —
    the reference's order-by-first-metric-desc pattern) + windowed
    top-k per group (q33, row_number partition) tag-unioned into one
    long-format oracle row, freeing a gate slot for a post-r7 family
    (VERDICT r9 item 4). Same verbatim-composition pattern as
    q43_merge_scd2_suite; the single-path q04/q33 stay registry/bench
    units."""
    a = q04_topk_customers(spark, sf_dir).selectExpr(
        "'global_customers' AS scope",
        "'__all__' AS group_key",
        "o_custkey AS entity_id",
        "stack(2, 'total_spent', total_spent, "
        "'n_orders', CAST(n_orders AS DOUBLE)) AS (metric, value)",
    )
    b = q33_topk_per_group(spark, sf_dir).selectExpr(
        "'per_event_type' AS scope",
        "event_type AS group_key",
        "event_id AS entity_id",
        "stack(2, 'rn', CAST(rn AS DOUBLE), 'value', value) AS (metric, value)",
    )
    return a.unionByName(b)


_Q04M_SQL = f"""
SELECT 'global_customers' AS scope, '__all__' AS group_key,
       o_custkey AS entity_id, m.metric,
       CASE m.metric WHEN 'total_spent' THEN total_spent
                     ELSE CAST(n_orders AS DOUBLE) END AS value
FROM ({_Q04_SQL}) q
CROSS JOIN (SELECT UNNEST(['total_spent', 'n_orders']) AS metric) m
UNION ALL
SELECT 'per_event_type' AS scope, event_type AS group_key,
       event_id AS entity_id, m.metric,
       CASE m.metric WHEN 'rn' THEN CAST(rn AS DOUBLE) ELSE value END AS value
FROM ({_Q33_SQL}) q
CROSS JOIN (SELECT UNNEST(['rn', 'value']) AS metric) m
"""


def q08_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 10): NullRemover 'drop' with the ""≡NULL rule
    (q08) + the drop_all-then-fill composition (q19) tag-unioned on a
    shared schema (q08 rows carry NULL bal — it selects no bal column);
    frees a gate slot for a post-r7 family (VERDICT r9 item 4). The
    single-path q08/q19 stay registry/pytest units."""
    a = q08_null_semantics(spark, sf_dir).select(
        F.lit("drop").alias("mode"),
        "c_custkey", "name", "seg",
        F.lit(None).cast("double").alias("bal"),
    )
    b = q19_null_handling(spark, sf_dir).select(
        F.lit("drop_all_fill").alias("mode"),
        "c_custkey", "name", "seg", "bal",
    )
    return a.unionByName(b)


_Q08M_SQL = f"""
SELECT 'drop' AS mode, c_custkey, name, seg, CAST(NULL AS DOUBLE) AS bal
FROM ({_Q08_SQL})
UNION ALL
SELECT 'drop_all_fill' AS mode, c_custkey, name, seg, bal
FROM ({_Q19_SQL})
"""


def dd02_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc dedup signatures: MinHash h0..h7 (dd02) joined with the
    32-bit SimHash (dd05) on doc_id — both families verified in one
    driver row (round-3 gate-slot merge; each part's semantics and
    oracle SQL are verbatim)."""
    return dd02_minhash_sig(spark, sf_dir).join(dd05_simhash(spark, sf_dir), "doc_id")


def _dd02m_sql() -> str:
    return f"""
SELECT m.*, s.simhash
FROM ({_dd02_sql()}) m
JOIN ({_dd05_sql()}) s USING (doc_id)
"""


def dd01_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc normalized-text fingerprint (txt04) LEFT-joined with the
    exact-dup group stats (dd01: representative doc_id + n_copies) —
    non-representative docs carry NULL n_copies (round-3 gate-slot
    merge of dd01 + txt04)."""
    return txt04_fingerprint(spark, sf_dir).join(
        dd01_exact_text_dedup(spark, sf_dir), "doc_id", "left"
    )


_DD01M_SQL = f"""
SELECT f.doc_id, f.fp, d.n_copies
FROM ({_TXT04_SQL}) f
LEFT JOIN ({_DD01_SQL}) d USING (doc_id)
"""


def txt01_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text profile: stats (txt01) + language ID (txt02) +
    composite quality (txt03) joined on doc_id — the full text-analysis
    surface in one driver row (round-3 gate-slot merge)."""
    return (
        txt01_text_stats(spark, sf_dir)
        .join(txt02_lang_id(spark, sf_dir), "doc_id")
        .join(txt03_doc_quality(spark, sf_dir), "doc_id")
    )


def _txt01m_sql() -> str:
    return f"""
SELECT s.*, l.lang_pred, q.doc_quality
FROM ({_txt01_sql()}) s
JOIN ({_txt02_sql()}) l USING (doc_id)
JOIN ({_txt03_sql()}) q USING (doc_id)
"""


def sim01_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 by THREE physical strategies, all oracle-
    checked against the same SQL: 'expr' = JVM expression scan →
    TakeOrderedAndProject (sim01); 'matmul' = Arrow-batched numpy
    matmul partial top-k + window merge (x06's engine, exact); 'ivf'
    = IVF cell pruning with nprobe = all cells, i.e. the IVF machinery
    in its exhaustive setting (x02's engine, exact here; its
    approximate recall is gated in x01_ann_recall /
    tests/test_ann_recall.py)."""
    from ai_etl_framework_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        topk_batch_pandas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    qv = [float(x) for x in query]
    expr = brute_force_topk(emb, "embedding", "vec_id", qv, k=10)
    mm = topk_batch_pandas(emb, "embedding", "vec_id", [qv], k=10).select(
        "vec_id", "cos_sim"
    )
    # distinct().count() INCLUDES a NULL-label group (countDistinct
    # would not), so nprobe really covers every cell and the NULL-
    # tolerant probe in ivf_topk keeps NULL-labeled vectors in scope —
    # exhaustive means exhaustive, or the exact-equality oracle breaks
    n_cells = emb.select("label").distinct().count()
    ivf = ivf_topk(emb, "embedding", "vec_id", "label", qv, k=10, nprobe=n_cells)
    tag = lambda df, t: df.select(  # noqa: E731
        F.lit(t).alias("path"), "vec_id", "cos_sim"
    )
    return (
        tag(expr, "expr").unionByName(tag(mm, "matmul")).unionByName(tag(ivf, "ivf"))
    )


_SIM01M_SQL = f"""
SELECT 'expr' AS path, vec_id, cos_sim FROM ({_SIM01_SQL})
UNION ALL
SELECT 'matmul' AS path, vec_id, cos_sim FROM ({_SIM01_SQL})
UNION ALL
SELECT 'ivf' AS path, vec_id, cos_sim FROM ({_SIM01_SQL})
"""


def _backfill_state_partitions(spark: SparkSession, bronze_dir: str) -> int:
    """Size-derived state-partition count for a bounded AvailableNow
    backfill (guide §2.2 — derive partitioning from input size, never
    a constant tuned for one box).

    Cost model: each state partition pays a per-micro-batch FIXED cost
    — RocksDB instance open, commit, changelog upload — measured at
    ~25–50 ms here, against per-row work of ~5–10 µs, so a partition
    needs at least a few thousand rows (~128 KiB of parquet) to
    amortize its overhead. Measured A/B at sf0.1 (fresh checkpoints,
    warm, median of 3): p04 windowed backfill 2.16 s at 32 state
    partitions → 1.29–1.33 s at 4–8; p03 sessionize 3.32 s at 32 →
    2.79 s at 16 (Python flush work still wants some parallelism,
    hence the floor). The count is clamped to
    [4, defaultParallelism]: any cluster-scale backfill (GBs+) hits
    the cap and keeps every core — behavior there is unchanged — while
    tiny local/incremental backfills stop paying 32× fixed costs.
    ``SPARK_GRAFT_STATE_PART_BYTES`` overrides the per-partition byte
    target (local default 128 KiB; on a real cluster state partitions
    should amortize far more — set it to MBs there)."""
    import math

    from ai_etl_framework_spark.sinks.compaction import dataset_stats

    total = dataset_stats(spark, bronze_dir)["total_bytes"]
    try:
        target = int(os.environ.get(
            "SPARK_GRAFT_STATE_PART_BYTES", str(128 * 1024)
        ))
    except ValueError:
        # malformed override must not fail the whole streaming query
        # (ADVICE r13) — fall back to the 128 KiB default
        target = 128 * 1024
    n = max(1, math.ceil(total / max(target, 1)))
    # clamp to [4, defaultParallelism] with the FLOOR also bounded by
    # the parallelism (ADVICE r13: max(4, min(n, dp)) returned 4 on a
    # <4-core session, exceeding dp and contradicting the documented
    # clamp)
    dp = max(spark.sparkContext.defaultParallelism, 1)
    return min(max(n, 4), dp)


def _run_stream_once(spark: SparkSession, ev: DataFrame, build_sink,
                     prefix: str, marginal_ev: DataFrame | None = None,
                     timings: dict | None = None) -> DataFrame:
    """Shared AvailableNow harness for the streaming twins: write the
    batch input as a bronze dir, run the streaming query to completion
    (fail loudly on timeout instead of reading a half-written sink),
    materialize the bounded result, and remove the scratch dir — no
    /tmp residue survives the terminal read.

    ``marginal_ev`` (bench-only, VERDICT r5 item 5): after the
    backfill terminates, append these rows as a new bronze file and
    restart the SAME query (same checkpoint) under AvailableNow,
    recording the wall-clock of that incremental run in
    ``timings['marginal_sec']`` — the per-batch cost a long-running
    deployment actually pays, separating the backfill's fixed costs
    (RocksDB spin-up, stream machinery) from per-row work."""
    import shutil
    import tempfile

    # the driver brings its own session → set the streaming state
    # store at runtime (RocksDB + changelog checkpointing: state not
    # bounded by heap, delta uploads instead of full snapshots; also
    # ~1.8x faster than the HDFS-backed store on this backfill). The
    # caller's values are restored afterwards — a host session must
    # not find its provider silently switched when it later resumes
    # its OWN checkpoints (state files are provider-incompatible).
    _st_confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    # state partition count is baked into the (fresh) checkpoint at
    # query start. r12 pinned it to the core count so a session with
    # default 200 shuffle partitions doesn't spin 200 state stores per
    # micro-batch (measured on a plain 32-core session at sf0.01:
    # st01 42s -> single-digit s). r13 derives it from the INPUT SIZE
    # instead of any constant (guide §2.2 — scale-adaptive
    # partitioning): every state partition pays a per-batch fixed cost
    # (RocksDB open + commit + changelog upload, tens of ms) that a
    # bounded backfill must amortize over its rows, so a tiny backfill
    # wants few, larger state partitions while a big one still wants
    # every core. See _backfill_state_partitions below — the count is
    # set AFTER the bronze write (it is derived from the bronze bytes)
    # and before the stream starts; the marginal restart reuses the
    # same checkpoint, whose offsets log carries the same count.
    # scratch dir first, then the save/set loop INSIDE the try: any
    # failure after the first conf.set (a host session rejecting a
    # later key, an interrupt mid-loop) must still restore what was
    # already switched — _prev_confs records each key before its set,
    # so the finally undoes exactly the prefix that happened
    tmp = tempfile.mkdtemp(prefix=prefix)
    _prev_confs = {}
    try:
        for k, v in _st_confs.items():
            try:
                _prev_confs[k] = spark.conf.get(k)
            except Exception:
                _prev_confs[k] = None
            spark.conf.set(k, v)
        bronze = os.path.join(tmp, "bronze")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        # the scratch bronze copy arrives as ONE scan split (a single
        # sf parquet file), so a bare write would parquet-encode the
        # whole input on one core. A round-robin spread to a few
        # tasks overlaps the encode; 8 (capped by the session's
        # parallelism) is past the committer-overhead knee measured at
        # sf0.1 (0.75 s → 0.41 s; 32 output files was SLOWER than 8).
        # Still one AvailableNow data batch — no maxFilesPerTrigger —
        # so the st01/st03 oracle contract (emitted set is a pure
        # function of the events table) is untouched.
        ev.repartition(
            min(8, spark.sparkContext.defaultParallelism)
        ).write.mode("overwrite").parquet(bronze)

        _k = "spark.sql.shuffle.partitions"
        if _k not in _prev_confs:
            try:
                _prev_confs[_k] = spark.conf.get(_k)
            except Exception:
                _prev_confs[_k] = None
        spark.conf.set(_k, str(_backfill_state_partitions(spark, bronze)))

        def _go() -> None:
            q = (
                build_sink(bronze)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError(
                    f"{prefix} streaming query did not finish within 300s"
                )

        _go()
        if marginal_ev is not None:
            import time as _time

            t0 = _time.perf_counter()
            marginal_ev.write.mode("append").parquet(bronze)
            _go()
            if timings is not None:
                timings["marginal_sec"] = round(_time.perf_counter() - t0, 4)
        res = spark.read.parquet(out)
        # bounded result (sessions/windows, not raw events): materialize
        # so the scratch dir can be deleted before returning. Arrow both
        # ways (toPandas/createDataFrame) — the Row-object round trip
        # cost ~2s at sf0.1 for the same 95k sessions.
        schema, pdf = res.schema, res.toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        for k, pv in _prev_confs.items():
            if pv is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, pv)
    return _nan_to_null(spark.createDataFrame(pdf, schema))


def _nan_to_null(df: DataFrame) -> DataFrame:
    """NULL-preserving pandas round trip: toPandas() represents NULL
    doubles as NaN, and whether createDataFrame maps NaN back to null
    depends on the session's Arrow configuration (the house session
    does, a PLAIN ANSI session does not — caught by an oracle
    under SPARK_GRAFT_PLAIN_SESSION). No streaming output here ever
    produces a legitimate NaN (finite sums / rates), so nan→null is
    exact."""
    from pyspark.sql.types import DoubleType

    cols = [
        F.when(F.isnan(F.col(f.name)), F.lit(None).cast("double"))
        .otherwise(F.col(f.name))
        .alias(f.name)
        if isinstance(f.dataType, DoubleType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


# the st04–st11 stores are mergeable, so any split works; st03's oracle
# replays its own split (history, then crawl 1, then crawl 2)
_EVENT_HALVES = ("event_id % 2 = 0", "event_id % 2 = 1")


def _run_store_stream(spark: SparkSession, src: DataFrame,
                      parts: tuple[str, ...], service: Callable,
                      readout: Callable) -> DataFrame:
    """Shared scaffold of the keyed-store rows (st03–st11): drive one
    foreachBatch store service over ``src`` as a file stream and return
    its readout.

    Each SQL predicate in ``parts`` selects one micro-batch. Its rows
    are written as ONE coalesced parquet file and moved into
    ``bronze/`` with increasing mtimes, so ``max_files_per_trigger=1``
    replays the parts in their given order — st03's oracle encodes that
    exact order. ``service(root)`` builds the service on the scratch
    root; ``readout(service)`` is collected before the scratch dir is
    removed, which it always is."""
    import shutil
    import tempfile
    import time

    root = tempfile.mkdtemp(prefix="store_stream_")
    try:
        bronze = os.path.join(root, "bronze")
        os.makedirs(bronze)
        now = time.time()
        for i, pred in enumerate(parts, 1):
            stage = os.path.join(root, f"stage{i}")
            src.where(pred).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            dst = os.path.join(bronze, f"part_{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (now + i, now + i))
        svc = service(root)
        svc.run_stream(bronze, os.path.join(root, "ckpt"),
                       schema=src.schema, max_files_per_trigger=1)
        out = readout(svc)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def st01_stream_sessions(spark: SparkSession, sf_dir: str, *,
                         marginal_ev: DataFrame | None = None,
                         timings: dict | None = None) -> DataFrame:
    """Streaming twin of q28: events → file-source stream →
    applyInPandasWithState sessionization → parquet sink, end-to-end
    under Trigger.AvailableNow. Rows-only by design: which sessions
    CLOSE (vs stay open in state) depends on micro-batch boundaries,
    so the emitted subset is not SQL-expressible; exact agreement of
    every emitted session with the batch/oracle result is asserted in
    tests/test_sessionization.py. The driver row still catches hard
    breakage (e.g. the r2 watermark NTZ crash) in the gate signal.

    ``marginal_ev``/``timings`` are bench-only passthroughs to
    _run_stream_once's incremental-batch measurement."""
    from ai_etl_framework_spark.streaming.events import read_stream
    from ai_etl_framework_spark.streaming.sessions import sessionize_stream

    ev = load_table(spark, sf_dir, "events")
    return _run_stream_once(
        spark,
        ev,
        lambda bronze: sessionize_stream(
            read_stream(spark, bronze, fmt="parquet", schema=ev.schema),
            gap_minutes=30.0,
            watermark="0 seconds",
        ),
        "st01_",
        marginal_ev=marginal_ev,
        timings=timings,
    )


def st02_stream_windows(spark: SparkSession, sf_dir: str, *,
                        marginal_ev: DataFrame | None = None,
                        timings: dict | None = None) -> DataFrame:
    """Streaming twin of q17: watermarked tumbling-window aggregation
    over a file-source stream, AvailableNow to completion. Rows-only:
    append-mode emission depends on watermark advancement across
    micro-batches; equality with the batch twin is asserted in
    tests/test_streaming.py.

    ``marginal_ev``/``timings`` are bench-only passthroughs to
    _run_stream_once's incremental-batch measurement."""
    from ai_etl_framework_spark.streaming.events import (
        read_stream,
        windowed_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return _run_stream_once(
        spark,
        ev,
        lambda bronze: windowed_counts(
            read_stream(spark, bronze, fmt="parquet", schema=ev.schema),
            ts_col="ts", window="1 hour", watermark="2 hours",
            group_cols=["event_type"],
        ).select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        ),
        "st02_",
        marginal_ev=marginal_ev,
        timings=timings,
    )


def st01_stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 5): BOTH streaming twins tag-unioned into one
    row — same verbatim-composition pattern as _dd03m_sql. The
    single-path functions stay: they are the bench streaming series
    (p03/p04) and the subjects of the pytest batch-equality/oracle
    assertions. Column mapping: session rows carry (key = user_id,
    ts_start/ts_end = session bounds); window rows carry (key =
    event_type, ts_start/ts_end = window bounds); n_events/
    total_value align 1:1 (total_value rounded 2dp here — the q28
    money convention — so the row hash-compares; the underlying
    streaming functions stay unrounded).

    ORACLE-BACKED since r13 (VERDICT r12 item 6, the st11 pattern
    generalized): under _run_stream_once the bounded backfill is ONE
    AvailableNow data batch (no maxFilesPerTrigger) plus Spark's
    final no-data flush batch, so the emitted set is a pure function
    of the events table, not of micro-batch boundaries:

    - a session emits iff a later session exists for its key (closed
      inline when the later segment arrives) OR the final watermark
      strictly passes its timeout — floor_ms(end_us) + gap_ms <
      floor_ms(max_ts_us) (watermark delay 0s; Spark tracks event
      time in FLOORED milliseconds and EventTimeTimeout fires
      STRICTLY past the stamp — both probed empirically with half-ms
      tie fixtures, see tests/test_streaming.py's emission-rule
      pins);
    - a tumbling window emits iff floor_ms(max_ts_us) - 7_200_000 >=
      window_end_ms (append finalization is NON-strict at the tie —
      same probe).

    The oracle replays exactly that: the q28 gaps-and-islands
    fragment + per-key last-session open filter, and the q17 window
    aggregate + watermark filter. The GENERAL multi-batch operator
    stays boundary-sensitive for ts-unordered splits (late rows past
    the watermark are dropped/refused) — that scope is pinned by the
    stream≡batch equality suites, not this row."""
    a = st01_stream_sessions(spark, sf_dir).select(
        F.lit("session").alias("kind"),
        F.col("user_id").cast("string").alias("key"),
        F.col("session_start").alias("ts_start"),
        F.col("session_end").alias("ts_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("total_value"), 2).alias("total_value"),
    )
    b = st02_stream_windows(spark, sf_dir).select(
        F.lit("window").alias("kind"),
        F.col("event_type").cast("string").alias("key"),
        F.col("window_start").alias("ts_start"),
        F.col("window_end").alias("ts_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("total_value"), 2).alias("total_value"),
    )
    return a.unionByName(b)


# Oracle for the streaming suite (r13): batch-replay of the two
# streams' FINAL emitted sets. The wm CTE is the final event-time
# watermark in Spark's own representation (event times floored to
# milliseconds); the session arm reuses the q28 gaps-and-islands
# fragment verbatim and keeps each key's last session only when the
# watermark STRICTLY passes end + 30 min; the window arm keeps a
# 1-hour bucket when the 2-hour-delayed watermark reaches its end
# (non-strict). Both emission rules were probed with half-ms /
# exact-tie fixtures (floor + strict for timeouts, non-strict for
# window finalization).
_ST01_SQL = """
WITH wm AS (SELECT epoch_us(MAX(ts)) // 1000 AS wm_ms FROM events),
s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s2 AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
),
sess AS (
  SELECT user_id, MIN(ts) AS ts_start, MAX(ts) AS ts_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS total_value
  FROM s2 GROUP BY user_id, sess
),
marked AS (
  SELECT *, MAX(ts_end) OVER (PARTITION BY user_id) AS last_end FROM sess
),
wins AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS ts_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS total_value
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT 'session' AS kind, CAST(user_id AS VARCHAR) AS key,
       ts_start, ts_end, n_events, total_value
FROM marked, wm
WHERE ts_end < last_end
   OR (epoch_us(ts_end) // 1000) + 1800000 < wm_ms
UNION ALL
SELECT 'window' AS kind, event_type AS key,
       ts_start, ts_start + INTERVAL '1 hour' AS ts_end,
       n_events, total_value
FROM wins, wm
WHERE (epoch_us(ts_start + INTERVAL '1 hour') // 1000) <= wm_ms - 7200000
"""


def st03_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental corpus ingest (pipeline/ingest.py,
    r8 verdict item 6): documents split into a seeded history + two
    crawl files, driven through readStream → foreachBatch
    [clean_text → exact dedup vs fingerprint store → near dedup vs
    LSH band index → append + store update] → corpus_report refresh.

    ORACLE-BACKED since r13 (VERDICT r12 item 6): WHICH document
    survives a cross-batch dup pair depends on micro-batch order —
    but this harness PINS the order (history %3==0 seeds the stores;
    crawl 1 then crawl 2 as mtime-ordered single-file micro-batches),
    and every survivor rule is deterministic (earlier batch wins;
    min doc_id wins within a batch, exact and near) — so the accepted
    set is a pure function of the documents table and the _st03_sql
    twin replays the whole two-batch cascade in SQL: txt08's clean
    chain → dd01-style fp anti-join vs store → 16×4 band-collision
    anti-join vs store → within-batch min-id band self-join over the
    post-filter subset → store update → batch 2 → rpt01's dup_rate.
    Stream-vs-batch equality, store semantics, and idempotent
    re-crawl stay pinned in tests/test_incremental_ingest.py; the
    general operator under arbitrary/unordered splits remains
    order-sensitive (near-dup CHAINS — see pipeline/ingest.py's
    module docstring), which is exactly why the oracle encodes THIS
    harness's pinned sequence rather than claiming split-invariance.

    Output: tagged union — one ("accepted", doc_id, 1, NULL) row per
    silver document plus one ("report", source, n_docs, dup_rate) row
    per source from the refreshed dataset card."""
    from ai_etl_framework_spark.pipeline.ingest import IncrementalCorpusIngest

    docs = load_table(spark, sf_dir, "documents")

    def service(root: str) -> IncrementalCorpusIngest:
        ing = IncrementalCorpusIngest(spark, root)
        ing.seed_history(docs.where("doc_id % 3 = 0"))
        return ing

    def readout(ing: IncrementalCorpusIngest) -> DataFrame:
        accepted = ing.silver().select(
            F.lit("accepted").alias("kind"),
            F.col("doc_id").cast("string").alias("key"),
            F.lit(1).cast("long").alias("n"),
            F.lit(None).cast("double").alias("val"),
        )
        report = ing.report().select(
            F.lit("report").alias("kind"),
            F.col("source").alias("key"),
            F.col("n_docs").alias("n"),
            F.col("dup_rate").alias("val"),
        )
        return accepted.unionByName(report)

    return _run_store_stream(
        spark, docs, ("doc_id % 3 = 1", "doc_id % 3 = 2"), service, readout
    )


def x01_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of each ANN path (hyperplane LSH, IVF cell-probing,
    batched-matmul) against brute-force cosine top-k on the same
    query vector. Turns the round-1 "runs but unproven" rows-only ANN
    checks into a measured quality bound. The lsh and matmul rows are
    md5-seeded and fully deterministic; the ivf row's quantizer
    (MLlib k-means||, x02) is seed-fixed AND fit on a value-determined
    partition layout (see x02), so its recall reproduces across
    environments too. r11 (VERDICT r10 item 7): because the output IS
    deterministic per corpus (measured 3x-stable at all three SFs),
    the row now carries a FIXTURE oracle — a VALUES literal keyed by
    a DuckDB-computed corpus fingerprint (count + rounded sum of the
    first embedding coordinate), fail-loud empty on an unknown corpus
    — so the driver hash-compares it like any oracle row;
    tests/test_ann_recall.py keeps the recall floors as the second
    line of evidence. ONE-BOX SCOPE (r12, ADVICE r11): the ivf row
    rides MLlib k-means|| over the value-determined partition layout;
    a host with a different default parallelism can legitimately
    yield a different (still floor-passing) recall. The pinned values
    are measured on THIS container; on a different execution
    environment, re-measure and re-pin the VALUES literal (or fall
    back to rows-only + the recall-floor tests) — same scope as the
    x100 fixture's "deterministic per corpus on one box" claim."""
    from ai_etl_framework_spark.functions.similarity import (
        brute_force_topk,
        topk_batch_pandas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    qv = [float(x) for x in query]
    truth = {r["vec_id"] for r in brute_force_topk(emb, "embedding", "vec_id", qv, k=10).collect()}

    matmul = topk_batch_pandas(emb, "embedding", "vec_id", [qv], k=10)
    got = {
        "lsh": {r["vec_id"] for r in x01_lsh_topk(spark, sf_dir).collect()},
        "ivf": {r["vec_id"] for r in x02_ivf_topk(spark, sf_dir).collect()},
        "matmul": {r["vec_id"] for r in matmul.collect()},
    }
    rows = [
        (m, float(len(ids & truth)) / float(len(truth))) for m, ids in sorted(got.items())
    ]
    return spark.createDataFrame(rows, "method string, recall double")


# Fixture oracle for x01 (VERDICT r10 item 7): measured recalls per
# corpus, keyed by a corpus fingerprint DuckDB computes from the
# embeddings table itself. An unrecognized corpus joins to zero rows →
# row-count mismatch → the gate row turns red (fail-loud, never
# silently green). Values re-measured 3x-stable on 2026-08-16.
# ONE-BOX SCOPE (ADVICE r11): the ivf recall depends on the host's
# default parallelism via the k-means|| partition layout — these
# values are pinned for THIS container; re-pin (or drop to rows-only
# + recall floors in tests/test_ann_recall.py) on a different box.
_X01_SQL = """
WITH k AS (SELECT COUNT(*) || ':' || ROUND(SUM(embedding[1])::DOUBLE, 2) AS ck
           FROM embeddings),
f(ck, method, recall) AS (VALUES
  ('500:-1.46', 'ivf', 0.6), ('500:-1.46', 'lsh', 0.5),
  ('500:-1.46', 'matmul', 1.0),
  ('500:1.08', 'ivf', 0.7), ('500:1.08', 'lsh', 0.9),
  ('500:1.08', 'matmul', 1.0),
  ('2000:1.53', 'ivf', 0.6), ('2000:1.53', 'lsh', 0.6),
  ('2000:1.53', 'matmul', 1.0))
SELECT method, CAST(recall AS DOUBLE) AS recall
FROM f JOIN k ON f.ck = k.ck
"""


def x05_skew_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-sort ordered group-concat (operators/skew.py
    ordered_group_concat) on exactly the few-group shape it exists
    for: lineitem has THREE l_returnflag groups, so the Aggregator's
    hash-partition-per-group concat sorts each group in one task
    while this path range-partitions on the order key and sorts on
    every core. Same order tuple as q07 → same deterministic output;
    the DuckDB oracle is a plain string_agg ORDER BY. Local-parity
    slot (51+): the 50-row driver gate is full, so this row is
    verified by tests/test_oracle_parity.py at all three SFs."""
    from ai_etl_framework_spark.operators.skew import ordered_group_concat

    li = load_table(spark, sf_dir, "lineitem")
    return ordered_group_concat(
        li,
        keys=["l_returnflag"],
        order_by=[
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            "l_partkey",
            "l_returnflag",
            "l_linestatus",
        ],
        value="l_linestatus",
    )


_X05_SQL = f"""
SELECT l_returnflag,
       COALESCE(string_agg(CAST(l_linestatus AS VARCHAR), ', '
                  ORDER BY {_Q07_ORD}), '')  AS l_linestatus_concat
FROM lineitem
GROUP BY l_returnflag
"""


def x06_distributed_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q07's exact aggregate surface forced through the Aggregator's
    r7 ``distribute_sort`` two-level range-partitioned path
    (operators/aggregator.py _distributed) — the shape q07's "auto"
    selects past the size threshold. Forcing it here gives the
    distributed plan its own oracle row at EVERY test SF (the parity
    suite runs it at sf0.001/0.01/0.1), not just where auto happens
    to engage. Local-parity slot (51+): the 50-row driver gate is
    full, so this row is verified by tests/test_oracle_parity.py."""
    from ai_etl_framework_spark.operators import Aggregator

    li = load_table(spark, sf_dir, "lineitem")
    agg = Aggregator(
        group_by=["l_returnflag"],
        aggregations={
            "n_rows": {"field": "l_quantity", "function": "count"},
            "n_status": {"field": "l_linestatus", "function": "count_distinct"},
            "sum_qty_raw": {"field": "l_quantity", "function": "sum"},
            "avg_qty_raw": {"field": "l_quantity", "function": "avg"},
            "min_qty_raw": {"field": "l_quantity", "function": "min"},
            "max_qty_raw": {"field": "l_quantity", "function": "max"},
            "first_status": {"field": "l_linestatus", "function": "first"},
            "last_status": {"field": "l_linestatus", "function": "last"},
            "status_concat": {"field": "l_linestatus", "function": "concat"},
        },
        order_col=[
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            "l_partkey",
            "l_returnflag",
            "l_linestatus",
        ],
        distribute_sort=True,
    )
    # selectExpr (r14 plan-build): the string select + four
    # F.round/alias chains cost ~113 py4j round trips per call; the
    # identical projection parses JVM-side in one trip per column
    return agg(li).selectExpr(
        "l_returnflag",
        "n_rows",
        "n_status",
        "round(sum_qty_raw, 2) AS sum_qty",
        "round(avg_qty_raw, 4) AS avg_qty",
        "round(min_qty_raw, 2) AS min_qty",
        "round(max_qty_raw, 2) AS max_qty",
        "first_status",
        "last_status",
        "status_concat",
    )


def x07_repeated_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-line (boilerplate) removal
    (operators/corpus.py repeated_line_dedup — the C4/RefinedWeb rule
    per-document quality scoring cannot express). The synthetic
    documents are single-line, so the query first builds a
    deterministic multi-line page per document — a corpus-wide
    boilerplate header, the unique content line, one of three
    rotating class footers, and a near-unique per-doc footer (blank
    for doc_id%17==0) — the same construct-then-operate pattern as
    q43's CDC batch. min_count=5 removes the header and the class
    footers everywhere while content and per-doc footers survive;
    blank lines are preserved as structure. The oracle rebuilds the
    identical pages and replays the rule in SQL, so clean_text
    hash-matches line-for-line."""
    from ai_etl_framework_spark.operators.corpus import repeated_line_dedup

    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Subscribe to our newsletter"),
            F.coalesce(F.col("text"), F.lit("")),
            F.element_at(
                F.array(
                    F.lit("share this article"),
                    F.lit("All Rights Reserved"),
                    F.lit("  cookie policy accepted  "),
                ),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.when(F.col("doc_id") % 17 == 0, F.lit("")).otherwise(
                F.concat(F.lit("doc footer "), F.col("doc_id").cast("string"))
            ),
        ).alias("text"),
    )
    return repeated_line_dedup(
        pages, id_col="doc_id", text_col="text", min_count=5
    )


_X07_SQL = """
WITH pages AS (
  SELECT doc_id,
         'Subscribe to our newsletter' || chr(10) ||
         COALESCE(text, '') || chr(10) ||
         CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN 'share this article'
              WHEN 1 THEN 'All Rights Reserved'
              ELSE '  cookie policy accepted  ' END || chr(10) ||
         CASE WHEN doc_id % 17 = 0 THEN ''
              ELSE 'doc footer ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents),
lists AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pages),
lines AS (
  -- positionally-aligned twin unnests (DuckDB rejects
  -- generate_subscripts inside unnest as "nested")
  SELECT doc_id,
         unnest(range(1, len(ls) + 1)) AS pos,
         unnest(ls) AS line
  FROM lists),
freq AS (
  SELECT lower(trim(line)) AS norm
  FROM lines WHERE trim(line) <> ''
  GROUP BY lower(trim(line))
  HAVING COUNT(*) >= 5)
SELECT l.doc_id,
       COALESCE(string_agg(l.line, chr(10) ORDER BY l.pos)
                  FILTER (WHERE f.norm IS NULL), '') AS clean_text,
       CAST(COUNT(f.norm) AS BIGINT)                 AS n_removed
FROM lines l LEFT JOIN freq f ON lower(trim(l.line)) = f.norm
GROUP BY l.doc_id
"""


def x08_repeated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-SPAN removal (operators/corpus.py
    repeated_span_dedup — the k-token-window re-expression of exact
    substring training-data dedup, Lee et al. 2021). The synthetic
    documents draw from a ~30-word vocabulary, so 5-token windows
    genuinely repeat across the corpus (74 frequent spans at sf0.01 /
    550 at sf0.1 at min_count=3) — no page construction needed. The
    oracle replays the rule in SQL over the same whitespace
    tokenization: corpus-wide window counts, union of covered
    positions via DISTINCT (doc, idx) expansion, order-preserving
    single-space re-assembly."""
    from ai_etl_framework_spark.operators.corpus import repeated_span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_dedup(
        docs, id_col="doc_id", text_col="text", k=5, min_count=3
    )


_X08_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents),
win AS (
  SELECT doc_id, s, array_to_string(ts[s:s+4], ' ') AS span
  FROM toks, UNNEST(range(1, GREATEST(len(ts) - 5 + 2, 1))) AS t(s)),
freq AS (SELECT span FROM win GROUP BY span HAVING COUNT(*) >= 3),
cov AS (
  SELECT DISTINCT w.doc_id, ci
  FROM win w JOIN freq f USING (span), UNNEST(range(w.s, w.s + 5)) AS c(ci)),
tok AS (
  SELECT doc_id,
         unnest(range(1, len(ts) + 1)) AS pos,
         unnest(ts) AS tok
  FROM toks),
agg AS (
  SELECT t.doc_id,
         COALESCE(string_agg(t.tok, ' ' ORDER BY t.pos)
                    FILTER (WHERE c.ci IS NULL), '') AS clean_text,
         CAST(COUNT(c.ci) AS BIGINT)                 AS n_removed_tokens
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.ci
  GROUP BY t.doc_id)
SELECT d.doc_id,
       COALESCE(a.clean_text, '')                  AS clean_text,
       COALESCE(a.n_removed_tokens, CAST(0 AS BIGINT)) AS n_removed_tokens
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def x10_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (operators/lm.py — the CCNet
    pipeline stage, Wenzek et al. 2020, re-expressed as an add-k
    bigram model whose training AND scoring are plain aggregations/
    joins). LM fit on even doc_ids (add_k=0.5), odd half scored.
    The oracle replays the whole thing in SQL — bigram counts,
    first-token totals, vocabulary size, ln-space smoothing, uniform
    OOV back-off, exp(-avg) rounded 4dp — so every smoothed
    probability is hash-checked, not just the row count."""
    from ai_etl_framework_spark.operators.lm import (
        fit_bigram_lm,
        perplexity_score,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lm = fit_bigram_lm(docs.where(F.col("doc_id") % 2 == 0), add_k=0.5)
    return perplexity_score(docs.where(F.col("doc_id") % 2 == 1), lm)


_X10_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents),
ref AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
tgt AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
v AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(ts) AS tok FROM ref)),
refbg AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM ref, UNNEST(range(1, GREATEST(len(ts), 1))) AS r(i)),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM refbg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
bigrams AS (
  SELECT c12.w1, c12.w2, ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v)) AS logp
  FROM c12 JOIN c1 USING (w1), v),
firsts AS (
  SELECT w1, ln(0.5 / (c1 + 0.5 * v.v)) AS logp_unseen FROM c1, v),
tgtbg AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM tgt, UNNEST(range(1, GREATEST(len(ts), 1))) AS r(i)),
lp AS (
  SELECT t.doc_id,
         COALESCE(b.logp, f.logp_unseen, -ln(v.v)) AS lp
  FROM tgtbg t
  LEFT JOIN bigrams b ON t.w1 = b.w1 AND t.w2 = b.w2
  LEFT JOIN firsts f ON t.w1 = f.w1, v),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(exp(-AVG(lp)), 4) AS ppl
  FROM lp GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       a.ppl                                    AS ppl
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def x11_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (operators/lm.py
    perplexity_buckets — Wenzek et al. 2020 §4: corpus-level
    perplexity quantiles split the corpus into the clean third, the
    middle, and the noisy tail). Same LM protocol as x10 (fit on even
    doc_ids, score odd); the oracle replays scoring AND the
    quantile_cont cut points AND the bucket CASE, so every bucket
    label is hash-checked. Cut points are rounded 4dp in both engines
    so interpolation ulp noise cannot flip a boundary document."""
    from ai_etl_framework_spark.operators.lm import (
        fit_bigram_lm,
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lm = fit_bigram_lm(docs.where(F.col("doc_id") % 2 == 0), add_k=0.5)
    return perplexity_buckets(docs.where(F.col("doc_id") % 2 == 1), lm)


_X11_SQL = f"""
WITH scored AS ({_X10_SQL}),
cuts AS (
  SELECT ROUND(quantile_cont(ppl, 1.0/3), 4) AS c1,
         ROUND(quantile_cont(ppl, 2.0/3), 4) AS c2
  FROM scored WHERE ppl IS NOT NULL)
SELECT s.doc_id,
       s.n_bigrams,
       s.ppl,
       CASE WHEN s.ppl IS NULL THEN NULL
            WHEN s.ppl <= c.c1 THEN 'head'
            WHEN s.ppl <= c.c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored s, cuts c
"""


def x12_repeated_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity corpus dedup (operators/corpus.py
    repeated_paragraph_dedup — RefinedWeb's third granularity next to
    x07's lines and x08's token spans). The synthetic documents are
    single-line, so the query builds a deterministic multi-paragraph
    page per document: a corpus-wide two-LINE boilerplate paragraph
    (exercising intra-paragraph newline preservation), the content
    paragraph, one of three rotating class paragraphs, and a
    per-doc footer paragraph (empty for doc_id%17==0 — a trailing
    blank unit that must survive as structure). Odd doc_ids separate
    content from the class paragraph with a THREE-newline run, so the
    \\n{2,} split and the exactly-one-blank-line re-assembly
    normalization are both exercised. min_count=5 removes the
    boilerplate and (at sf>=0.01) the class paragraphs everywhere;
    the oracle rebuilds identical pages and replays the rule in
    SQL."""
    from ai_etl_framework_spark.operators.corpus import (
        repeated_paragraph_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("Subscribe to our newsletter.\nGet weekly updates."),
            F.lit("\n\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 2 == 1, F.lit("\n\n\n")).otherwise(
                F.lit("\n\n")
            ),
            F.element_at(
                F.array(
                    F.lit("share this article"),
                    F.lit("All Rights Reserved"),
                    F.lit("  cookie policy accepted  "),
                ),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.lit("\n\n"),
            F.when(F.col("doc_id") % 17 == 0, F.lit("")).otherwise(
                F.concat(F.lit("doc footer "), F.col("doc_id").cast("string"))
            ),
        ).alias("text"),
    )
    return repeated_paragraph_dedup(
        pages, id_col="doc_id", text_col="text", min_count=5
    )


_X12_SQL = """
WITH pages AS (
  SELECT doc_id,
         'Subscribe to our newsletter.' || chr(10) || 'Get weekly updates.' ||
         chr(10) || chr(10) ||
         COALESCE(text, '') ||
         CASE WHEN doc_id % 2 = 1
              THEN chr(10) || chr(10) || chr(10)
              ELSE chr(10) || chr(10) END ||
         CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN 'share this article'
              WHEN 1 THEN 'All Rights Reserved'
              ELSE '  cookie policy accepted  ' END ||
         chr(10) || chr(10) ||
         CASE WHEN doc_id % 17 = 0 THEN ''
              ELSE 'doc footer ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents),
lists AS (
  SELECT doc_id, regexp_split_to_array(text, '\\n{2,}') AS ps FROM pages),
paras AS (
  SELECT doc_id,
         unnest(range(1, len(ps) + 1)) AS pos,
         unnest(ps) AS para
  FROM lists),
freq AS (
  SELECT lower(trim(para)) AS norm
  FROM paras WHERE trim(para) <> ''
  GROUP BY lower(trim(para))
  HAVING COUNT(*) >= 5)
SELECT p.doc_id,
       COALESCE(string_agg(p.para, chr(10) || chr(10) ORDER BY p.pos)
                  FILTER (WHERE f.norm IS NULL), '') AS clean_text,
       CAST(COUNT(f.norm) AS BIGINT)                 AS n_removed
FROM paras p LEFT JOIN freq f ON lower(trim(p.para)) = f.norm
GROUP BY p.doc_id
"""


def txt08_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus text normalization (functions/text.py clean_text —
    the CCNet/C4 cleaning stage before any quality rule): drop
    control/invisible-formatting characters, fold unicode spaces to
    ASCII, collapse space/tab runs, trim around newlines and ends.
    The synthetic documents are already clean, so the query injects a
    deterministic dirt wrapper (control chars, NBSP, zero-width, em
    space, tab runs, edge whitespace) around every text — the oracle
    builds the identical dirty string with chr() and replays the
    regex chain in RE2, so every normalization step is hash-checked
    byte-for-byte."""
    from ai_etl_framework_spark.functions.text import clean_text

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("\x01  "),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("​  end\t\t here  \n  tail  \x07"),
    )
    return docs.select(
        "doc_id",
        clean_text(dirty).alias("clean_text"),
        (F.length(dirty) - F.length(clean_text(dirty)))
        .cast("long")
        .alias("n_removed_chars"),
    )


_TXT08_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         chr(1) || ' ' || chr(160) || COALESCE(text, '') ||
         chr(8203) || '  end' || chr(9) || chr(9) || ' here ' ||
         chr(8195) || chr(10) || '  tail  ' || chr(7) AS d
  FROM documents),
cleaned AS (
  SELECT doc_id, d,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(d,
              '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200b}-\x{200d}\x{feff}\x{ad}]',
              '', 'g'),
            '[\x{a0}\x{1680}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}]',
            ' ', 'g'),
          '[ \t]+', ' ', 'g'),
        ' ?\n ?', chr(10), 'g'),
      '^[ \n]+|[ \n]+$', '', 'g') AS c
  FROM dirty)
SELECT doc_id, c AS clean_text,
       CAST(length(d) - length(c) AS BIGINT) AS n_removed_chars
FROM cleaned
"""


_HTML_HEAD = (
    '<html><head><style>p{color:red}</style>\n'
    '<script type="text/js">var x=1;\nif(x<2){x=3;}</script></head>\n'
    '<body><h1 class="t">Title&nbsp;A</h1><p>'
)
_HTML_TAIL = (
    "</p><ul><li>first</li><li>second &amp;lt; third &gt; fourth</li></ul>"
    "<!-- hidden\ncomment --><div>tail &quot;q&#39;s&quot;</div></body></html>"
)


def txt12_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/text.py strip_html — the
    WET-style stage before clean_text): script/style blocks dropped
    wholesale, block tags become newlines (paragraph structure
    survives for the paragraph dedup ops), remaining tags/comments
    stripped, core entities decoded (&amp; last, so &amp;lt; yields a
    literal &lt; and never a ghost tag). The synthetic documents are
    plain text, so the query wraps every doc in a deterministic HTML
    shell exercising every rule; the oracle builds the identical
    shell and replays the chain in RE2, hash-checking each rule
    byte-for-byte (patterns are RE2-safe — no backreferences)."""
    from ai_etl_framework_spark.functions.text import strip_html

    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit(_HTML_HEAD), F.coalesce(F.col("text"), F.lit("")), F.lit(_HTML_TAIL)
    )
    ext = strip_html(wrapped)
    return docs.select(
        "doc_id",
        ext.alias("extracted"),
        F.length(ext).cast("long").alias("n_chars_ext"),
    )


_TXT12_SQL = r"""
WITH wrapped AS (
  SELECT doc_id,
         '<html><head><style>p{color:red}</style>' || chr(10) ||
         '<script type="text/js">var x=1;' || chr(10) ||
         'if(x<2){x=3;}</script></head>' || chr(10) ||
         '<body><h1 class="t">Title&nbsp;A</h1><p>' ||
         COALESCE(text, '') ||
         '</p><ul><li>first</li><li>second &amp;lt; third &gt; fourth</li></ul>' ||
         '<!-- hidden' || chr(10) || 'comment --><div>tail &quot;q&#39;s&quot;</div></body></html>'
         AS w
  FROM documents),
ext AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        w,
        '(?is)<script\b.*?</script\s*>', ' ', 'g'),
        '(?is)<style\b.*?</style\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\b[^>]*>', chr(10), 'g'),
        '(?s)<[^>]*>', ' ', 'g'),
        '&nbsp;', ' ', 'g'),
        '&lt;', '<', 'g'),
        '&gt;', '>', 'g'),
        '&quot;', '"', 'g'),
        '&#39;', '''', 'g') AS e0
  FROM wrapped),
fin AS (SELECT doc_id, regexp_replace(e0, '&amp;', '&', 'g') AS e FROM ext)
SELECT doc_id, e AS extracted, CAST(length(e) AS BIGINT) AS n_chars_ext
FROM fin
"""


def x14_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-vs-corpus dedup (operators/dedup.py
    dedup_against_history): history = doc_id%3==0, the daily batch =
    the rest; batch docs whose normalized-text fingerprint already
    exists in history are dropped, and within-batch exact dups keep
    the smallest id. The oracle replays the dd01 fingerprint, the
    NOT-IN probe and the min-id rule, so the exact survivor set is
    hash-checked. NULL text ≡ '' on both engines."""
    from ai_etl_framework_spark.operators.dedup import dedup_against_history

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0)
    return dedup_against_history(batch, history).select("doc_id")


_NORMC = "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"

_X14_SQL = f"""
WITH fp AS (SELECT doc_id, md5({_NORMC}) AS f FROM documents),
hist AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
batch AS (SELECT * FROM fp WHERE doc_id % 3 <> 0),
fresh AS (SELECT * FROM batch WHERE f NOT IN (SELECT f FROM hist))
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM fresh GROUP BY f
"""


def txt09_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k corpus vocabulary — the tokenizer-training prep
    step (seed vocab = most frequent case-folded tokens) and the
    exact companion to sk01's heavy-hitters sketch. Deterministic
    total order: count DESC, then token ASC, top 100. One explode +
    one hash aggregation (map-side partials collapse the Zipf head by
    definition) + a 100-row global top-k — the same shape at 100 TB;
    the sketch variant (functions/sketches.py heavy_hitters) replaces
    it only when the full distinct vocabulary cannot shuffle."""
    from ai_etl_framework_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(100)
    )


_TXT09_SQL = f"""
SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, token ASC
LIMIT 100
"""


def rpt01_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (operators/corpus.py corpus_report):
    volume, blank rate, token mass, exact-dup rate, dominant
    language per source — the summary table a corpus pipeline
    publishes next to the data. The oracle replays every column
    (dd01 fingerprint for dup_rate, the shared tokenizer fragment
    for token mass, a windowed rank for the deterministic
    top-language tie-break)."""
    from ai_etl_framework_spark.operators.corpus import corpus_report

    docs = load_table(spark, sf_dir, "documents")
    return corpus_report(docs)


_RPT01_SQL = f"""
WITH base AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN {_NORMC} = '' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blank,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT md5({_NORMC})) AS BIGINT) AS nd
  FROM documents GROUP BY source),
lc AS (
  SELECT source, lang, COUNT(*) AS c FROM documents
  WHERE lang IS NOT NULL GROUP BY source, lang),
top AS (
  SELECT source, lang AS top_lang, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, lang ASC) AS rk
  FROM lc)
SELECT b.source, b.n_docs, b.n_blank, b.total_tokens,
       ROUND(b.total_tokens * 1.0 / b.n_docs, 4) AS mean_tokens,
       ROUND(1.0 - b.nd * 1.0 / b.n_docs, 6)     AS dup_rate,
       t.top_lang,
       ROUND(t.c * 1.0 / b.n_docs, 6)            AS top_lang_share
FROM base b LEFT JOIN (SELECT * FROM top WHERE rk = 1) t USING (source)
"""


def x15_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (operators/dedup.py
    near_dedup_against_history): history = doc_id%3==0; batch docs
    that LSH band-collide with history (8 hashes x 4 bands, the dd03
    family) AND verify at exact 3-shingle Jaccard >= 0.5 are dropped.
    The oracle replays signatures, band hashes, the cross-frame
    collision join and the exact-Jaccard verify, so the survivor set
    is hash-checked."""
    from ai_etl_framework_spark.operators.dedup import (
        near_dedup_against_history,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0)
    return near_dedup_against_history(
        batch, history, num_hashes=8, bands=4, k=3, threshold=0.5
    ).select("doc_id")


def _x15_sql() -> str:
    mins = ", ".join(f"{_mh_min(i)} AS h{i}" for i in range(8))
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(h{2*b} AS VARCHAR) || '|' || CAST(h{2*b+1} AS VARCHAR)) AS band_hash FROM sig"
        for b in range(4)
    )
    return f"""
WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
sig AS (SELECT doc_id, {mins} FROM s),
banded AS ({bands}),
hb AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
nb AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
cand AS (
  SELECT DISTINCT n.doc_id AS nid, h.doc_id AS hid
  FROM nb n JOIN hb h ON n.band_idx = h.band_idx
                     AND n.band_hash = h.band_hash),
shd AS (SELECT doc_id, list_distinct(sh) AS ds FROM s),
ver AS (
  SELECT DISTINCT c.nid
  FROM cand c
  JOIN shd a ON c.nid = a.doc_id
  JOIN shd b ON c.hid = b.doc_id
  WHERE len(list_intersect(a.ds, b.ds)) * 1.0
        / len(list_distinct(a.ds || b.ds)) >= 0.5)
SELECT doc_id FROM documents
WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT nid FROM ver)
"""


# -- st03 oracle (r13, VERDICT r12 item 6) ---------------------------
#
# The ingest loop's accepted set is a PURE FUNCTION of the documents
# table because the st03 harness pins the batch sequence: seeded
# history = doc_id%3==0 (raw text), then crawl_1 (%3==1) and crawl_2
# (%3==2) as mtime-ordered single-file micro-batches. Survivor policy
# is deterministic at every step (earlier batches win cross-batch
# collisions; min doc_id wins within a batch, for exact AND near) —
# so the whole cascade replays in SQL: clean (txt08's regex chain) →
# exact fp anti-join vs store → store-band anti-join (16 hashes × 4
# bands, band-collision only: ingest passes no verify threshold) →
# within-batch min-id band self-join over the POST-filter subset →
# store update → repeat for crawl_2 → silver = history ∪ acc1 ∪ acc2,
# plus rpt01's dup_rate/n_docs per source over silver.


def _st03_clean(col: str) -> str:
    """txt08's clean_text regex chain (hash-checked byte-for-byte by
    _TXT08_SQL) applied to an arbitrary column expression."""
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"regexp_replace({col}, "
        r"'[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200b}-\x{200d}\x{feff}\x{ad}]', '', 'g'), "
        r"'[\x{a0}\x{1680}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}]', ' ', 'g'), "
        r"'[ \t]+', ' ', 'g'), "
        r"' ?\n ?', chr(10), 'g'), "
        r"'^[ \n]+|[ \n]+$', '', 'g')"
    )


def _st03_band_ctes(src: str, tag: str) -> str:
    """sig + 4-band CTEs over CTE ``src`` (16 hashes, 4 rows/band —
    the ingest's minhash_band_table parameters; band_hash matches
    _banded_frame's md5(concat_ws('|', h..)) composition).

    Shape matters here, not just semantics: ONE md5 per exploded
    shingle with all 16 affine mins in a single GROUP BY (the
    minhash_signatures plan), and the sig/band CTEs MATERIALIZED —
    DuckDB otherwise inlines the CTE into each of its references
    (the band union alone has four), re-running the whole minhash
    per reference; the first cut of this oracle ran minutes at
    sf0.001 for exactly that reason."""
    mins = ", ".join(
        f"MIN((a + {i} * b) % {_MH_P}) AS h{i}" for i in range(16)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, md5("
        + " || '|' || ".join(
            f"CAST(h{4 * b + r} AS VARCHAR)" for r in range(4)
        )
        + f") AS band_hash FROM {tag}sig"
        for b in range(4)
    )
    return (
        f"{tag}sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s"
        f" FROM (SELECT doc_id, text FROM {src})),\n"
        f"{tag}ab AS (SELECT doc_id,"
        " ('0x' || substr(md5(s), 1, 15))::BIGINT AS a,"
        " ('0x' || substr(md5(s), 17, 8))::BIGINT AS b"
        f" FROM {tag}sh),\n"
        f"{tag}sig AS MATERIALIZED ("
        f"SELECT doc_id, {mins} FROM {tag}ab GROUP BY doc_id),\n"
        f"{tag}band AS MATERIALIZED ({bands})"
    )


def _st03_batch_ctes(batch: str, fp_store: str, band_store: str,
                     tag: str) -> str:
    """One micro-batch of the ingest cascade over cleaned CTE
    ``batch``, probing ``fp_store``/``band_store``: exact-dup
    anti-join, within-batch min-id exact keeper, store band
    anti-join, then the within-batch min-id band self-join over the
    surviving subset (the order process_batch runs them in)."""
    return f"""{tag}fp AS (SELECT doc_id, md5({_NORMC}) AS fp FROM {batch}),
{tag}ex AS (SELECT MIN(doc_id) AS doc_id FROM {tag}fp
            WHERE fp NOT IN (SELECT fp FROM {fp_store}) GROUP BY fp),
{tag}s1 AS MATERIALIZED (SELECT b.* FROM {batch} b JOIN {tag}ex USING (doc_id)),
{_st03_band_ctes(f"{tag}s1", f"{tag}c")},
{tag}hit AS (SELECT DISTINCT n.doc_id FROM {tag}cband n
             JOIN {band_store} h ON n.band_idx = h.band_idx
                                AND n.band_hash = h.band_hash),
{tag}s2 AS MATERIALIZED (SELECT * FROM {tag}s1
            WHERE doc_id NOT IN (SELECT doc_id FROM {tag}hit)),
{tag}sb AS (SELECT * FROM {tag}cband
            WHERE doc_id IN (SELECT doc_id FROM {tag}s2)),
{tag}wb AS (SELECT DISTINCT b.doc_id FROM {tag}sb a
            JOIN {tag}sb b ON a.band_idx = b.band_idx
                          AND a.band_hash = b.band_hash
                          AND b.doc_id > a.doc_id),
{tag}acc AS MATERIALIZED (SELECT * FROM {tag}s2
             WHERE doc_id NOT IN (SELECT doc_id FROM {tag}wb))"""


def _st03_sql() -> str:
    clean = _st03_clean("text")
    return f"""
WITH hist AS (SELECT doc_id, source, lang, text FROM documents
              WHERE doc_id % 3 = 0),
c1 AS MATERIALIZED (SELECT doc_id, source, lang, {clean} AS text
       FROM documents WHERE doc_id % 3 = 1),
c2 AS MATERIALIZED (SELECT doc_id, source, lang, {clean} AS text
       FROM documents WHERE doc_id % 3 = 2),
hfp AS (SELECT DISTINCT md5({_NORMC}) AS fp FROM hist),
{_st03_band_ctes("hist", "h")},
{_st03_batch_ctes("c1", "hfp", "hband", "b1")},
fp2 AS (SELECT fp FROM hfp
        UNION SELECT md5({_NORMC}) AS fp FROM b1acc),
band2 AS (SELECT doc_id, band_idx, band_hash FROM hband
          UNION ALL SELECT doc_id, band_idx, band_hash FROM b1cband
                    WHERE doc_id IN (SELECT doc_id FROM b1acc)),
{_st03_batch_ctes("c2", "fp2", "band2", "b2")},
silver AS MATERIALIZED (SELECT doc_id, source, lang, text FROM hist
           UNION ALL SELECT doc_id, source, lang, text FROM b1acc
           UNION ALL SELECT doc_id, source, lang, text FROM b2acc),
rep AS (SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(1.0 - COUNT(DISTINCT md5({_NORMC})) * 1.0 / COUNT(*), 6)
                 AS dup_rate
        FROM silver GROUP BY source)
SELECT 'accepted' AS kind, CAST(doc_id AS VARCHAR) AS key,
       CAST(1 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS val
FROM silver
UNION ALL
SELECT 'report' AS kind, source AS key, n_docs AS n, dup_rate AS val
FROM rep
"""


def x16_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (operators/dedup.py
    duplicate_cluster_sizes) over the same Jaccard>=0.5 pair graph
    q24 dedups — pairs vs template farms is the analysis that decides
    a dedup budget. The oracle replays q24's recursive transitive
    closure and the two histogram aggregations."""
    from ai_etl_framework_spark.operators.dedup import (
        duplicate_cluster_sizes,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    return duplicate_cluster_sizes(pairs)


_X16_SQL = f"""
WITH RECURSIVE d AS (SELECT doc_id, {_SHINGLES} AS shl FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM d),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM inter
          JOIN counts ca ON id_a = ca.doc_id
          JOIN counts cb ON id_b = cb.doc_id
          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.5),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM labels GROUP BY label)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
"""


def txt10_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (operators/bpe.py — Sennrich et al.
    2016, tokenizer prep): word_counts is the one corpus-scale
    aggregation (txt09's contract), the greedy merge loop runs on the
    vocab-sized table. No single-query SQL twin exists for the
    ordered iterative argmax, but the merge table is a pure function
    of the corpus word counts (pinned tie-breaks) — so since r12 the
    row carries a corpus-fingerprint FIXTURE oracle (x04's recipe,
    tests/fixtures/txt10_bpe_merges_expected.parquet); the
    pinned-rules + local≡distributed + hypothesis differentials in
    tests/test_bpe.py stay the second line of evidence."""
    from ai_etl_framework_spark.operators.bpe import (
        merge_table_df,
        train_bpe_merges,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(word_counts(docs), n_merges=40)
    return merge_table_df(spark, merges)


def txt11_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply step (operators/bpe.py bpe_token_counts — the
    distinct-word shape: the merge loop runs once per vocab word, the
    per-word piece count joins back to the exploded corpus, corpus
    payload never enters Python). Trains 40 merges on the corpus word
    counts then counts pieces per document. No SQL twin exists for
    the merge loop, but the output is corpus-deterministic — since
    r12 the row carries a corpus-fingerprint FIXTURE oracle;
    tests/test_bpe.py's model differentials + the train→encode
    reproduction property stay the second line of evidence."""
    from ai_etl_framework_spark.operators.bpe import (
        bpe_token_counts,
        train_bpe_merges,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(word_counts(docs), n_merges=40)
    return bpe_token_counts(docs, merges)


def x18_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py — Xie et al.
    2023): target = every 10th doc, raw = the rest; hashed
    unigram+bigram bucket models (B=1024, md5 idiom), add-1 smoothing,
    Gumbel top-50 without replacement, seed 0. Fully oracle-backed —
    the DuckDB twin reproduces hashing, smoothing, the Gumbel draw and
    the top-k bit-for-bit."""
    from ai_etl_framework_spark.operators.dsir import dsir_resample

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.where(F.col("doc_id") % 10 != 0)
    tgt = docs.where(F.col("doc_id") % 10 == 0)
    return dsir_resample(raw, tgt, k=50)


_DSIR_BIGRAMS = (
    f"CASE WHEN len({_TOKS}) >= 2 THEN "
    f"list_transform(range(1, len({_TOKS})), i -> "
    f"{_TOKS}[i] || ' ' || {_TOKS}[i + 1]) "
    "ELSE CAST([] AS VARCHAR[]) END"
)
_DSIR_GRAMS = f"list_concat({_TOKS}, {_DSIR_BIGRAMS})"

_DSIR_CTE = f"""
WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
tgt AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
rg AS (SELECT doc_id,
              ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS bucket
       FROM (SELECT doc_id, unnest({_DSIR_GRAMS}) AS g FROM raw)),
tg AS (SELECT ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS bucket
       FROM (SELECT unnest({_DSIR_GRAMS}) AS g FROM tgt)),
tc AS (SELECT bucket, count(*)::BIGINT AS ct FROM tg GROUP BY bucket),
rc AS (SELECT bucket, count(*)::BIGINT AS cr FROM rg GROUP BY bucket),
tt AS (SELECT coalesce(sum(ct), 0) AS t FROM tc),
rt AS (SELECT coalesce(sum(cr), 0) AS t FROM rc),
model AS (SELECT rc.bucket,
                 ln((coalesce(tc.ct, 0) + 1) / (tt.t + 1024.0))
                 - ln((rc.cr + 1) / (rt.t + 1024.0)) AS delta
          FROM rc LEFT JOIN tc USING (bucket), tt, rt),
wsum AS (SELECT rg.doc_id, count(*)::BIGINT AS n_grams,
                sum(m.delta) AS logw
         FROM rg JOIN model m USING (bucket) GROUP BY rg.doc_id),
w AS (SELECT raw.doc_id,
             coalesce(wsum.n_grams, 0)::BIGINT AS n_grams,
             coalesce(wsum.logw, 0.0) AS logw
      FROM raw LEFT JOIN wsum USING (doc_id)),
keyed AS (
  SELECT doc_id, n_grams, logw,
         logw + (-ln(-ln(
           ((('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 13))::BIGINT)
            + 0.5) / 4503599627370496.0))) AS key
  FROM w)
"""

_X18_SQL = (
    _DSIR_CTE
    + """
SELECT doc_id, n_grams, logw, key
FROM keyed
ORDER BY key DESC, doc_id ASC
LIMIT 50
"""
)


def x19_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded attribution join (streaming/joins.py interval_join
    — the batch twin of the watermarked stream-stream join): each view
    matched to same-user clicks within [0, 12 hours] of the view.
    Equi-join on user_id with the time bounds residual — never a
    cartesian (plan-pinned in tests/test_interval_join.py)."""
    from ai_etl_framework_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    out = interval_join(views, clicks, key="user_id", upper="12 hours")
    return out.select(
        "user_id",
        F.col("left_event_id").alias("view_id"),
        F.col("right_event_id").alias("click_id"),
        F.col("left_ts").alias("view_ts"),
        F.col("right_ts").alias("click_ts"),
    )


_X19_SQL = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       v.ts AS view_ts, c.ts AS click_ts
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
"""


def txt13_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer (operators/unigram_lm.py — Kudo 2018 /
    SentencePiece): train a 300-piece table on the corpus word counts
    (one corpus-scale aggregation; EM on the vocab-sized table), then
    Viterbi-encode per document via the zero-shuffle broadcast UDF.
    EM has no SQL twin, but the integer readout is
    corpus-deterministic on one box (the EM floats live driver-side
    over a canonical vocab table) — since r12 the row carries a
    corpus-fingerprint FIXTURE oracle (one-box scope, x01's);
    tests/test_unigram_lm.py — forward-backward vs brute-force
    enumeration, EM likelihood monotonicity, Viterbi vs brute-force
    argmax, character-coverage/round-trip invariants — stays the
    second line of evidence."""
    from ai_etl_framework_spark.operators.bpe import word_counts
    from ai_etl_framework_spark.operators.unigram_lm import (
        train_unigram_lm,
        unigram_encode,
    )

    docs = load_table(spark, sf_dir, "documents")
    pieces = train_unigram_lm(
        word_counts(docs), vocab_size=300, max_piece_len=6
    )
    enc = unigram_encode(docs, pieces, max_piece_len=6)
    return enc.select(
        "doc_id",
        F.size("unigram_tokens").cast("long").alias("n_tokens"),
        F.length(F.concat_ws("", F.col("unigram_tokens")))
        .cast("long")
        .alias("n_piece_chars"),
    )


# Fixed merge table for txt14 (the paper's classic merges + two
# vowel pairs that fire on this corpus). Chosen so NO merge can create
# a pair with an EARLIER rank — on such tables the engine's
# lowest-rank-first apply loop provably equals sequential greedy
# replaces, which ARE SQL-expressible (test_bpe.py pins the general
# equivalence on trained tables).
_TXT14_MERGES = [
    ("e", "s"), ("es", "t"), ("est", "</w>"),
    ("l", "o"), ("lo", "w"),
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("a", "n"), ("o", "r"),
]


def txt14_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY with a fixed merge table (operators/bpe.py
    bpe_encode — the lowest-rank loop, broadcast ranks, per-worker
    word cache, zero shuffle): full per-document token arrays,
    hash-compared against a DuckDB twin that replays the merges as an
    ordered replace() chain over separator-joined characters (replace
    is left-to-right non-overlapping — exactly the greedy merge).
    This is the cross-engine verification of the encode path itself;
    txt11 (trained table, join-back shape) stays rows-only."""
    from ai_etl_framework_spark.operators.bpe import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, _TXT14_MERGES).select(
        "doc_id",
        F.col("bpe_tokens").alias("tokens"),
        F.size("bpe_tokens").cast("long").alias("n_tokens"),
    )


def _txt14_sql() -> str:
    sep = "chr(31)"
    s = f"regexp_replace(w, '(.)', '\\1' || {sep}, 'g') || '</w>'"
    for a, b in _TXT14_MERGES:
        s = f"replace({s}, '{a}' || {sep} || '{b}', '{a}{b}')"
    return f"""
WITH words AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents),
enc AS (
  SELECT doc_id,
         flatten(list_transform(toks, w -> string_split({s}, chr(31))))
         AS tokens
  FROM words)
SELECT doc_id, tokens, CAST(len(tokens) AS BIGINT) AS n_tokens
FROM enc
"""


def x20_dsir_select_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR quantile-threshold selection (operators/dsir.py
    dsir_select_frac — the 100 TB form when the kept set is too big
    for a driver top-k): keep the top 20% of raw docs by the
    Gumbel-perturbed key, cut = one exact-percentile scalar (the
    x11/IQR dual has the approx flag at 100×). frac chosen so the
    interpolated cut lands strictly BETWEEN adjacent keys at every
    test SF (q·(n−1) non-integer) — membership is then robust to the
    engines' last-ulp ln() differences."""
    from ai_etl_framework_spark.operators.dsir import dsir_select_frac

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.where(F.col("doc_id") % 10 != 0)
    tgt = docs.where(F.col("doc_id") % 10 == 0)
    sel = dsir_select_frac(raw, tgt, frac=0.2)
    return sel.select("doc_id", "lang", "source", "dsir_key")


_X20_SQL = (
    _DSIR_CTE
    + """
, cut AS (SELECT quantile_cont(key, 0.8) AS c FROM keyed)
SELECT k.doc_id, d.lang, d.source, k.key AS dsir_key
FROM keyed k JOIN documents d USING (doc_id), cut
WHERE k.key >= cut.c
"""
)


def x21_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document (operators/tfidf.py — smoothed
    idf, score DESC / term ASC tie-break): the corpus-keyword /
    topic-signature op. Vocab-sized (term, df) agg broadcast back over
    int/short-string pairs; per-doc top-k runs as WindowGroupLimit
    (plan-pinned in tests/test_tfidf.py)."""
    from ai_etl_framework_spark.operators.tfidf import tfidf_topk_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk_terms(docs, k=5)


_X21_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS n
       FROM tok GROUP BY doc_id, term),
tot AS (SELECT doc_id, sum(n) AS n_doc FROM tf GROUP BY doc_id),
dfq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
        FROM tok GROUP BY term),
nn AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         (tf.n / tot.n_doc) * (ln((nn.n + 1.0) / (dfq.df + 1)) + 1.0)
         AS tf_idf
  FROM tf JOIN tot USING (doc_id) JOIN dfq USING (term), nn),
ranked AS (
  SELECT doc_id, term, tf_idf,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY tf_idf DESC, term ASC
         ) AS BIGINT) AS rank
  FROM scored)
SELECT doc_id, term, rank, tf_idf FROM ranked WHERE rank <= 5
"""


def x22_contained_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs (operators/corpus.py
    contained_passage_pairs, window=8): documents sharing ≥1 8-token
    span of normalized text — the contained/quoted-passage case both
    whole-doc fingerprints and bag-of-shingle Jaccard miss. Only
    (id, md5) pairs shuffle (the MinHash-band-join shape); the
    hot-span guard is ON at its default (max_fp_docs=1000 — spans in
    more docs are boilerplate, not passages, and would be quadratic).
    The oracle replays normalize → token windows → md5 → hot-span
    exclusion → distinct self-join."""
    from ai_etl_framework_spark.operators.corpus import contained_passage_pairs

    docs = load_table(spark, sf_dir, "documents")
    return contained_passage_pairs(docs, window=8)


_X22_SQL = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
fps AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 8 THEN
      list_distinct(list_transform(range(1, len(toks) - 6),
                    i -> md5(array_to_string(toks[i:i+7], ' '))))
    WHEN len(toks) > 0 THEN [md5(array_to_string(toks, ' '))]
    ELSE CAST([] AS VARCHAR[]) END AS fp
  FROM tk),
e0 AS (SELECT doc_id, unnest(fp) AS f FROM fps),
hot AS (SELECT f FROM e0 GROUP BY f HAVING count(*) > 1000),
e AS (SELECT * FROM e0 WHERE f NOT IN (SELECT f FROM hot))
SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS n_shared
FROM e a JOIN e b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def x23_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order / Morton codes (operators/layout.py zorder_value) of
    events over (user_id, value), 16 bits per dimension — the
    clustering key behind multi-column scan pruning (Delta's OPTIMIZE
    ZORDER BY, here as an open operator). Pure integer bit math after
    one exact min/max quantization, so the oracle reproduces every
    code bit-for-bit."""
    from ai_etl_framework_spark.operators.layout import zorder_value

    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(
        F.min("user_id").cast("double"),
        F.max("user_id").cast("double"),
        F.min("value").cast("double"),
        F.max("value").cast("double"),
    ).collect()[0]
    z = zorder_value(
        [F.col("user_id"), F.col("value")],
        [stats[0], stats[2]],
        [stats[1], stats[3]],
        bits=16,
    )
    return ev.select("event_id", z.alias("z"))


def _x23_sql() -> str:
    terms = " + ".join(
        f"(((q{i + 1} >> {b}) & 1) << {b * 2 + i})"
        for b in range(16)
        for i in range(2)
    )

    def quant(col: str, lo: str, hi: str) -> str:
        # coalesce INSIDE the clamp: DuckDB least/greatest ignore NULL
        # operands too, so NULL must become 0 before clamping (the
        # exact mirror of the Spark-side ordering)
        return (
            f"greatest(0, least(65535, coalesce(CAST(floor("
            f"({col}::DOUBLE - {lo}) / ({hi} - {lo}) * 65535.0"
            f") AS BIGINT), 0)))"
        )

    return f"""
WITH st AS (SELECT min(user_id)::DOUBLE AS lo1, max(user_id)::DOUBLE AS hi1,
                   min(value)::DOUBLE AS lo2, max(value)::DOUBLE AS hi2
            FROM events),
q AS (SELECT event_id,
             {quant('user_id', 'st.lo1', 'st.hi1')} AS q1,
             {quant('value', 'st.lo2', 'st.hi2')} AS q2
      FROM events, st)
SELECT event_id, CAST({terms} AS BIGINT) AS z FROM q
"""


def x24_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward fill (operators/
    resample.py — pandas resample().sum().ffill() at scale): per-user
    hourly sums of event value, gaps densified from each user's first
    to last bucket and forward-filled, synthetic rows flagged. The
    oracle replays bucket → grid (generate_series) → left join →
    IGNORE NULLS running last."""
    from ai_etl_framework_spark.operators.resample import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    out = resample_ffill(ev, "user_id", "ts", "value", step="1 hour", agg="sum")
    return out.select(
        "user_id",
        "bucket_start",
        F.round("value", 6).alias("value"),
        "filled",
    )


_X24_SQL = """
WITH obs AS (
  SELECT user_id AS key, date_trunc('hour', ts) AS b, sum(value) AS value,
         count(*) AS n
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM obs GROUP BY key),
grid AS (SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
         FROM spans),
j AS (SELECT g.key, g.b, o.value, o.n
      FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.b = o.b)
SELECT key AS user_id, b AS bucket_start,
       ROUND(last_value(value IGNORE NULLS) OVER (
         PARTITION BY key ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value,
       n IS NULL AS filled
FROM j
"""


def x25_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion funnel (operators/funnel.py): view →
    click → purchase per user, strictly ordered, window anchored 1 day
    from the first view. k chained conditional-MIN aggregations all
    keyed on user_id (one partitioning reused; no per-user event
    lists). The oracle replays the same chained CTEs."""
    from ai_etl_framework_spark.operators.funnel import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(
        ev, ["view", "click", "purchase"], within="1 day"
    )


_X25_SQL = """
WITH ev AS (SELECT user_id AS key, ts, event_type AS tp FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
s1 AS (SELECT key, min(ts) AS t1 FROM ev WHERE tp = 'view' GROUP BY key),
s2 AS (SELECT ev.key, min(ev.ts) AS t2
       FROM ev JOIN s1 ON ev.key = s1.key
       WHERE ev.tp = 'click' AND ev.ts >= s1.t1
         AND ev.ts <= s1.t1 + INTERVAL 1 DAY
       GROUP BY ev.key),
s3 AS (SELECT ev.key, min(ev.ts) AS t3
       FROM ev JOIN s1 ON ev.key = s1.key JOIN s2 ON ev.key = s2.key
       WHERE ev.tp = 'purchase' AND ev.ts >= s2.t2
         AND ev.ts <= s1.t1 + INTERVAL 1 DAY
       GROUP BY ev.key)
SELECT s1.key AS user_id, s1.t1, s2.t2, s3.t3,
       CAST(1 + (s2.t2 IS NOT NULL)::INT + (s3.t3 IS NOT NULL)::INT
            AS BIGINT) AS furthest
FROM s1 LEFT JOIN s2 ON s1.key = s2.key LEFT JOIN s3 ON s1.key = s3.key
"""


def x26_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (operators/winsorize.py): events.value clipped to
    its exact [p05, p95] (linear-interpolation percentile ≡ DuckDB
    quantile_cont); one scalar agg then a codegen projection. NULL
    values pass through; rounded to 6dp for cross-engine hashing."""
    from ai_etl_framework_spark.operators.winsorize import winsorize

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    out = winsorize(ev, ["value"], lower=0.05, upper=0.95, suffix="_w")
    return out.select(
        "event_id",
        F.round("value_w", 6).alias("value_w"),
        (F.col("value_w") != F.col("value")).alias("clipped"),
    )


_X26_SQL = """
WITH st AS (SELECT quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events)
SELECT event_id,
       CASE WHEN value IS NULL THEN NULL
            ELSE ROUND(least(st.hi, greatest(st.lo, value)), 6) END AS value_w,
       CASE WHEN value IS NULL THEN NULL
            ELSE least(st.hi, greatest(st.lo, value)) <> value END AS clipped
FROM events, st
"""


def x17_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/corpus.py snapshot_diff):
    old = doc_id%4!=1, new = doc_id%4!=2 with every 7th doc's text
    revised — so the row set exercises all three statuses: %4==1
    added, %4==2 removed, revised overlap docs modified. Content
    identity is the dd01 normalized fingerprint (a case/whitespace
    re-render is NOT modified). The oracle replays the fingerprints
    and the full outer join, so the exact (id, status) set is
    hash-checked."""
    from ai_etl_framework_spark.operators.corpus import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 4 != 1)
    new = docs.where(F.col("doc_id") % 4 != 2).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" rev2")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


_X17_SQL = f"""
WITH o AS (
  SELECT doc_id, MIN(md5({_NORMC})) AS fp
  FROM documents WHERE doc_id % 4 <> 1 GROUP BY doc_id),
n0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN coalesce(text, '') || ' rev2' ELSE text END AS text
  FROM documents WHERE doc_id % 4 <> 2),
n AS (SELECT doc_id, MIN(md5({_NORMC})) AS fp FROM n0 GROUP BY doc_id),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
SELECT doc_id, status FROM j WHERE status <> 'unchanged'
"""


def x13_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py semantic_dedup — Abbas et al.
    2023): within-cluster cosine-near-dup pairs → connected
    components → keep each group's smallest id. The gate row blocks
    on the existing ``label`` column (the oracle-replayable path,
    same blocking contract as sim02) at threshold 0.3 — the synthetic
    embeddings' near-dup bar (their max within-label cosine is ~0.47;
    the paper's 0.95+ applies to real encoder geometry). The k-means
    path (cluster_col=None) is pytest-covered with clustered
    synthetic vectors. The oracle replays pairs (sim02 shape, raw
    cosine threshold), transitive closure (q24's recursive reach) and
    the keep-smallest rule, so the exact survivor SET is
    hash-checked."""
    from ai_etl_framework_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.3, cluster_col="label"
    ).select("vec_id")


_X13_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
  FROM embeddings WHERE embedding IS NOT NULL),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.id, e2.d FROM reach JOIN edges e2 ON reach.r = e2.s),
labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT id FROM labels WHERE id != label)
"""


def x09_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (ml/quality_filter.py — the
    GPT-3-style learned classifier stage, Brown et al. 2020 App. A).
    Positives = original documents; negatives = atbash-substituted
    twins (a letter bijection, so the junk class has a disjoint but
    corpus-SHARED vocabulary — held-out junk still hits trained
    features). Train on even doc_ids (the +2M negative offset
    preserves parity, so a doc and its twin stay in one split), score
    the odd half JVM-side, and report per-label counts, mean
    probability, decision accuracy, and the hash-seeded Pareto-keep
    count. Model-based like x04 — and like x04 since r12 it carries a
    corpus-fingerprint FIXTURE oracle (the sampled fit rides the
    deterministic file layout: one-box scope, measured 2x-stable
    cross-process at all three SFs); the accuracy/determinism floors
    in tests/test_quality_filter.py stay the second line of
    evidence."""
    from ai_etl_framework_spark.ml.quality_filter import (
        fit_quality_classifier,
        pareto_keep_expr,
        score_quality,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    az = "abcdefghijklmnopqrstuvwxyz"
    pos = docs.withColumn("label", F.lit(1))
    neg = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.translate("text", az, az[::-1]).alias("text"),
        F.lit(0).alias("label"),
    )
    labeled = pos.unionByName(neg)
    model = fit_quality_classifier(labeled.where(F.col("doc_id") % 2 == 0))
    scored = score_quality(labeled.where(F.col("doc_id") % 2 == 1), model)
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("quality_prob"), 4).alias("mean_prob"),
            F.round(
                F.avg(
                    (
                        (F.col("quality_prob") >= 0.5).cast("int")
                        == F.col("label")
                    ).cast("double")
                ),
                4,
            ).alias("accuracy"),
            F.sum(
                pareto_keep_expr(
                    F.col("quality_prob"), F.col("doc_id")
                ).cast("long")
            ).alias("pareto_kept"),
        )
        .orderBy("label")
    )


def x04_iforest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation forest: driver-fit global path (x04) + sample-fit /
    broadcast / mapInPandas-score distributed path (x05).

    r12 (VERDICT r11 item 3): both fit paths now lexsort rows before
    fitting (operators/iforest.py _fit_order), making the flag set a
    pure function of the row multiset — the global arm is
    environment-independent, the distributed arm one-box-deterministic
    through the seeded per-partition sample (x01's scope). Measured
    2×-stable cross-process AND under a different shuffle-partition
    count before committing the fixture. The oracle is a committed
    FIXTURE parquet (tests/fixtures/x04_iforest_expected.parquet)
    keyed by an events-table fingerprint, fail-loud empty on an
    unknown corpus — x100's recipe. tests/test_iforest.py remains the
    second line of evidence."""
    a = x04_isolation_forest(spark, sf_dir).select(
        F.lit("global").alias("mode"), "event_id"
    )
    b = x05_iforest_distributed(spark, sf_dir).select(
        F.lit("distributed").alias("mode"), "event_id"
    )
    return a.unionByName(b)


# Fixture oracle for x04 (VERDICT r11 item 3): the expected
# (mode, event_id) flag set per corpus, committed as a parquet
# fixture keyed by a DuckDB-computed events-table fingerprint.
# Unknown corpus → zero rows → red gate row (fail-loud). Valid
# because the r12 lexsort-before-fit makes the seeded model a pure
# function of the row multiset (global arm) / the sampled multiset
# (distributed arm — one-box scope via the seeded partition sample).
# Regenerate with the recipe in tests/fixtures/README.md if the
# iforest pins or /root/testdata change.
_X04_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "x04_iforest_expected.parquet",
)
_X04_SQL = f"""
WITH k AS (SELECT COUNT(*) || ':' || ROUND(SUM(value)::DOUBLE, 2) AS ck
           FROM events)
SELECT mode, event_id
FROM read_parquet('{_X04_FIXTURE}') f
JOIN k ON f.ck = k.ck
"""


def q43_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE (operators/merge.py merge_upsert): all three
    when_matched modes over one CDC scenario — target = customers with
    custkey%4!=0, source batch = custkey%3==0 with +1000.00 balance.
    Money kept as integer cents end-to-end so the aggregate is exact
    and association-independent (the q13 lesson). Every mode lowers to
    anti/semi joins AQE broadcasts for a CDC-sized source — the target
    side never shuffles. Beyond-reference: the reference's incremental
    load is append-only manifests (file_source.py:236-268, no keyed
    upsert)."""
    from ai_etl_framework_spark.operators.merge import merge_upsert

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    target = base.where(F.col("c_custkey") % 4 != 0)
    source = base.where(F.col("c_custkey") % 3 == 0).withColumn(
        "cents", F.col("cents") + F.lit(100000)
    )
    out = None
    for mode in ("update", "ignore", "delete"):
        m = merge_upsert(target, source, ["c_custkey"], when_matched=mode)
        g = (
            m.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
            .withColumn("mode", F.lit(mode))
        )
        out = g if out is None else out.unionByName(g)
    return out.select(
        "mode",
        "c_mktsegment",
        "n",
        (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_bal"),
    )


_Q43_SQL = """
WITH base AS (SELECT c_custkey, c_mktsegment,
                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer),
t AS (SELECT * FROM base WHERE c_custkey % 4 <> 0),
s AS (SELECT c_custkey, c_mktsegment, cents + 100000 AS cents
      FROM base WHERE c_custkey % 3 = 0),
upd AS (SELECT c_custkey, c_mktsegment, cents FROM (
          SELECT u.*, row_number() OVER (PARTITION BY c_custkey ORDER BY pri) AS rn
          FROM (SELECT s.*, 0 AS pri FROM s
                UNION ALL
                SELECT t.*, 1 AS pri FROM t) u)
        WHERE rn = 1),
ign AS (SELECT c_custkey, c_mktsegment, cents FROM (
          SELECT u.*, row_number() OVER (PARTITION BY c_custkey ORDER BY pri) AS rn
          FROM (SELECT s.*, 1 AS pri FROM s
                UNION ALL
                SELECT t.*, 0 AS pri FROM t) u)
        WHERE rn = 1),
del AS (SELECT * FROM t WHERE c_custkey NOT IN (SELECT c_custkey FROM s)
        UNION ALL
        SELECT * FROM s WHERE c_custkey NOT IN (SELECT c_custkey FROM t)),
lab AS (SELECT 'update' AS mode, * FROM upd
        UNION ALL SELECT 'ignore' AS mode, * FROM ign
        UNION ALL SELECT 'delete' AS mode, * FROM del)
SELECT mode, c_mktsegment, COUNT(*) AS n,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS sum_bal
FROM lab
GROUP BY mode, c_mktsegment
"""


def q44_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 historization (operators/merge.py scd2_apply): a
    customer-segment dimension absorbs one update batch — ~20% of even
    keys change segment, the rest arrive unchanged (must NOT spawn a
    version), and custkey%100==0 spawns brand-new keys. Grouped
    summary over the resulting history snapshot. Only the active slice
    joins the batch; closed history streams through untouched — the
    shape that holds when the dimension's history is 100× its active
    set."""
    from ai_etl_framework_spark.operators.merge import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    eff = F.lit("2021-06-01").cast("date")
    u1 = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("k"),
        F.when(
            (F.col("c_custkey") % 10).isin(0, 4),
            F.concat(F.lit("SEG-"), F.col("c_mktsegment")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        eff.alias("eff"),
    )
    u2 = cust.where(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1000000).alias("k"),
        F.lit("BRAND-NEW").alias("seg"),
        eff.alias("eff"),
    )
    snap = scd2_apply(dim, u1.unionByName(u2), ["k"], "eff")
    seg_class = (
        F.when(F.col("seg").startswith("SEG-"), F.lit("changed"))
        .when(F.col("seg") == "BRAND-NEW", F.lit("new"))
        .otherwise(F.lit("base"))
    )
    return snap.groupBy(seg_class.alias("seg_class"), "is_current").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("k").alias("n_keys"),
        F.min("valid_from").alias("first_from"),
        F.max("valid_from").alias("last_from"),
        F.count("valid_to").alias("n_closed"),
    )


_Q44_SQL = """
WITH dim AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
u1 AS (SELECT c_custkey AS k,
              CASE WHEN c_custkey % 10 IN (0, 4)
                   THEN 'SEG-' || c_mktsegment
                   ELSE c_mktsegment END AS seg
       FROM customer WHERE c_custkey % 2 = 0),
u2 AS (SELECT c_custkey + 1000000 AS k, 'BRAND-NEW' AS seg
       FROM customer WHERE c_custkey % 100 = 0),
upd AS (SELECT * FROM u1 UNION ALL SELECT * FROM u2),
chg AS (SELECT d.k, d.seg AS old_seg, u.seg AS new_seg
        FROM dim d JOIN upd u ON d.k = u.k AND d.seg <> u.seg),
snap AS (
  SELECT k, seg, DATE '2020-01-01' AS valid_from,
         CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
  FROM dim WHERE k IS NULL OR k NOT IN (SELECT k FROM chg)
  UNION ALL
  SELECT k, old_seg, DATE '2020-01-01', DATE '2021-06-01', FALSE FROM chg
  UNION ALL
  SELECT k, new_seg, DATE '2021-06-01', CAST(NULL AS DATE), TRUE FROM chg
  UNION ALL
  SELECT k, seg, DATE '2021-06-01', CAST(NULL AS DATE), TRUE
  FROM upd WHERE k IS NULL OR k NOT IN (SELECT k FROM dim WHERE k IS NOT NULL)
)
SELECT CASE WHEN seg LIKE 'SEG-%' THEN 'changed'
            WHEN seg = 'BRAND-NEW' THEN 'new'
            ELSE 'base' END AS seg_class,
       is_current,
       COUNT(*) AS n,
       COUNT(DISTINCT k) AS n_keys,
       MIN(valid_from) AS first_from,
       MAX(valid_from) AS last_from,
       COUNT(valid_to) AS n_closed
FROM snap
GROUP BY 1, 2
"""


def q43_merge_scd2_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 6): keyed MERGE (q43, all three when_matched
    modes) + SCD2 historization (q44) tag-unioned into ONE long-format
    oracle row — same verbatim-composition pattern as q29_chart_prep /
    q40_exists_merged — freeing a gate slot so x04_iforest gets a
    driver signal (VERDICT r5 item 3). The single-path functions stay
    as the bench/pytest units. Dates ride as days-since-epoch doubles
    so the value column stays one hashable type."""
    a = q43_merge_upsert(spark, sf_dir).selectExpr(
        "'merge' AS suite",
        "mode AS mode_key",
        "c_mktsegment AS group_key",
        "stack(2, 'n', CAST(n AS DOUBLE), 'sum_bal', sum_bal) AS (metric, value)",
    )
    b = q44_scd2_history(spark, sf_dir).selectExpr(
        "'scd2' AS suite",
        "seg_class AS mode_key",
        "CAST(is_current AS STRING) AS group_key",
        "stack(5, 'n', CAST(n AS DOUBLE), 'n_keys', CAST(n_keys AS DOUBLE), "
        "'n_closed', CAST(n_closed AS DOUBLE), "
        "'first_from', CAST(datediff(first_from, DATE '1970-01-01') AS DOUBLE), "
        "'last_from', CAST(datediff(last_from, DATE '1970-01-01') AS DOUBLE)) "
        "AS (metric, value)",
    )
    # r11 gate rotation (VERDICT r10 item 4): q37's INTERSECT/EXCEPT
    # set ops fold in as a third arm (one row per surviving custkey) —
    # semantics composed verbatim; q37_set_ops stays a registry unit.
    c = q37_set_ops(spark, sf_dir).selectExpr(
        "'setops' AS suite",
        "'intersect_except' AS mode_key",
        "CAST(o_custkey AS STRING) AS group_key",
        "stack(1, 'custkey', CAST(o_custkey AS DOUBLE)) AS (metric, value)",
    )
    return a.unionByName(b).unionByName(c)


_Q43M_SQL = f"""
SELECT 'merge' AS suite, mode AS mode_key, c_mktsegment AS group_key, m.metric,
       CASE m.metric WHEN 'n' THEN CAST(n AS DOUBLE) ELSE sum_bal END AS value
FROM ({_Q43_SQL}) q
CROSS JOIN (SELECT UNNEST(['n', 'sum_bal']) AS metric) m
UNION ALL
SELECT 'scd2' AS suite, seg_class AS mode_key,
       CAST(is_current AS VARCHAR) AS group_key, m.metric,
       CASE m.metric WHEN 'n' THEN CAST(n AS DOUBLE)
                     WHEN 'n_keys' THEN CAST(n_keys AS DOUBLE)
                     WHEN 'n_closed' THEN CAST(n_closed AS DOUBLE)
                     WHEN 'first_from' THEN CAST(first_from - DATE '1970-01-01' AS DOUBLE)
                     ELSE CAST(last_from - DATE '1970-01-01' AS DOUBLE) END AS value
FROM ({_Q44_SQL}) q
CROSS JOIN (SELECT UNNEST(['n', 'n_keys', 'n_closed', 'first_from', 'last_from']) AS metric) m
UNION ALL
SELECT 'setops' AS suite, 'intersect_except' AS mode_key,
       CAST(o_custkey AS VARCHAR) AS group_key, 'custkey' AS metric,
       CAST(o_custkey AS DOUBLE) AS value
FROM ({_Q37_SQL}) q
"""


def sk01_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family with measured error bounds (functions/sketches.py)
    — same shape as x01_ann_recall: each row carries an exact anchor
    value (oracle-checkable) plus an ``ok`` verdict that the sketch met
    its bound, so a drifting sketch turns the row red. HLL++ distinct
    (rsd 5%, bound 15%), daily→global HLL sketch merge (register merge
    is lossless; the merged ESTIMATE uses the composite estimator
    where a single-stream sketch may use HIP, so the bound is the
    sketch rsd — 3σ at lgk=12 ≈ 5% — not exact equality, which only
    holds while the sketch stays sparse and broke at sf0.1), GK
    quantile rank bound, heavy hitters (sketch candidates + exact
    recount ≡ exact answer), and KMV overlap (union + intersection of
    the view-user and click-user id sets estimated from two k-double
    sketches — the set-operation primitive HLL lacks)."""
    from ai_etl_framework_spark.functions.sketches import (
        approx_distinct,
        heavy_hitters,
        hll_sketch_merge,
        hll_sketch_rollup,
        quantile_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    n_rows = ev.count()
    exact_users = ev.select(F.countDistinct("user_id")).first()[0]
    n_types = ev.select(F.countDistinct("event_type")).first()[0]

    apx = approx_distinct(ev, "user_id", rsd=0.05).first()[0]
    hll_ok = abs(apx - exact_users) / float(exact_users) <= 0.15

    daily = hll_sketch_rollup(ev.withColumn("day", F.to_date("ts")), ["day"], "user_id")
    merged = hll_sketch_merge(daily, []).first()["estimate"]
    glob = hll_sketch_rollup(ev.withColumn("g", F.lit(1)), ["g"], "user_id").first()[
        "estimate"
    ]
    # merged estimate within 3σ of exact AND consistent with the
    # single-stream sketch: lgk=12 → rsd ≈ 1.04/√4096 ≈ 1.63%, 3σ ≈ 5%
    merge_ok = bool(
        abs(merged - exact_users) <= 0.05 * exact_users
        and abs(merged - glob) <= 0.05 * max(exact_users, 1)
    )

    p50 = quantile_sketch(ev, "value", [0.5]).first()["p50"]
    rank = ev.where(F.col("value") <= F.lit(float(p50))).count()
    q_ok = 0.45 * n_rows <= rank <= 0.55 * n_rows

    hh = {(r[0], r["n"]) for r in heavy_hitters(ev, "event_type", 0.1).collect()}
    exact_hh = {
        (r[0], r["count"])
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] >= 0.1 * n_rows
    }
    hh_ok = hh == exact_hh

    # KMV overlap (r4): "how many users both viewed AND clicked"
    # estimated from two 256-double sketches instead of an id-set
    # join — the cross-corpus overlap primitive HLL lacks. Anchors are
    # the exact distinct counts; ok = estimate within the ~1/√k
    # envelope (3σ ≈ 20% union; intersection adds Jaccard noise, 30%).
    # Sub-k populations make the sketches exact, so small SFs and the
    # edge corpus pass trivially — the bound bites at sf0.1.
    from ai_etl_framework_spark.functions.sketches import (
        kmv_overlap_estimate,
        kmv_sketch,
    )

    kk = 256
    viewers = ev.where(F.col("event_type") == "view")
    clickers = ev.where(F.col("event_type") == "click")
    ska = kmv_sketch(viewers, "user_id", k=kk).first()["kmv"]
    skb = kmv_sketch(clickers, "user_id", k=kk).first()["kmv"]
    ov = (
        spark.createDataFrame([(ska, skb)], "a array<double>, b array<double>")
        .select(kmv_overlap_estimate(F.col("a"), F.col("b"), kk).alias("ov"))
        .first()["ov"]
    )
    exact_union = (
        ev.where(F.col("event_type").isin("view", "click"))
        .select(F.countDistinct("user_id")).first()[0]
    )
    exact_inter = (
        viewers.select("user_id").distinct()
        .join(clickers.select("user_id").distinct(), "user_id", "left_semi")
        .count()
    )
    kmv_u_ok = bool(abs(ov["union_est"] - exact_union) <= 0.2 * max(exact_union, 1))
    kmv_i_ok = bool(abs(ov["intersect_est"] - exact_inter) <= 0.3 * max(exact_inter, 1))

    rows = [
        ("hll_user_id", int(exact_users), bool(hll_ok)),
        ("hll_merge_daily", int(exact_users), merge_ok),
        ("quantile_p50_rank", int(n_rows), bool(q_ok)),
        ("heavy_hitters", int(n_types), bool(hh_ok)),
        ("kmv_union_view_click", int(exact_union), kmv_u_ok),
        ("kmv_intersect_view_click", int(exact_inter), kmv_i_ok),
    ]
    return spark.createDataFrame(rows, "metric string, n bigint, ok boolean")


_SK01_SQL = """
SELECT 'hll_user_id' AS metric, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n, TRUE AS ok FROM events
UNION ALL
SELECT 'hll_merge_daily', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM events
UNION ALL
SELECT 'quantile_p50_rank', CAST(COUNT(*) AS BIGINT), TRUE FROM events
UNION ALL
SELECT 'heavy_hitters', CAST(COUNT(DISTINCT event_type) AS BIGINT), TRUE FROM events
UNION ALL
SELECT 'kmv_union_view_click',
       CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
FROM events WHERE event_type IN ('view', 'click')
UNION ALL
SELECT 'kmv_intersect_view_click',
       -- user_id IS NOT NULL on BOTH arms: SQL INTERSECT matches
       -- NULLs to each other while Spark's semi-join anchor never
       -- does; the sketch side drops NULL ids too
       CAST((SELECT COUNT(*) FROM
              (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'view' AND user_id IS NOT NULL
               INTERSECT
               SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL) t
            ) AS BIGINT), TRUE
FROM (SELECT 1)
"""


def txt05_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/text.py redact_pii / pii_counts): the
    synthetic corpus has no PII, so each doc is salted with a
    deterministic email / card / SSN / phone / IPv4 built from its
    doc_id — both engines construct the identical string, Spark
    redacts with the JVM regexp chain, and the md5 of the redacted
    text proves byte-exact replacement parity."""
    from ai_etl_framework_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    d4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-"), d4,
            F.lit(" ssn 123-45-"), d4,
            F.lit(" card 1234-5678-9012-"), d4,
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".17"),
        ).alias("t"),
    )
    cnts = X.pii_counts(F.col("t"))
    red = X.redact_pii(F.col("t"))
    return salted.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{k}") for k, c in cnts.items()],
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


def _txt05_sql() -> str:
    from ai_etl_framework_spark.functions.text import PII_PATTERNS

    salt = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or 555-867-' || d4"
        " || ' ssn 123-45-' || d4"
        " || ' card 1234-5678-9012-' || d4"
        " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'"
    )
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "t"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH s AS (SELECT doc_id, lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS d4, text
           FROM documents WHERE doc_id < 200),
sal AS (SELECT doc_id, {salt} AS t FROM s)
SELECT doc_id, {counts},
       CAST(length({red}) AS BIGINT) AS redacted_len,
       md5({red}) AS redacted_md5
FROM sal
"""


def txt06_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (functions/text.py
    chunk_text): sequence + posexplode, no UDF — the explode fans out
    AFTER scan pruning so only (doc_id, text) multiplies. chunk=400,
    overlap=80; md5 per chunk proves exact offsets/lengths."""
    from ai_etl_framework_spark.functions.text import chunk_text

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    ch = chunk_text(docs, "text", ["doc_id"], chunk_chars=400, overlap_chars=80)
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").cast("long").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


_TXT06_SQL = """
WITH d AS (SELECT doc_id, text, length(text) AS L
           FROM documents WHERE doc_id < 300),
n AS (SELECT doc_id, text,
             CAST(CEIL(GREATEST(L - 80, 1) / 320.0) AS BIGINT) AS n_chunks
      FROM d),
i AS (SELECT doc_id, text, unnest(range(0, n_chunks)) AS chunk_idx FROM n),
c AS (SELECT doc_id, chunk_idx,
             substr(text, CAST(chunk_idx * 320 + 1 AS BIGINT), 400) AS chunk
      FROM i)
SELECT doc_id, chunk_idx, CAST(length(chunk) AS BIGINT) AS chunk_len,
       md5(chunk) AS chunk_md5
FROM c
"""


def txt07_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule corpus quality metrics (operators/corpus.py
    corpus_quality): six rule metrics + keep flag as one pure-codegen
    projection — word/bigram/5-gram math entirely in Catalyst array
    expressions, no shuffle, no Python."""
    from ai_etl_framework_spark.operators import corpus_quality

    docs = load_table(spark, sf_dir, "documents")
    out = corpus_quality(docs, "text", min_words=30, max_top_bigram_frac=0.6,
                         max_dup_ngram_frac=0.6)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_frac",
        "symbol_word_ratio", "top_bigram_frac", "dup_ngram_frac",
        F.col("keep").cast("int").alias("keep"),
    )


_TXT07_SQL = """
WITH t AS (
  SELECT doc_id, text,
         coalesce(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), CAST([] AS VARCHAR[])) AS w
  FROM documents),
m AS (
  SELECT doc_id, text, w, len(w) AS n,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS bg,
         CASE WHEN len(w) >= 5
              THEN list_transform(range(1, len(w) - 3),
                                  i -> array_to_string(list_slice(w, i, i + 4), ' '))
              ELSE [] END AS ng
  FROM t),
x AS (
  SELECT doc_id,
         CAST(n AS BIGINT) AS n_words,
         CASE WHEN n > 0 THEN ROUND(list_sum(list_transform(w, x -> length(x))) / CAST(n AS DOUBLE), 6) ELSE 0.0 END AS mean_word_len,
         CASE WHEN n > 0 THEN ROUND(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) / CAST(n AS DOUBLE), 6) ELSE 0.0 END AS alpha_word_frac,
         CASE WHEN n > 0 THEN ROUND(((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3) / CAST(n AS DOUBLE), 6) ELSE 0.0 END AS symbol_word_ratio,
         CASE WHEN len(bg) > 0
              THEN LEAST(1.0, ROUND(list_max(list_transform(list_distinct(bg),
                       b -> len(list_filter(bg, x -> x = b)))) * 2 / CAST(n AS DOUBLE), 6))
              ELSE 0.0 END AS top_bigram_frac,
         CASE WHEN len(ng) > 0
              THEN ROUND(1.0 - len(list_distinct(ng)) / CAST(len(ng) AS DOUBLE), 6)
              ELSE 0.0 END AS dup_ngram_frac
  FROM m)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio,
       top_bigram_frac, dup_ngram_frac,
       CAST(n_words >= 30 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_word_frac >= 0.80 AND symbol_word_ratio <= 0.10
            AND top_bigram_frac <= 0.6 AND dup_ngram_frac <= 0.6 AS INT) AS keep
FROM x
"""


def dc01_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.py
    contamination_pairs): distinct 4-gram shingles of the 'benchmark'
    slice (doc_id % 37 == 0) broadcast against the corpus — map-side
    semi-join, zero corpus shuffle before the per-doc hit count."""
    from ai_etl_framework_spark.operators import contamination_pairs

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    return contamination_pairs(corpus, bench, "doc_id", "text", ngram=4)


_DC01_SQL = """
WITH t AS (
  SELECT doc_id,
         coalesce(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), CAST([] AS VARCHAR[])) AS w
  FROM documents),
s AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 4
              THEN list_transform(range(1, len(w) - 2),
                                  i -> array_to_string(list_slice(w, i, i + 3), ' '))
              WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
              ELSE [] END) AS sh
  FROM t),
bench AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 37 = 0),
corp AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g
         FROM s WHERE doc_id % 37 <> 0)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       ROUND(COUNT(*) / CAST(n_shingles AS DOUBLE), 6) AS hit_frac
FROM corp JOIN bench USING (g)
GROUP BY doc_id, n_shingles
"""


def dd03_band_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 4): the two band-blocked near-dup pair
    engines — MinHash-LSH candidates (dd03) and SimHash hamming pairs
    (dd06) — tag-unioned on a ``method`` discriminator. Each part
    keeps its original function and oracle SQL verbatim; dd03 has no
    per-pair score so its ``hamming`` is NULL on both engines."""
    a = dd03_minhash_band_pairs(spark, sf_dir).select(
        F.lit("minhash_band").alias("method"),
        "id_a",
        "id_b",
        F.lit(None).cast("long").alias("hamming"),
    )
    b = dd06_simhash_near_pairs(spark, sf_dir).select(
        F.lit("simhash_band").alias("method"),
        "id_a",
        "id_b",
        F.col("hamming").cast("long").alias("hamming"),
    )
    return a.unionByName(b)


def _dd03m_sql() -> str:
    return f"""
SELECT 'minhash_band' AS method, id_a, id_b, CAST(NULL AS BIGINT) AS hamming
FROM ({_dd03_sql()}) dd03
UNION ALL
SELECT 'simhash_band' AS method, id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM ({_dd06_sql()}) dd06
"""


def smp01_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 4): deterministic sampling family — hash
    split + independent-sample overlap (smp01) and weighted epoch
    upsampling (smp02) — tag-unioned. Column mapping: hash_split rows
    carry (m1 = n_docs, m2 = n_sampled, m3 = NULL); upsample rows
    carry (m1 = n_rows, m2 = n_docs, m3 = max_copies). Original
    functions and oracle SQL compose verbatim."""
    a = smp01_hash_sampling(spark, sf_dir).select(
        F.lit("hash_split").alias("family"),
        F.col("split").alias("grp"),
        F.col("n_docs").alias("m1"),
        F.col("n_sampled").alias("m2"),
        F.lit(None).cast("long").alias("m3"),
    )
    b = smp02_upsample(spark, sf_dir).select(
        F.lit("upsample").alias("family"),
        F.col("lang").alias("grp"),
        F.col("n_rows").alias("m1"),
        F.col("n_docs").alias("m2"),
        F.col("max_copies").alias("m3"),
    )
    return a.unionByName(b)


_SMP01M_SQL = f"""
SELECT 'hash_split' AS family, split AS grp, n_docs AS m1, n_sampled AS m2,
       CAST(NULL AS BIGINT) AS m3
FROM ({_SMP01_SQL}) smp01
UNION ALL
SELECT 'upsample' AS family, lang AS grp, n_rows AS m1, n_docs AS m2,
       max_copies AS m3
FROM ({_SMP02_SQL}) smp02
"""


def sk01_sketch_sample_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 11): the probabilistic/deterministic summary
    family — sketch error bounds (sk01: HLL/merge/GK/heavy-hitters/KMV
    with exact anchors + ok verdicts) and deterministic sampling
    (smp01 merged row: hash split + upsample) tag-unioned on a shared
    (family, metric, n, ok) long format, freeing a gate slot for a
    post-r9 family (VERDICT r10 item 4). Sampling rows flatten their
    (m1, m2, m3) triple into one metric per row (NULL m3 rows ride as
    NULL n — hashable); ok is the sketch-bound verdict on sketch rows
    and constant TRUE on sampling rows. The single-path sk01/smp01
    stay registry/pytest units."""
    a = sk01_sketch_bounds(spark, sf_dir).select(
        F.lit("sketch").alias("family"), "metric", "n", "ok"
    )
    b = (
        smp01_sampling(spark, sf_dir)
        .selectExpr(
            "family",
            "stack(3, grp || ':m1', m1, grp || ':m2', m2, grp || ':m3', m3) "
            "AS (metric, n)",
        )
        .withColumn("ok", F.lit(True))
    )
    return a.unionByName(b)


_SK01M_SQL = f"""
SELECT 'sketch' AS family, metric, n, ok FROM ({_SK01_SQL}) sk
UNION ALL
SELECT family, grp || ':' || m.k AS metric,
       CASE m.k WHEN 'm1' THEN m1 WHEN 'm2' THEN m2 ELSE m3 END AS n,
       TRUE AS ok
FROM ({_SMP01M_SQL}) s
CROSS JOIN (SELECT UNNEST(['m1', 'm2', 'm3']) AS k) m
"""


def txt05_redact_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate merge (round 4): PII redaction (txt05, per-doc counts +
    redacted-text md5) and overlapping chunking (txt06, per-chunk md5)
    tag-unioned on ``part``. Redact rows have idx NULL; chunk rows
    have the n_* counts NULL. Both original functions and their
    oracle SQL compose verbatim."""
    pii_cols = ["n_email", "n_credit_card", "n_ssn", "n_phone", "n_ipv4"]
    a = txt05_pii_redact(spark, sf_dir).select(
        F.lit("redact").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("idx"),
        *pii_cols,
        F.col("redacted_len").alias("part_len"),
        F.col("redacted_md5").alias("part_md5"),
    )
    b = txt06_chunking(spark, sf_dir).select(
        F.lit("chunk").alias("part"),
        "doc_id",
        F.col("chunk_idx").cast("long").alias("idx"),
        *[F.lit(None).cast("long").alias(c) for c in pii_cols],
        F.col("chunk_len").alias("part_len"),
        F.col("chunk_md5").alias("part_md5"),
    )
    return a.unionByName(b)


def _txt05m_sql() -> str:
    pii = "n_email, n_credit_card, n_ssn, n_phone, n_ipv4"
    pii_null = ", ".join(
        f"CAST(NULL AS BIGINT) AS {c}"
        for c in ("n_email", "n_credit_card", "n_ssn", "n_phone", "n_ipv4")
    )
    return f"""
SELECT 'redact' AS part, doc_id, CAST(NULL AS BIGINT) AS idx, {pii},
       redacted_len AS part_len, redacted_md5 AS part_md5
FROM ({_txt05_sql()}) txt05
UNION ALL
SELECT 'chunk' AS part, doc_id, CAST(chunk_idx AS BIGINT) AS idx, {pii_null},
       chunk_len AS part_len, chunk_md5 AS part_md5
FROM ({_TXT06_SQL}) txt06
"""


def x03_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked half of the multimodal surface (round-3 verdict
    item 3): synthesize a REAL media blob per document — PCM WAV
    (functions/codecs.encode_wav), 24-bit BMP (encode_bmp), or a
    header-only PNG — with doc_id-derived parameters, then recover
    format / byte length / dimensions / audio rate+duration FROM THE
    BYTES alone via the sniffing kernel (attach_media_meta sniff=True
    → codecs.sniff_media_meta). The oracle recomputes the expected
    values arithmetically from doc_id (the container layouts are
    fixed byte structures, byte length included), so this row is
    green only if encode→sniff round-trips exactly. The
    feature-vector half of x03 stays rows-only in pytest
    (tests/test_multimodal.py) — vectors aren't SQL-expressible."""
    from pyspark.sql.functions import pandas_udf

    from ai_etl_framework_spark.functions.multimodal import attach_media_meta

    @pandas_udf("binary")
    def synth_blob(ids: pd.Series) -> pd.Series:
        import struct

        import numpy as np

        from ai_etl_framework_spark.functions.codecs import (
            encode_bmp,
            encode_wav,
        )

        def one(i):
            i = int(i)
            kind = i % 3
            if kind == 0:  # mono 16-bit PCM WAV
                rate = 8000 + (i % 4) * 2000
                n = 1000 + (i % 7) * 500
                x = np.linspace(-0.5, 0.5, n, dtype=np.float64)[:, None]
                return encode_wav(x, rate)
            if kind == 1:  # 24-bit BI_RGB BMP
                w, h = 4 + i % 9, 3 + i % 5
                img = (np.arange(h * w * 3, dtype=np.int64) % 251).astype(
                    "u1"
                ).reshape(h, w, 3)
                return encode_bmp(img)
            # header-only PNG: signature + IHDR chunk (33 bytes) — the
            # sniffer reads dims without touching compressed payload
            w, h = 16 + i % 21, 9 + i % 13
            return (
                b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", 13)
                + b"IHDR"
                + struct.pack(">II", w, h)
                + b"\x08\x02\x00\x00\x00"
                + b"\x00\x00\x00\x00"
            )

        return ids.map(one)

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    blobs = docs.select("doc_id", synth_blob(F.col("doc_id")).alias("blob"))
    met = attach_media_meta(blobs, "blob", media_type="media", fmt="bin",
                            sniff=True)
    return met.select(
        "doc_id",
        F.col("media_meta.format").alias("fmt"),
        F.length("blob").cast("long").alias("n_bytes"),
        F.col("media_meta.width").cast("long").alias("width"),
        F.col("media_meta.height").cast("long").alias("height"),
        F.col("media_meta.duration_ms").cast("long").alias("duration_ms"),
        F.col("media_meta.sample_rate").cast("long").alias("sample_rate"),
    )


_X03M_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 3 AS kind,
         8000 + (doc_id % 4) * 2000 AS rate,
         1000 + (doc_id % 7) * 500 AS ns,
         4 + doc_id % 9 AS bw, 3 + doc_id % 5 AS bh,
         16 + doc_id % 21 AS pw, 9 + doc_id % 13 AS ph
  FROM documents WHERE doc_id < 300)
SELECT doc_id,
       CASE kind WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp' ELSE 'png' END AS fmt,
       CAST(CASE kind WHEN 0 THEN 44 + 2 * ns
                      WHEN 1 THEN 54 + ((bw * 3 + 3) // 4) * 4 * bh
                      ELSE 33 END AS BIGINT) AS n_bytes,
       CAST(CASE kind WHEN 1 THEN bw WHEN 2 THEN pw END AS BIGINT) AS width,
       CAST(CASE kind WHEN 1 THEN bh WHEN 2 THEN ph END AS BIGINT) AS height,
       CAST(CASE kind WHEN 0 THEN FLOOR(ns * 1000.0 / rate) END AS BIGINT)
           AS duration_ms,
       CAST(CASE kind WHEN 0 THEN rate END AS BIGINT) AS sample_rate
FROM p
"""


# ---------------------------------------------------------------------------
# r9 additions: knn join, bm25, imputation, char entropy, robust z, melt
# ---------------------------------------------------------------------------

def x27_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-vectors top-5 cosine KNN join (functions/similarity.py
    knn_join, exact matmul path): every embedding's 5 nearest
    neighbors, self excluded, ties neighbor-id-ascending on the
    6dp-rounded similarity (the sim01 ordering contract). The index
    side is a bounded fail-loud collect; query rows never shuffle
    (local top-k inside mapInPandas). The oracle replays the full
    O(n²) self-join — exact, so the approximate IVF path's recall is
    measured against THIS in tests/test_knn_join.py."""
    from ai_etl_framework_spark.functions.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, "embedding", "vec_id", k=5, method="matmul")


_X27_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
r AS (SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM p)
SELECT vec_id, neighbor_id, CAST(rk AS BIGINT) AS rank, cos_sim
FROM r WHERE rk <= 5
"""


def x28_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/bm25.py, the Lucene variant —
    k1=1.2, b=0.75): top-15 documents for the query "vector hash
    query". The corpus explode is filtered to the query's terms
    BEFORE aggregation (postings only), the (term, df) frame is
    bounded by the query length (legitimate broadcast), top-k is
    TakeOrderedAndProject. The oracle replays tf/df/avgdl and the
    exact formula."""
    from ai_etl_framework_spark.operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "vector hash query", k=15)


_X28_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
stats AS (SELECT count(*)::DOUBLE AS n, sum(len(t))::DOUBLE AS tot FROM toks),
lens AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
       WHERE term IN ('vector', 'hash', 'query')
       GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS dft FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfreq.dft + 0.5) / (dfreq.dft + 0.5))
         * tf.tf * (1.2 + 1.0)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / (stats.tot / stats.n)))
         AS c
  FROM tf, stats
  JOIN dfreq ON tf.term = dfreq.term
  JOIN lens ON tf.doc_id = lens.doc_id)
SELECT doc_id, ROUND(sum(c), 6) AS score, count(*)::BIGINT AS n_terms
FROM contrib
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 15
"""


def x29_impute_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median NULL imputation (operators/impute.py): events
    value nulled deterministically (event_id % 11 == 0) then filled
    with the per-event_type exact median (global median fallback).
    One |groups|-row statistics aggregation joined back WITHOUT a
    mandatory broadcast hint (AQE decides — the tfidf r8 lesson);
    the oracle replays quantile_cont + coalesce."""
    from ai_etl_framework_spark.operators.impute import impute_by_group

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = impute_by_group(
        ev, "value", ["event_type"], strategy="median", suffix="_f"
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value_f", 6).alias("value_f"),
        F.col("value").isNull().alias("was_null"),
    )


_X29_SQL = """
WITH e AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
  FROM events),
med AS (SELECT event_type, quantile_cont(v, 0.5) AS m
        FROM e WHERE v IS NOT NULL GROUP BY event_type),
g AS (SELECT quantile_cont(v, 0.5) AS gm FROM e WHERE v IS NOT NULL)
SELECT e.event_id, e.event_type,
       ROUND(COALESCE(e.v, med.m, g.gm), 6) AS value_f,
       e.v IS NULL AS was_null
FROM e LEFT JOIN med ON e.event_type = med.event_type, g
"""


def x30_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy in bits
    (operators/textstats.py) — the gibberish/encoding-noise signal
    (base64 blobs ~6 bits/char, English ~4.2). Raw text, docs with
    NULL/empty text produce no row. Two hash aggregations, the
    alphabet collapses the first one's partials. The oracle replays
    the identical log2 formula (not DuckDB's entropy() builtin, whose
    summation order could differ in the 6th decimal; the builtin
    cross-check lives in tests/test_textstats.py with tolerance)."""
    from ai_etl_framework_spark.operators.textstats import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs)


_X30_SQL = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE text IS NOT NULL),
c AS (SELECT doc_id, ch, count(*)::DOUBLE AS c
      FROM ch WHERE ch <> '' GROUP BY doc_id, ch)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
       ROUND(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
FROM c GROUP BY doc_id
"""


def x31_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-score per event_type
    (operators/anomaly.py robust_zscore, Iglewicz-Hoaglin 0.6745
    constant, |rz| > 3.5): robust where mean/std masks its own
    outliers. Exact percentile medians (approx=True is the 100 TB
    dual); MAD==0 and NULL values give rz NULL. Two group
    aggregations joined back unhinted. Oracle: median + mad."""
    from ai_etl_framework_spark.operators.anomaly import robust_zscore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return robust_zscore(ev, "value", ["event_type"], threshold=3.5)


_X31_SQL = """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
             FROM events GROUP BY event_type),
mad AS (SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
        FROM events e JOIN med ON e.event_type = med.event_type
        GROUP BY e.event_type),
s AS (SELECT e.event_id, e.event_type, e.value,
             CASE WHEN e.value IS NOT NULL AND mad.d <> 0
                  THEN ROUND(0.6745 * (e.value - med.m) / mad.d, 6) END AS rz
      FROM events e
      JOIN med ON e.event_type = med.event_type
      JOIN mad ON e.event_type = mad.event_type)
SELECT event_id, event_type, value, rz,
       CASE WHEN rz IS NOT NULL THEN abs(rz) > 3.5 END AS is_outlier
FROM s
"""


def x32_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (operators/reshape.py melt) of lineitem's
    four money/quantity measures keyed by (orderkey, linenumber) —
    4 output rows per input row, an Expand in the same task, zero
    shuffle. Values cast to DOUBLE explicitly (pinned common type);
    NULL cells kept. Oracle: UNION ALL replay (engine-neutral — it
    needs no UNPIVOT null-handling dialect)."""
    from ai_etl_framework_spark.operators.reshape import melt

    li = load_table(spark, sf_dir, "lineitem")
    return melt(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        var_name="measure",
        value_name="amount",
    )


_X32_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       l_quantity::DOUBLE AS amount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice',
       l_extendedprice::DOUBLE FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount',
       l_discount::DOUBLE FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax',
       l_tax::DOUBLE FROM lineitem
"""


def x33_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/retention.py):
    users cohorted by first-activity week (Monday-start in both
    engines), distinct (user, week) activity, offset in whole weeks,
    retention vs the offset-0 cohort size. Two user-keyed
    aggregations share one partitioning; raw events shuffle once."""
    from ai_etl_framework_spark.operators.retention import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


_X33_SQL = """
WITH base AS (
  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS p
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
firsts AS (SELECT u, min(p) AS cohort FROM base GROUP BY u),
activity AS (SELECT DISTINCT u, p FROM base),
cells AS (
  SELECT f.cohort, CAST(date_diff('day', f.cohort, a.p) / 7 AS BIGINT)
           AS "offset",
         count(DISTINCT a.u)::BIGINT AS n_users
  FROM activity a JOIN firsts f ON a.u = f.u
  GROUP BY 1, 2),
sizes AS (SELECT cohort, n_users AS size FROM cells WHERE "offset" = 0)
SELECT c.cohort, c."offset" AS offset, c.n_users,
       ROUND(c.n_users / s.size::DOUBLE, 6) AS retention
FROM cells c JOIN sizes s ON c.cohort = s.cohort
"""


def x34_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 length-3 consecutive event-type paths
    (operators/sequences.py): one user-keyed window (lead chains, no
    per-user collect_list), hash count on the short-string sequence,
    TakeOrderedAndProject top-k. Ties sequence-ascending; (ts,
    event_id) ordering makes simultaneous events deterministic."""
    from ai_etl_framework_spark.operators.sequences import (
        frequent_event_sequences,
    )

    ev = load_table(spark, sf_dir, "events")
    return frequent_event_sequences(ev, n=3, k=20)


_X34_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL),
s AS (
  SELECT event_type AS t0,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT concat_ws(' > ', t0, t1, t2) AS sequence,
       count(*)::BIGINT AS n_occurrences
FROM s WHERE t2 IS NOT NULL
GROUP BY 1
ORDER BY n_occurrences DESC, sequence ASC
LIMIT 20
"""


def x35_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 5-row value features (operators/rolling.py):
    moving avg/min/max + in-window count over (ts, event_id) order —
    ONE fused window partitioning for all four functions (single
    Exchange, plan-pinned in tests/test_rolling.py). SQL window
    frames are engine-identical, so the oracle is a direct replay."""
    from ai_etl_framework_spark.operators.rolling import rolling_features

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = rolling_features(ev, "value", k=5, aggs=("avg", "min", "max"))
    return out.select(
        "event_id", "value_roll_avg", "value_roll_min",
        "value_roll_max", "n_in_window",
    )


_X35_SQL = """
SELECT event_id,
       ROUND(avg(value) OVER w, 6) AS value_roll_avg,
       min(value) OVER w AS value_roll_min,
       max(value) OVER w AS value_roll_max,
       count(value) OVER w::BIGINT AS n_in_window
FROM events
WHERE user_id IS NOT NULL AND ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def x36_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/expectations.py,
    deequ-style): 6 constraints over orders compiled into ONE
    aggregation pass (only `unique` pays the count-distinct Expand).
    The oracle replays every metric and verdict."""
    from ai_etl_framework_spark.operators.expectations import run_checks

    orders = load_table(spark, sf_dir, "orders")
    return run_checks(
        orders,
        [
            {"check": "not_null", "column": "o_custkey"},
            {"check": "unique", "column": "o_orderkey"},
            {"check": "min", "column": "o_totalprice", "value": 0.0},
            {"check": "max", "column": "o_totalprice", "value": 1e6},
            {"check": "in_set", "column": "o_orderstatus",
             "values": ["O", "F", "P"]},
            {"check": "matches", "column": "o_orderpriority",
             "pattern": "^[1-5]-", "threshold": 0.5},
        ],
    )


_X36_SQL = """
WITH m AS (
  SELECT count(o_custkey) / count(*)::DOUBLE AS m0,
         count(DISTINCT o_orderkey)
           / count(*)::DOUBLE AS m1,
         min(o_totalprice)::DOUBLE AS m2,
         max(o_totalprice)::DOUBLE AS m3,
         count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END)
           / count(o_orderstatus)::DOUBLE AS m4,
         count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                    THEN 1 END) / count(o_orderpriority)::DOUBLE AS m5
  FROM orders)
SELECT * FROM (
  SELECT 'not_null' AS "check", 'o_custkey' AS "column",
         ROUND(m0, 6) AS metric, 1.0::DOUBLE AS threshold,
         ROUND(m0, 6) >= 1.0 AS passed FROM m
  UNION ALL
  SELECT 'unique', 'o_orderkey', ROUND(m1, 6), 1.0::DOUBLE,
         ROUND(m1, 6) >= 1.0 FROM m
  UNION ALL
  SELECT 'min', 'o_totalprice', ROUND(m2, 6), 0.0::DOUBLE,
         ROUND(m2, 6) >= 0.0 FROM m
  UNION ALL
  SELECT 'max', 'o_totalprice', ROUND(m3, 6), 1000000.0::DOUBLE,
         ROUND(m3, 6) <= 1000000.0 FROM m
  UNION ALL
  SELECT 'in_set', 'o_orderstatus', ROUND(m4, 6), 1.0::DOUBLE,
         ROUND(m4, 6) >= 1.0 FROM m
  UNION ALL
  SELECT 'matches', 'o_orderpriority', ROUND(m5, 6), 0.5::DOUBLE,
         ROUND(m5, 6) >= 0.5 FROM m)
"""


def x37_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution drift (operators/drift.py): lineitem split
    into a baseline (odd orderkeys) and a shifted current (even
    orderkeys, extendedprice × 1.15) — 10 baseline-quantile buckets,
    per-bucket terms + total. One scalar-quantile agg + two
    |buckets|-sized histograms. The oracle replays edges, bucket
    assignment, the eps floor, and both rounded proportions."""
    from ai_etl_framework_spark.operators.drift import psi_drift

    li = load_table(spark, sf_dir, "lineitem")
    base = li.where(F.col("l_orderkey") % 2 == 1).select("l_extendedprice")
    cur = li.where(F.col("l_orderkey") % 2 == 0).select(
        (F.col("l_extendedprice") * 1.15).alias("l_extendedprice")
    )
    return psi_drift(base, cur, "l_extendedprice", buckets=10)


_X37_SQL = """
WITH base AS (SELECT l_extendedprice AS v FROM lineitem WHERE l_orderkey % 2 = 1),
cur AS (SELECT l_extendedprice * 1.15 AS v FROM lineitem WHERE l_orderkey % 2 = 0),
ed AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e
       FROM base),
hb AS (SELECT len(list_filter(ed.e, x -> v > x)) AS bucket,
              count(*)::DOUBLE AS nb
       FROM base, ed WHERE v IS NOT NULL GROUP BY 1),
hc AS (SELECT len(list_filter(ed.e, x -> v > x)) AS bucket,
              count(*)::DOUBLE AS nc
       FROM cur, ed WHERE v IS NOT NULL GROUP BY 1),
g AS (SELECT unnest(range(10)) AS bucket),
j AS (SELECT g.bucket, COALESCE(hb.nb, 0) AS nb, COALESCE(hc.nc, 0) AS nc
      FROM g LEFT JOIN hb ON g.bucket = hb.bucket
             LEFT JOIN hc ON g.bucket = hc.bucket),
t AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM j),
s AS (SELECT j.bucket,
             ROUND(j.nb / t.tb, 6) AS p_base,
             ROUND(j.nc / t.tc, 6) AS p_cur,
             ROUND((greatest(j.nc / t.tc, 1e-6) - greatest(j.nb / t.tb, 1e-6))
                   * ln(greatest(j.nc / t.tc, 1e-6)
                        / greatest(j.nb / t.tb, 1e-6)), 6) AS psi_term
      FROM j, t)
SELECT bucket, p_base, p_cur, psi_term,
       ROUND(sum(psi_term) OVER (), 6) AS psi_total
FROM s
"""


def x38_fuzzy_string_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance string self-join (operators/fuzzyjoin.py,
    Ed-Join q-gram prefix filter): customer-name pairs within
    levenshtein 1 over a deterministic 2000-customer slice (the slice
    bounds the ORACLE's O(n²) brute force, not the operator — the
    Spark side's candidates are rare-gram-blocked). The shared
    "Customer#00…" boilerplate grams sort last in rarity order and
    never enter a prefix, so the digit-differing neighbor pairs come
    from small rare-gram buckets. Oracle: exact within-length-band
    levenshtein."""
    from ai_etl_framework_spark.operators.fuzzyjoin import fuzzy_string_pairs

    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 2000
    )
    return fuzzy_string_pairs(cust, "c_custkey", "c_name", max_dist=1)


_X38_SQL = """
WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_custkey < 2000 AND c_name IS NOT NULL)
SELECT a.id AS id_a, b.id AS id_b,
       levenshtein(a.s, b.s)::BIGINT AS dist
FROM c a JOIN c b
  ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
WHERE levenshtein(a.s, b.s) <= 1
"""


def x39_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend (operators/trend.py group_trend):
    slope/intercept/r² via the ANSI regr_* aggregate family — ONE
    hash aggregation, map-side partials, no window/join. x anchored
    at 2024-01-01 for conditioning (slope is shift-invariant; raw
    epochs put 10 significant digits into the product sums and the
    engines' summation orders diverge in the rounded low digits).
    The oracle is DuckDB's own regr_* family over epoch(ts)."""
    from ai_etl_framework_spark.operators.trend import group_trend

    ev = load_table(spark, sf_dir, "events")
    return group_trend(ev, origin="2024-01-01")


_X39_SQL = """
SELECT user_id,
       regr_count(value, x)::BIGINT AS n,
       ROUND(regr_slope(value, x), 10) AS slope,
       ROUND(regr_intercept(value, x), 10) AS intercept,
       ROUND(regr_r2(value, x), 6) AS r2
FROM (SELECT user_id, value,
             epoch(ts) - epoch(TIMESTAMP '2024-01-01') AS x
      FROM events WHERE user_id IS NOT NULL)
GROUP BY user_id
"""


def x40_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column scaling (operators/scaling.py): lineitem quantity
    min-max scaled AND extendedprice z-scored (population std — the
    anomaly detector's ddof=0 contract) in suffix mode. One scalar
    stats aggregation per method + codegen projections (the
    winsorize two-job shape). Oracle replays both formulas."""
    from ai_etl_framework_spark.operators.scaling import scale_columns

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = scale_columns(li, ["l_quantity"], "minmax", suffix="_mm")
    out = scale_columns(out, ["l_extendedprice"], "zscore", suffix="_z")
    return out.select(
        "l_orderkey", "l_linenumber", "l_quantity_mm", "l_extendedprice_z"
    )


_X40_SQL = """
WITH st AS (SELECT min(l_quantity)::DOUBLE AS lo, max(l_quantity)::DOUBLE AS hi,
                   ROUND(avg(l_extendedprice), 6) AS mu,
                   ROUND(stddev_pop(l_extendedprice), 6) AS sd
            FROM lineitem)
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity IS NOT NULL AND st.lo <> st.hi
            THEN ROUND((l_quantity - st.lo) / (st.hi - st.lo), 6) END
         AS l_quantity_mm,
       CASE WHEN l_extendedprice IS NOT NULL AND st.sd <> 0
            THEN ROUND((l_extendedprice - st.mu) / st.sd, 6) + 0 END
         AS l_extendedprice_z
FROM lineitem, st
"""


def x41_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketizing (operators/scaling.py): events.value
    into 8 exact-quantile buckets (KBinsDiscretizer's 'quantile'
    strategy; the approx dual is the 100 TB path). One scalar edge
    aggregation + a pure comparison-sum projection. Oracle replays
    the edges and the strictly-below counting."""
    from ai_etl_framework_spark.operators.scaling import quantile_bucketize

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return quantile_bucketize(ev, "value", buckets=8)


_X41_SQL = """
WITH ed AS (SELECT list_transform(quantile_cont(value,
              [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
              x -> ROUND(x, 6)) AS e
            FROM events)
SELECT event_id, value,
       CASE WHEN value IS NOT NULL
            THEN len(list_filter(ed.e, x -> value > x))::BIGINT END
         AS value_bucket
FROM events, ed
"""


def x42_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix (operators/stats.py corr_matrix) over
    four lineitem measures — six corr + six pairwise-count aggregate
    expressions in ONE pass (map-side partials, no shuffle beyond the
    1-row reduce). The oracle is DuckDB's own corr over the same
    pairs."""
    from ai_etl_framework_spark.operators.stats import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


_X42_SQL = """
WITH m AS (SELECT
  ROUND(corr(l_discount, l_extendedprice), 6) AS c0,
  count(CASE WHEN l_discount IS NOT NULL AND l_extendedprice IS NOT NULL
        THEN 1 END) AS n0,
  ROUND(corr(l_discount, l_quantity), 6) AS c1,
  count(CASE WHEN l_discount IS NOT NULL AND l_quantity IS NOT NULL
        THEN 1 END) AS n1,
  ROUND(corr(l_discount, l_tax), 6) AS c2,
  count(CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL
        THEN 1 END) AS n2,
  ROUND(corr(l_extendedprice, l_quantity), 6) AS c3,
  count(CASE WHEN l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        THEN 1 END) AS n3,
  ROUND(corr(l_extendedprice, l_tax), 6) AS c4,
  count(CASE WHEN l_extendedprice IS NOT NULL AND l_tax IS NOT NULL
        THEN 1 END) AS n4,
  ROUND(corr(l_quantity, l_tax), 6) AS c5,
  count(CASE WHEN l_quantity IS NOT NULL AND l_tax IS NOT NULL
        THEN 1 END) AS n5
  FROM lineitem)
SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
       c0 AS corr, n0::BIGINT AS n FROM m
UNION ALL SELECT 'l_discount', 'l_quantity', c1, n1::BIGINT FROM m
UNION ALL SELECT 'l_discount', 'l_tax', c2, n2::BIGINT FROM m
UNION ALL SELECT 'l_extendedprice', 'l_quantity', c3, n3::BIGINT FROM m
UNION ALL SELECT 'l_extendedprice', 'l_tax', c4, n4::BIGINT FROM m
UNION ALL SELECT 'l_quantity', 'l_tax', c5, n5::BIGINT FROM m
"""


def x43_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift (operators/stats.py pair_lift):
    baskets = users, items = distinct event types per user. One
    DISTINCT (user, type) agg, a user-co-partitioned self-join whose
    fan-out is |types-per-user|² (bounded by the type vocabulary,
    never corpus size), two dimension-sized counts. Oracle replays
    support/lift exactly."""
    from ai_etl_framework_spark.operators.stats import pair_lift

    ev = load_table(spark, sf_dir, "events")
    return pair_lift(ev, "user_id", "event_type")


_X43_SQL = """
WITH base AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
nk AS (SELECT count(DISTINCT k)::DOUBLE AS n FROM base),
singles AS (SELECT i, count(*)::DOUBLE AS n_i FROM base GROUP BY i),
pr AS (SELECT a.i AS item_a, b.i AS item_b, count(*)::BIGINT AS n_both
       FROM base a JOIN base b ON a.k = b.k AND a.i < b.i
       GROUP BY 1, 2)
SELECT pr.item_a, pr.item_b, pr.n_both,
       ROUND(pr.n_both / nk.n, 6) AS support,
       ROUND((pr.n_both / nk.n) / ((sa.n_i / nk.n) * (sb.n_i / nk.n)), 6)
         AS lift
FROM pr, nk
JOIN singles sa ON pr.item_a = sa.i
JOIN singles sb ON pr.item_b = sb.i
"""


def x44_grouped_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators/winsorize.py
    winsorize_by_group): events.value clipped to each event_type's
    exact [p10, p90] — one grouped percentile agg, NULL-safe unhinted
    join-back, codegen clip (the impute shape with two statistics).
    Oracle replays per-group quantile_cont + clamp."""
    from ai_etl_framework_spark.operators.winsorize import winsorize_by_group

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = winsorize_by_group(
        ev, "value", ["event_type"], lower=0.1, upper=0.9, suffix="_w"
    )
    return out.select(
        "event_id", "event_type", F.round("value_w", 6).alias("value_w")
    )


_X44_SQL = """
WITH st AS (SELECT event_type, quantile_cont(value, 0.1) AS lo,
                   quantile_cont(value, 0.9) AS hi
            FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       CASE WHEN e.value IS NULL OR st.lo IS NULL THEN e.value
            ELSE ROUND(least(st.hi, greatest(st.lo, e.value)), 6) END
         AS value_w
FROM events e LEFT JOIN st ON e.event_type = st.event_type
"""


def x45_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join key-health report (operators/audit.py join_audit): orders
    → a deliberately damaged customer dim (keys %7==0 dropped → fact
    orphans; keys %13==0 duplicated → fan-out 2). Two hash aggs +
    one co-partitioned left join + scalars. The oracle replays every
    count."""
    from ai_etl_framework_spark.operators.audit import join_audit

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.where(F.col("c_custkey") % 7 != 0).unionByName(
        cust.where(F.col("c_custkey") % 13 == 0)
    )
    return join_audit(orders, dim, "o_custkey", "c_custkey")


_X45_SQL = """
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0
  UNION ALL SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
dk AS (SELECT c_custkey AS k, count(*) AS mult FROM dim GROUP BY 1),
f AS (SELECT o_custkey AS fk FROM orders),
fs AS (SELECT count(*)::BIGINT AS n_fact,
              count(CASE WHEN dk.k IS NULL THEN 1 END)::BIGINT AS orphans
       FROM f LEFT JOIN dk ON f.fk = dk.k),
refs AS (SELECT DISTINCT fk FROM f WHERE fk IS NOT NULL),
um AS (SELECT COALESCE(sum(dk.mult), 0)::BIGINT AS unmatched
       FROM dk LEFT JOIN refs ON dk.k = refs.fk WHERE refs.fk IS NULL),
mm AS (SELECT COALESCE(sum(mult), 0)::BIGINT AS n_dim,
              count(CASE WHEN mult > 1 THEN 1 END)::BIGINT AS dup_keys,
              COALESCE(max(mult), 0)::BIGINT AS max_fanout
       FROM dk)
SELECT fs.n_fact, mm.n_dim, fs.orphans AS orphan_fact_rows,
       um.unmatched AS unmatched_dim_rows, mm.dup_keys AS dup_dim_keys,
       mm.max_fanout
FROM fs, um, mm
"""


def x46_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user silence periods > 6 h (operators/audit.py
    detect_gaps): ONE key-partitioned lag window + a filter (the
    rolling_features shape). Oracle replays the lag and the epoch
    arithmetic."""
    from ai_etl_framework_spark.operators.audit import detect_gaps

    ev = load_table(spark, sf_dir, "events")
    return detect_gaps(ev, threshold_seconds=21600)


_X46_SQL = """
WITH e AS (SELECT user_id, ts, event_id FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
g AS (SELECT user_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_start,
             ts AS gap_end
      FROM e)
SELECT user_id, gap_start, gap_end,
       ROUND(epoch(gap_end) - epoch(gap_start), 6) AS gap_seconds
FROM g
WHERE epoch(gap_end) - epoch(gap_start) > 21600
"""


def x47_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer revenue contribution (operators/audit.py
    pareto_share, 80/20 analysis): one hash agg to a customer-sized
    frame, then the cumulative window over THAT (never raw orders).
    Oracle replays the (total DESC, key ASC) running share."""
    from ai_etl_framework_spark.operators.audit import pareto_share

    orders = load_table(spark, sf_dir, "orders")
    return pareto_share(orders, "o_custkey", "o_totalprice", top_frac=0.8)


_X47_SQL = """
WITH t AS (SELECT o_custkey, COALESCE(sum(o_totalprice), 0) AS total
           FROM orders GROUP BY o_custkey),
w AS (SELECT o_custkey, total,
             total / sum(total) OVER () AS share,
             sum(total) OVER (ORDER BY total DESC, o_custkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(total) OVER () AS cum
      FROM t)
SELECT o_custkey, ROUND(total, 6) AS total, ROUND(share, 6) AS share,
       ROUND(cum, 6) AS cum_share, ROUND(cum - share, 6) < 0.8 AS is_top
FROM w
"""


def x48_funnel_timings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel stage-transition timing summary (operators/funnel.py
    funnel_timings): per transition (view→click, click→purchase) the
    conversion counts and exact p50/p90/mean time-to-convert over
    x25's first-touch stage timestamps — one reused key partitioning
    + one |transitions|-row aggregation. Oracle replays x25's chained
    CTEs then the epoch-delta percentiles."""
    from ai_etl_framework_spark.operators.funnel import funnel_timings

    ev = load_table(spark, sf_dir, "events")
    return funnel_timings(ev, ["view", "click", "purchase"], within="1 day")


_X48_SQL = """
WITH ev AS (SELECT user_id AS key, ts, event_type AS tp FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
s1 AS (SELECT key, min(ts) AS t1 FROM ev WHERE tp = 'view' GROUP BY key),
s2 AS (SELECT ev.key, min(ev.ts) AS t2
       FROM ev JOIN s1 ON ev.key = s1.key
       WHERE ev.tp = 'click' AND ev.ts >= s1.t1
         AND ev.ts <= s1.t1 + INTERVAL 1 DAY
       GROUP BY ev.key),
s3 AS (SELECT ev.key, min(ev.ts) AS t3
       FROM ev JOIN s1 ON ev.key = s1.key JOIN s2 ON ev.key = s2.key
       WHERE ev.tp = 'purchase' AND ev.ts >= s2.t2
         AND ev.ts <= s1.t1 + INTERVAL 1 DAY
       GROUP BY ev.key),
st AS (SELECT s1.key, s1.t1, s2.t2, s3.t3
       FROM s1 LEFT JOIN s2 ON s1.key = s2.key
               LEFT JOIN s3 ON s1.key = s3.key),
agg AS (SELECT
  count(t1)::BIGINT AS r1, count(t2)::BIGINT AS c1,
  ROUND(quantile_cont(epoch(t2) - epoch(t1), 0.5), 4) AS p50_1,
  ROUND(quantile_cont(epoch(t2) - epoch(t1), 0.9), 4) AS p90_1,
  ROUND(avg(epoch(t2) - epoch(t1)), 4) AS mu_1,
  count(t2)::BIGINT AS r2, count(t3)::BIGINT AS c2,
  ROUND(quantile_cont(epoch(t3) - epoch(t2), 0.5), 4) AS p50_2,
  ROUND(quantile_cont(epoch(t3) - epoch(t2), 0.9), 4) AS p90_2,
  ROUND(avg(epoch(t3) - epoch(t2)), 4) AS mu_2
  FROM st)
SELECT 'view -> click' AS transition, r1 AS n_reached, c1 AS n_converted,
       ROUND(c1 / r1::DOUBLE, 6) AS conv_rate, p50_1 AS p50_seconds,
       p90_1 AS p90_seconds, mu_1 AS mean_seconds FROM agg
UNION ALL
SELECT 'click -> purchase', r2, c2, ROUND(c2 / r2::DOUBLE, 6),
       p50_2, p90_2, mu_2 FROM agg
"""


def x49_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event_type (operators/timeseries.py
    ohlc_bars): ONE hash aggregation — open/close via min_by/max_by on
    the whole-second+tiebreak BIGINT position key (HashAggregate fast
    path). Oracle: arg_min/arg_max on the same key."""
    from ai_etl_framework_spark.operators.timeseries import ohlc_bars

    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(ev, "event_type", "ts", "value", "event_id", "hour")


_X49_SQL = """
WITH t AS (SELECT event_type, date_trunc('hour', ts) AS bucket, value,
                  CAST(floor(epoch(ts)) AS BIGINT) * 1000000
                    + event_id % 1000000 AS k
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL)
SELECT event_type, bucket,
       ROUND(arg_min(value, k), 6) AS "open",
       ROUND(max(value), 6)        AS high,
       ROUND(min(value), 6)        AS low,
       ROUND(arg_max(value, k), 6) AS "close",
       ROUND(sum(value), 6)        AS volume,
       count(*)::BIGINT            AS n
FROM t GROUP BY event_type, bucket
"""


def x50_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event_type over irregular ticks
    (operators/timeseries.py): ONE lead window + ONE hash agg — each
    value weighted by its holding interval. Oracle replays the lead
    deltas."""
    from ai_etl_framework_spark.operators.timeseries import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev, "event_type", "ts", "value", "event_id")


_X50_SQL = """
WITH t AS (SELECT event_type, value, ts, event_id FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
d AS (SELECT event_type, value,
             epoch(lead(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)) - epoch(ts) AS dt
      FROM t)
SELECT event_type,
       ROUND(sum(value * dt) / sum(dt), 6) AS twap,
       ROUND(avg(value), 6) AS simple_avg,
       count(*)::BIGINT AS n
FROM d GROUP BY event_type
"""


def x51_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample experiment readout (operators/abtest.py):
    variant derived as user_id % 3 (control/v1/v2), experiment =
    event_type — one (experiment, variant) moment aggregation + a
    broadcast control join; t/dof closed-form. Oracle replays the
    Welch formulas on var_samp."""
    from ai_etl_framework_spark.operators.abtest import ab_test

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    df = ev.select(
        "event_type",
        F.when(F.col("user_id") % 3 == 0, F.lit("control"))
        .when(F.col("user_id") % 3 == 1, F.lit("v1"))
        .otherwise(F.lit("v2"))
        .alias("variant"),
        "value",
    )
    return ab_test(df, "event_type", "variant", "value", control="control")


_X51_SQL = """
WITH base AS (SELECT event_type,
                     CASE WHEN user_id % 3 = 0 THEN 'control'
                          WHEN user_id % 3 = 1 THEN 'v1'
                          ELSE 'v2' END AS variant,
                     value
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                AND value IS NOT NULL),
arms AS (SELECT event_type, variant, count(*)::BIGINT AS n,
                avg(value) AS m, var_samp(value) AS s2
         FROM base GROUP BY event_type, variant),
c AS (SELECT event_type, n AS n_control, m AS m_c, s2 AS s2_c
      FROM arms WHERE variant = 'control'),
v AS (SELECT * FROM arms WHERE variant <> 'control'),
j AS (SELECT v.event_type, v.variant, c.n_control, v.n, v.m, v.s2,
             c.m_c, c.s2_c,
             v.s2 / v.n + c.s2_c / c.n_control AS se2
      FROM v JOIN c ON v.event_type = c.event_type
      WHERE v.n >= 2 AND c.n_control >= 2)
SELECT event_type AS experiment, variant, n_control, n AS n_variant,
       ROUND(m_c, 6) AS mean_control, ROUND(m, 6) AS mean_variant,
       ROUND(m - m_c, 6) AS lift,
       CASE WHEN s2 + s2_c = 0 THEN NULL
            ELSE ROUND((m - m_c) / sqrt(se2), 6) END AS t_stat,
       CASE WHEN s2 + s2_c = 0 THEN NULL
            ELSE ROUND(se2 * se2 /
                 ((s2 / n) * (s2 / n) / (n - 1)
                  + (s2_c / n_control) * (s2_c / n_control)
                    / (n_control - 1)), 6) END AS dof,
       CASE WHEN s2 + s2_c = 0 THEN NULL
            ELSE abs(ROUND((m - m_c) / sqrt(se2), 6)) > 1.96 END
         AS significant
FROM j
"""


def x52_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly scores (operators/anomaly.py
    seasonal_zscore): z against the (event_type, hour-of-week)
    profile — one ≤(types×168)-row baseline aggregation + a broadcast
    join back. Oracle maps DuckDB's 0-based dayofweek to Spark's
    1-based convention."""
    from ai_etl_framework_spark.operators.anomaly import seasonal_zscore

    ev = load_table(spark, sf_dir, "events")
    return seasonal_zscore(
        ev, "ts", "value", key_col="event_type", threshold=3.0
    )


_X52_SQL = """
WITH base AS (SELECT *, (dayofweek(ts) + 1) * 24 + hour(ts) AS season_bucket
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
bl AS (SELECT event_type, season_bucket, avg(value) AS mu,
              stddev_pop(value) AS sd, count(*) AS nn
       FROM base GROUP BY event_type, season_bucket)
SELECT b.event_id, b.ts, b.user_id, b.event_type, b.value, b.props,
       b.season_bucket,
       CASE WHEN bl.nn >= 3 AND bl.sd > 0
            THEN ROUND((b.value - bl.mu) / bl.sd, 6) END AS sz,
       CASE WHEN bl.nn >= 3 AND bl.sd > 0
            THEN abs(ROUND((b.value - bl.mu) / bl.sd, 6)) > 3.0 END
         AS is_anomaly
FROM base b JOIN bl ON b.event_type = bl.event_type
                   AND b.season_bucket = bl.season_bucket
"""


def x53_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Gini concentration of order revenue
    (operators/stats.py gini): one key-partitioned row_number window +
    one hash aggregation; ties need no tiebreak (Σ i·x is invariant
    within tied blocks). Oracle replays the sorted-rank identity."""
    from ai_etl_framework_spark.operators.stats import gini

    orders = load_table(spark, sf_dir, "orders")
    return gini(orders, "o_orderpriority", "o_totalprice")


_X53_SQL = """
WITH base AS (SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS x
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL),
r AS (SELECT g, x,
             CAST(row_number() OVER (PARTITION BY g ORDER BY x)
                  AS DOUBLE) AS i
      FROM base)
SELECT g AS o_orderpriority, count(*)::BIGINT AS n,
       ROUND(sum(x), 2) AS total,
       CASE WHEN sum(x) <> 0
            THEN ROUND(2.0 * sum(i * x) / (count(*) * sum(x))
                       - (count(*) + 1.0) / count(*), 6) END AS gini
FROM r GROUP BY g
"""


def x54_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus provenance per domain (operators/provenance.py
    domain_stats) over a deterministically derived URL column (mixed
    case, www., ports/paths/query noise, unparseable and NULL rows) —
    one regexp projection + one domain-sized aggregation. Oracle runs
    the same RE2-safe host pattern."""
    from ai_etl_framework_spark.operators.provenance import domain_stats

    docs = load_table(spark, sf_dir, "documents")
    url = (
        F.when(F.col("doc_id") % 13 == 0, F.lit("not a url"))
        .when(F.col("doc_id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.when(F.col("doc_id") % 4 == 0, F.lit("HTTPS://WWW."))
                .otherwise(F.lit("https://")),
                F.lit("cdn"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit("."),
                F.col("source"),
                F.lit(".example.org/p/"),
                F.col("doc_id").cast("string"),
                F.when(F.col("doc_id") % 11 == 0, F.lit("?q=1"))
                .otherwise(F.lit("")),
            )
        )
    )
    return domain_stats(
        docs.withColumn("url", url), "url", "text", "lang"
    )


_X54_SQL = r"""
WITH d AS (SELECT *,
             CASE WHEN doc_id % 13 = 0 THEN 'not a url'
                  WHEN doc_id % 17 = 0 THEN NULL
                  ELSE (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
                             ELSE 'https://' END)
                       || 'cdn' || CAST(doc_id % 5 AS VARCHAR) || '.'
                       || source || '.example.org/p/'
                       || CAST(doc_id AS VARCHAR)
                       || (CASE WHEN doc_id % 11 = 0 THEN '?q=1'
                                ELSE '' END)
             END AS url
           FROM documents),
e AS (SELECT lower(COALESCE(regexp_extract(lower(url),
               '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1), '')) AS h0,
             length(COALESCE(text, '')) AS len, lang
      FROM d),
e2 AS (SELECT CASE WHEN regexp_replace(h0, '^www\.', '') <> ''
                   THEN regexp_replace(h0, '^www\.', '') END AS domain,
              len, lang
       FROM e),
tot AS (SELECT count(domain)::BIGINT AS attr,
               count(CASE WHEN domain IS NULL THEN 1 END)::BIGINT AS unattr
        FROM e2)
SELECT domain, count(*)::BIGINT AS n_docs,
       ROUND(count(*) / attr::DOUBLE, 6) AS share,
       ROUND(avg(len), 6) AS avg_chars,
       count(DISTINCT lang)::BIGINT AS n_langs,
       unattr AS n_unattributed
FROM e2 CROSS JOIN tot
WHERE domain IS NOT NULL
GROUP BY domain, attr, unattr
"""


def x55_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record consolidation per customer (operators/
    survivorship.py): latest status by order date (struct max), modal
    priority (per-cluster WindowGroupLimit), max price, earliest date
    — one SortAggregate + one dimension-sized mode pick joined back.
    Oracle mirrors the struct comparison with struct_pack max."""
    from ai_etl_framework_spark.operators.survivorship import golden_record

    orders = load_table(spark, sf_dir, "orders")
    return golden_record(
        orders,
        "o_custkey",
        {
            "o_orderstatus": "latest",
            "o_orderpriority": "mode",
            "o_totalprice": "max",
            "o_orderdate": "min",
        },
        order_col="o_orderdate",
    )


_X55_SQL = """
WITH base AS (SELECT * FROM orders WHERE o_custkey IS NOT NULL),
agg AS (SELECT o_custkey,
          (max(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderdate IS NOT NULL
                    THEN struct_pack(o := o_orderdate, v := o_orderstatus)
               END)).v AS o_orderstatus,
          max(o_totalprice) AS o_totalprice,
          min(o_orderdate) AS o_orderdate
        FROM base GROUP BY o_custkey),
cnts AS (SELECT o_custkey, o_orderpriority, count(*) AS cnt
         FROM base WHERE o_orderpriority IS NOT NULL
         GROUP BY o_custkey, o_orderpriority),
md AS (SELECT o_custkey, o_orderpriority FROM (
         SELECT o_custkey, o_orderpriority,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY cnt DESC, o_orderpriority ASC)
                  AS rk
         FROM cnts) WHERE rk = 1)
SELECT a.o_custkey, a.o_orderstatus, md.o_orderpriority,
       a.o_totalprice, a.o_orderdate
FROM agg a LEFT JOIN md ON a.o_custkey = md.o_custkey
"""


def x56_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table per-key reconciliation (operators/reconcile.py)
    of lineitem vs a derived migrated copy (dropped keys → a_only,
    synthetic keys → b_only, shifted quantities → mismatch): two
    key-collapsing aggregations + one full outer join. Oracle replays
    both sides."""
    from ai_etl_framework_spark.operators.reconcile import reconcile

    li = load_table(spark, sf_dir, "lineitem")
    b = li.where(F.col("l_orderkey") % 97 != 0).withColumn(
        "l_quantity",
        F.when(
            F.col("l_orderkey") % 31 == 0, F.col("l_quantity") + 1.0
        ).otherwise(F.col("l_quantity")),
    )
    extra = li.where(F.col("l_orderkey") % 53 == 0).withColumn(
        "l_orderkey", F.col("l_orderkey") + 500000000
    )
    return reconcile(
        li, b.unionByName(extra), "l_orderkey", "l_quantity"
    )


_X56_SQL = """
WITH a AS (SELECT l_orderkey, sum(l_quantity) AS sum_a,
                  count(*)::BIGINT AS n_a
           FROM lineitem WHERE l_orderkey IS NOT NULL
           GROUP BY l_orderkey),
bsrc AS (SELECT l_orderkey,
                CASE WHEN l_orderkey % 31 = 0 THEN l_quantity + 1.0
                     ELSE l_quantity END AS q
         FROM lineitem WHERE l_orderkey % 97 <> 0
         UNION ALL
         SELECT l_orderkey + 500000000, l_quantity
         FROM lineitem WHERE l_orderkey % 53 = 0),
b AS (SELECT l_orderkey, sum(q) AS sum_b, count(*)::BIGINT AS n_b
      FROM bsrc WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey),
j AS (SELECT COALESCE(a.l_orderkey, b.l_orderkey) AS l_orderkey,
             sum_a, n_a, sum_b, n_b,
             ROUND(COALESCE(sum_a, 0) - COALESCE(sum_b, 0), 6) AS delta
      FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey)
SELECT l_orderkey, ROUND(sum_a, 6) AS sum_a, n_a,
       ROUND(sum_b, 6) AS sum_b, n_b, delta,
       CASE WHEN n_a IS NULL THEN 'b_only'
            WHEN n_b IS NULL THEN 'a_only'
            WHEN delta = 0 AND n_a = n_b THEN 'match'
            ELSE 'mismatch' END AS status
FROM j
"""


def x57_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (operators/sampling.py
    stratified_sample): per-source keep fractions via the shared
    md5-uniform primitive — one projection + filter, no RNG, no join.
    Oracle computes the identical hash bytes (the smp01 twin)."""
    from ai_etl_framework_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.75},
        "doc_id",
        salt="r10",
        default=0.2,
    )


_X57_SQL = """
SELECT * FROM documents
WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0))
                          || 'r10'), 1, 8))::BIGINT / 4294967296.0
      < CASE source WHEN 'src0' THEN 1.0
                    WHEN 'src1' THEN 0.5
                    WHEN 'src2' THEN 0.25
                    WHEN 'src3' THEN 0.75
                    ELSE 0.2 END
"""


def x58_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile diff between two snapshots
    (operators/drift.py profile_drift): orders vs a derived drifted
    copy (rows dropped, prices scaled + partially nulled, one status
    collapsed) — ONE aggregation pass per side, long-format per-column
    report. Oracle builds both 1-row profiles and unions per column."""
    from ai_etl_framework_spark.operators.drift import profile_drift

    orders = load_table(spark, sf_dir, "orders")
    b = orders.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice") * 1.1)
        .alias("o_totalprice"),
        F.when(F.col("o_orderstatus") == "F", F.lit("C"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderpriority",
    )
    return profile_drift(
        orders,
        b,
        numeric_cols=["o_totalprice"],
        categorical_cols=["o_orderstatus", "o_orderpriority"],
    )


_X58_SQL = """
WITH bsrc AS (SELECT o_orderkey,
                CASE WHEN o_orderkey % 7 = 0 THEN NULL
                     ELSE o_totalprice * 1.1 END AS o_totalprice,
                CASE WHEN o_orderstatus = 'F' THEN 'C'
                     ELSE o_orderstatus END AS o_orderstatus,
                o_orderpriority
              FROM orders WHERE o_orderkey % 5 <> 0),
pa AS (SELECT
  ROUND(count(CASE WHEN o_totalprice IS NULL THEN 1 END)
        / count(*)::DOUBLE, 6) AS nr_tp,
  count(DISTINCT o_totalprice)::BIGINT AS nd_tp,
  ROUND(avg(o_totalprice), 6) AS mu_tp,
  ROUND(count(CASE WHEN o_orderstatus IS NULL THEN 1 END)
        / count(*)::DOUBLE, 6) AS nr_st,
  count(DISTINCT o_orderstatus)::BIGINT AS nd_st,
  ROUND(count(CASE WHEN o_orderpriority IS NULL THEN 1 END)
        / count(*)::DOUBLE, 6) AS nr_pr,
  count(DISTINCT o_orderpriority)::BIGINT AS nd_pr
  FROM orders),
pb AS (SELECT
  ROUND(count(CASE WHEN o_totalprice IS NULL THEN 1 END)
        / count(*)::DOUBLE, 6) AS nr_tp,
  count(DISTINCT o_totalprice)::BIGINT AS nd_tp,
  ROUND(avg(o_totalprice), 6) AS mu_tp,
  ROUND(count(CASE WHEN o_orderstatus IS NULL THEN 1 END)
        / count(*)::DOUBLE, 6) AS nr_st,
  count(DISTINCT o_orderstatus)::BIGINT AS nd_st,
  ROUND(count(CASE WHEN o_orderpriority IS NULL THEN 1 END)
        / count(*)::DOUBLE, 6) AS nr_pr,
  count(DISTINCT o_orderpriority)::BIGINT AS nd_pr
  FROM bsrc)
SELECT 'o_totalprice' AS "column", 'numeric' AS kind,
       pa.nr_tp AS null_rate_a, pb.nr_tp AS null_rate_b,
       pa.nd_tp AS n_distinct_a, pb.nd_tp AS n_distinct_b,
       pa.mu_tp AS mean_a, pb.mu_tp AS mean_b,
       ROUND(pb.nr_tp - pa.nr_tp, 6) AS null_rate_delta,
       ROUND(pb.mu_tp - pa.mu_tp, 6) AS mean_delta
FROM pa CROSS JOIN pb
UNION ALL
SELECT 'o_orderstatus', 'categorical', pa.nr_st, pb.nr_st,
       pa.nd_st, pb.nd_st, NULL, NULL,
       ROUND(pb.nr_st - pa.nr_st, 6), NULL
FROM pa CROSS JOIN pb
UNION ALL
SELECT 'o_orderpriority', 'categorical', pa.nr_pr, pb.nr_pr,
       pa.nd_pr, pb.nd_pr, NULL, NULL,
       ROUND(pb.nr_pr - pa.nr_pr, 6), NULL
FROM pa CROSS JOIN pb
"""


def x59_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis deterministic weighted sampling
    (operators/sampling.py weighted_sample): 100 documents drawn
    ∝ n_chars via the md5-uniform key — one projection + distributed
    top-k; the 9dp-rounded key + doc_id tiebreak pin the rank-n
    boundary across engines. Oracle computes the identical key."""
    from ai_etl_framework_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", 100, "doc_id", salt="es")


_X59_SQL = """
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *,
         ROUND(pow(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                                chr(0)) || 'es'),
                                   1, 8))::BIGINT / 4294967296.0,
                   1.0 / CAST(n_chars AS DOUBLE)), 9) AS k
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
ORDER BY k DESC, doc_id ASC
LIMIT 100
"""


def x60_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-quantile normalization per priority class
    (operators/scaling.py quantile_normalize): percent_rank over one
    key-partitioned window; ties share quantiles by definition.
    Oracle is the same percent_rank."""
    from ai_etl_framework_spark.operators.scaling import quantile_normalize

    orders = load_table(spark, sf_dir, "orders")
    return quantile_normalize(
        orders, "o_totalprice", group_col="o_orderpriority"
    )


_X60_SQL = """
SELECT *,
       ROUND(percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC), 6) AS qn
FROM orders
WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
"""


def x61_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-burst alerts per (event_type, hour) vs the trailing
    6-observed-bucket baseline (operators/timeseries.py
    burst_detection): one hash agg to the bucket frame + one
    key-partitioned window over THAT. Oracle replays the frame."""
    from ai_etl_framework_spark.operators.timeseries import burst_detection

    ev = load_table(spark, sf_dir, "events")
    return burst_detection(
        ev, "event_type", "ts", "hour", trailing=6, factor=2.0
    )


_X61_SQL = """
WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                  count(*)::BIGINT AS n
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
w AS (SELECT *,
             avg(n) OVER (PARTITION BY event_type ORDER BY bucket ASC
                          ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS bl,
             count(n) OVER (PARTITION BY event_type ORDER BY bucket ASC
                            ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS np
      FROM c)
SELECT event_type, bucket, n,
       CASE WHEN np >= 3 THEN ROUND(bl, 6) END AS baseline,
       CASE WHEN np >= 3 THEN ROUND(n / bl, 6) END AS ratio,
       CASE WHEN np >= 3 THEN ROUND(n / bl, 6) >= 2.0 END AS is_burst
FROM w
"""


def x62_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + norm profile in long format
    (operators/embstats.py): norms as one codegen expression, the
    per-position explode into ONE hash aggregation, label-sized norm
    scalars broadcast back. Oracle uses unnest + generate_subscripts."""
    from ai_etl_framework_spark.operators.embstats import (
        embedding_label_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_label_stats(emb, "embedding", "label")


_X62_SQL = """
WITH base AS (SELECT label, embedding FROM embeddings
              WHERE label IS NOT NULL AND embedding IS NOT NULL),
nr AS (SELECT label,
              sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       FROM base),
norms AS (SELECT label, count(*)::BIGINT AS n,
                 ROUND(avg(nrm), 6) AS avg_norm,
                 ROUND(stddev_pop(nrm), 6) AS sd_norm
          FROM nr GROUP BY label),
comps AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS comp
          FROM base),
cent AS (SELECT label, CAST(pos AS BIGINT) AS pos,
                ROUND(avg(comp), 6) AS centroid
         FROM comps GROUP BY label, pos)
SELECT cent.label, pos, centroid, n, avg_norm, sd_norm
FROM cent JOIN norms ON cent.label = norms.label
"""


def x63_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (operators/attribution.py):
    purchases credit the user's most recent preceding view/click via
    the repo's as-of join, rolled up per channel. Oracle: DuckDB ASOF
    LEFT JOIN (the q34 pattern)."""
    from ai_etl_framework_spark.operators.attribution import attribution

    ev = load_table(spark, sf_dir, "events")
    return attribution(
        ev, ["purchase"], ["view", "click"], mode="last"
    )


_X63_SQL = """
WITH base AS (SELECT * FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
conv AS (SELECT user_id, ts, value AS val FROM base
         WHERE event_type IN ('purchase')),
touch AS (SELECT user_id, ts, event_type AS channel FROM base
          WHERE event_type IN ('view', 'click')),
j AS (SELECT conv.val, t.channel
      FROM conv ASOF LEFT JOIN touch t
        ON conv.user_id = t.user_id AND conv.ts >= t.ts)
SELECT COALESCE(channel, '(none)') AS channel,
       count(*)::BIGINT AS n_conversions,
       ROUND(sum(val), 6) AS attributed_value
FROM j GROUP BY 1
"""


def x64_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generator (operators/calendar.py date_dim):
    sequence + explode, one codegen projection, no driver loop —
    fixed range so the row is sf-independent. Oracle:
    generate_series with the dayofweek convention mapping."""
    from ai_etl_framework_spark.operators.calendar import date_dim

    return date_dim(spark, "2023-11-20", "2024-03-10")


_X64_SQL = """
SELECT CAST(d AS DATE) AS date,
       year(d)::INT AS year,
       quarter(d)::INT AS quarter,
       month(d)::INT AS month,
       day(d)::INT AS day,
       weekofyear(d)::INT AS iso_week,
       (dayofweek(d) + 1)::INT AS dow,
       (dayofweek(d) + 1) IN (1, 7) AS is_weekend,
       day(d) = 1 AS is_month_start,
       CAST(d AS DATE) = last_day(CAST(d AS DATE)) AS is_month_end
FROM (SELECT unnest(generate_series(DATE '2023-11-20', DATE '2024-03-10',
                                    INTERVAL 1 DAY)) AS d)
"""


def x65_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram PMI collocations (operators/collocations.py):
    shared tokenizer, within-doc adjacent pairs, two hash aggs + two
    vocabulary-sized joins; ordered on the 6dp-rounded score with word
    tiebreaks so the top-k cut is engine-stable. Oracle zips parallel
    unnests of the two token slices."""
    from ai_etl_framework_spark.operators.collocations import (
        pmi_collocations,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", min_count=5, top_k=100)


_X65_SQL = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
uni AS (SELECT unnest(t) AS w FROM toks),
bi AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
       FROM toks WHERE len(t) >= 2),
uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
tot AS (SELECT (SELECT count(*) FROM uni) AS n_tok,
               (SELECT count(*) FROM bi) AS n_bi),
pc AS (SELECT w1, w2, count(*)::BIGINT AS n_pair FROM bi
       GROUP BY w1, w2 HAVING count(*) >= 5)
SELECT w1, w2, n_pair,
       ROUND(ln((n_pair / n_bi)
                / ((ca.c / n_tok) * (cb.c / n_tok))), 6) AS pmi
FROM pc JOIN uc ca ON pc.w1 = ca.w
        JOIN uc cb ON pc.w2 = cb.w
        CROSS JOIN tot
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 100
"""


def x66_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (operators/textstats.py
    readability, vowel-group syllable heuristic): one projection, two
    regexp counts + the shared tokenizer, no shuffle. Oracle counts
    the same RE2 matches via regexp_extract_all."""
    from ai_etl_framework_spark.operators.textstats import readability

    docs = load_table(spark, sf_dir, "documents")
    return readability(docs, "doc_id", "text")


_X66_SQL = f"""
SELECT doc_id,
       len({_TOKS})::BIGINT AS words,
       CASE WHEN len({_TOKS}) > 0 THEN
         greatest(len(regexp_extract_all(lower(COALESCE(text, '')),
                                         '[.!?]+')), 1)::BIGINT
       END AS sentences,
       CASE WHEN len({_TOKS}) > 0 THEN
         len(regexp_extract_all(lower(COALESCE(text, '')),
                                '[aeiouy]+'))::BIGINT
       END AS syllables,
       CASE WHEN len({_TOKS}) > 0 THEN
         ROUND(206.835
               - 1.015 * (len({_TOKS})
                 / greatest(len(regexp_extract_all(
                     lower(COALESCE(text, '')), '[.!?]+')), 1))
               - 84.6 * (len(regexp_extract_all(
                     lower(COALESCE(text, '')), '[aeiouy]+'))
                 / len({_TOKS})), 4)
       END AS flesch
FROM documents
"""


def x67_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event_type
    (operators/timeseries.py seasonal_naive_eval): hourly actuals,
    same-hour-last-week predictions via one calendar-shifted
    self-equi-join on the bucket frame, MAE/MAPE/bias per key. Oracle
    replays the shift join."""
    from ai_etl_framework_spark.operators.timeseries import (
        seasonal_naive_eval,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_naive_eval(
        ev, "event_type", "ts", "value", "hour", season="7 days"
    )


_X67_SQL = """
WITH a AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                  avg(value) AS actual
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1, 2),
p AS (SELECT event_type, bucket + INTERVAL 7 DAY AS bucket,
             actual AS pred
      FROM a),
s AS (SELECT a.event_type, a.actual, p.pred
      FROM a LEFT JOIN p ON a.event_type = p.event_type
                        AND a.bucket = p.bucket)
SELECT event_type, count(*)::BIGINT AS n_buckets,
       count(pred)::BIGINT AS n_scored,
       ROUND(avg(abs(actual - pred)), 6) AS mae,
       ROUND(avg(CASE WHEN actual <> 0
                      THEN abs(actual - pred) / abs(actual) END), 6)
         AS mape,
       ROUND(avg(actual - pred), 6) AS bias
FROM s GROUP BY event_type
"""


def x68_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join sizing (operators/audit.py
    join_cardinality_estimate) for lineitem⋈orders: two key-collapsing
    aggs + a key-count join reduced to one row — the exact join output
    size WITHOUT running the join. Oracle replays the count algebra."""
    from ai_etl_framework_spark.operators.audit import (
        join_cardinality_estimate,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return join_cardinality_estimate(li, orders, "l_orderkey", "o_orderkey")


_X68_SQL = """
WITH fc AS (SELECT l_orderkey AS k, count(*) AS cf FROM lineitem
            WHERE l_orderkey IS NOT NULL GROUP BY 1),
dc AS (SELECT o_orderkey AS k, count(*) AS cd FROM orders
       WHERE o_orderkey IS NOT NULL GROUP BY 1),
fs AS (SELECT COALESCE(sum(cf), 0)::BIGINT AS n_fact,
              count(*)::BIGINT AS keys_fact,
              COALESCE(max(cf), 0)::BIGINT AS max_per_key_fact,
              ROUND(quantile_cont(cf::DOUBLE, 0.99), 6)
                AS p99_per_key_fact
       FROM fc),
ds AS (SELECT COALESCE(sum(cd), 0)::BIGINT AS n_dim,
              count(*)::BIGINT AS keys_dim,
              COALESCE(max(cd), 0)::BIGINT AS max_per_key_dim,
              ROUND(quantile_cont(cd::DOUBLE, 0.99), 6)
                AS p99_per_key_dim
       FROM dc),
m AS (SELECT count(*)::BIGINT AS matched_keys,
             COALESCE(sum(cf * cd), 0)::BIGINT AS est_join_rows
      FROM fc JOIN dc USING (k))
SELECT n_fact, n_dim, keys_fact, keys_dim, matched_keys, est_join_rows,
       max_per_key_fact, p99_per_key_fact, max_per_key_dim,
       p99_per_key_dim
FROM fs CROSS JOIN ds CROSS JOIN m
"""


def x69_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement profile by day-of-week over the session table
    (streaming/sessions.py session_stats_batch): q28's one lag/cumsum
    sessionization + ONE bucket-sized aggregation — bounce rate, mean
    duration/depth, value. Oracle composes q28's session CTEs with
    the dayofweek-convention mapping."""
    from ai_etl_framework_spark.streaming.sessions import (
        session_stats_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    return session_stats_batch(ev, gap_minutes=30.0, by="dow")


_X69_SQL = """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
              ELSE 0 END AS new_s
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s2 AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
),
sess AS (
  SELECT user_id, sess, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events, SUM(value) AS total_value
  FROM s2 GROUP BY user_id, sess
)
SELECT (dayofweek(session_start) + 1)::INT AS dow,
       count(*)::BIGINT AS n_sessions,
       ROUND(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 6)
         AS bounce_rate,
       ROUND(avg(epoch(session_end) - epoch(session_start)), 6)
         AS avg_duration_sec,
       ROUND(avg(n_events::DOUBLE), 6) AS avg_events,
       ROUND(SUM(total_value), 2) AS total_value
FROM sess GROUP BY 1
"""


def x70_heatmap_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D density grid over (l_quantity, l_extendedprice)
    (operators/viz_prep.py heatmap_bins): one bounds agg + one
    (x_bin, y_bin) hash aggregation — the scatter-at-scale surface.
    Oracle repeats the identical floor-bin arithmetic per axis."""
    from ai_etl_framework_spark.operators.viz_prep import heatmap_bins

    li = load_table(spark, sf_dir, "lineitem")
    return heatmap_bins(li, "l_quantity", "l_extendedprice", 10, 12)


_X70_SQL = """
WITH b AS (SELECT MIN(l_quantity) AS xlo, MAX(l_quantity) AS xhi,
                  MIN(l_extendedprice) AS ylo, MAX(l_extendedprice) AS yhi
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
SELECT CAST(LEAST(FLOOR((l_quantity - xlo) / (xhi - xlo) * 10) + 1, 10)
            AS INT) AS x_bin,
       CAST(LEAST(FLOOR((l_extendedprice - ylo) / (yhi - ylo) * 12) + 1, 12)
            AS INT) AS y_bin,
       CAST(COUNT(*) AS BIGINT) AS count
FROM lineitem, b
WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
GROUP BY 1, 2
"""


def st04_burst_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental burst monitor (pipeline/monitor.py):
    events split into two mtime-ordered files, driven through
    readStream → foreachBatch [batch counts MERGE into the persisted
    (key, bucket, n) store] → alert recompute over the store. Counts
    are ADDITIVE, so the final store — and the alert table — is
    independent of micro-batch boundaries: this streaming row carries
    the REAL x61 hash oracle, not a rows-only check (the first
    streaming entry that can). Stream≡batch equality is additionally
    pinned in tests/test_burst_monitor.py."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalBurstMonitor,
    )

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalBurstMonitor(
            spark, root, bucket_unit="hour", trailing=6, factor=2.0
        ),
        lambda mon: mon.alerts(),
    )


def st05_ohlc_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candle service (pipeline/monitor.py
    IncrementalOhlcStore): two mtime-ordered tick files through
    readStream → foreachBatch candle merge (open/close re-reduce via
    their stored BIGINT position keys; high/low/volume/n are plain
    mergeable aggregates) → the public candle table. Mergeability ⇒
    micro-batch-boundary independence ⇒ the row shares x49's hash
    oracle verbatim (the st04 argument). Stream≡batch equality pinned
    in tests/test_burst_monitor.py."""
    from ai_etl_framework_spark.pipeline.monitor import IncrementalOhlcStore

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalOhlcStore(spark, root, bucket_unit="hour"),
        lambda store: store.candles(),
    )


def x71_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty (operators/novelty.py): fraction
    of each doc's distinct 3-shingles appearing in NO other document,
    plus mean ln(df) — one explode, one vocabulary-sized df
    aggregation, unhinted join-back, per-doc reduce. Oracle reuses
    the shared _SHINGLES fragment (list_distinct'd, the dd04
    contract)."""
    from ai_etl_framework_spark.operators.novelty import novelty_scores

    docs = load_table(spark, sf_dir, "documents")
    return novelty_scores(docs, "doc_id", "text", k=3)


_X71_SQL = f"""
WITH s AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shl FROM documents),
e AS (SELECT doc_id, unnest(shl) AS sh FROM s),
dfq AS (SELECT sh, count(*) AS dfr FROM e GROUP BY sh),
per AS (SELECT doc_id, count(*)::BIGINT AS n_shingles,
               ROUND(avg(CASE WHEN dfr = 1 THEN 1.0 ELSE 0.0 END), 6)
                 AS novelty,
               ROUND(avg(ln(dfr::DOUBLE)), 6) AS mean_log_df
        FROM e JOIN dfq USING (sh) GROUP BY doc_id)
SELECT d.doc_id, COALESCE(per.n_shingles, 0)::BIGINT AS n_shingles,
       per.novelty, per.mean_log_df
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per USING (doc_id)
"""


def x72_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day quantity↔price correlation per returnflag
    (operators/timeseries.py rolling_corr): one bucket-mean hash agg
    + one key-partitioned windowed corr over the bucket frame. Oracle
    runs the same windowed sample Pearson."""
    from ai_etl_framework_spark.operators.timeseries import rolling_corr

    li = load_table(spark, sf_dir, "lineitem")
    return rolling_corr(
        li, "l_quantity", "l_extendedprice", ts_col="l_shipdate",
        key_col="l_returnflag", bucket_unit="day", window=14,
        min_periods=5,
    )


_X72_SQL = """
WITH series AS (
  SELECT l_returnflag,
         CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS bucket,
         avg(l_quantity) AS x, avg(l_extendedprice) AS y
  FROM lineitem
  WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1, 2)
SELECT l_returnflag, bucket,
       ROUND(x, 6) AS x_mean, ROUND(y, 6) AS y_mean,
       CASE WHEN count(*) OVER w >= 5
            THEN ROUND(corr(x, y) OVER w, 6) END AS rolling_corr
FROM series
WINDOW w AS (PARTITION BY l_returnflag ORDER BY bucket ASC
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
"""


def x73_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the stopword lang-id against
    the documents table's lang labels (operators/evaluation.py
    classification_report over txt02's predictor): one confusion-cell
    aggregation + class-sized reshapes. Oracle composes txt02's SQL
    with the same confusion algebra."""
    from ai_etl_framework_spark.functions.text import lang_id
    from ai_etl_framework_spark.operators.evaluation import (
        classification_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang"), lang_id(F.col("text")).alias("lang_pred")
    )
    return classification_report(scored, "lang", "lang_pred")


def _x73_sql() -> str:
    return f"""
WITH scored AS (SELECT d.lang AS __y, p.lang_pred AS __p
                FROM documents d JOIN ({_txt02_sql()}) p USING (doc_id)
                WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL),
cells AS (SELECT __y, __p, count(*) AS n FROM scored GROUP BY 1, 2),
classes AS (SELECT DISTINCT __y AS class FROM cells
            UNION SELECT DISTINCT __p FROM cells),
tp AS (SELECT __y AS class, n AS tp FROM cells WHERE __y = __p),
nt AS (SELECT __y AS class, sum(n) AS n_true FROM cells GROUP BY 1),
np AS (SELECT __p AS class, sum(n) AS n_pred FROM cells GROUP BY 1),
tot AS (SELECT COALESCE(sum(CASE WHEN __y = __p THEN n END), 0) AS tp_all,
               sum(n) AS n_all
        FROM cells),
j AS (SELECT c.class,
             COALESCE(n_true, 0)::BIGINT AS n_true,
             COALESCE(n_pred, 0)::BIGINT AS n_pred,
             COALESCE(tp, 0)::BIGINT AS tp,
             tp_all, n_all
      FROM classes c LEFT JOIN nt USING (class)
                     LEFT JOIN np USING (class)
                     LEFT JOIN tp USING (class)
                     CROSS JOIN tot)
SELECT class, n_true, n_pred, tp,
       (n_pred - tp)::BIGINT AS fp,
       (n_true - tp)::BIGINT AS fn,
       ROUND(CASE WHEN n_pred > 0 THEN tp / n_pred::DOUBLE END, 6)
         AS precision,
       ROUND(CASE WHEN n_true > 0 THEN tp / n_true::DOUBLE END, 6)
         AS recall,
       ROUND(CASE WHEN n_pred > 0 AND n_true > 0
                   AND tp / n_pred::DOUBLE + tp / n_true::DOUBLE > 0
                  THEN 2.0 * (tp / n_pred::DOUBLE) * (tp / n_true::DOUBLE)
                       / (tp / n_pred::DOUBLE + tp / n_true::DOUBLE)
             END, 6) AS f1,
       ROUND(tp_all / n_all::DOUBLE, 6) AS accuracy
FROM j
"""


def x74_regression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row regression metrics (operators/evaluation.py
    regression_report) for a derived deterministic predictor of
    o_totalprice — ONE scalar aggregation (MAE/RMSE/R²/bias). Oracle
    repeats the identity-form sums."""
    from ai_etl_framework_spark.operators.evaluation import (
        regression_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    scored = orders.select(
        F.col("o_totalprice").alias("actual"),
        (
            F.col("o_totalprice")
            * (F.lit(0.9) + (F.col("o_orderkey") % 21) / F.lit(100.0))
        ).alias("pred"),
    )
    return regression_report(scored, "actual", "pred")


_X74_SQL = """
WITH scored AS (SELECT o_totalprice AS actual,
                       o_totalprice * (0.9 + (o_orderkey % 21) / 100.0)
                         AS pred
                FROM orders
                WHERE o_totalprice IS NOT NULL),
base AS (SELECT actual, pred, actual - pred AS err FROM scored)
SELECT count(*)::BIGINT AS n,
       ROUND(avg(abs(err)), 6) AS mae,
       ROUND(sqrt(avg(err * err)), 6) AS rmse,
       ROUND(CASE WHEN ROUND(sum(actual * actual)
                             - sum(actual) * sum(actual) / count(*), 9) > 0
                  THEN 1.0 - sum(err * err)
                        / (sum(actual * actual)
                           - sum(actual) * sum(actual) / count(*))
             END, 6) AS r2,
       ROUND(avg(err), 6) AS bias
FROM base
"""


def x75_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per event_type (operators/evaluation.py ndcg_at_k):
    system ranking by value, graded relevance derived from event_id —
    two WindowGroupLimit rank passes + one per-query reduce. Oracle
    replays both rankings."""
    from ai_etl_framework_spark.operators.evaluation import ndcg_at_k

    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "event_type",
        "event_id",
        "value",
        (
            F.when(F.col("event_id") % 5 == 0, 2)
            .when(F.col("event_id") % 5 == 1, 1)
            .otherwise(0)
        ).cast("int").alias("rel"),
    )
    return ndcg_at_k(scored, "event_type", "event_id", "value", "rel", k=10)


_X75_SQL = """
WITH scored AS (SELECT event_type, event_id, value,
                       CASE WHEN event_id % 5 = 0 THEN 2
                            WHEN event_id % 5 = 1 THEN 1
                            ELSE 0 END AS rel
                FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL),
ranked AS (SELECT event_type, rel::DOUBLE AS rel,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id ASC)
                    AS r_sys,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY rel DESC, event_id ASC)
                    AS r_ideal
           FROM scored)
SELECT event_type,
       ROUND(
         CASE WHEN sum(CASE WHEN r_ideal <= 10
                            THEN rel / log2(r_ideal + 1)
                            ELSE 0.0 END) <> 0
              THEN sum(CASE WHEN r_sys <= 10
                            THEN rel / log2(r_sys + 1)
                            ELSE 0.0 END)
                   / sum(CASE WHEN r_ideal <= 10
                              THEN rel / log2(r_ideal + 1)
                              ELSE 0.0 END)
         END, 6) AS ndcg,
       count(*)::BIGINT AS n_docs
FROM ranked GROUP BY event_type
"""


def x76_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank per event_type at k=10 (operators/evaluation.py
    mrr_at_k): first relevant result's 1/rank in the value ordering,
    0 when none makes the cut — one rank pass + one per-query reduce.
    Oracle replays the rank window (x75's derived relevance)."""
    from ai_etl_framework_spark.operators.evaluation import mrr_at_k

    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "event_type",
        "event_id",
        "value",
        (
            F.when(F.col("event_id") % 5 == 0, 2)
            .when(F.col("event_id") % 5 == 1, 1)
            .otherwise(0)
        ).cast("int").alias("rel"),
    )
    return mrr_at_k(scored, "event_type", "event_id", "value", "rel", k=10)


_X76_SQL = """
WITH scored AS (SELECT event_type, event_id, value,
                       CASE WHEN event_id % 5 = 0 THEN 2
                            WHEN event_id % 5 = 1 THEN 1
                            ELSE 0 END AS rel
                FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL),
ranked AS (SELECT event_type, rel::DOUBLE AS rel,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id ASC)
                    AS r
           FROM scored)
SELECT event_type,
       ROUND(COALESCE(1.0 / min(CASE WHEN rel > 0 AND r <= 10 THEN r END),
                      0.0), 6) AS rr,
       count(*)::BIGINT AS n_docs
FROM ranked GROUP BY event_type
"""


def x77_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-fulfillment survival (operators/
    survival.py): subjects = orders — duration = days from order date
    to the LAST lineitem ship date, observed = 1 for fully-shipped
    orders (o_orderstatus = 'F'), open/partial orders censored at
    their last observed ship; cohort = order year. One subject
    aggregation + curve-frame windows; the oracle replays the
    estimator with the same zero-flag arithmetic."""
    from ai_etl_framework_spark.operators.survival import kaplan_meier

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    shipped = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("__last_ship")
    )
    subjects = orders.join(
        shipped, orders.o_orderkey == shipped.l_orderkey, "inner"
    ).select(
        F.year("o_orderdate").cast("int").alias("cohort"),
        F.datediff(F.col("__last_ship"), F.col("o_orderdate"))
        .cast("double")
        .alias("duration"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias(
            "observed"
        ),
    )
    return kaplan_meier(
        subjects, "duration", "observed", group_cols=["cohort"]
    )


_X77_SQL = """
WITH shipped AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
                 FROM lineitem GROUP BY l_orderkey),
subj AS (SELECT year(o_orderdate)::INT AS cohort,
                date_diff('day', o_orderdate::DATE,
                          last_ship::DATE)::DOUBLE AS duration,
                CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                  AS observed
         FROM orders JOIN shipped ON o_orderkey = l_orderkey),
filt AS (SELECT * FROM subj
         WHERE duration IS NOT NULL AND duration >= 0),
agg AS (SELECT cohort, duration AS t,
               sum(observed)::BIGINT AS n_events,
               (count(*) - sum(observed))::BIGINT AS n_censored
        FROM filt GROUP BY cohort, duration),
risked AS (SELECT *,
                  sum(n_events + n_censored) OVER
                    (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    ::BIGINT AS n_risk
           FROM agg),
curved AS (SELECT *,
                  sum(CASE WHEN n_events > 0
                            AND n_events::DOUBLE < n_risk::DOUBLE
                           THEN ln(1.0 - n_events::DOUBLE
                                         / n_risk::DOUBLE)
                           ELSE 0.0 END) OVER
                    (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_ln,
                  max(CASE WHEN n_events > 0
                            AND n_events::DOUBLE >= n_risk::DOUBLE
                           THEN 1 ELSE 0 END) OVER
                    (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_zero
           FROM risked)
SELECT cohort, t, n_risk, n_events, n_censored,
       CASE WHEN cum_zero = 1 THEN 0.0
            ELSE ROUND(exp(cum_ln), 6) END AS survival
FROM curved WHERE n_events > 0
"""


def x78_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (operators/sequences.py
    transition_matrix): P(next event type | current) from consecutive
    within-user event pairs ordered by (ts, event_id). One user-keyed
    window + one pair-count hash agg; the probability window runs over
    the |states|² frame."""
    from ai_etl_framework_spark.operators.sequences import (
        transition_matrix,
    )

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev)


_X78_SQL = """
WITH base AS (SELECT user_id, ts, event_type, event_id FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL),
pairs AS (SELECT event_type AS src,
                 lead(event_type) OVER
                   (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) AS dst
          FROM base),
counts AS (SELECT src, dst, count(*)::BIGINT AS n FROM pairs
           WHERE dst IS NOT NULL GROUP BY src, dst)
SELECT src, dst, n,
       ROUND(n::DOUBLE / sum(n) OVER (PARTITION BY src), 6) AS prob
FROM counts
"""


def x79_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence + Cramér's V (operators/stats.py
    chi_square) between order status and priority: one contingency
    hash agg + dimension-sized broadcast joins; the observed-cells
    identity χ² = n(Σ o²/(ra·cb) − 1) covers zero cells without
    generating them."""
    from ai_etl_framework_spark.operators.stats import chi_square

    orders = load_table(spark, sf_dir, "orders")
    return chi_square(orders, "o_orderstatus", "o_orderpriority")


_X79_SQL = """
WITH base AS (SELECT o_orderstatus::VARCHAR AS a,
                     o_orderpriority::VARCHAR AS b
              FROM orders
              WHERE o_orderstatus IS NOT NULL
                AND o_orderpriority IS NOT NULL),
cells AS (SELECT a, b, count(*)::DOUBLE AS o FROM base GROUP BY a, b),
rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
agg AS (SELECT sum(o)::BIGINT AS n,
               sum(o * o / (ra * cb)) AS s,
               count(DISTINCT cells.a)::BIGINT AS a_levels,
               count(DISTINCT cells.b)::BIGINT AS b_levels
        FROM cells JOIN rt USING (a) JOIN ct USING (b))
SELECT n, a_levels, b_levels,
       ((a_levels - 1) * (b_levels - 1))::BIGINT AS dof,
       ROUND(greatest(n * (s - 1.0), 0.0), 6) AS chi2,
       CASE WHEN least(a_levels, b_levels) > 1
            THEN ROUND(sqrt(greatest(n * (s - 1.0), 0.0)
                            / (n * least(a_levels - 1, b_levels - 1))),
                       6) END AS cramers_v
FROM agg
"""


def x80_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (operators/audit.py benford_audit)
    over lineitem extended prices: digit via %.6e string formatting
    (identical IEEE rendering in both engines — floor(log10) is a
    last-ulp coin flip at decade boundaries), χ²/MAD conformity
    riders on every row."""
    from ai_etl_framework_spark.operators.audit import benford_audit

    li = load_table(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


_X80_SQL = """
WITH vals AS (SELECT abs(l_extendedprice) AS v FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND isfinite(l_extendedprice)
                AND abs(l_extendedprice) > 0),
d AS (SELECT substring(printf('%.6e', v), 1, 1)::BIGINT AS digit
      FROM vals),
counts AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
spine AS (SELECT range::BIGINT AS digit FROM range(1, 10)),
dig AS (SELECT spine.digit, coalesce(n, 0)::BIGINT AS n
        FROM spine LEFT JOIN counts USING (digit)),
w AS (SELECT digit, n,
             sum(n) OVER ()::DOUBLE AS total,
             log10(1.0 + 1.0 / digit::DOUBLE) AS ep
      FROM dig),
w2 AS (SELECT digit, n, ep, total,
              CASE WHEN total > 0 THEN n::DOUBLE / total END AS op
       FROM w)
SELECT digit, n,
       ROUND(op, 6) AS observed_p,
       ROUND(ep, 6) AS expected_p,
       ROUND(total * sum((op - ep) * (op - ep) / ep) OVER (), 6)
         AS chi2,
       ROUND(avg(abs(op - ep)) OVER (), 6) AS mad
FROM w2
"""


def x81_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA (operators/timeseries.py ewma) of the daily
    mean value per event type — alpha 0.3, 20 trailing observed
    buckets, pandas adjust=True renormalization at the series head.
    One hash agg to the bucket frame + one window over that; the
    oracle replays the identical lag-chain arithmetic with the same
    float weight literals."""
    from ai_etl_framework_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    return ewma(
        ev,
        value_col="value",
        ts_col="ts",
        key_col="event_type",
        bucket_unit="day",
        alpha=0.3,
        n_terms=20,
    )


def _x81_sql() -> str:
    r = 1.0 - 0.3
    num = []
    den = []
    for j in range(20):
        lx = "x" if j == 0 else f"lag(x, {j}) OVER w"
        wj = repr(r ** j)
        num.append(f"coalesce(({lx}) * {wj}, 0.0)")
        den.append(f"CASE WHEN ({lx}) IS NOT NULL THEN {wj} ELSE 0.0 END")
    return f"""
WITH series AS (SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                       avg(value) AS x
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type IS NOT NULL
                GROUP BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
SELECT event_type, bucket, ROUND(x, 6) AS x_mean,
       ROUND(({' + '.join(num)})
             / ({' + '.join(den)}), 6) AS ewma
FROM series
WINDOW w AS (PARTITION BY event_type ORDER BY bucket ASC)
"""


def x82_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the resample grid (operators/
    resample.py resample_interpolate — pandas interpolate('time') at
    scale): per-user hourly MEAN purchase value, gaps filled
    time-proportionally between observed neighbors, leading gaps
    NULL, trailing gaps held. The oracle replays grid → IGNORE NULLS
    neighbor edges → the same proportional arithmetic."""
    from ai_etl_framework_spark.operators.resample import (
        resample_interpolate,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    return resample_interpolate(
        ev, "user_id", "ts", "value", step="1 hour", agg="avg"
    )


_X82_SQL = """
WITH obs AS (
  SELECT user_id AS key, date_trunc('hour', ts) AS b, avg(value) AS x,
         count(*) AS n
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type = 'purchase'
  GROUP BY 1, 2),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM obs GROUP BY key),
grid AS (SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
         FROM spans),
j AS (SELECT g.key, g.b, o.x, o.n
      FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.b = o.b),
wv AS (SELECT key, b, x, n,
              last_value(x IGNORE NULLS) OVER wp AS pv,
              last_value(CASE WHEN x IS NOT NULL THEN b END
                         IGNORE NULLS) OVER wp AS pt,
              first_value(x IGNORE NULLS) OVER wn AS nv,
              first_value(CASE WHEN x IS NOT NULL THEN b END
                          IGNORE NULLS) OVER wn AS nt
       FROM j
       WINDOW wp AS (PARTITION BY key ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wn AS (PARTITION BY key ORDER BY b
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
interp AS (SELECT key, b, n,
                   CASE WHEN x IS NOT NULL THEN x
                        WHEN pv IS NULL THEN NULL
                        WHEN nv IS NULL THEN pv
                        ELSE pv + (nv - pv) * ((epoch(b) - epoch(pt))
                                             / (epoch(nt) - epoch(pt)))
                   END AS v
            FROM wv)
SELECT key AS user_id, b AS bucket_start,
       sign(v) * floor(abs(v) * 1000000.0 + 0.5) / 1000000.0 AS value,
       n IS NULL AS filled
FROM interp
"""


def x83_level_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided windowed mean-shift screen (operators/timeseries.py
    level_shifts): per event type's daily-mean series, compare the 7
    buckets before vs the 7 from the current bucket on, score by the
    per-key sample stddev, flag |rounded score| > 1. All windows run
    over the aggregated bucket frame; full windows only."""
    from ai_etl_framework_spark.operators.timeseries import level_shifts

    ev = load_table(spark, sf_dir, "events")
    return level_shifts(
        ev,
        value_col="value",
        ts_col="ts",
        key_col="event_type",
        bucket_unit="day",
        k=7,
        threshold=1.0,
    )


_X83_SQL = """
WITH series AS (SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS bucket,
                       avg(value) AS x
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type IS NOT NULL
                GROUP BY 1, 2),
w AS (SELECT event_type, bucket,
             avg(x) OVER wb AS b,
             avg(x) OVER wa AS a,
             count(x) OVER wb AS nb,
             count(x) OVER wa AS na,
             stddev_samp(x) OVER wl AS sd
      FROM series
      WINDOW wb AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
             wa AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING),
             wl AS (PARTITION BY event_type)),
scored AS (SELECT event_type, bucket, b, a, nb, na,
                  ROUND(CASE WHEN sd > 0 THEN (a - b) / sd END, 6)
                    AS score
           FROM w)
SELECT event_type, bucket,
       ROUND(b, 6) AS before_mean,
       ROUND(a, 6) AS after_mean,
       ROUND(a - b, 6) AS shift,
       score,
       abs(score) > 1.0 AS is_shift
FROM scored WHERE nb = 7 AND na = 7
"""


def x84_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift (operators/drift.py
    ks_drift): first half of the month vs the second, on values
    quantized to 2dp first (the operator's own at-scale advice: KS on
    raw continuous doubles makes the distinct-value frame
    corpus-sized). One hash agg per side + one ordered window over
    the distinct-value frame."""
    from ai_etl_framework_spark.operators.drift import ks_drift

    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.round("value", 2).alias("v")
    )
    cut = "2024-01-16"
    base = ev.where(F.col("ts") < F.lit(cut).cast("timestamp"))
    cur = ev.where(F.col("ts") >= F.lit(cut).cast("timestamp"))
    return ks_drift(base, cur, "v")


_X84_SQL = """
WITH b AS (SELECT round(value, 2) AS v FROM events
           WHERE value IS NOT NULL
             AND ts < TIMESTAMP '2024-01-16'),
c AS (SELECT round(value, 2) AS v FROM events
      WHERE value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-16'),
bc AS (SELECT v, count(*) AS c1 FROM b GROUP BY v),
cc AS (SELECT v, count(*) AS c2 FROM c GROUP BY v),
u AS (SELECT coalesce(bc.v, cc.v) AS v,
             coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
      FROM bc FULL OUTER JOIN cc ON bc.v = cc.v),
w AS (SELECT sum(c1) OVER ()::DOUBLE AS n1,
             sum(c2) OVER ()::DOUBLE AS n2,
             CASE WHEN sum(c1) OVER () > 0 AND sum(c2) OVER () > 0
                  THEN abs(sum(c1) OVER wo::DOUBLE
                             / sum(c1) OVER ()::DOUBLE
                           - sum(c2) OVER wo::DOUBLE
                             / sum(c2) OVER ()::DOUBLE)
             END AS gap
      FROM u
      WINDOW wo AS (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
agg AS (SELECT max(n1)::BIGINT AS n_base, max(n2)::BIGINT AS n_cur,
               max(gap) AS d
        FROM w)
SELECT n_base, n_cur, ROUND(d, 6) AS ks_d,
       ROUND(CASE WHEN d IS NOT NULL THEN
               least(1.0, 2.0 * exp(-2.0
                 * (n_base::DOUBLE * n_cur::DOUBLE
                    / (n_base + n_cur)::DOUBLE)
                 * d * d))
             END, 6) AS p_approx
FROM agg
"""


def x85_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (operators/timeseries.py acf): lags
    1..7 of each event type's daily-mean series — one bucket agg, one
    lag-chain window pass, one corr-per-lag aggregation, exploded to
    long format. The oracle replays the identical lag frame with
    UNION ALL per lag."""
    from ai_etl_framework_spark.operators.timeseries import acf

    ev = load_table(spark, sf_dir, "events")
    return acf(
        ev,
        value_col="value",
        ts_col="ts",
        key_col="event_type",
        bucket_unit="day",
        max_lag=7,
    )


def _x85_sql() -> str:
    lags = range(1, 8)
    lag_cols = ",\n                 ".join(
        f"lag(x, {l}) OVER w AS l{l}" for l in lags
    )
    agg_cols = ",\n               ".join(
        f"corr(x, l{l}) AS a{l}, count(l{l})::BIGINT AS n{l}"
        for l in lags
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT event_type, {l}::INT AS lag, ROUND(a{l}, 6) AS acf, "
        f"n{l} AS n_pairs FROM agg"
        for l in lags
    )
    return f"""
WITH series AS (SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS bucket,
                       avg(value) AS x
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type IS NOT NULL
                GROUP BY 1, 2),
lagged AS (SELECT event_type, x,
                 {lag_cols}
           FROM series
           WINDOW w AS (PARTITION BY event_type ORDER BY bucket ASC)),
agg AS (SELECT event_type,
               {agg_cols}
        FROM lagged GROUP BY event_type)
{selects}
"""


def x86_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (operators/activity.py
    rolling_active_users): the sweep-line rewrite — per-user coverage
    islands emit ±1 deltas, the day spine prefix-sums them — verified
    against the NAIVE per-day COUNT(DISTINCT) oracle, so the rewrite
    is checked against the definition, not itself."""
    from ai_etl_framework_spark.operators.activity import (
        rolling_active_users,
    )

    ev = load_table(spark, sf_dir, "events")
    return rolling_active_users(ev, window_days=7)


_X86_SQL = """
WITH days AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM days),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
            AS day
          FROM bounds)
SELECT day, count(DISTINCT u)::BIGINT AS active_users
FROM spine LEFT JOIN days ON d >= day - 6 AND d <= day
GROUP BY day
"""


def st06_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling-active-users service (pipeline/monitor.py
    IncrementalActiveUsers): two mtime-ordered event files through
    readStream → foreachBatch [batch's distinct (user, day) pairs
    merge into the persisted activity store — union+distinct is
    idempotent AND commutative, so the store is boundary- and
    replay-independent] → sweep-line curve. Carries x86's REAL hash
    oracle (the naive per-day COUNT DISTINCT definition)."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalActiveUsers,
    )

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalActiveUsers(spark, root, window_days=7),
        lambda mon: mon.curve(),
    )


def x87_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlation (operators/stats.py
    spearman_matrix): avg ranks via the distinct-value identity — the
    rank map is a window over the per-column VALUE-COUNT frame (never
    the corpus) and broadcasts back; all pairs reduce in one
    corr_matrix-style pass. Price quantized to whole units so the
    value frame stays range-bounded (~104k distinct at ANY sf — the
    ks_drift quantize-first convention)."""
    from ai_etl_framework_spark.operators.stats import spearman_matrix

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round("l_extendedprice", 0).alias("price"),
        F.col("l_quantity").alias("qty"),
        F.col("l_discount").alias("disc"),
    )
    return spearman_matrix(li, ["price", "qty", "disc"])


_X87_SQL = """
WITH base AS (SELECT round(l_extendedprice, 0) AS price,
                     l_quantity AS qty, l_discount AS disc
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
mp AS (SELECT v, cum - c + (c + 1) / 2.0 AS r FROM (
         SELECT price AS v, count(*) AS c,
                sum(count(*)) OVER (ORDER BY price ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM base GROUP BY price)),
mq AS (SELECT v, cum - c + (c + 1) / 2.0 AS r FROM (
         SELECT qty AS v, count(*) AS c,
                sum(count(*)) OVER (ORDER BY qty ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM base GROUP BY qty)),
md AS (SELECT v, cum - c + (c + 1) / 2.0 AS r FROM (
         SELECT disc AS v, count(*) AS c,
                sum(count(*)) OVER (ORDER BY disc ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM base GROUP BY disc)),
ranked AS (SELECT mp.r AS rp, mq.r AS rq, md.r AS rd
           FROM base b
           JOIN mp ON b.price = mp.v
           JOIN mq ON b.qty = mq.v
           JOIN md ON b.disc = md.v)
SELECT 'disc' AS col_a, 'price' AS col_b,
       round(corr(rd, rp), 6) AS spearman, count(*)::BIGINT AS n
FROM ranked
UNION ALL
SELECT 'disc', 'qty', round(corr(rd, rq), 6), count(*)::BIGINT
FROM ranked
UNION ALL
SELECT 'price', 'qty', round(corr(rp, rq), 6), count(*)::BIGINT
FROM ranked
"""


def x88_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (operators/abtest.py
    mann_whitney): click vs purchase event values (2dp-quantized, the
    ks_drift convention) — tie-corrected normal approximation, both
    engines evaluating the identical Zelen–Severo tail polynomial so
    the p-value parity is arithmetic, not library."""
    from ai_etl_framework_spark.operators.abtest import mann_whitney

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("v")
    )
    return mann_whitney(ev, "event_type", "v", "click", "purchase")


_X88_SQL = """
WITH base AS (SELECT event_type AS g, round(value, 2) AS v FROM events
              WHERE value IS NOT NULL
                AND event_type IN ('click', 'purchase')),
vc AS (SELECT v,
              sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::DOUBLE AS ca,
              sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
                AS cb
       FROM base GROUP BY v),
rk AS (SELECT ca, cb, ca + cb AS t,
              sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)
                - (ca + cb) + (ca + cb + 1) / 2.0 AS r
       FROM vc),
agg AS (SELECT sum(ca) AS na, sum(cb) AS nb, sum(ca * r) AS ra,
               sum(t * t * t - t) AS ties
        FROM rk),
calc AS (SELECT na, nb,
                ra - na * (na + 1.0) / 2.0 AS ua,
                na * nb / 12.0 * ((na + nb + 1.0)
                  - ties / ((na + nb) * (na + nb - 1.0))) AS s2
         FROM agg),
zc AS (SELECT na, nb, ua, s2,
              (ua - na * nb / 2.0) / sqrt(s2) AS z
       FROM calc),
pc AS (SELECT na, nb, ua, s2, z, abs(z) AS x,
              1.0 / (1.0 + 0.2316419 * abs(z)) AS tt
       FROM zc)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       CASE WHEN na > 0 AND nb > 0 THEN ua END AS u_a,
       CASE WHEN na > 0 AND nb > 0 AND s2 > 0 THEN round(z, 6) END AS z,
       CASE WHEN na > 0 AND nb > 0 AND s2 > 0 THEN
         round(least(1.0,
           2.0 * (exp(-x * x / 2.0) / sqrt(2.0 * pi()))
               * (tt * (0.319381530 + tt * (-0.356563782
                   + tt * (1.781477937 + tt * (-1.821255978
                   + tt * 1.330274429)))))), 6) END AS p_approx,
       CASE WHEN na > 0 AND nb > 0 THEN
         round(1.0 - 2.0 * ua / (na * nb), 6) END AS rank_biserial
FROM pc
"""


def x89_cat_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix profile (operators/stats.py
    categorical_entropy): Shannon entropy in bits via the
    H = log2(n) − Σ c·log2(c)/n identity, normalized entropy,
    top-category share, deterministic min-string tie-break on the top
    value. Two dimension-sized hash aggregations, no windows."""
    from ai_etl_framework_spark.operators.stats import categorical_entropy

    docs = load_table(spark, sf_dir, "documents")
    return categorical_entropy(docs, "source", "lang")


_X89_SQL = """
WITH cells AS (SELECT source AS g, lang AS v, count(*)::DOUBLE AS c
               FROM documents
               WHERE source IS NOT NULL AND lang IS NOT NULL
               GROUP BY 1, 2),
pg AS (SELECT g, sum(c)::BIGINT AS n, count(*)::BIGINT AS levels,
              sum(c * log2(c)) AS clogc, max(c) AS top
       FROM cells GROUP BY g),
tops AS (SELECT cells.g, min(v) AS top_value
         FROM cells JOIN pg ON cells.g = pg.g AND cells.c = pg.top
         GROUP BY cells.g)
SELECT pg.g AS source, n, levels,
       round(log2(n::DOUBLE) - clogc / n::DOUBLE, 6) AS entropy_bits,
       round(CASE WHEN levels > 1 THEN
         (log2(n::DOUBLE) - clogc / n::DOUBLE)
           / log2(levels::DOUBLE) END, 6) AS norm_entropy,
       round(top / n::DOUBLE, 6) AS top_share,
       top_value
FROM pg JOIN tops ON pg.g = tops.g
"""


def x90_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (operators/rfm.py rfm_segments): one hash agg
    to the customer frame, deterministic (metric, custkey) NTILE
    quintiles, classic (r, f) segment labels, segment-level output.
    The oracle replays the identical NTILE orderings and label
    table."""
    from ai_etl_framework_spark.operators.rfm import rfm_segments

    orders = load_table(spark, sf_dir, "orders")
    return rfm_segments(orders, "o_custkey", "o_orderdate", "o_totalprice")


_X90_SQL = """
WITH base AS (SELECT o_custkey, o_orderdate, o_totalprice FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_totalprice IS NOT NULL),
cust AS (SELECT o_custkey AS c,
                date_diff('day', max(o_orderdate),
                          (SELECT max(o_orderdate) FROM base))::BIGINT
                  AS rec,
                count(*)::BIGINT AS freq,
                sum(o_totalprice) AS mon
         FROM base GROUP BY o_custkey),
scored AS (SELECT rec, freq, mon,
                  ntile(5) OVER (ORDER BY rec DESC, c ASC) AS r_score,
                  ntile(5) OVER (ORDER BY freq ASC, c ASC) AS f_score,
                  ntile(5) OVER (ORDER BY mon ASC, c ASC) AS m_score
           FROM cust)
SELECT r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score = 3 AND f_score >= 4 THEN 'loyal'
            WHEN r_score >= 4 AND f_score <= 3 THEN 'promising'
            WHEN r_score = 3 AND f_score <= 3 THEN 'needs_attention'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            ELSE 'hibernating' END AS segment,
       count(*)::BIGINT AS n_customers,
       round(avg(rec), 6) AS avg_recency_days,
       round(avg(freq), 6) AS avg_frequency,
       round(avg(mon), 6) AS avg_monetary,
       round(sum(mon), 2) AS total_monetary
FROM scored GROUP BY 1, 2, 3
"""


def x91_weighted_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted percentiles (operators/scaling.py
    weighted_percentiles): quantity-weighted p25/p50/p75 of the
    order-line price per return flag — the inverse weighted ECDF
    (lower quantile, no interpolation) over a (group, value) weight
    cell frame. Price quantized to whole units (the spearman/ks
    range-bound convention); quantities are integer-valued so the
    cumulative-weight comparison is exact in both engines."""
    from ai_etl_framework_spark.operators.scaling import (
        weighted_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_extendedprice", 0).alias("price"),
        "l_quantity",
    )
    return weighted_percentiles(li, "l_returnflag", "price", "l_quantity")


_X91_SQL = """
WITH base AS (SELECT l_returnflag AS g, round(l_extendedprice, 0) AS v,
                     l_quantity AS w
              FROM lineitem
              WHERE l_returnflag IS NOT NULL
                AND l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL AND l_quantity > 0),
cells AS (SELECT g, v, sum(w)::DOUBLE AS w, count(*)::BIGINT AS n
          FROM base GROUP BY g, v),
cum AS (SELECT g, v, n,
               sum(w) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(w) OVER (PARTITION BY g) AS tw
        FROM cells)
SELECT g AS l_returnflag, sum(n)::BIGINT AS n,
       round(max(tw), 6) AS total_weight,
       min(CASE WHEN cw >= 0.25 * tw THEN v END) AS p25,
       min(CASE WHEN cw >= 0.5 * tw THEN v END) AS p50,
       min(CASE WHEN cw >= 0.75 * tw THEN v END) AS p75
FROM cum GROUP BY g
"""


def x92_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per order priority
    (operators/timeseries.py period_growth): one hash agg to the
    (key, month) frame + one lag window over THAT frame; growth NULL
    on the first observed bucket and on prev = 0."""
    from ai_etl_framework_spark.operators.timeseries import period_growth

    orders = load_table(spark, sf_dir, "orders")
    return period_growth(
        orders, "o_orderdate", "o_totalprice", key_col="o_orderpriority"
    )


_X92_SQL = """
WITH base AS (SELECT o_orderpriority AS k,
                     date_trunc('month', o_orderdate) AS b,
                     o_totalprice AS v
              FROM orders
              WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL),
series AS (SELECT k, b, sum(v) AS t FROM base GROUP BY k, b),
lagged AS (SELECT k, b, t,
                  lag(t) OVER (PARTITION BY k ORDER BY b) AS p
           FROM series)
SELECT k AS o_orderpriority, CAST(b AS TIMESTAMP) AS bucket,
       round(t, 2) AS total, round(p, 2) AS prev_total,
       round(CASE WHEN p IS NOT NULL AND p <> 0
                  THEN 100.0 * (t - p) / p END, 6) AS growth_pct
FROM lagged
"""


def x93_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves (operators/retention.py cohort_ltv):
    cohort_retention's revenue twin — per-(user, month) revenue agg,
    min() cohort window over that frame, dimension-sized (cohort,
    offset) matrix with a cumulative window and broadcast size
    join-back."""
    from ai_etl_framework_spark.operators.retention import cohort_ltv

    orders = load_table(spark, sf_dir, "orders")
    return cohort_ltv(
        orders, "o_custkey", "o_orderdate", "o_totalprice", period="month"
    )


_X93_SQL = """
WITH base AS (SELECT o_custkey AS u,
                     date_trunc('month', o_orderdate)::DATE AS p,
                     o_totalprice AS a
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_totalprice IS NOT NULL),
per_up AS (SELECT u, p, sum(a) AS rev FROM base GROUP BY u, p),
j AS (SELECT u, p, rev, min(p) OVER (PARTITION BY u) AS cohort
      FROM per_up),
cells AS (SELECT cohort,
                 ((date_part('year', p) - date_part('year', cohort)) * 12
                  + (date_part('month', p) - date_part('month', cohort)))
                   ::BIGINT AS off,
                 count(DISTINCT u)::BIGINT AS n_active,
                 sum(rev) AS r
          FROM j GROUP BY 1, 2),
cum AS (SELECT cohort, off, n_active, r,
               sum(r) OVER (PARTITION BY cohort ORDER BY off ROWS
                 BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM cells),
sizes AS (SELECT cohort, n_active AS size FROM cells WHERE off = 0)
SELECT cum.cohort AS cohort, off AS "offset", size AS cohort_size,
       n_active, round(r, 2) AS revenue, round(c, 2) AS cum_revenue,
       round(c / size, 6) AS ltv_per_user
FROM cum JOIN sizes ON cum.cohort = sizes.cohort
"""


def x94_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival rhythm profile (operators/timeseries.py
    interarrival_stats): per-event-type gap mean/sd/cv + Goh–Barabási
    burstiness via one lag window + one hash agg; tied timestamps are
    order-invariant zero gaps."""
    from ai_etl_framework_spark.operators.timeseries import (
        interarrival_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    return interarrival_stats(ev, "event_type", "ts")


_X94_SQL = """
WITH e AS (SELECT event_type AS k, ts FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
g AS (SELECT k, epoch(ts) - lag(epoch(ts)) OVER
               (PARTITION BY k ORDER BY ts) AS gap
      FROM e),
gg AS (SELECT k, gap FROM g WHERE gap IS NOT NULL),
agg AS (SELECT k, count(*)::BIGINT AS n_gaps, avg(gap) AS m,
               stddev_samp(gap) AS s, min(gap) AS mn, max(gap) AS mx
        FROM gg GROUP BY k)
SELECT k AS event_type, n_gaps,
       round(m, 6) AS mean_gap_s, round(s, 6) AS sd_gap_s,
       round(CASE WHEN m <> 0 AND s IS NOT NULL THEN s / m END, 6)
         AS cv,
       round(CASE WHEN s IS NOT NULL AND (s + m) <> 0
                  THEN (s - m) / (s + m) END, 6) AS burstiness,
       mn AS min_gap_s, mx AS max_gap_s
FROM agg
"""


def x95_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantiles (operators/scaling.py binned_quantiles):
    p50/p95/p99 of event values per type over a width-5 additive bin
    store — one hash agg to the (key, bin) frame, windows/joins over
    THAT frame only (the q fan-out explodes bins, not the corpus).
    The mergeable quantile form the streaming service (st07) persists."""
    from ai_etl_framework_spark.operators.scaling import binned_quantiles

    ev = load_table(spark, sf_dir, "events")
    return binned_quantiles(
        ev, "value", width=5.0, qs=(0.5, 0.95, 0.99), key_col="event_type"
    )


_X95_SQL = """
WITH base AS (SELECT event_type AS k, value AS v FROM events
              WHERE event_type IS NOT NULL AND value IS NOT NULL),
bins AS (SELECT k, floor(v / 5.0)::BIGINT AS b, count(*)::BIGINT AS n
         FROM base GROUP BY 1, 2),
cum AS (SELECT k, b, n,
               sum(n) OVER (PARTITION BY k ORDER BY b ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               sum(n) OVER (PARTITION BY k) AS nt
        FROM bins),
qs AS (SELECT unnest([0.5, 0.95, 0.99])::DOUBLE AS q),
picked AS (SELECT k, q, max(nt)::BIGINT AS n_total, min(b) AS bin
           FROM cum CROSS JOIN qs
           WHERE c::DOUBLE >= q * nt::DOUBLE
           GROUP BY k, q)
SELECT p.k AS event_type, q, n_total, p.bin,
       round(p.bin * 5.0
             + 5.0 * (q * n_total - (c.c - c.n)) / c.n, 6) AS estimate
FROM picked p JOIN cum c ON p.k = c.k AND p.bin = c.b
"""


def st07_quantile_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile service (pipeline/monitor.py
    IncrementalQuantiles): two mtime-ordered event files through
    readStream → foreachBatch [batch bins merge ADDITIVELY into the
    persisted (key, bin, n) store] → quantiles_from_bins — the same
    code path the batch operator runs, so the row carries x95's REAL
    hash oracle (additive counts ⇒ micro-batch-boundary-independent)."""
    from ai_etl_framework_spark.pipeline.monitor import IncrementalQuantiles

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalQuantiles(
            spark, root, value_col="value", key_col="event_type",
            width=5.0, qs=(0.5, 0.95, 0.99),
        ),
        lambda svc: svc.quantiles(),
    )


def x96_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen (operators/timeseries.py
    cusum_screen): the S⁺/S⁻ recursion rewritten as cum − running-min
    (window-expressible, both engines replay it verbatim) over daily
    event-value means per type; slack 0.5σ, decision interval 4σ."""
    from ai_etl_framework_spark.operators.timeseries import cusum_screen

    ev = load_table(spark, sf_dir, "events")
    return cusum_screen(
        ev, "value", "ts", key_col="event_type", bucket_unit="day",
        slack=0.5, threshold=4.0,
    )


_X96_SQL = """
WITH series AS (SELECT event_type AS k,
                       CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS bucket,
                       avg(value) AS x
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type IS NOT NULL
                GROUP BY 1, 2),
st AS (SELECT k, bucket, x,
              avg(x) OVER (PARTITION BY k) AS mu,
              stddev_samp(x) OVER (PARTITION BY k) AS sd
       FROM series),
z AS (SELECT k, bucket, (x - mu) / sd AS z FROM st WHERE sd > 0),
c AS (SELECT k, bucket, z,
             sum(z - 0.5) OVER w AS cu,
             sum(z + 0.5) OVER w AS cd
      FROM z
      WINDOW w AS (PARTITION BY k ORDER BY bucket ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (SELECT k, bucket, z,
             cu - least(0.0, min(cu) OVER w) AS sp,
             greatest(0.0, max(cd) OVER w) - cd AS sm
      FROM c
      WINDOW w AS (PARTITION BY k ORDER BY bucket ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT k AS event_type, bucket, round(z, 6) AS z,
       round(sp, 6) AS s_plus, round(sm, 6) AS s_minus,
       round(sp, 6) > 4.0 AS alarm_up,
       round(sm, 6) > 4.0 AS alarm_down
FROM s
"""


def x97_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration (operators/stats.py hhi):
    per-priority customer-revenue concentration — Σ share² via
    Σm²/(Σm)² in one member agg + one group agg, no per-member share
    projection, no windows."""
    from ai_etl_framework_spark.operators.stats import hhi

    orders = load_table(spark, sf_dir, "orders")
    return hhi(orders, "o_orderpriority", "o_custkey", "o_totalprice")


_X97_SQL = """
WITH m AS (SELECT o_orderpriority AS g, o_custkey AS mm,
                  sum(o_totalprice) AS t
           FROM orders
           WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
             AND o_totalprice IS NOT NULL
           GROUP BY 1, 2),
a AS (SELECT g, count(*)::BIGINT AS n_members, sum(t) AS tot,
             sum(t * t) AS sq
      FROM m GROUP BY g)
SELECT g AS o_orderpriority, n_members, round(tot, 2) AS total,
       round(CASE WHEN tot <> 0 THEN sq / (tot * tot) END, 6) AS hhi,
       round(CASE WHEN tot <> 0 AND n_members > 1 THEN
         (sq / (tot * tot) - 1.0 / n_members)
           / (1.0 - 1.0 / n_members) END, 6) AS norm_hhi,
       round(CASE WHEN tot <> 0 THEN
         1.0 / (sq / (tot * tot)) END, 6) AS effective_n
FROM a
"""


def x98_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking quality report (operators/audit.py blocking_stats):
    exact candidate-pair count and reduction ratio for a
    (nation, segment) blocking key over customers — the pre-flight
    check before any fuzzy/LSH join. One block-count agg + one 1-row
    reduce."""
    from ai_etl_framework_spark.operators.audit import blocking_stats

    cust = load_table(spark, sf_dir, "customer")
    return blocking_stats(cust, ["c_nationkey", "c_mktsegment"])


_X98_SQL = """
WITH b AS (SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS c
           FROM customer
           WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
           GROUP BY 1, 2),
a AS (SELECT sum(c)::BIGINT AS n_records, count(*)::BIGINT AS n_blocks,
             sum(c * (c - 1) / 2)::BIGINT AS candidate_pairs,
             max(c) AS max_block,
             quantile_cont(c, 0.5) AS p50
      FROM b)
SELECT n_records, n_blocks, candidate_pairs, max_block,
       p50 AS p50_block,
       round(CASE WHEN n_records >= 2 THEN
         1.0 - candidate_pairs
           / (n_records::DOUBLE * (n_records - 1) / 2.0) END, 6)
         AS reduction_ratio,
       round(candidate_pairs / n_records::DOUBLE, 6)
         AS pairs_per_record
FROM a
"""


def st08_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift monitor (pipeline/monitor.py
    IncrementalCusumMonitor): two mtime-ordered event files through
    readStream → foreachBatch [per-(key, bucket) value SUMS + COUNTS
    merge additively into the persisted moment store — the bucket
    mean re-derives as sum/n exactly] → cusum_from_series, the same
    code path as the batch operator, so the row carries x96's REAL
    hash oracle."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalCusumMonitor,
    )

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalCusumMonitor(
            spark, root, value_col="value", key_col="event_type",
            ts_col="ts", bucket_unit="day", slack=0.5, threshold=4.0,
        ),
        lambda mon: mon.screen(),
    )


def x99_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q–Q decile drift table (operators/drift.py qq_drift): exact
    type-1 deciles of both month halves side by side (x84's split,
    2dp quantize) — per-value aggs + one cumulative window per side
    over the distinct-value frame, q fan-out over THAT frame only."""
    from ai_etl_framework_spark.operators.drift import qq_drift

    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.round("value", 2).alias("v")
    )
    cut = "2024-01-16"
    base = ev.where(F.col("ts") < F.lit(cut).cast("timestamp"))
    cur = ev.where(F.col("ts") >= F.lit(cut).cast("timestamp"))
    return qq_drift(base, cur, "v")


_X99_SQL = """
WITH u AS (SELECT 'base' AS s, round(value, 2) AS v FROM events
           WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'
           UNION ALL
           SELECT 'cur', round(value, 2) FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'),
cells AS (SELECT s, v, count(*)::BIGINT AS c FROM u GROUP BY 1, 2),
cum AS (SELECT s, v,
               sum(c) OVER (PARTITION BY s ORDER BY v ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(c) OVER (PARTITION BY s) AS n
        FROM cells),
qs AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
                      0.6, 0.7, 0.8, 0.9])::DOUBLE AS q),
picked AS (SELECT s, q, max(n)::BIGINT AS n, min(v) AS v
           FROM cum CROSS JOIN qs
           WHERE cw::DOUBLE >= q * n::DOUBLE
           GROUP BY s, q)
SELECT q,
       max(CASE WHEN s = 'base' THEN n END) AS n_base,
       max(CASE WHEN s = 'cur' THEN n END) AS n_cur,
       max(CASE WHEN s = 'base' THEN v END) AS base_value,
       max(CASE WHEN s = 'cur' THEN v END) AS cur_value,
       round(max(CASE WHEN s = 'cur' THEN v END)
             - max(CASE WHEN s = 'base' THEN v END), 6) AS diff
FROM picked GROUP BY q
"""


def x100_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (ml/pca.py): one mapInPandas Gram/moment pass
    (only (#batches × (d²+d+1)) doubles reach the driver), d×d
    eigendecomposition driver-side, Arrow-batched projection. No SQL
    engine ships an eigensolver, so the oracle (r11, VERDICT r10
    item 7) is a committed FIXTURE parquet
    (tests/fixtures/x100_pca_expected.parquet) keyed by the same
    corpus fingerprint as x01 — valid because the 4dp-rounded
    projection is deterministic per corpus on one box (measured
    2x-stable at all three SFs; the moment pass sums partials in
    partition order over a deterministic file layout). The numpy
    differential suite in tests/test_pca.py stays the second line of
    evidence (projection equality, variance ratios, reconstruction
    ordering)."""
    from ai_etl_framework_spark.ml.pca import pca_fit, pca_transform

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4)
    out = pca_transform(emb, "embedding", model)
    return out.select(
        "vec_id",
        "label",
        F.round(F.col("pc")[0], 4).alias("pc1"),
        F.round(F.col("pc")[1], 4).alias("pc2"),
        F.round(F.col("pc")[2], 4).alias("pc3"),
        F.round(F.col("pc")[3], 4).alias("pc4"),
    )


# Fixture oracle for x100 (VERDICT r10 item 7): the expected 4dp
# projection per corpus, committed as a parquet fixture and selected
# by the same corpus fingerprint as _X01_SQL. Unknown corpus → zero
# rows → red row (fail-loud). Regenerate with the recipe in the
# fixture's README if the PCA pins or the testdata ever change.
_X100_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "x100_pca_expected.parquet",
)
_X100_SQL = f"""
WITH k AS (SELECT COUNT(*) || ':' || ROUND(SUM(embedding[1])::DOUBLE, 2) AS ck
           FROM embeddings)
SELECT vec_id, label, pc1, pc2, pc3, pc4
FROM read_parquet('{_X100_FIXTURE}') f
JOIN k ON f.ck = k.ck
"""


def x101_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / decile-lift table (operators/evaluation.py
    calibration_table): a toy propensity (value/500, clamped by the
    operator) against the purchase label — fixed-width [0,1) bins in
    ONE hash aggregation + a broadcast base-rate join."""
    from ai_etl_framework_spark.operators.evaluation import (
        calibration_table,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        (F.col("value") / 500.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return calibration_table(scored, "score", "label", n_bins=10)


_X101_SQL = """
WITH base AS (SELECT least(greatest(value / 500.0, 0.0), 1.0) AS s,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL),
b AS (SELECT least(floor(s * 10), 9)::BIGINT AS bin, s, y FROM base),
pb AS (SELECT bin, count(*)::BIGINT AS n, avg(s) AS a,
              avg(y::DOUBLE) AS r
       FROM b GROUP BY bin),
t AS (SELECT avg(y::DOUBLE) AS base_rate FROM b)
SELECT bin, round(bin / 10.0, 6) AS lo,
       round((bin + 1) / 10.0, 6) AS hi, n,
       round(a, 6) AS avg_score, round(r, 6) AS actual_rate,
       round(CASE WHEN base_rate > 0 THEN r / base_rate END, 6) AS lift,
       round(abs(a - r), 6) AS abs_gap
FROM pb CROSS JOIN t
"""


def x102_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free classifier scalars (operators/evaluation.py
    classifier_metrics): exact AUC via the rank-sum identity over the
    SCORE-COUNT frame (the mann_whitney machinery — ties counted
    half), Brier and log loss riding the same single corpus scan;
    score quantized to 4dp (range-bounded distinct frame)."""
    from ai_etl_framework_spark.operators.evaluation import (
        classifier_metrics,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        F.round(F.col("value") / 500.0, 4).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return classifier_metrics(scored, "score", "label")


_X102_SQL = """
WITH base AS (SELECT round(value / 500.0, 4) AS s,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL),
vc AS (SELECT s,
              sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::DOUBLE AS cp,
              sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::DOUBLE AS cn
       FROM base GROUP BY s),
rk AS (SELECT s, cp, cn,
              sum(cp + cn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)
                - (cp + cn) + (cp + cn + 1) / 2.0 AS r,
              least(greatest(s, 1e-15), 1.0 - 1e-15) AS pc
       FROM vc),
agg AS (SELECT sum(cp) AS np, sum(cn) AS nn, sum(cp * r) AS rp,
               sum(cp * (s - 1.0) * (s - 1.0) + cn * s * s) AS br,
               sum(-(cp * ln(pc) + cn * ln(1.0 - pc))) AS ll
        FROM rk)
SELECT np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       round(CASE WHEN np > 0 AND nn > 0 THEN
         (rp - np * (np + 1.0) / 2.0) / (np * nn) END, 6) AS auc,
       round(br / (np + nn), 6) AS brier,
       round(ll / (np + nn), 6) AS log_loss
FROM agg
"""


def x103_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoM revenue bridge (operators/retention.py revenue_bridge):
    new/expansion/contraction/churn waterfall over (customer, month)
    cells — one lag/lead window per customer over the cell frame, a
    cell-sized union, one month agg. The new+exp+con+churn =
    Δ(total revenue) invariant is pinned in tests."""
    from ai_etl_framework_spark.operators.retention import revenue_bridge

    orders = load_table(spark, sf_dir, "orders")
    return revenue_bridge(
        orders, "o_custkey", "o_orderdate", "o_totalprice"
    )


_X103_SQL = """
WITH base AS (SELECT o_custkey AS u,
                     date_trunc('month', o_orderdate)::DATE AS m,
                     o_totalprice AS a
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_totalprice IS NOT NULL),
cells AS (SELECT u, m, sum(a) AS r FROM base GROUP BY u, m),
mx AS (SELECT max(m) AS mm FROM cells),
st AS (SELECT u, m, r,
              lag(r) OVER w AS pr,
              lag(m) OVER w AS pm,
              lead(m) OVER w AS nm
       FROM cells WINDOW w AS (PARTITION BY u ORDER BY m)),
comp AS (SELECT m AS month,
                CASE WHEN pm IS NULL
                       OR date_diff('month', pm, m) <> 1
                     THEN r ELSE 0.0 END AS nw,
                CASE WHEN pm IS NOT NULL
                       AND date_diff('month', pm, m) = 1 AND r > pr
                     THEN r - pr ELSE 0.0 END AS ex,
                CASE WHEN pm IS NOT NULL
                       AND date_diff('month', pm, m) = 1 AND r < pr
                     THEN r - pr ELSE 0.0 END AS co,
                0.0 AS ch
         FROM st
         UNION ALL
         SELECT (m + INTERVAL 1 MONTH)::DATE, 0.0, 0.0, 0.0, -r
         FROM st, mx
         WHERE (nm IS NULL OR date_diff('month', m, nm) > 1)
           AND (m + INTERVAL 1 MONTH)::DATE <= mm)
SELECT month, round(sum(nw), 2) AS new_rev,
       round(sum(ex), 2) AS expansion_rev,
       round(sum(co), 2) AS contraction_rev,
       round(sum(ch), 2) AS churn_rev,
       round(sum(nw + ex + co + ch), 2) AS net_change
FROM comp GROUP BY month
"""


def x104_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness (operators/activity.py stickiness): two
    sweep-line rolling-active passes over ONE persisted distinct
    (user, day) frame + a day-spine join; the oracle runs BOTH naive
    per-day COUNT DISTINCT definitions."""
    from ai_etl_framework_spark.operators.activity import stickiness

    ev = load_table(spark, sf_dir, "events")
    return stickiness(ev, "user_id", "ts", short_days=1, long_days=7)


_X104_SQL = """
WITH days AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM days),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
            AS day
          FROM bounds),
s AS (SELECT day, count(DISTINCT u)::BIGINT AS c
      FROM spine LEFT JOIN days ON d = day GROUP BY day),
l AS (SELECT day, count(DISTINCT u)::BIGINT AS c
      FROM spine LEFT JOIN days ON d >= day - 6 AND d <= day
      GROUP BY day)
SELECT s.day AS day, s.c AS active_short, l.c AS active_long,
       round(CASE WHEN l.c > 0 THEN s.c / l.c::DOUBLE END, 6)
         AS stickiness
FROM s JOIN l ON s.day = l.day
"""


def x105_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-candidate containment profile (operators/audit.py
    containment): is orders.o_custkey contained in
    customer.c_custkey — distinct frames collapse map-side, one
    value-dimension join, three 1-row reduces."""
    from ai_etl_framework_spark.operators.audit import containment

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return containment(orders, "o_custkey", cust, "c_custkey")


_X105_SQL = """
WITH va AS (SELECT DISTINCT o_custkey AS v FROM orders
            WHERE o_custkey IS NOT NULL),
vb AS (SELECT DISTINCT c_custkey AS v FROM customer
       WHERE c_custkey IS NOT NULL),
a AS (SELECT count(*)::BIGINT AS n FROM va),
b AS (SELECT count(*)::BIGINT AS n FROM vb),
c AS (SELECT count(*)::BIGINT AS n FROM va JOIN vb USING (v))
SELECT a.n AS n_a, b.n AS n_b, c.n AS n_common,
       round(CASE WHEN a.n > 0 THEN c.n / a.n::DOUBLE END, 6)
         AS containment_a_in_b,
       round(CASE WHEN b.n > 0 THEN c.n / b.n::DOUBLE END, 6)
         AS containment_b_in_a,
       round(CASE WHEN a.n + b.n - c.n > 0 THEN
         c.n / (a.n + b.n - c.n)::DOUBLE END, 6) AS jaccard
FROM a, b, c
"""


def x106_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift decomposition (operators/drift.py mix_shift): the
    month-halves mean-value move split into rate/mix/interaction per
    event type — one agg per side + a segment-dimension full outer
    join; the Σterms = Δoverall identity is test-pinned."""
    from ai_etl_framework_spark.operators.drift import mix_shift

    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-16"
    base = ev.where(F.col("ts") < F.lit(cut).cast("timestamp"))
    cur = ev.where(F.col("ts") >= F.lit(cut).cast("timestamp"))
    return mix_shift(base, cur, "event_type", "value")


_X106_SQL = """
WITH b AS (SELECT event_type AS seg, count(*)::DOUBLE AS n,
                  sum(value) AS s
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND ts < TIMESTAMP '2024-01-16'
           GROUP BY 1),
bt AS (SELECT seg, n, s, sum(n) OVER () AS t FROM b),
c AS (SELECT event_type AS seg, count(*)::DOUBLE AS n,
             sum(value) AS s
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-16'
      GROUP BY 1),
ct AS (SELECT seg, n, s, sum(n) OVER () AS t FROM c),
j AS (SELECT coalesce(bt.seg, ct.seg) AS segment,
             coalesce(bt.n / bt.t, 0.0) AS sb,
             coalesce(ct.n / ct.t, 0.0) AS sc,
             coalesce(bt.s / bt.n, 0.0) AS rb,
             coalesce(ct.s / ct.n, 0.0) AS rc
      FROM bt FULL OUTER JOIN ct ON bt.seg = ct.seg)
SELECT segment, round(sb, 6) AS share_base, round(sc, 6) AS share_cur,
       round(rb, 6) AS rate_base, round(rc, 6) AS rate_cur,
       round(sb * (rc - rb), 6) AS rate_effect,
       round((sc - sb) * rb, 6) AS mix_effect,
       round((sc - sb) * (rc - rb), 6) AS interaction,
       round(sc * rc - sb * rb, 6) AS total_effect
FROM j
"""


def x107_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source (operators/collocations.py
    log_odds_terms): Monroe et al. weighted log-odds with an
    informative Dirichlet prior — one (group, term) hash agg,
    vocab-sized joins, WindowGroupLimit top-5; the z-ordering cut
    compares the ROUNDED score (engine-stable)."""
    from ai_etl_framework_spark.operators.collocations import (
        log_odds_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    return log_odds_terms(
        docs, "source", "text", min_count=5, top_k=5, prior_strength=10.0
    )


_X107_SQL = f"""
WITH tok AS (SELECT source AS g, unnest({_TOKS}) AS term
             FROM documents WHERE source IS NOT NULL),
cells AS (SELECT g, term, count(*)::DOUBLE AS y FROM tok GROUP BY 1, 2),
tt AS (SELECT term, sum(y) AS cw FROM cells GROUP BY term
       HAVING sum(y) >= 5),
gt AS (SELECT g, sum(y) AS ng FROM cells JOIN tt USING (term)
       GROUP BY g),
nn AS (SELECT sum(cw) AS n FROM tt),
sc AS (SELECT c.g, c.term, c.y, gt.ng,
              tt.cw * (10.0 / nn.n) AS aw,
              tt.cw - c.y AS yr, nn.n - gt.ng AS nr
       FROM cells c JOIN tt USING (term) JOIN gt USING (g), nn),
zed AS (SELECT g, term, y, yr,
               (ln((y + aw) / (ng + 10.0 - y - aw))
                - ln((yr + aw) / (nr + 10.0 - yr - aw)))
                 / sqrt(1.0 / (y + aw) + 1.0 / (yr + aw)) AS z,
               ng + 10.0 - y - aw AS dg,
               nr + 10.0 - yr - aw AS dr,
               yr + aw AS nmr
        FROM sc),
rk AS (SELECT g, term, y, yr, round(z, 6) AS z,
              row_number() OVER (PARTITION BY g
                ORDER BY round(z, 6) DESC, term ASC) AS rank
       FROM zed WHERE dg > 0 AND dr > 0 AND nmr > 0)
SELECT g AS source, term, y::BIGINT AS n_group, yr::BIGINT AS n_rest, z
FROM rk WHERE rank <= 5
"""


def x108_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association matrix (operators/stats.py
    association_matrix): χ²/Cramér's V/mutual information for every
    pair of (order month, priority, status) — one contingency-cell
    agg per pair (the chi_square bound), dimension joins, 1-row
    reduces."""
    from ai_etl_framework_spark.operators.stats import association_matrix

    orders = load_table(spark, sf_dir, "orders").select(
        F.month("o_orderdate").cast("string").alias("omonth"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    return association_matrix(orders, ["omonth", "priority", "status"])


def _x108_sql() -> str:
    pairs = [
        ("omonth", "priority"),
        ("omonth", "status"),
        ("priority", "status"),
    ]
    expr = {
        "omonth": "CAST(month(o_orderdate) AS VARCHAR)",
        "priority": "o_orderpriority",
        "status": "o_orderstatus",
    }
    blocks, sels = [], []
    for i, (x, y) in enumerate(pairs):
        ex, ey = expr[x], expr[y]
        blocks.append(f"""
c{i} AS (SELECT CAST({ex} AS VARCHAR) AS a, CAST({ey} AS VARCHAR) AS b,
               count(*)::DOUBLE AS o
        FROM orders
        WHERE {ex} IS NOT NULL AND {ey} IS NOT NULL
        GROUP BY 1, 2),
t{i} AS (SELECT sum(o) AS nt FROM c{i}),
r{i} AS (SELECT a, sum(o) AS ra FROM c{i} GROUP BY a),
k{i} AS (SELECT b, sum(o) AS cb FROM c{i} GROUP BY b),
g{i} AS (SELECT sum(o * o / (ra * cb)) AS s,
               sum((o / nt) * ln(o * nt / (ra * cb))) AS mi,
               count(DISTINCT a) AS al, count(DISTINCT b) AS bl,
               max(nt) AS nt
        FROM c{i} JOIN r{i} USING (a) JOIN k{i} USING (b), t{i})""")
        sels.append(f"""
SELECT '{x}' AS col_a, '{y}' AS col_b, nt::BIGINT AS n,
       ((al - 1) * (bl - 1))::BIGINT AS dof,
       round(greatest(nt * (s - 1.0), 0.0), 6) AS chi2,
       round(CASE WHEN least(al, bl) > 1 THEN
         sqrt(greatest(nt * (s - 1.0), 0.0)
              / (nt * (least(al, bl) - 1))) END, 6) AS cramers_v,
       round(greatest(mi, 0.0), 6) AS mutual_info
FROM g{i}""")
    return "WITH " + ",".join(blocks) + "\nUNION ALL".join(sels)


def x109_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sample (operators/sampling.py
    group_sample): 3 documents per source by md5-hash order —
    WindowGroupLimit keeps the shuffle at ≤ k rows per (partition,
    group). Text included in the hash compare, so the SELECTED SET is
    pinned, not just counts."""
    from ai_etl_framework_spark.operators.sampling import group_sample

    docs = load_table(spark, sf_dir, "documents")
    return group_sample(docs, "source", "doc_id", k=3, salt="gs")


_X109_SQL = """
WITH u AS (SELECT *,
                  ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                     chr(0)) || 'gs'), 1, 8))::BIGINT
                    / 4294967296.0 AS h
           FROM documents WHERE source IS NOT NULL),
rk AS (SELECT doc_id, text, lang, source, n_chars,
              row_number() OVER (PARTITION BY source
                ORDER BY h ASC, doc_id ASC) AS rn
       FROM u)
SELECT doc_id, text, lang, source, n_chars FROM rk WHERE rn <= 3
"""


def x110_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP (operators/rollups.py dimensional_rollup):
    revenue at (priority × status) cells, priority subtotals and the
    grand total in ONE Expand + ONE hash aggregation; rolled-up
    positions label '(all)' via grouping() disambiguation."""
    from ai_etl_framework_spark.operators.rollups import dimensional_rollup

    orders = load_table(spark, sf_dir, "orders")
    return dimensional_rollup(
        orders, ["o_orderpriority", "o_orderstatus"], "o_totalprice"
    )


_X110_SQL = """
WITH base AS (SELECT o_orderpriority AS p, o_orderstatus AS s,
                     o_totalprice AS v
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_orderstatus IS NOT NULL
                AND o_totalprice IS NOT NULL)
SELECT CASE WHEN grouping(p) = 1 THEN '(all)' ELSE p END
         AS o_orderpriority,
       CASE WHEN grouping(s) = 1 THEN '(all)' ELSE s END
         AS o_orderstatus,
       (grouping(p) * 2 + grouping(s))::INT AS level,
       count(*)::BIGINT AS n_rows,
       round(sum(v), 2) AS total,
       round(avg(v), 6) AS avg_value
FROM base GROUP BY ROLLUP (p, s)
"""


def x111_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend (operators/trend.py theil_sen_trend):
    median pairwise slope over each type's daily-mean series — the
    29%-breakdown robust second opinion next to x39's OLS; pair
    fan-out is C(buckets, 2) per key (≈ C(30,2) here), capped
    fail-loud."""
    from ai_etl_framework_spark.operators.trend import theil_sen_trend

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_trend(
        ev, "event_type", "ts", "value", bucket_unit="day"
    )


_X111_SQL = """
WITH series AS (SELECT event_type AS k,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
                       avg(value) AS y
                FROM events
                WHERE event_type IS NOT NULL AND ts IS NOT NULL
                  AND value IS NOT NULL
                GROUP BY 1, 2),
sized AS (SELECT k, count(*)::BIGINT AS np, min(b) AS b0
          FROM series GROUP BY k),
anch AS (SELECT s.k, (epoch(s.b) - epoch(sized.b0)) / 86400.0 AS x,
                s.y, np
         FROM series s JOIN sized ON s.k = sized.k),
pairs AS (SELECT a.k, a.np, (b.y - a.y) / (b.x - a.x) AS s
          FROM anch a JOIN anch b ON a.k = b.k AND b.x > a.x),
med AS (SELECT k, max(np) AS n_points, count(*)::BIGINT AS n_pairs,
               quantile_cont(s, 0.5) AS slope
        FROM pairs GROUP BY k),
icept AS (SELECT anch.k, quantile_cont(y - med.slope * x, 0.5) AS ic
          FROM anch JOIN med ON anch.k = med.k GROUP BY anch.k)
SELECT med.k AS event_type, n_points, n_pairs,
       round(slope, 6) AS slope, round(ic, 6) AS intercept
FROM med JOIN icept ON med.k = icept.k
"""


def x112_vocab_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-novelty curve (operators/novelty.py vocab_novelty):
    per ingest day — distinct terms, never-seen-before terms, novelty
    ratio, running vocab size. The documents fixture carries no
    ingest timestamp, so the entry synthesizes a DETERMINISTIC one
    (doc_id % 28 days from 2024-01-01 — a 28-day rolling crawl), the
    oracle replays it verbatim."""
    from ai_etl_framework_spark.operators.novelty import vocab_novelty

    docs = load_table(spark, sf_dir, "documents").select(
        "text",
        F.to_timestamp(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.col("doc_id") % 28).cast("int"),
            )
        ).alias("ingest_ts"),
    )
    return vocab_novelty(docs, "ingest_ts", "text", bucket_unit="day")


_X112_SQL = f"""
WITH src AS (SELECT (DATE '2024-01-01'
                     + CAST(doc_id % 28 AS INTEGER)) AS period,
                    text
             FROM documents),
pairs AS (SELECT DISTINCT period, unnest({_TOKS}) AS term FROM src),
fs AS (SELECT term, min(period) AS f FROM pairs GROUP BY term),
pp AS (SELECT period, count(*)::BIGINT AS n_terms,
              sum(CASE WHEN period = f THEN 1 ELSE 0 END)::BIGINT
                AS n_new
       FROM pairs JOIN fs USING (term) GROUP BY period)
SELECT period, n_terms, n_new,
       round(n_new / n_terms::DOUBLE, 6) AS new_ratio,
       sum(n_new) OVER (ORDER BY period ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW)::BIGINT AS vocab_cum
FROM pp
"""


def x113_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy risk audit (operators/privacy.py k_anonymity_audit):
    k=5 anonymity + l-diversity over customer quasi-identifiers
    (segment, nation, balance rounded to 1000s; sensitive =
    c_acctbal) — one quasi-tuple hash agg + a 1-row reduce."""
    from ai_etl_framework_spark.operators.privacy import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).alias("qbal"),
        "c_acctbal",
    )
    return k_anonymity_audit(
        cust, ["c_mktsegment", "c_nationkey", "qbal"],
        k=5, sensitive_col="c_acctbal",
    )


_X113_SQL = """
WITH cls AS (
  SELECT c_mktsegment, c_nationkey, floor(c_acctbal / 1000) AS qbal,
         COUNT(*) AS class_size,
         COUNT(DISTINCT c_acctbal) AS l_diversity
  FROM customer GROUP BY 1, 2, 3)
SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(class_size) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_lt_k,
       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
         AS BIGINT) AS n_rows_at_risk,
       ROUND(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::DOUBLE
             / SUM(class_size), 6) AS risk_pct,
       CAST(MIN(CASE WHEN l_diversity > 0 THEN l_diversity END) AS BIGINT)
         AS min_l_diversity,
       CAST(SUM(CASE WHEN l_diversity = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_all_null_sensitive
FROM cls
"""


def x114_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-sample Laspeyres/Paasche/Fisher price indexes
    (operators/econ.py price_index): monthly, item = l_partkey, base
    = the data's first month — one cell agg, an item-co-partitioned
    base join, one period agg."""
    from ai_etl_framework_spark.operators.econ import price_index

    li = load_table(spark, sf_dir, "lineitem")
    # period as DATE on both engines (DuckDB's date_trunc over a
    # timestamp hands back DATE through the driver; Spark's trunc
    # yields DateType — pinned to DATE so the canon strings agree)
    return price_index(
        li, "l_partkey",
        F.trunc(F.col("l_shipdate"), "month"),
        "l_extendedprice", "l_quantity",
    )


_X114_SQL = """
WITH rows_ AS (
  SELECT l_partkey AS item,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS period,
         l_extendedprice AS rev, l_quantity AS qty
  FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_quantity > 0),
cells AS (SELECT item, period, SUM(rev) / SUM(qty) AS p, SUM(qty) AS q
          FROM rows_ GROUP BY 1, 2 HAVING SUM(qty) > 0),
b AS (SELECT item, p AS p0, q AS q0 FROM cells
      WHERE period = (SELECT MIN(period) FROM cells)),
m AS (SELECT c.period, c.p, c.q, b.p0, b.q0
      FROM cells c JOIN b USING (item))
SELECT period, CAST(COUNT(*) AS BIGINT) AS n_matched_items,
       ROUND(SUM(p * q0) / SUM(p0 * q0), 6) AS laspeyres,
       ROUND(SUM(p * q) / SUM(p0 * q), 6) AS paasche,
       ROUND(SQRT((SUM(p * q0) / SUM(p0 * q0))
                  * (SUM(p * q) / SUM(p0 * q))), 6) AS fisher
FROM m GROUP BY period
"""


def x115_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity streaks (operators/activity.py
    activity_streaks): per-user longest consecutive-day run — one
    distinct (user, day) agg, one per-user window, two group aggs."""
    from ai_etl_framework_spark.operators.activity import activity_streaks

    ev = load_table(spark, sf_dir, "events")
    return activity_streaks(ev)


_X115_SQL = """
WITH days AS (SELECT DISTINCT user_id AS usr, CAST(ts AS DATE) AS day
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
isl AS (SELECT usr, day,
               day - CAST(row_number() OVER (PARTITION BY usr ORDER BY day)
                          AS INTEGER) AS island
        FROM days),
st AS (SELECT usr, island, CAST(COUNT(*) AS BIGINT) AS len,
              MAX(day) AS end_day
       FROM isl GROUP BY 1, 2)
SELECT usr AS "user", CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       (MAX(struct_pack(len := len, end_day := end_day))).end_day
         AS longest_streak_end,
       MAX(end_day) AS current_streak_end
FROM st GROUP BY usr
"""


def x116_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit per source (operators/collocations.py
    zipf_fit): regr_* over (ln rank, ln count) of each source's top
    terms — one token agg, WindowGroupLimit rank cut, one regr agg."""
    from ai_etl_framework_spark.operators.collocations import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, "source", "text", min_count=5, top_n=1000)


_X116_SQL = f"""
WITH tok AS (SELECT source AS g, unnest({_TOKS}) AS term
             FROM documents WHERE source IS NOT NULL),
counts AS (SELECT g, term, COUNT(*)::DOUBLE AS y FROM tok GROUP BY 1, 2),
ranked AS (SELECT g, y,
                  row_number() OVER (PARTITION BY g
                    ORDER BY y DESC, term ASC) AS rank
           FROM counts),
fit AS (SELECT g, ln(rank::DOUBLE) AS lx, ln(y) AS ly
        FROM ranked WHERE rank <= 1000 AND y >= 5)
SELECT g AS source, CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ly, lx), 6) AS slope,
       ROUND(regr_intercept(ly, lx), 6) AS intercept,
       ROUND(regr_r2(ly, lx), 6) AS r2
FROM fit GROUP BY g
"""


def x117_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette per label (operators/evaluation.py
    silhouette_centroid): label separation in embedding space — one
    posexplode centroid agg, a |labels|-row broadcast cross join,
    zip_with distances, two reduces."""
    from ai_etl_framework_spark.operators.evaluation import (
        silhouette_centroid,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return silhouette_centroid(emb, "embedding", "label")


_X117_SQL = """
WITH pts AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             FROM embeddings
             WHERE embedding IS NOT NULL AND label IS NOT NULL),
cellrows AS (SELECT label, unnest(generate_series(1, len(v))) AS dim,
                    unnest(v) AS x
             FROM pts),
cent AS (SELECT label, dim, AVG(x) AS c FROM cellrows GROUP BY 1, 2),
d AS (SELECT p.vec_id, p.label, c.label AS clab,
             SQRT(SUM((p.v[c.dim] - c.c) * (p.v[c.dim] - c.c))) AS dist
      FROM pts p JOIN cent c ON TRUE
      GROUP BY 1, 2, 3),
pp AS (SELECT vec_id, label,
              MIN(CASE WHEN label = clab THEN dist END) AS a,
              MIN(CASE WHEN label <> clab THEN dist END) AS b
       FROM d GROUP BY 1, 2),
s AS (SELECT label, a, b,
             CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
                  WHEN b IS NOT NULL THEN 0.0 END AS sil
      FROM pp)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(AVG(a), 6) AS avg_a, ROUND(AVG(b), 6) AS avg_b,
       ROUND(AVG(sil), 6) AS avg_silhouette
FROM s GROUP BY label
"""


def x118_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap percentile CI for each segment's mean
    balance (operators/stats.py bootstrap_mean_ci): 200 deterministic
    md5-weighted replicates — one explode, one (group, replicate)
    hash agg, one exact percentile."""
    from ai_etl_framework_spark.operators.stats import bootstrap_mean_ci

    cust = load_table(spark, sf_dir, "customer")
    return bootstrap_mean_ci(
        cust, "c_mktsegment", "c_acctbal", "c_custkey",
        n_replicates=200, alpha=0.05, salt="bs",
    )


_X118_SQL = """
WITH base AS (SELECT c_mktsegment AS g, c_acctbal::DOUBLE AS x,
                     CAST(c_custkey AS VARCHAR) AS rid
              FROM customer
              WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
rep AS (SELECT g, x, rid, unnest(generate_series(0, 199)) AS b FROM base),
u AS (SELECT g, x, b,
             ('0x' || substr(md5(rid || '#' || CAST(b AS VARCHAR) || 'bs'),
                             1, 8))::BIGINT / 4294967296.0 AS uu
      FROM rep),
w AS (SELECT g, x, b,
             CASE WHEN uu < 0.36787944117144233 THEN 0
                  WHEN uu < 0.7357588823428847 THEN 1
                  WHEN uu < 0.9196986029286058 THEN 2
                  WHEN uu < 0.9810118431238462 THEN 3
                  WHEN uu < 0.9963401531726563 THEN 4
                  WHEN uu < 0.9994058151824183 THEN 5
                  ELSE 6 END::DOUBLE AS w
      FROM u),
cells AS (SELECT g, b, SUM(w * x) / SUM(w) AS m
          FROM w GROUP BY 1, 2 HAVING SUM(w) > 0),
reps AS (SELECT g, ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
                ROUND(quantile_cont(m, 0.975), 6) AS ci_hi,
                CAST(COUNT(*) AS BIGINT) AS n_replicates_used
         FROM cells GROUP BY g),
pt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows,
              ROUND(AVG(x), 6) AS mean
       FROM base GROUP BY g)
SELECT pt.g AS c_mktsegment, n_rows, mean, ci_lo, ci_hi, n_replicates_used
FROM pt JOIN reps ON pt.g = reps.g
"""


def x119_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (operators/abtest.py diff_in_diff):
    treated = odd user ids, post = events on/after 2024-01-16 (the
    data's mid-month) — one 4-cell hash agg + a 1-row reshape."""
    from ai_etl_framework_spark.operators.abtest import diff_in_diff

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 2 == 1).alias("t"),
        (F.to_date("ts") >= F.lit("2024-01-16").cast("date")).alias("post"),
        F.col("value").alias("x"),
    )
    return diff_in_diff(base, "t", "post", "x")


_X119_SQL = """
WITH base AS (SELECT (user_id % 2 = 1) AS t,
                     (CAST(ts AS DATE) >= DATE '2024-01-16') AS post,
                     value::DOUBLE AS x
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL),
cells AS (SELECT t, post, COUNT(*) AS n, AVG(x) AS m, var_samp(x) AS v
          FROM base GROUP BY 1, 2),
agg AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
               MIN(CASE WHEN NOT t AND NOT post THEN m END) AS m_c_pre,
               MIN(CASE WHEN NOT t AND post THEN m END) AS m_c_post,
               MIN(CASE WHEN t AND NOT post THEN m END) AS m_t_pre,
               MIN(CASE WHEN t AND post THEN m END) AS m_t_post,
               MIN(CASE WHEN NOT t AND NOT post THEN v / n END) AS vn_c_pre,
               MIN(CASE WHEN NOT t AND post THEN v / n END) AS vn_c_post,
               MIN(CASE WHEN t AND NOT post THEN v / n END) AS vn_t_pre,
               MIN(CASE WHEN t AND post THEN v / n END) AS vn_t_post
        FROM cells)
SELECT n_total,
       ROUND(m_c_pre, 6) AS mean_c_pre,
       ROUND(m_c_post, 6) AS mean_c_post,
       ROUND(m_t_pre, 6) AS mean_t_pre,
       ROUND(m_t_post, 6) AS mean_t_post,
       ROUND(m_c_post - m_c_pre, 6) AS diff_control,
       ROUND(m_t_post - m_t_pre, 6) AS diff_treated,
       ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did,
       ROUND(SQRT(vn_c_pre + vn_c_post + vn_t_pre + vn_t_post), 6) AS se,
       ROUND(CASE WHEN SQRT(vn_c_pre + vn_c_post + vn_t_pre + vn_t_post) > 0
                  THEN ((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                       / SQRT(vn_c_pre + vn_c_post + vn_t_pre + vn_t_post)
             END, 6) AS t_stat
FROM agg
"""


def st09_mix_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming categorical-mix drift service (pipeline/monitor.py
    IncrementalCategoryMix): two mtime-ordered event files through
    readStream → foreachBatch [batch's (day, type) counts merge
    ADDITIVELY into the persisted cell store — sum is commutative and
    associative, so the store is micro-batch-boundary-independent] →
    jsd_from_cells. Carries x121's REAL hash oracle (the batch JSD
    definition)."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalCategoryMix,
    )

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalCategoryMix(spark, root),
        lambda mon: mon.jsd(period_name="day"),
    )


def st11_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitters / key-skew service (pipeline/monitor.py
    IncrementalHeavyHitters): two mtime-ordered event files through
    readStream → foreachBatch [per-user counts merge ADDITIVELY into
    the persisted key store — sum is commutative and associative, so
    the store is micro-batch-boundary-independent] →
    skew_report_from_counts, the SAME rider/top-k core as the x131
    batch advisor. Carries a REAL hash oracle (x131's SQL shape over
    events.user_id)."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalHeavyHitters,
    )

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalHeavyHitters(spark, root, key_col="user_id"),
        lambda mon: mon.report(top_k=20),
    )


_ST11_SQL = """
WITH counts AS (SELECT user_id, COUNT(*)::BIGINT AS n
                FROM events GROUP BY 1),
riders AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                  COUNT(*)::BIGINT AS n_keys,
                  ROUND(SUM(n::DOUBLE * n) / (SUM(n)::DOUBLE * SUM(n)), 6) AS hhi,
                  ROUND(MAX(n) / SUM(n), 6) AS max_share
           FROM counts),
top AS (SELECT *, row_number() OVER (ORDER BY n DESC,
                                     user_id ASC NULLS LAST) AS rank
        FROM counts QUALIFY rank <= 20)
SELECT rank, user_id, n, ROUND(n / n_rows, 6) AS share,
       n_rows, n_keys, hhi, max_share
FROM top, riders
"""


def x120_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (operators/audit.py fd_audit):
    three candidate FDs over lineitem — one per-pair determinant hash
    agg + 1-row reduce, unioned."""
    from ai_etl_framework_spark.operators.audit import fd_audit

    li = load_table(spark, sf_dir, "lineitem")
    return fd_audit(
        li,
        [
            ("l_orderkey", "l_returnflag"),
            ("l_partkey", "l_quantity"),
            ("l_suppkey", "l_linestatus"),
        ],
    )


def _x120_sql() -> str:
    pairs = [
        ("l_orderkey", "l_returnflag"),
        ("l_partkey", "l_quantity"),
        ("l_suppkey", "l_linestatus"),
    ]
    blocks = []
    for det, dep in pairs:
        blocks.append(f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       ROUND(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS violation_rate,
       CAST(MAX(nd) AS BIGINT) AS max_distinct_dependents
FROM (SELECT {det} AS k, COUNT(DISTINCT {dep}) AS nd
      FROM lineitem WHERE {det} IS NOT NULL GROUP BY 1) t
""")
    return "\nUNION ALL\n".join(blocks)


def x121_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Jensen–Shannon drift of the event-type mix vs the
    whole-corpus baseline (operators/drift.py jsd_drift) — one
    (day, type) cell agg + dimension-grid completion + day reduce."""
    from ai_etl_framework_spark.operators.drift import jsd_drift

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    return jsd_drift(ev, "event_type", "day")


_X121_SQL = """
WITH base AS (SELECT CAST(ts AS DATE) AS per, event_type AS cat
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL),
cells AS (SELECT per, cat, COUNT(*)::DOUBLE AS n_pc
          FROM base GROUP BY 1, 2),
pt AS (SELECT per, SUM(n_pc) AS n_p, COUNT(*)::BIGINT AS n_categories
       FROM cells GROUP BY per),
ct AS (SELECT cat, SUM(n_pc) AS n_c FROM cells GROUP BY cat),
na AS (SELECT SUM(n_pc) AS n_all FROM cells),
grid AS (SELECT pt.per, pt.n_p, ct.cat,
                COALESCE(c.n_pc, 0.0) / pt.n_p AS p,
                ct.n_c / na.n_all AS q
         FROM pt CROSS JOIN ct CROSS JOIN na
         LEFT JOIN cells c ON c.per = pt.per AND c.cat = ct.cat),
sc AS (SELECT per, n_p,
              0.5 * SUM(CASE WHEN p > 0
                             THEN p * log2(p / ((p + q) / 2))
                             ELSE 0 END)
              + 0.5 * SUM(q * log2(q / ((p + q) / 2))) AS jsd
       FROM grid GROUP BY 1, 2)
SELECT sc.per AS day, CAST(sc.n_p AS BIGINT) AS n, pt.n_categories,
       ROUND(sc.jsd, 6) AS jsd
FROM sc JOIN pt ON sc.per = pt.per
"""


def x122_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms per ingest period (operators/novelty.py
    trending_terms): the x112 synthetic doc_id%28 calendar, top-100
    leaderboards, top-5 risers per period — everything after the one
    token agg runs on the leaderboard frame."""
    from ai_etl_framework_spark.operators.novelty import trending_terms

    docs = load_table(spark, sf_dir, "documents")
    period = F.date_add(
        F.lit("2024-01-01").cast("date"),
        (F.col("doc_id") % 28).cast("int"),
    )
    return trending_terms(docs, period, "text", top_rank=100, top_k=5)


_X122_SQL = f"""
WITH src AS (SELECT (DATE '2024-01-01'
                     + CAST(doc_id % 28 AS INTEGER)) AS period, text
             FROM documents),
tok AS (SELECT period, unnest({_TOKS}) AS term FROM src),
counts AS (SELECT period, term, COUNT(*)::BIGINT AS n
           FROM tok GROUP BY 1, 2),
board AS (SELECT *, row_number() OVER (PARTITION BY period
            ORDER BY n DESC, term ASC) AS rank
          FROM counts QUALIFY rank <= 100),
bi AS (SELECT *, dense_rank() OVER (ORDER BY period) AS pidx FROM board),
j AS (SELECT b.period, b.term, b.n, b.rank, p.rank AS prev_rank,
             p.rank - b.rank AS rank_delta, p.rank IS NULL AS is_new
      FROM bi b LEFT JOIN bi p ON p.term = b.term AND p.pidx = b.pidx - 1
      WHERE b.pidx >= 2),
cut AS (SELECT *, row_number() OVER (PARTITION BY period
          ORDER BY rank_delta DESC NULLS LAST, term ASC) AS rn
        FROM j)
SELECT period, term, n, rank, prev_rank, rank_delta, is_new
FROM cut WHERE rn <= 5
"""


def x123_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter match-pattern table (operators/linkage.py
    fs_match_patterns): customers blocked on (nation, balance/100),
    compared on (segment, balance/10) with pinned (m, u) — one
    block-co-partitioned self-join + one pattern agg."""
    from ai_etl_framework_spark.operators.linkage import fs_match_patterns

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 100).alias("qbal"),
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 10).alias("bal10"),
    )
    return fs_match_patterns(
        cust,
        "c_custkey",
        ["c_nationkey", "qbal"],
        {"c_mktsegment": (0.9, 0.25), "bal10": (0.8, 0.05)},
        max_block_size=2000,
    )


def _x123_sql() -> str:
    import math

    w1a, w1d = math.log2(0.9 / 0.25), math.log2(0.1 / 0.75)
    w2a, w2d = math.log2(0.8 / 0.05), math.log2(0.2 / 0.95)
    return f"""
WITH base AS (SELECT c_custkey AS id, c_nationkey,
                     floor(c_acctbal / 100) AS qbal,
                     c_mktsegment, floor(c_acctbal / 10) AS bal10
              FROM customer
              WHERE c_nationkey IS NOT NULL
                AND floor(c_acctbal / 100) IS NOT NULL),
pairs AS (SELECT a.c_mktsegment AS sa, b.c_mktsegment AS sb,
                 a.bal10 AS ba, b.bal10 AS bb
          FROM base a JOIN base b
            ON a.c_nationkey = b.c_nationkey AND a.qbal = b.qbal
           AND a.id < b.id),
pat AS (SELECT
  (CASE WHEN sa IS NULL OR sb IS NULL THEN '?'
        WHEN sa = sb THEN '1' ELSE '0' END) ||
  (CASE WHEN ba IS NULL OR bb IS NULL THEN '?'
        WHEN ba = bb THEN '1' ELSE '0' END) AS pattern,
  ROUND((CASE WHEN sa IS NULL OR sb IS NULL THEN 0.0
              WHEN sa = sb THEN {w1a!r} ELSE {w1d!r} END)
      + (CASE WHEN ba IS NULL OR bb IS NULL THEN 0.0
              WHEN ba = bb THEN {w2a!r} ELSE {w2d!r} END), 6) AS score
 FROM pairs)
SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_pairs, score
FROM pat GROUP BY pattern, score
"""


def x124_binned_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned mutual information (operators/stats.py binned_mi):
    quantity vs extended price over equal-width bins — one extrema
    agg, one <=bins² cell agg, dimension reduces."""
    from ai_etl_framework_spark.operators.stats import binned_mi

    li = load_table(spark, sf_dir, "lineitem")
    return binned_mi(li, "l_quantity", "l_extendedprice", bins=10)


_X124_SQL = """
WITH base AS (SELECT l_quantity::DOUBLE AS xa, l_extendedprice::DOUBLE AS xb
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
ext AS (SELECT MIN(xa) AS lo_a, MAX(xa) AS hi_a,
               MIN(xb) AS lo_b, MAX(xb) AS hi_b FROM base),
bkt AS (SELECT
          CASE WHEN hi_a = lo_a THEN 0
               ELSE CAST(least(floor((xa - lo_a) * 10 / (hi_a - lo_a)), 9)
                         AS INTEGER) END AS ba,
          CASE WHEN hi_b = lo_b THEN 0
               ELSE CAST(least(floor((xb - lo_b) * 10 / (hi_b - lo_b)), 9)
                         AS INTEGER) END AS bb
        FROM base, ext),
cells AS (SELECT ba, bb, COUNT(*)::DOUBLE AS n_ab FROM bkt GROUP BY 1, 2),
tot AS (SELECT SUM(n_ab) AS n_all FROM cells),
ma AS (SELECT ba, SUM(n_ab) AS n_a FROM cells GROUP BY ba),
mb AS (SELECT bb, SUM(n_ab) AS n_b FROM cells GROUP BY bb),
mi AS (SELECT SUM((n_ab / n_all)
                  * ln((n_ab / n_all) / ((n_a / n_all) * (n_b / n_all))))
         AS mi_raw, MAX(n_all) AS n_all
       FROM cells JOIN ma USING (ba) JOIN mb USING (bb), tot),
ha AS (SELECT -SUM((n_a / n_all) * ln(n_a / n_all)) AS h_a FROM ma, tot),
hb AS (SELECT -SUM((n_b / n_all) * ln(n_b / n_all)) AS h_b FROM mb, tot)
SELECT CAST(mi.n_all AS BIGINT) AS n, 10 AS bins,
       ROUND(mi_raw, 6) AS mi, ROUND(h_a, 6) AS h_a, ROUND(h_b, 6) AS h_b,
       ROUND(CASE WHEN h_a > 0 AND h_b > 0
                  THEN mi_raw / SQRT(h_a * h_b) END, 6) AS nmi
FROM mi, ha, hb
"""


def x125_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type
    (operators/timeseries.py seasonal_strength): variance share the
    hourly profile explains — one (type, hour) cell agg + one
    <=24-rows-per-key reduce."""
    from ai_etl_framework_spark.operators.timeseries import (
        seasonal_strength,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_strength(ev, "event_type", "ts", "value")


_X125_SQL = """
WITH base AS (SELECT event_type AS k, hour(ts) AS s, value::DOUBLE AS x
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL),
cells AS (SELECT k, s, COUNT(*)::DOUBLE AS n_s, SUM(x) AS s1,
                 SUM(x * x) AS s2
          FROM base GROUP BY 1, 2)
SELECT k AS event_type, CAST(SUM(n_s) AS BIGINT) AS n,
       COUNT(*)::BIGINT AS n_seasons,
       ROUND(CASE WHEN ROUND(SUM(s2) - (SUM(s1) * SUM(s1)) / SUM(n_s), 9) > 0
                  THEN 1.0 - SUM(s2 - (s1 * s1) / n_s)
                       / (SUM(s2) - (SUM(s1) * SUM(s1)) / SUM(n_s))
             END, 6) AS strength
FROM cells GROUP BY k
"""


def x126_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap (operators/novelty.py
    vocab_overlap): Jaccard + overlap coefficient of distinct term
    sets — one distinct (source, term) agg, a term-co-partitioned
    self-join, a |sources|² dimension grid."""
    from ai_etl_framework_spark.operators.novelty import vocab_overlap

    docs = load_table(spark, sf_dir, "documents")
    return vocab_overlap(docs, "source", "text")


_X126_SQL = f"""
WITH pairs AS (SELECT DISTINCT source AS g, unnest({_TOKS}) AS term
               FROM documents WHERE source IS NOT NULL),
sizes AS (SELECT g, COUNT(*)::BIGINT AS nv FROM pairs GROUP BY g),
inter AS (SELECT a.g AS ga, b.g AS gb, COUNT(*)::BIGINT AS n_both
          FROM pairs a JOIN pairs b ON a.term = b.term AND a.g < b.g
          GROUP BY 1, 2),
grid AS (SELECT sa.g AS ga, sa.nv AS n_a, sb.g AS gb, sb.nv AS n_b
         FROM sizes sa, sizes sb WHERE sa.g < sb.g)
SELECT ga AS group_a, gb AS group_b, n_a, n_b,
       COALESCE(n_both, 0)::BIGINT AS n_both,
       ROUND(COALESCE(n_both, 0)::DOUBLE
             / (n_a + n_b - COALESCE(n_both, 0)), 6) AS jaccard,
       ROUND(COALESCE(n_both, 0)::DOUBLE / least(n_a, n_b), 6) AS overlap
FROM grid LEFT JOIN inter USING (ga, gb)
"""


def x127_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily actives (operators/activity.py
    new_returning_users): first-seen decomposition of the DAU curve —
    one distinct (user, day) agg, user-sized min + join, calendar
    window."""
    from ai_etl_framework_spark.operators.activity import (
        new_returning_users,
    )

    ev = load_table(spark, sf_dir, "events")
    return new_returning_users(ev)


_X127_SQL = """
WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
fs AS (SELECT u, MIN(day) AS f FROM pairs GROUP BY u),
pd AS (SELECT day, COUNT(*)::BIGINT AS n_active,
              SUM(CASE WHEN day = f THEN 1 ELSE 0 END)::BIGINT AS n_new
       FROM pairs JOIN fs USING (u) GROUP BY day)
SELECT day, n_active, n_new,
       (n_active - n_new)::BIGINT AS n_returning,
       ROUND(n_new / n_active::DOUBLE, 6) AS pct_new,
       SUM(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
         AND CURRENT ROW)::BIGINT AS cum_users
FROM pd
"""


def x128_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape moments per return flag
    (operators/stats.py moments_by_group): population skewness /
    excess kurtosis from explicit power sums (the engines' own
    skewness/kurtosis aggregates use different bias conventions) —
    one 5-expression hash agg."""
    from ai_etl_framework_spark.operators.stats import moments_by_group

    li = load_table(spark, sf_dir, "lineitem")
    return moments_by_group(li, "l_returnflag", "l_quantity")


_X128_SQL = """
WITH base AS (SELECT l_returnflag AS g, l_quantity::DOUBLE AS x
              FROM lineitem
              WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
agg AS (SELECT g, COUNT(*)::DOUBLE AS n, SUM(x) AS s1, SUM(x * x) AS s2,
               SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
        FROM base GROUP BY g)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND(s1 / n, 6) AS mean,
       ROUND(SQRT(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                       THEN s2 / n - (s1 / n) * (s1 / n)
                       ELSE 0.0 END), 6) AS std,
       ROUND(CASE WHEN ROUND(s2 / n - (s1 / n) * (s1 / n), 9) > 0 THEN
         (s3 / n - 3.0 * (s1 / n) * (s2 / n)
          + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
         / ((s2 / n - (s1 / n) * (s1 / n)) ^ 1.5) END, 6) AS skewness,
       ROUND(CASE WHEN ROUND(s2 / n - (s1 / n) * (s1 / n), 9) > 0 THEN
         (s4 / n - 4.0 * (s1 / n) * (s3 / n)
          + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
          - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
         / ((s2 / n - (s1 / n) * (s1 / n))
            * (s2 / n - (s1 / n) * (s1 / n))) - 3.0 END, 6) AS kurtosis
FROM agg
"""


def st10_new_returning_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming new-vs-returning readout (pipeline/monitor.py
    IncrementalActiveUsers.new_returning): the SAME persisted
    idempotent (user, day) store st06 maintains, second readout —
    boundary- and replay-independent, so the row carries x127's REAL
    hash oracle."""
    from ai_etl_framework_spark.pipeline.monitor import (
        IncrementalActiveUsers,
    )

    return _run_store_stream(
        spark, load_table(spark, sf_dir, "events"), _EVENT_HALVES,
        lambda root: IncrementalActiveUsers(spark, root, window_days=7),
        lambda mon: mon.new_returning(),
    )


def x129_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (operators/evaluation.py rrf_fuse):
    customers ranked by balance fused with customers ranked by order
    count — two rank windows over result lists, one full outer join,
    one rounded-score cut."""
    from ai_etl_framework_spark.operators.evaluation import rrf_fuse

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    by_orders = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    return rrf_fuse(
        cust, by_orders, "c_custkey", "c_acctbal", "n_orders",
        k=60, top_n=100,
    )


_X129_SQL = """
WITH a AS (SELECT c_custkey AS id,
                  row_number() OVER (ORDER BY c_acctbal DESC,
                                     c_custkey ASC) AS rank_a
           FROM customer WHERE c_acctbal IS NOT NULL),
b0 AS (SELECT o_custkey AS id, COUNT(*)::BIGINT AS n_orders
       FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
b AS (SELECT id, row_number() OVER (ORDER BY n_orders DESC, id ASC)
             AS rank_b
      FROM b0),
f AS (SELECT COALESCE(a.id, b.id) AS c_custkey, rank_a, rank_b,
             ROUND(COALESCE(1.0 / (60 + rank_a), 0.0)
                   + COALESCE(1.0 / (60 + rank_b), 0.0), 6) AS rrf_score
      FROM a FULL OUTER JOIN b ON a.id = b.id)
SELECT c_custkey, rank_a, rank_b, rrf_score FROM f
ORDER BY rrf_score DESC, c_custkey ASC LIMIT 100
"""


def x130_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen mass + Chao1 vocabulary estimate per source
    (operators/novelty.py vocab_richness) — one (source, term) hash
    agg + one vocab-frame reduce."""
    from ai_etl_framework_spark.operators.novelty import vocab_richness

    docs = load_table(spark, sf_dir, "documents")
    return vocab_richness(docs, "source", "text")


_X130_SQL = f"""
WITH counts AS (SELECT g, term, COUNT(*)::DOUBLE AS c
                FROM (SELECT source AS g, unnest({_TOKS}) AS term
                      FROM documents WHERE source IS NOT NULL)
                GROUP BY 1, 2)
SELECT g AS source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*)::BIGINT AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_doubletons,
       ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / SUM(c), 6)
         AS unseen_mass,
       ROUND(COUNT(*)::DOUBLE
             + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
               * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE - 1.0)
               / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)::DOUBLE
                         + 1.0)), 6) AS chao1
FROM counts GROUP BY g
"""


def x131_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew advisor (operators/audit.py skew_report): the
    top-20 heaviest order-placing customers with whole-distribution
    HHI/max-share riders — one key-frame agg + WindowGroupLimit +
    broadcast rider join."""
    from ai_etl_framework_spark.operators.audit import skew_report

    orders = load_table(spark, sf_dir, "orders")
    return skew_report(orders, ["o_custkey"], top_k=20)


_X131_SQL = """
WITH counts AS (SELECT o_custkey, COUNT(*)::BIGINT AS n
                FROM orders GROUP BY 1),
riders AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                  COUNT(*)::BIGINT AS n_keys,
                  ROUND(SUM(n::DOUBLE * n) / (SUM(n)::DOUBLE * SUM(n)), 6) AS hhi,
                  ROUND(MAX(n) / SUM(n), 6) AS max_share
           FROM counts),
top AS (SELECT *, row_number() OVER (ORDER BY n DESC,
                                     o_custkey ASC NULLS LAST) AS rank
        FROM counts QUALIFY rank <= 20)
SELECT rank, o_custkey, n, ROUND(n / n_rows, 6) AS share,
       n_rows, n_keys, hhi, max_share
FROM top, riders
"""


def x132_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target-encoding table (operators/scaling.py
    target_encode, Micci-Barreca 2001): order priority encoded
    against total price, m=20 empirical-Bayes shrink — one category
    agg + a 1-row prior broadcast."""
    from ai_etl_framework_spark.operators.scaling import target_encode

    orders = load_table(spark, sf_dir, "orders")
    return target_encode(orders, "o_orderpriority", "o_totalprice", m=20.0)


_X132_SQL = """
WITH base AS (SELECT o_orderpriority AS c, o_totalprice::DOUBLE AS y
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL),
cells AS (SELECT c AS o_orderpriority, COUNT(*)::BIGINT AS n,
                 AVG(y) AS m_cat
          FROM base GROUP BY 1),
prior AS (SELECT AVG(y) AS gm FROM base)
SELECT o_orderpriority, n, ROUND(m_cat, 6) AS cat_mean,
       ROUND((n * m_cat + 20.0 * gm) / (n + 20.0), 6) AS encoded,
       ROUND(gm, 6) AS global_mean
FROM cells, prior
"""


def x133_grouped_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group two-feature OLS via sufficient statistics
    (operators/trend.py grouped_ols2): extended price ~ quantity +
    discount per return flag — one 10-expression power-sum agg,
    centered 2×2 normal equations in closed-form column math."""
    from ai_etl_framework_spark.operators.trend import grouped_ols2

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_ols2(
        li, "l_returnflag", "l_extendedprice", "l_quantity", "l_discount"
    )


_X133_SQL = """
WITH base AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS y,
                     l_quantity::DOUBLE AS x1, l_discount::DOUBLE AS x2
              FROM lineitem
              WHERE l_returnflag IS NOT NULL
                AND l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
agg AS (SELECT g, COUNT(*)::DOUBLE AS n,
               SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
               SUM(x1 * x1) AS sx1x1, SUM(x1 * x2) AS sx1x2,
               SUM(x2 * x2) AS sx2x2, SUM(x1 * y) AS sx1y,
               SUM(x2 * y) AS sx2y, SUM(y * y) AS syy
        FROM base GROUP BY g),
mo AS (SELECT g, n,
              sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my,
              sx1x1 / n - (sx1 / n) * (sx1 / n) AS m11,
              sx1x2 / n - (sx1 / n) * (sx2 / n) AS m12,
              sx2x2 / n - (sx2 / n) * (sx2 / n) AS m22,
              sx1y / n - (sx1 / n) * (sy / n) AS m1y,
              sx2y / n - (sx2 / n) * (sy / n) AS m2y,
              syy / n - (sy / n) * (sy / n) AS myy
       FROM agg),
sol AS (SELECT g, n, mx1, mx2, my, m1y, m2y, myy,
               m11 * m22 - m12 * m12 AS det,
               (m1y * m22 - m2y * m12) / (m11 * m22 - m12 * m12) AS b1,
               (m2y * m11 - m1y * m12) / (m11 * m22 - m12 * m12) AS b2
        FROM mo)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n >= 3 AND ROUND(det, 9) <> 0
                  THEN my - b1 * mx1 - b2 * mx2 END, 6) AS b0,
       ROUND(CASE WHEN n >= 3 AND ROUND(det, 9) <> 0 THEN b1 END, 6) AS b1,
       ROUND(CASE WHEN n >= 3 AND ROUND(det, 9) <> 0 THEN b2 END, 6) AS b2,
       ROUND(CASE WHEN n >= 3 AND ROUND(det, 9) <> 0
                   AND ROUND(myy, 9) > 0
                  THEN 1.0 - (myy - b1 * m1y - b2 * m2y) / myy END, 6) AS r2
FROM sol
"""


def x134_seasonal_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day percentile envelope per event type
    (operators/timeseries.py seasonal_envelope): the (p10, p50, p90)
    band live traffic gets checked against — one (type, hour) hash
    agg with an array-percentile buffer."""
    from ai_etl_framework_spark.operators.timeseries import (
        seasonal_envelope,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_envelope(ev, "event_type", "ts", "value")


_X134_SQL = """
WITH base AS (SELECT event_type, hour(ts) AS hour, value::DOUBLE AS x
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL),
q AS (SELECT event_type, hour, COUNT(*)::BIGINT AS n,
             quantile_cont(x, 0.1) AS q_lo,
             quantile_cont(x, 0.5) AS q_med,
             quantile_cont(x, 0.9) AS q_hi
      FROM base GROUP BY 1, 2)
SELECT event_type, hour, n,
       ROUND(q_lo, 6) AS p_lo, ROUND(q_med, 6) AS p_med,
       ROUND(q_hi, 6) AS p_hi
FROM q WHERE n >= 20
"""


def x135_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution (operators/attribution.py
    linear_attribution): purchase value split equally across each
    conversion's click/view touches in a 3-day half-open lookback;
    zero-touch conversions credit '(none)' in full, so total
    attributed value equals total conversion value (the linear-model
    invariant, test-pinned). One key-equality join with a time-range
    residual + one window over the pair frame + one anti join."""
    from ai_etl_framework_spark.operators.attribution import (
        linear_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return linear_attribution(
        ev, ["purchase"], ["click", "view"], lookback="3 days"
    )


_X135_SQL = """
WITH conv AS (SELECT user_id AS k, ts AS cts, event_id AS cid,
                     value::DOUBLE AS val
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type = 'purchase'),
touch AS (SELECT user_id AS tk, ts AS tts, event_type AS channel
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IN ('click', 'view')),
pairs AS (SELECT c.cid, c.val, t.channel
          FROM conv c JOIN touch t
            ON c.k = t.tk
           AND t.tts >= c.cts - INTERVAL 3 DAY
           AND t.tts < c.cts),
credited AS (SELECT channel,
                    val / (COUNT(*) OVER (PARTITION BY cid)) AS credit
             FROM pairs),
nonearm AS (SELECT '(none)' AS channel, val AS credit
            FROM conv WHERE cid NOT IN (SELECT cid FROM pairs)),
u AS (SELECT * FROM credited UNION ALL SELECT * FROM nonearm)
SELECT channel, COUNT(*)::BIGINT AS n_credits,
       ROUND(SUM(credit), 2) AS attributed_value
FROM u GROUP BY channel
"""


def x136_rev_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Straight-line monthly revenue recognition (operators/
    calendar.py recognize_monthly): each order's total spread equally
    over a deterministic (o_orderkey % 12 + 1)-month term from its
    order month — the ASC-606 straight-line / amortization-schedule
    primitive. Scan → bounded sequence-explode → ONE month-sized hash
    agg."""
    from ai_etl_framework_spark.operators.calendar import recognize_monthly

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        "o_totalprice",
        (F.col("o_orderkey") % 12 + 1).cast("int").alias("term_m"),
    )
    return recognize_monthly(orders, "o_orderdate", "o_totalprice", "term_m")


_X136_SQL = """
WITH base AS (SELECT CAST(o_orderdate AS DATE) AS d,
                     o_totalprice::DOUBLE AS amt,
                     CAST(o_orderkey % 12 + 1 AS INT) AS term
              FROM orders
              WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
ex AS (SELECT unnest(generate_series(
                 CAST(date_trunc('month', d) AS TIMESTAMP),
                 CAST(date_trunc('month', d) AS TIMESTAMP)
                   + (term - 1) * INTERVAL 1 MONTH,
                 INTERVAL 1 MONTH))::DATE AS month,
              amt / term AS credit
       FROM base)
SELECT month, COUNT(*)::BIGINT AS n_contracts,
       ROUND(SUM(credit), 2) AS recognized
FROM ex GROUP BY month
"""


def x137_state_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state per event type (operators/sequences.py
    state_dwell): each inter-event gap attributed to the EARLIER
    event's type — transition_matrix's duration companion, the
    any-next-event complement of x94's same-type interarrival. One
    user-keyed window + one |states|-sized hash agg."""
    from ai_etl_framework_spark.operators.sequences import state_dwell

    ev = load_table(spark, sf_dir, "events")
    return state_dwell(ev)


_X137_SQL = """
WITH base AS (SELECT user_id, ts, event_type, event_id FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL),
g AS (SELECT event_type,
             epoch(lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) - epoch(ts)
               AS dwell
      FROM base)
SELECT event_type, COUNT(*)::BIGINT AS n_intervals,
       ROUND(SUM(dwell), 6) AS total_dwell_s,
       ROUND(AVG(dwell), 6) AS avg_dwell_s,
       ROUND(MAX(dwell), 6) AS max_dwell_s
FROM g WHERE dwell IS NOT NULL GROUP BY event_type
"""


def x138_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage per key (operators/intervals.py
    interval_coverage): events become [ts, ts + (event_id%90+1) min]
    intervals keyed by event_type; overlapping/touching intervals
    merge into islands — n_islands, covered/max island seconds. One
    key window (running-max-end island test) + two bounded aggs."""
    from ai_etl_framework_spark.operators.intervals import (
        interval_coverage,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(MINUTE, CAST(event_id % 90 + 1 AS INT), ts)"
        ).alias("e"),
    )
    return interval_coverage(ev, "event_type", "s", "e")


_X138_SQL = """
WITH base AS (SELECT event_type AS k, ts AS s,
                     ts + (event_id % 90 + 1) * INTERVAL 1 MINUTE AS e
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL),
flagged AS (SELECT k, s, e,
                   CASE WHEN max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          IS NULL
                        OR s > max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS ni
            FROM base),
ids AS (SELECT k, s, e,
               SUM(ni) OVER (PARTITION BY k ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM flagged),
islands AS (SELECT k, island, COUNT(*)::BIGINT AS n,
                   epoch(max(e)) - epoch(min(s)) AS span
            FROM ids GROUP BY k, island)
SELECT k AS event_type, CAST(SUM(n) AS BIGINT) AS n_intervals,
       COUNT(*)::BIGINT AS n_islands,
       ROUND(SUM(span), 6) AS covered_s,
       ROUND(MAX(span), 6) AS max_island_s
FROM islands GROUP BY k
"""


def x139_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact AUC (operators/evaluation.py grouped_auc):
    does the 2dp-quantized event value rank purchases above
    non-purchases equally well in every user-id%4 cohort — the
    fairness/segment readout of x102's global rank-sum AUC. One
    (group, score) agg + one group-partitioned cumulative window over
    that frame + one group reduce."""
    from ai_etl_framework_spark.operators.evaluation import grouped_auc

    ev = load_table(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("segment"),
        F.round("value", 2).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return grouped_auc(ev, "segment", "score", "label")


_X139_SQL = """
WITH base AS (SELECT CAST(user_id % 4 AS INT) AS g,
                     round(value, 2) AS s,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
                AND event_type IS NOT NULL),
vc AS (SELECT g, s,
              SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)::DOUBLE AS cp,
              SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END)::DOUBLE AS cn
       FROM base GROUP BY g, s),
ranked AS (SELECT g, cp, cn,
                  SUM(cp + cn) OVER (PARTITION BY g ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (cp + cn) + (cp + cn + 1) / 2.0 AS r
           FROM vc),
agg AS (SELECT g, SUM(cp) AS np, SUM(cn) AS nn, SUM(cp * r) AS rp
        FROM ranked GROUP BY g)
SELECT g AS segment, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       ROUND(CASE WHEN np > 0 AND nn > 0
                  THEN (rp - np * (np + 1.0) / 2.0) / (np * nn) END, 6)
         AS auc
FROM agg
"""


def x140_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection per near-dup cluster (operators/
    dedup.py cluster_canonical): q24's Jaccard≥0.5 component labels,
    but the KEPT member is the highest-quality copy (quality = text
    length here — the longest-copy curation rule), min-id through
    ties. CC labels + cluster-sized aggregations only."""
    from ai_etl_framework_spark.operators.dedup import (
        cluster_canonical,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    q = docs.select(
        "doc_id", F.length("text").cast("long").alias("quality")
    )
    return cluster_canonical(q, "doc_id", pairs, "quality")


_X140_SQL = f"""
WITH RECURSIVE d AS (SELECT doc_id, {_SHINGLES} AS shl FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM d),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
prs AS (SELECT id_a, id_b FROM inter
        JOIN counts ca ON id_a = ca.doc_id
        JOIN counts cb ON id_b = cb.doc_id
        WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.5),
edges AS (SELECT id_a AS s, id_b AS dd FROM prs
          UNION SELECT id_b, id_a FROM prs),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.id, e.dd FROM reach JOIN edges e ON reach.r = e.s),
labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
members AS (SELECT l.label, l.id, CAST(LENGTH(doc.text) AS BIGINT) AS q
            FROM labels l JOIN documents doc ON doc.doc_id = l.id),
best AS (SELECT label, COUNT(*)::BIGINT AS n_members,
                MAX(q) AS best_quality
         FROM members GROUP BY label)
SELECT m.label AS cluster, MIN(m.id) AS canonical, b.n_members,
       b.best_quality,
       CAST(b.n_members - 1 AS BIGINT) AS n_dropped
FROM members m JOIN best b
  ON m.label = b.label AND m.q IS NOT DISTINCT FROM b.best_quality
GROUP BY m.label, b.n_members, b.best_quality
"""


# Fixture oracles for the four non-streaming rows-only entries (r12,
# extending VERDICT r11 item 3's x04 recipe): each output was measured
# cross-process-deterministic at all three SFs (2x at sf0.1) before
# committing — txt10/txt11 are pure functions of the corpus word
# counts (pinned tie-breaks), txt13's EM runs driver-side over a
# canonical vocab table (one-box scope for the float path; the two
# integer readout columns are robust to last-ulp EM movement), x09's
# sampled fit rides the deterministic file layout (one-box scope,
# x01/x04's). Keyed by a documents-table fingerprint; unknown corpus
# -> zero rows -> red row. Regenerate per tests/fixtures/README.md.
_DOCS_CK = """
WITH k AS (SELECT COUNT(*) || ':' || CAST(SUM(LENGTH(text)) AS BIGINT) AS ck
           FROM documents)
"""
_FIX_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures"
)
_X09_SQL = f"""{_DOCS_CK}
SELECT label, n, mean_prob, accuracy, pareto_kept
FROM read_parquet('{_FIX_DIR}/x09_quality_classifier_expected.parquet') f
JOIN k ON f.ck = k.ck
"""
_TXT10_SQL = f"""{_DOCS_CK}
SELECT "rank", "left", "right"
FROM read_parquet('{_FIX_DIR}/txt10_bpe_merges_expected.parquet') f
JOIN k ON f.ck = k.ck
"""
_TXT11_SQL = f"""{_DOCS_CK}
SELECT doc_id, n_words, n_tokens
FROM read_parquet('{_FIX_DIR}/txt11_bpe_encode_expected.parquet') f
JOIN k ON f.ck = k.ck
"""
_TXT13_SQL = f"""{_DOCS_CK}
SELECT doc_id, n_tokens, n_piece_chars
FROM read_parquet('{_FIX_DIR}/txt13_unigram_encode_expected.parquet') f
JOIN k ON f.ck = k.ck
"""


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order matters: the driver's CORRECTNESS gate records the FIRST 50
    # entries. Round 3 merged near-duplicate queries into tagged rows
    # (q14→q21_rollup_dims, dd01+txt04, dd02+dd05, txt01+txt02+txt03,
    # sim01+the exact x02/x06 paths) so every oracle-backed query fits
    # the gate. Round 4 merges three more pairs (dd03+dd06, smp01+smp02,
    # txt05+txt06 — original semantics and oracle SQL composed verbatim)
    # to free slots for: x03_media_meta (the DuckDB-checkable half of
    # the multimodal surface) and the streaming twins as rows-only gate
    # rows, so a streaming regression (like r2's watermark NTZ crash)
    # turns a driver row red instead of hiding in pytest. Round 5
    # merges st01+st02 into one tagged rows-only row and promotes
    # x01_ann_recall into slot 50. Slot 51 keeps the model-based
    # isolation-forest row; quality floors for both are asserted in
    # tests/test_ann_recall.py and tests/test_plan_quality.py.
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_filter_spec": q02_filter_spec,
        # r12 gate rotation (VERDICT r11 item 2): q42 merges into
        # q03's join-revenue suite, q39 into q38's window/json suite,
        # q13 folds into q21_rollup_dims as dim='date' rows — original
        # semantics and oracle SQL composed verbatim. The three freed
        # slots promote x100_pca (fixture-oracled PCA — its hash is
        # now checkable by the DRIVER), x107_log_odds, and
        # x133_grouped_ols2 below, giving r10/r11 families six gate
        # slots. The single-path queries stay registry entries after
        # the gate (bench/smoke/edge tests unchanged).
        "q03_join_revenue_suite": q03_join_revenue_suite,
        # r10 gate rotation (VERDICT r9 item 4): q33 folded into q04's
        # top-k suite, q19 into q08's null suite, q36 into
        # q21_rollup_dims, q16 into q29_chart_prep — original semantics
        # merged verbatim (the dd01+txt04 pattern); the four freed
        # slots promote x38/x42/x48/st03 below so post-r7 families can
        # turn a DRIVER row red. The single-path queries stay registry
        # entries after the gate (bench/smoke/edge tests unchanged).
        "q04_topk_suite": q04_topk_suite,
        "q05_distinct_values": q05_distinct_merged,
        "q06_drilldown_page": q06_drilldown_page,
        "q07_agg_semantics": q07_agg_semantics,
        "q08_null_suite": q08_null_suite,
        "q09_quality_score": q09_quality_score,
        "q10_anomaly_methods": q10_anomaly_methods,
        "q12_dedup_modes": q12_dedup_modes,
        "q15_profile_stats": q15_profile_stats,
        "q17_window_events": q17_window_events,
        "q20_column_remover": q20_column_remover,
        "q21_rollup_dims": q21_rollup_dims,
        "q23_schema_infer": q23_schema_infer,
        "q24_dedup_cc": q24_dedup_cc,
        "q27_agg_custom_udaf": q27_agg_custom_udaf,
        "q28_sessionize": q28_sessionize,
        "q29_chart_prep": q29_chart_prep,
        "q32_agg_list": q32_agg_list,
        # r11 gate rotation (VERDICT r10 item 4): q34+q35 merge into a
        # temporal-join suite, q37 folds into q43's merge suite, and
        # sk01+smp01 merge below — freeing three slots for post-r9
        # families: x82_interpolate (the operator the sf1 smoke
        # actually broke and r10 fixed — its regression turns a DRIVER
        # row red now), x95_binned_quantiles (st07's oracle), and
        # x110_rollup (native multi-level ROLLUP). The single-path
        # queries stay registry entries after the gate.
        "q34_asof_range_suite": q34_asof_range_suite,
        "x82_interpolate": x82_interpolate,
        # r13 gate rotation (VERDICT r12 item 2): three mature rows
        # retire to slots 51+ — x95_binned_quantiles (quantile
        # machinery stays gate-covered by sk01's sketch suite),
        # x38_fuzzy_string_pairs (fuzzy similarity stays covered by
        # dd04 + sim02), x42_corr_matrix (the stats family stays
        # covered by x133's grouped OLS) — freeing slots for the r12
        # families below: x139_grouped_auc (exact per-segment AUC),
        # x140_cluster_canonical (near-dup canonical selection), and
        # st11_heavy_hitters (streaming heavy-hitters with a REAL
        # hash oracle). Retired rows stay registry entries after the
        # gate (bench/smoke/parity tests unchanged).
        "x139_grouped_auc": x139_grouped_auc,
        "q38_window_json_suite": q38_window_json_suite,
        "q40_exists_antijoin": q40_exists_merged,
        # MERGE + SCD2: ONE merged oracle row (r6) — the freed slot
        # promotes x04_iforest into the 50-row gate, so an isolation-
        # forest crash/regression turns a driver row red instead of
        # hiding in pytest (VERDICT r5 item 3)
        "q43_merge_scd2_suite": q43_merge_scd2_suite,
        "dd01_fingerprint_dups": dd01_fingerprint_dups,
        "dd02_signatures": dd02_signatures,
        "dd03_minhash_band_pairs": dd03_band_near_pairs,
        "dd04_ngram_jaccard": dd04_ngram_jaccard,
        "sim01_cosine_topk": sim01_topk_paths,
        "sim02_embedding_dup_pairs": sim02_embedding_dup_pairs,
        "txt01_text_profile": txt01_text_profile,
        "txt05_pii_redact": txt05_redact_chunks,
        "txt07_gopher_quality": txt07_gopher_quality,
        "dc01_decontaminate": dc01_decontaminate,
        "sk01_sketch_sample_suite": sk01_sketch_sample_suite,
        "x110_rollup": x110_rollup,
        "x03_media_meta": x03_media_meta,
        # streaming twins: ONE merged rows-only row inside the gate
        # (r5 — emitted subsets depend on micro-batch boundaries, not
        # SQL-expressible; the driver row catches hard breakage, pytest
        # asserts equality with the batch twins). The freed slot
        # promotes x01_ann_recall, so an ANN recall crash/regression
        # turns a driver row red instead of hiding in pytest.
        "st01_stream_suite": st01_stream_suite,
        "x01_ann_recall": x01_ann_recall,
        # promoted into the gate r6 via the q43+q44 merge above;
        # fixture-parquet oracle since r12 (multiset-deterministic fit)
        "x04_iforest": x04_iforest,
        # r12 promotions into the three slots freed above (VERDICT r11
        # item 2): the driver now hash-checks the PCA fixture oracle,
        # Monroe log-odds, and the sufficient-stats grouped OLS
        "x100_pca": x100_pca,
        "x107_log_odds": x107_log_odds,
        "x133_grouped_ols2": x133_grouped_ols2,
        # r10 promotions (funnel timings + the streaming ingest loop —
        # rows-only like st01, micro-batch-order-dependent survivor
        # choice; stream≡batch equality pinned in
        # tests/test_incremental_ingest.py); x38/x42 retired to slots
        # 51+ in the r13 rotation above. r13 promotions fill the last
        # two slots: the near-dup canonical selector and the streaming
        # heavy-hitters service (additive key store → boundary-
        # independent → REAL hash oracle).
        "x48_funnel_timings": x48_funnel_timings,
        "x140_cluster_canonical": x140_cluster_canonical,
        "st11_heavy_hitters": st11_heavy_hitters,
        "st03_incremental_ingest": st03_incremental_ingest,
        # ---- slots 51+: local-parity only (the driver gates the
        # first 50) — verified by tests/test_oracle_parity.py ----
        "x95_binned_quantiles": x95_binned_quantiles,
        "x38_fuzzy_string_pairs": x38_fuzzy_string_pairs,
        "x42_corr_matrix": x42_corr_matrix,
        "q03_join_revenue": q03_join_revenue,
        "q13_rollup_by_date": q13_rollup_by_date,
        "q38_window_analytics": q38_window_analytics,
        "q39_json_extract": q39_json_extract,
        "q42_local_supplier_revenue": q42_local_supplier_revenue,
        "q34_asof_join": q34_asof_join,
        "q35_range_join": q35_range_join,
        "q37_set_ops": q37_set_ops,
        "sk01_sketch_bounds": sk01_sketch_bounds,
        "smp01_hash_sampling": smp01_sampling,
        "q04_topk_customers": q04_topk_customers,
        "q08_null_semantics": q08_null_semantics,
        "q16_pivot_flag_qty": q16_pivot_flag_qty,
        "q19_null_handling": q19_null_handling,
        "q33_topk_per_group": q33_topk_per_group,
        "q36_rollup_grouping": q36_rollup_grouping,
        "x05_skew_ordered_concat": x05_skew_ordered_concat,
        "x06_distributed_ordered_agg": x06_distributed_ordered_agg,
        "x07_repeated_line_dedup": x07_repeated_line_dedup,
        "x08_repeated_span_dedup": x08_repeated_span_dedup,
        # fixture-oracled r12 (was rows-only): learned quality filter
        "x09_quality_classifier": x09_quality_classifier,
        "x10_perplexity_score": x10_perplexity_score,
        "x11_perplexity_buckets": x11_perplexity_buckets,
        "x12_repeated_paragraph_dedup": x12_repeated_paragraph_dedup,
        "x13_semantic_dedup": x13_semantic_dedup,
        "txt08_clean_text": txt08_clean_text,
        "x14_incremental_dedup": x14_incremental_dedup,
        "txt09_vocab_topk": txt09_vocab_topk,
        "rpt01_corpus_report": rpt01_corpus_report,
        "x15_incremental_near_dedup": x15_incremental_near_dedup,
        "x16_dup_cluster_sizes": x16_dup_cluster_sizes,
        "x17_snapshot_diff": x17_snapshot_diff,
        # fixture-oracled r12 (was rows-only — the iterative argmax has
        # no single-query SQL twin, but its output is a deterministic
        # function of the corpus): tests/test_bpe.py differentials stay
        "txt10_bpe_merges": txt10_bpe_merges,
        "txt11_bpe_encode": txt11_bpe_encode,
        "x18_dsir_resample": x18_dsir_resample,
        "x19_interval_join": x19_interval_join,
        "txt12_strip_html": txt12_strip_html,
        # fixture-oracled r12 (was rows-only — EM has no SQL twin, but
        # the integer readout is corpus-deterministic on one box):
        # tests/test_unigram_lm.py's brute-force/EM suite stays
        "txt13_unigram_encode": txt13_unigram_encode,
        "txt14_bpe_apply": txt14_bpe_apply,
        "x20_dsir_select_frac": x20_dsir_select_frac,
        "x21_tfidf_topk": x21_tfidf_topk,
        "x22_contained_passages": x22_contained_passages,
        "x23_zorder_values": x23_zorder_values,
        "x24_resample_ffill": x24_resample_ffill,
        "x25_funnel": x25_funnel,
        "x26_winsorize": x26_winsorize,
        "x27_knn_join": x27_knn_join,
        "x28_bm25_topk": x28_bm25_topk,
        "x29_impute_by_group": x29_impute_by_group,
        "x30_char_entropy": x30_char_entropy,
        "x31_robust_zscore": x31_robust_zscore,
        "x32_melt": x32_melt,
        "x33_cohort_retention": x33_cohort_retention,
        "x34_event_sequences": x34_event_sequences,
        "x35_rolling_features": x35_rolling_features,
        "x36_quality_checks": x36_quality_checks,
        "x37_psi_drift": x37_psi_drift,
        "x39_group_trend": x39_group_trend,
        "x40_feature_scaling": x40_feature_scaling,
        "x41_quantile_bucketize": x41_quantile_bucketize,
        "x43_pair_lift": x43_pair_lift,
        "x44_grouped_winsorize": x44_grouped_winsorize,
        "x45_join_audit": x45_join_audit,
        "x46_gap_detection": x46_gap_detection,
        "x47_pareto_share": x47_pareto_share,
        "x49_ohlc_bars": x49_ohlc_bars,
        "x50_time_weighted_avg": x50_time_weighted_avg,
        "x51_ab_test": x51_ab_test,
        "x52_seasonal_zscore": x52_seasonal_zscore,
        "x53_gini": x53_gini,
        "x54_domain_stats": x54_domain_stats,
        "x55_golden_record": x55_golden_record,
        "x56_reconcile": x56_reconcile,
        "x57_stratified_sample": x57_stratified_sample,
        "x58_profile_drift": x58_profile_drift,
        "x59_weighted_sample": x59_weighted_sample,
        "x60_quantile_normalize": x60_quantile_normalize,
        "x61_burst_detection": x61_burst_detection,
        "x62_embedding_label_stats": x62_embedding_label_stats,
        "x63_attribution": x63_attribution,
        "x64_date_dim": x64_date_dim,
        "x65_pmi_collocations": x65_pmi_collocations,
        "x66_readability": x66_readability,
        "x67_seasonal_naive_eval": x67_seasonal_naive_eval,
        "x68_join_size_estimate": x68_join_size_estimate,
        "x69_session_stats": x69_session_stats,
        "x70_heatmap_bins": x70_heatmap_bins,
        # streaming with a REAL hash oracle: the burst monitor's
        # additive count store makes its alert table micro-batch-
        # boundary-independent, so it shares x61's SQL twin verbatim
        "st04_burst_monitor": st04_burst_monitor,
        "st05_ohlc_store": st05_ohlc_store,
        "x71_novelty_scores": x71_novelty_scores,
        "x72_rolling_corr": x72_rolling_corr,
        "x73_classification_report": x73_classification_report,
        "x74_regression_report": x74_regression_report,
        "x75_ndcg": x75_ndcg,
        "x76_mrr": x76_mrr,
        "x77_kaplan_meier": x77_kaplan_meier,
        "x78_transition_matrix": x78_transition_matrix,
        "x79_chi_square": x79_chi_square,
        "x80_benford": x80_benford,
        "x81_ewma": x81_ewma,
        "x83_level_shifts": x83_level_shifts,
        "x84_ks_drift": x84_ks_drift,
        "x85_acf": x85_acf,
        "x86_rolling_active": x86_rolling_active,
        "x87_spearman": x87_spearman,
        "x88_mann_whitney": x88_mann_whitney,
        "x89_cat_entropy": x89_cat_entropy,
        "x90_rfm": x90_rfm,
        "x91_weighted_pct": x91_weighted_pct,
        "x92_period_growth": x92_period_growth,
        "x93_cohort_ltv": x93_cohort_ltv,
        "x94_interarrival": x94_interarrival,
        "st07_quantile_service": st07_quantile_service,
        "x96_cusum": x96_cusum,
        "x97_hhi": x97_hhi,
        "x98_blocking_stats": x98_blocking_stats,
        "st08_cusum_monitor": st08_cusum_monitor,
        "x99_qq_drift": x99_qq_drift,
        "x101_calibration": x101_calibration,
        "x102_classifier_metrics": x102_classifier_metrics,
        "x103_revenue_bridge": x103_revenue_bridge,
        "x104_stickiness": x104_stickiness,
        "x105_containment": x105_containment,
        "x106_mix_shift": x106_mix_shift,
        "x108_association": x108_association,
        "x109_group_sample": x109_group_sample,
        "x111_theil_sen": x111_theil_sen,
        "x112_vocab_novelty": x112_vocab_novelty,
        "st06_active_users": st06_active_users,
        # r11 batch 1: privacy audit, price indexes, streaks, Zipf
        # fit, centroid silhouette, Poisson-bootstrap CI, DiD
        "x113_k_anonymity": x113_k_anonymity,
        "x114_price_index": x114_price_index,
        "x115_streaks": x115_streaks,
        "x116_zipf": x116_zipf,
        "x117_silhouette": x117_silhouette,
        "x118_bootstrap_ci": x118_bootstrap_ci,
        "x119_did": x119_did,
        # r11 batch 2: FD audit, JSD categorical drift, trending
        # terms, Fellegi-Sunter linkage patterns
        "x120_fd_audit": x120_fd_audit,
        "x121_jsd_drift": x121_jsd_drift,
        "x122_trending_terms": x122_trending_terms,
        "x123_fs_linkage": x123_fs_linkage,
        # streaming with a REAL hash oracle: the category-mix store is
        # additive, so its JSD table is micro-batch-boundary-
        # independent and shares x121's SQL twin verbatim
        "st09_mix_monitor": st09_mix_monitor,
        # r11 batch 4: binned MI, seasonal strength, vocab overlap,
        # new-vs-returning actives, distribution moments
        "x124_binned_mi": x124_binned_mi,
        "x125_seasonal_strength": x125_seasonal_strength,
        "x126_vocab_overlap": x126_vocab_overlap,
        "x127_new_returning": x127_new_returning,
        "x128_moments": x128_moments,
        # r11 batch 5: second readout of st06's idempotent store
        # (real oracle), RRF hybrid ranking, vocabulary richness,
        # shuffle-skew advisor
        "st10_new_returning_monitor": st10_new_returning_monitor,
        "x129_rrf_fusion": x129_rrf_fusion,
        "x130_vocab_richness": x130_vocab_richness,
        "x131_skew_report": x131_skew_report,
        # r11 batch 6: smoothed target encoding, grouped 2-feature OLS
        # (x133 promoted into the gate r12)
        "x132_target_encode": x132_target_encode,
        "x134_seasonal_envelope": x134_seasonal_envelope,
        # r12 batch 1: multi-touch linear attribution, straight-line
        # monthly revenue recognition, per-state dwell time
        "x135_linear_attribution": x135_linear_attribution,
        "x136_rev_recognition": x136_rev_recognition,
        "x137_state_dwell": x137_state_dwell,
        # r12 batch 2: gaps-and-islands interval coverage (x139
        # grouped AUC, st11 heavy-hitters, and x140 cluster-canonical
        # were promoted into the gate in the r13 rotation above)
        "x138_interval_coverage": x138_interval_coverage,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q02_filter_spec": _Q02_SQL,
        "q03_join_revenue": _Q03_SQL,
        "q03_join_revenue_suite": _Q03M_SQL,
        "q04_topk_customers": _Q04_SQL,
        "q04_topk_suite": _Q04M_SQL,
        "q08_null_suite": _Q08M_SQL,
        "q05_distinct_values": _Q05M_SQL,
        "q06_drilldown_page": _Q06_SQL,
        "q07_agg_semantics": _Q07_SQL,
        "q08_null_semantics": _Q08_SQL,
        "q09_quality_score": _Q09_SQL,
        "q10_anomaly_methods": _Q10M_SQL,
        "q12_dedup_modes": _Q12M_SQL,
        "q13_rollup_by_date": _q13_sql(),
        "q15_profile_stats": _Q15_SQL,
        "q16_pivot_flag_qty": _Q16_SQL,
        "q17_window_events": _Q17_SQL,
        "q19_null_handling": _Q19_SQL,
        "q20_column_remover": _Q20_SQL,
        "q21_rollup_dims": _q21m_sql(),
        "q23_schema_infer": _Q23_SQL,
        "q24_dedup_cc": _Q24_SQL,
        "q27_agg_custom_udaf": _Q27_SQL,
        "q28_sessionize": _Q28_SQL,
        # r13 (VERDICT r12 item 6): the streaming suite's final
        # emitted set is a pure function of the events table under
        # the one-batch AvailableNow harness — see st01_stream_suite's
        # docstring for the probed emission rules
        "st01_stream_suite": _ST01_SQL,
        "q29_chart_prep": _Q29M_SQL,
        "q32_agg_list": _Q32_SQL,
        "q33_topk_per_group": _Q33_SQL,
        "q34_asof_join": _Q34_SQL,
        "q34_asof_range_suite": _Q34M_SQL,
        "q35_range_join": _Q35_SQL,
        "q36_rollup_grouping": _Q36_SQL,
        "q37_set_ops": _Q37_SQL,
        "q38_window_analytics": _Q38_SQL,
        "q39_json_extract": _Q39_SQL,
        "q38_window_json_suite": _Q38M_SQL,
        "q40_exists_antijoin": _Q40M_SQL,
        "q42_local_supplier_revenue": _Q42_SQL,
        "q43_merge_scd2_suite": _Q43M_SQL,
        "dd01_fingerprint_dups": _DD01M_SQL,
        "dd02_signatures": _dd02m_sql(),
        "dd03_minhash_band_pairs": _dd03m_sql(),
        "dd04_ngram_jaccard": _DD04_SQL,
        "sim01_cosine_topk": _SIM01M_SQL,
        "sim02_embedding_dup_pairs": _SIM02_SQL,
        "txt01_text_profile": _txt01m_sql(),
        "txt05_pii_redact": _txt05m_sql(),
        "txt07_gopher_quality": _TXT07_SQL,
        "dc01_decontaminate": _DC01_SQL,
        "sk01_sketch_bounds": _SK01_SQL,
        "sk01_sketch_sample_suite": _SK01M_SQL,
        "smp01_hash_sampling": _SMP01M_SQL,
        "x03_media_meta": _X03M_SQL,
        "x05_skew_ordered_concat": _X05_SQL,
        # the distributed path computes the same surface as q07, so
        # it shares q07's oracle verbatim
        "x06_distributed_ordered_agg": _Q07_SQL,
        "x07_repeated_line_dedup": _X07_SQL,
        "x08_repeated_span_dedup": _X08_SQL,
        "x10_perplexity_score": _X10_SQL,
        "x11_perplexity_buckets": _X11_SQL,
        "x12_repeated_paragraph_dedup": _X12_SQL,
        "x13_semantic_dedup": _X13_SQL,
        "txt08_clean_text": _TXT08_SQL,
        "x14_incremental_dedup": _X14_SQL,
        "txt09_vocab_topk": _TXT09_SQL,
        "rpt01_corpus_report": _RPT01_SQL,
        "x15_incremental_near_dedup": _x15_sql(),
        # r13 (VERDICT r12 item 6): the st03 harness PINS the batch
        # sequence (history %3==0, crawl_1, crawl_2, one file per
        # trigger, mtime-ordered), and every ingest survivor rule is
        # deterministic — so the whole loop replays as a two-batch
        # SQL cascade; see the _st03_sql block
        "st03_incremental_ingest": _st03_sql(),
        "x16_dup_cluster_sizes": _X16_SQL,
        "x17_snapshot_diff": _X17_SQL,
        "x18_dsir_resample": _X18_SQL,
        "x19_interval_join": _X19_SQL,
        "txt12_strip_html": _TXT12_SQL,
        "txt14_bpe_apply": _txt14_sql(),
        "x20_dsir_select_frac": _X20_SQL,
        "x21_tfidf_topk": _X21_SQL,
        "x22_contained_passages": _X22_SQL,
        "x23_zorder_values": _x23_sql(),
        "x24_resample_ffill": _X24_SQL,
        "x25_funnel": _X25_SQL,
        "x26_winsorize": _X26_SQL,
        "x27_knn_join": _X27_SQL,
        "x28_bm25_topk": _X28_SQL,
        "x29_impute_by_group": _X29_SQL,
        "x30_char_entropy": _X30_SQL,
        "x31_robust_zscore": _X31_SQL,
        "x32_melt": _X32_SQL,
        "x33_cohort_retention": _X33_SQL,
        "x34_event_sequences": _X34_SQL,
        "x35_rolling_features": _X35_SQL,
        "x36_quality_checks": _X36_SQL,
        "x37_psi_drift": _X37_SQL,
        "x38_fuzzy_string_pairs": _X38_SQL,
        "x39_group_trend": _X39_SQL,
        "x40_feature_scaling": _X40_SQL,
        "x41_quantile_bucketize": _X41_SQL,
        "x42_corr_matrix": _X42_SQL,
        "x43_pair_lift": _X43_SQL,
        "x44_grouped_winsorize": _X44_SQL,
        "x45_join_audit": _X45_SQL,
        "x46_gap_detection": _X46_SQL,
        "x47_pareto_share": _X47_SQL,
        "x48_funnel_timings": _X48_SQL,
        "x49_ohlc_bars": _X49_SQL,
        "x50_time_weighted_avg": _X50_SQL,
        "x51_ab_test": _X51_SQL,
        "x52_seasonal_zscore": _X52_SQL,
        "x53_gini": _X53_SQL,
        "x54_domain_stats": _X54_SQL,
        "x55_golden_record": _X55_SQL,
        "x56_reconcile": _X56_SQL,
        "x57_stratified_sample": _X57_SQL,
        "x58_profile_drift": _X58_SQL,
        "x59_weighted_sample": _X59_SQL,
        "x60_quantile_normalize": _X60_SQL,
        "x61_burst_detection": _X61_SQL,
        "x62_embedding_label_stats": _X62_SQL,
        "x63_attribution": _X63_SQL,
        "x64_date_dim": _X64_SQL,
        "x65_pmi_collocations": _X65_SQL,
        "x66_readability": _X66_SQL,
        "x67_seasonal_naive_eval": _X67_SQL,
        "x68_join_size_estimate": _X68_SQL,
        "x69_session_stats": _X69_SQL,
        "x70_heatmap_bins": _X70_SQL,
        # the streaming monitor's alerts ARE x61 over the full input
        # (additive store => boundary-independent) — same twin
        "st04_burst_monitor": _X61_SQL,
        "st05_ohlc_store": _X49_SQL,
        "x71_novelty_scores": _X71_SQL,
        "x72_rolling_corr": _X72_SQL,
        "x73_classification_report": _x73_sql(),
        "x74_regression_report": _X74_SQL,
        "x75_ndcg": _X75_SQL,
        "x76_mrr": _X76_SQL,
        "x77_kaplan_meier": _X77_SQL,
        "x78_transition_matrix": _X78_SQL,
        "x79_chi_square": _X79_SQL,
        "x80_benford": _X80_SQL,
        "x81_ewma": _x81_sql(),
        "x82_interpolate": _X82_SQL,
        "x83_level_shifts": _X83_SQL,
        "x84_ks_drift": _X84_SQL,
        "x85_acf": _x85_sql(),
        "x86_rolling_active": _X86_SQL,
        "x87_spearman": _X87_SQL,
        "x88_mann_whitney": _X88_SQL,
        "x89_cat_entropy": _X89_SQL,
        "x90_rfm": _X90_SQL,
        "x91_weighted_pct": _X91_SQL,
        "x92_period_growth": _X92_SQL,
        "x93_cohort_ltv": _X93_SQL,
        "x94_interarrival": _X94_SQL,
        "x95_binned_quantiles": _X95_SQL,
        "st07_quantile_service": _X95_SQL,
        "x96_cusum": _X96_SQL,
        "x97_hhi": _X97_SQL,
        "x98_blocking_stats": _X98_SQL,
        "st08_cusum_monitor": _X96_SQL,
        "x99_qq_drift": _X99_SQL,
        # x100_pca: no SQL eigensolver exists, so the twin is a
        # committed fixture parquet keyed by corpus fingerprint (r11,
        # VERDICT r10 item 7); tests/test_pca.py keeps the numpy
        # differential evidence
        "x100_pca": _X100_SQL,
        "x101_calibration": _X101_SQL,
        "x102_classifier_metrics": _X102_SQL,
        "x103_revenue_bridge": _X103_SQL,
        "x104_stickiness": _X104_SQL,
        "x105_containment": _X105_SQL,
        "x106_mix_shift": _X106_SQL,
        "x107_log_odds": _X107_SQL,
        "x108_association": _x108_sql(),
        "x109_group_sample": _X109_SQL,
        "x110_rollup": _X110_SQL,
        "x111_theil_sen": _X111_SQL,
        "x112_vocab_novelty": _X112_SQL,
        "x113_k_anonymity": _X113_SQL,
        "x114_price_index": _X114_SQL,
        "x115_streaks": _X115_SQL,
        "x116_zipf": _X116_SQL,
        "x117_silhouette": _X117_SQL,
        "x118_bootstrap_ci": _X118_SQL,
        "x119_did": _X119_SQL,
        "x120_fd_audit": _x120_sql(),
        "x121_jsd_drift": _X121_SQL,
        "x122_trending_terms": _X122_SQL,
        "x123_fs_linkage": _x123_sql(),
        "st09_mix_monitor": _X121_SQL,
        "x124_binned_mi": _X124_SQL,
        "x125_seasonal_strength": _X125_SQL,
        "x126_vocab_overlap": _X126_SQL,
        "x127_new_returning": _X127_SQL,
        "x128_moments": _X128_SQL,
        "st10_new_returning_monitor": _X127_SQL,
        "x129_rrf_fusion": _X129_SQL,
        "x130_vocab_richness": _X130_SQL,
        "x131_skew_report": _X131_SQL,
        "x132_target_encode": _X132_SQL,
        "x133_grouped_ols2": _X133_SQL,
        "x134_seasonal_envelope": _X134_SQL,
        "x135_linear_attribution": _X135_SQL,
        "x136_rev_recognition": _X136_SQL,
        "x137_state_dwell": _X137_SQL,
        "x138_interval_coverage": _X138_SQL,
        "x139_grouped_auc": _X139_SQL,
        "st11_heavy_hitters": _ST11_SQL,
        "x140_cluster_canonical": _X140_SQL,
        # r12 fixture oracles (x04's recipe over the documents
        # fingerprint): the four non-streaming rows-only entries now
        # hash-check like any oracle row; only st01/st03 (genuinely
        # micro-batch-boundary-dependent) remain rows-only
        "x09_quality_classifier": _X09_SQL,
        "txt10_bpe_merges": _TXT10_SQL,
        "txt11_bpe_encode": _TXT11_SQL,
        "txt13_unigram_encode": _TXT13_SQL,
        "st06_active_users": _X86_SQL,
        # x01's recall table is deterministic per corpus → fixture
        # VALUES oracle keyed by corpus fingerprint (r11, VERDICT r10
        # item 7); recall floors stay in tests/test_ann_recall.py
        "x01_ann_recall": _X01_SQL,
        # x04's flag set is multiset-deterministic per corpus since
        # the r12 lexsort-before-fit (operators/iforest.py _fit_order)
        # → fixture-parquet oracle keyed by corpus fingerprint, same
        # recipe as x100 (VERDICT r11 item 3)
        "x04_iforest": _X04_SQL,
        # st01_stream_suite / st03_incremental_ingest (gated):
        # micro-batch-boundary-dependent -> rows-only by design
    }
