"""DuckDB twins of every checked output.

The twin reads the same files the library read (the gold parquet, the
bronze CSV slices, the CDC batch files) and recomputes each answer in
SQL. Checks run after the timed window and feed ``ok_frac``.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import duckdb

REL_TOL = 1e-9


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def where_sql(filters: list[dict] | None, ts_cols: tuple[str, ...] = ()) -> str:
    """The filter subset the benchmark generates (eq, in, between,
    gt/gte/lt/lte), ANDed like ``plans.filters``."""
    preds = []
    for f in filters or []:
        c, op, v = _q(f["column"]), f["operator"], f.get("value")
        lit = (lambda x: f"TIMESTAMP {_lit(x)}") if f["column"] in ts_cols else _lit
        if op == "eq":
            preds.append(f"{c} = {lit(v)}")
        elif op == "in":
            preds.append(f"{c} IN ({', '.join(lit(x) for x in v)})")
        elif op == "between":
            preds.append(f"{c} BETWEEN {lit(v[0])} AND {lit(v[1])}")
        elif op in ("gt", "gte", "lt", "lte"):
            sym = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}[op]
            preds.append(f"{c} {sym} {lit(v)}")
        else:
            raise ValueError(f"twin has no rule for filter operator {op!r}")
    return ("WHERE " + " AND ".join(preds)) if preds else ""


def same_value(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def same_rows(got: list[dict], want: list[dict], keys: list[str]) -> bool:
    """Multiset equality of result rows, matched on ``keys``."""
    if len(got) != len(want):
        return False
    index = {tuple(r[k] for k in keys): r for r in want}
    for r in got:
        w = index.get(tuple(r[k] for k in keys))
        if w is None or set(w) != set(r):
            return False
        if not all(same_value(r[c], w[c]) for c in r):
            return False
    return True


def query_rows(con: duckdb.DuckDBPyConnection, table: str, filters, spec: dict,
               ts_cols: tuple[str, ...] = ()) -> list[dict]:
    """DuckDB twin of ``plans.aggspec.run_query`` for grouped specs."""
    sel = [_q(g) for g in spec["group_by"]]
    for m in spec["metrics"]:
        col, agg = m["column"], m["agg"]
        alias = _q(m.get("alias") or f"{col}_{agg}")
        body = "count(*)" if col == "*" else (
            f"count(DISTINCT {_q(col)})" if agg == "count_distinct" else f"{agg}({_q(col)})"
        )
        sel.append(f"{body} AS {alias}")
    first = spec["metrics"][0]
    order = _q(first.get("alias") or f"{first['column']}_{first['agg']}")
    sql = (
        f"SELECT {', '.join(sel)} FROM {table} {where_sql(filters, ts_cols)} "
        f"GROUP BY {', '.join(_q(g) for g in spec['group_by'])} "
        f"ORDER BY {order} DESC"
        + (f" LIMIT {spec['limit']}" if spec.get("limit") else "")
    )
    return fetch_dicts(con, sql)


def fetch_dicts(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, row)) for row in cur.fetchall()]


def check_query(con, table, answer: dict, filters, spec, ts_cols=()) -> bool:
    want = query_rows(con, table, filters, spec, ts_cols)
    if spec.get("limit"):
        # a LIMIT over tied sort values may keep different groups in
        # the two engines: compare the kept metric values in order
        first = spec["metrics"][0]
        name = first.get("alias") or f"{first['column']}_{first['agg']}"
        return len(answer["records"]) == len(want) and all(
            same_value(a[name], b[name]) for a, b in zip(answer["records"], want)
        )
    return same_rows(answer["records"], want, spec["group_by"])


def check_drill(con, table, answer: dict, p: dict, ts_cols=()) -> bool:
    """Total count, page size and the page's order-key sequence (rows
    that tie on the order key may legitimately swap between engines)."""
    where = where_sql(p["filters"], ts_cols)
    total = con.execute(f"SELECT count(*) FROM {table} {where}").fetchone()[0]
    oc = _q(p["order_by"])
    keys = [r[0] for r in con.execute(
        f"SELECT {oc} FROM {table} {where} ORDER BY {oc} "
        f"{'DESC' if p['order_desc'] else 'ASC'} LIMIT {p['limit']} OFFSET {p['offset']}"
    ).fetchall()]
    got = [r[p["order_by"]] for r in answer["records"]]
    return (
        answer["total_count"] == total
        and answer["row_count"] == len(keys)
        and all(same_value(a, b) for a, b in zip(got, keys))
        and all(set(r) == set(p["columns"]) for r in answer["records"])
    )


def check_filter_values(con, table, answer: dict, p: dict) -> bool:
    c = _q(p["column"])
    where = f"WHERE {c} IS NOT NULL AND CAST({c} AS VARCHAR) ILIKE {_lit('%' + p['search'] + '%')}"
    total = con.execute(f"SELECT count(DISTINCT {c}) FROM {table} {where}").fetchone()[0]
    vals = [r[0] for r in con.execute(
        f"SELECT DISTINCT {c} FROM {table} {where} ORDER BY {c} LIMIT {p['limit']}"
    ).fetchall()]
    return (
        answer["total_distinct"] == total
        and answer["values"] == vals
        and answer["truncated"] == (total > p["limit"])
    )


def check_schema(con, table, answer: dict) -> bool:
    """Row count and every numeric column's min, max and distinct count."""
    if answer["row_count"] != con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]:
        return False
    for name, info in answer["columns"].items():
        if info["type"] != "numeric":
            continue
        lo, hi, nd = con.execute(
            f"SELECT min({_q(name)}), max({_q(name)}), count(DISTINCT {_q(name)}) FROM {table}"
        ).fetchone()
        if not (same_value(info["min"], lo) and same_value(info["max"], hi)
                and info["distinct_count"] == nd):
            return False
    return True
