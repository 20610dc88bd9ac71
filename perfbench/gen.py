"""Seeded inputs and op sequences for the benchmark workloads.

Everything the library sees is generated here from ``--seed``: the
gold ``lineitem`` and ``orders`` tables (TPC-H-shaped, sf0.1 sizes),
the bronze CSV slices of the ``etl`` workload, the CDC batches of the
``cdc_refresh`` workload, and every op parameter. The same seed gives
byte-identical inputs and the same op sequence. Warm-up ops and timed
ops draw from separate child streams of the seed, so the warm-up never
shifts the timed sequence.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
DAY0 = np.datetime64("1995-01-02", "D")
DAYS = 2500

FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["O", "F"])
ORDER_STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def streams(seed: int) -> tuple[np.random.Generator, np.random.Generator, np.random.Generator]:
    """(data, warm-up ops, timed ops) generators for one seed."""
    data, warm, timed = np.random.SeedSequence(seed).spawn(3)
    return np.random.default_rng(data), np.random.default_rng(warm), np.random.default_rng(timed)


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return DAY0 + rng.integers(0, DAYS, n).astype("timedelta64[D]")


def lineitem(rng: np.random.Generator, n: int = LINEITEM_ROWS, day_unit: str = "us") -> pa.Table:
    return pa.table({
        "l_orderkey": rng.integers(0, ORDERS_ROWS, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": STATUSES[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n).astype(f"datetime64[{day_unit}]"),
    })


def _orders_cols(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": ORDER_STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": _days(rng, n).astype("datetime64[us]"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    }


def orders(rng: np.random.Generator) -> pa.Table:
    cols = _orders_cols(rng, np.arange(ORDERS_ROWS))
    cols["seq"] = np.zeros(ORDERS_ROWS, dtype=np.int64)
    return pa.table(cols)


# -- etl: bronze CSV slices ------------------------------------------------

SLICE_ROWS = 57_000   # + ~5% duplicates ≈ 60k rows per slice
DUP_FRAC = 0.05
NULL_FRAC = 0.02


def bronze_slice(rng: np.random.Generator) -> pa.Table:
    """One bronze slice: lineitem rows, ~5% exact duplicate rows and
    ~2% rows with one blanked field, in shuffled order."""
    base = lineitem(rng, SLICE_ROWS, day_unit="D")
    dups = rng.choice(SLICE_ROWS, int(SLICE_ROWS * DUP_FRAC), replace=False)
    t = pa.concat_tables([base, base.take(dups)])
    t = t.take(rng.permutation(t.num_rows))
    hit = rng.random(t.num_rows) < NULL_FRAC
    which = rng.integers(0, t.num_columns, t.num_rows)
    cols = []
    for j, name in enumerate(t.column_names):
        mask = pa.array(hit & (which == j))
        col = t.column(name).combine_chunks()
        cols.append(pc.if_else(mask, pa.nulls(t.num_rows, col.type), col))
    return pa.table(cols, names=t.column_names)


# -- cdc_refresh: CDC batches ----------------------------------------------

CDC_UPDATES = 1_000
CDC_INSERTS = 500      # inserts == tombstones: the snapshot row count stays constant
CDC_STALE = 100        # older versions of updated keys that must lose to the latest


class CdcFeed:
    """Seeded CDC batches against the live key set of the orders snapshot."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self.live = np.arange(ORDERS_ROWS, dtype=np.int64)
        self.next_key = ORDERS_ROWS
        self.batches = 0

    def next_batch(self) -> pa.Table:
        rng = self.rng
        self.batches += 1
        base_seq = self.batches * 10_000
        pick = rng.choice(len(self.live), CDC_UPDATES + CDC_INSERTS, replace=False)
        upd = self.live[pick[:CDC_UPDATES]]
        dele = self.live[pick[CDC_UPDATES:]]
        ins = np.arange(self.next_key, self.next_key + CDC_INSERTS, dtype=np.int64)
        self.next_key += CDC_INSERTS
        stale = rng.choice(upd, CDC_STALE, replace=False)
        keys = np.concatenate([stale, upd, ins, dele])
        cols = _orders_cols(rng, keys)
        # stale versions carry lower seq than every winning row
        cols["seq"] = base_seq + np.arange(len(keys), dtype=np.int64)
        cols["is_delete"] = np.concatenate([
            np.zeros(CDC_STALE + CDC_UPDATES + CDC_INSERTS, dtype=bool),
            np.ones(CDC_INSERTS, dtype=bool),
        ])
        self.live = np.concatenate([np.delete(self.live, pick[CDC_UPDATES:]), ins])
        t = pa.table(cols)
        return t.take(rng.permutation(t.num_rows))


# -- op parameters -------------------------------------------------------------

def _date(rng: np.random.Generator, lo: int = 0, hi: int = DAYS) -> str:
    return str(DAY0 + int(rng.integers(lo, hi)))


def lineitem_query(rng: np.random.Generator, variant: int) -> tuple[list, dict]:
    """Filtered group-by over lineitem; ``variant`` fixes the template."""
    if variant == 0:
        start = int(rng.integers(0, DAYS - 400))
        filters = [
            {"column": "l_shipdate", "operator": "gte", "value": _date(rng, start, start + 1)},
            {"column": "l_shipdate", "operator": "lt", "value": _date(rng, start + 200, start + 400)},
        ]
        spec = {
            "group_by": ["l_returnflag", "l_linestatus"],
            "metrics": [
                {"column": "l_extendedprice", "agg": "sum"},
                {"column": "l_quantity", "agg": "avg"},
                {"column": "*", "agg": "count"},
            ],
        }
    else:
        lo = int(rng.integers(0, 6))
        filters = [
            {"column": "l_discount", "operator": "between", "value": [lo / 100.0, (lo + 3) / 100.0]},
            {"column": "l_quantity", "operator": "lt", "value": int(rng.integers(10, 45))},
        ]
        spec = {
            "group_by": ["l_linenumber"],
            "metrics": [
                {"column": "l_extendedprice", "agg": "sum"},
                {"column": "l_tax", "agg": "max"},
            ],
            "limit": 5,
        }
    return filters, spec


def orders_query(rng: np.random.Generator) -> tuple[list, dict]:
    lo = int(rng.integers(0, 12_000))
    filters = [{"column": "o_custkey", "operator": "between", "value": [lo, lo + 3_000]}]
    spec = {
        "group_by": ["o_orderpriority"],
        "metrics": [{"column": "o_totalprice", "agg": "sum"}, {"column": "*", "agg": "count"}],
    }
    return filters, spec


FRESH_SPEC = {
    "group_by": ["o_orderstatus"],
    "metrics": [{"column": "*", "agg": "count"}, {"column": "o_totalprice", "agg": "sum"}],
}


def drill_params(rng: np.random.Generator) -> dict:
    return {
        "filters": [
            {"column": "l_suppkey", "operator": "lt", "value": int(rng.integers(100, 600))},
            {"column": "l_returnflag", "operator": "eq", "value": str(FLAGS[rng.integers(0, 3)])},
        ],
        "columns": ["l_orderkey", "l_partkey", "l_extendedprice", "l_shipdate"],
        "order_by": "l_extendedprice",
        "order_desc": True,
        "limit": 50,
        "offset": int(rng.integers(0, 500)),
    }


def filter_values_params(rng: np.random.Generator) -> dict:
    return {"column": "l_partkey", "search": str(int(rng.integers(10, 100))), "limit": 50}


# -- op sequences --------------------------------------------------------------

#: nominal warm duration of one block (s); the timed window runs
#: ceil(seconds / nominal) blocks, so both commits do identical work
CDC_BLOCK_NOMINAL_S = 6.5
ETL_OP_NOMINAL_S = 2.7
SCHEMA_EVERY = 4   # one schema op in the first of every 4 cdc_refresh blocks


def cdc_ops(rng: np.random.Generator, blocks: int, feed: CdcFeed) -> list[dict]:
    """``blocks`` cdc_refresh blocks. Each block holds one CDC write
    directly followed by its fresh read, three queries (two on
    lineitem, one on orders), one drill-down and one filter-values
    call; the first of every SCHEMA_EVERY blocks adds one schema call."""
    ops: list[dict] = []
    for b in range(blocks):
        units: list[list[dict]] = [
            [{"kind": "cdc_apply", "batch": feed.next_batch()}, {"kind": "fresh_query"}],
            [{"kind": "query", "source": "lineitem", "args": lineitem_query(rng, 0)}],
            [{"kind": "query", "source": "lineitem", "args": lineitem_query(rng, 1)}],
            [{"kind": "query", "source": "orders", "args": orders_query(rng)}],
            [{"kind": "drill_down", "args": drill_params(rng)}],
            [{"kind": "filter_values", "args": filter_values_params(rng)}],
        ]
        if b % SCHEMA_EVERY == 0:
            units.append([{"kind": "schema"}])
        for i in rng.permutation(len(units)):
            ops.extend(units[i])
    return ops
