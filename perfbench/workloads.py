"""The benchmark workloads, driven only through the library's public API.

``cdc_refresh``: the gold-reading dashboard (``DashboardService`` over a
cached 600k-row ``lineitem`` gold copy and a 150k-row ``orders``
snapshot) with CDC writes mixed in. Each write hands a seeded batch to
``streaming.cdc.apply_cdc_stream`` (merge_upsert, parquet write, swap),
invalidates the ``orders`` cache, and is followed by the fresh read that
refills it. It exercises ``plans`` on cache hits and on refills, plus
``operators.merge``, ``sinks`` and ``streaming``; it bypasses
``sources`` and ``pipeline``.

``etl``: one op is one ``Pipeline.run`` over a bronze CSV slice
(``sources.read_csv`` → NullRemover → Deduplicator("exact") →
QualityScorer → silver parquet + an Aggregator gold rollup through
``sinks.writers.write_parquet``). Slices cycle and outputs are
overwritten, so disk use stays flat. It bypasses ``plans`` and
``streaming``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import duckdb
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

from perfbench import gen, twin
from perfbench.trace import NullTracer

ORG = "acme"


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = NullTracer()

    def timed_op(self, op: dict) -> None:
        """Run one op; record its wall time on the op itself."""
        with self.tracer.op(op["kind"]):
            t0 = time.perf_counter()
            try:
                self.run(op)
                op["error"] = None
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                op["error"] = f"{type(exc).__name__}: {exc}"
            op["t0"], op["t1"] = t0, time.perf_counter()
        self.after(op)

    def after(self, op: dict) -> None:
        """Bookkeeping outside the op's wall time."""

    def instrument(self):
        """Install traced-run wrappers inside the library's call paths;
        returns the function that removes them."""
        return lambda: None


# -- cdc_refresh ----------------------------------------------------------------

class CdcRefresh(Workload):
    name = "cdc_refresh"
    WARM_BLOCKS = 1

    def write_inputs(self) -> None:
        rng, _, _ = gen.streams(self.seed)
        w = self.work
        self.gold = os.path.join(w, "base")
        li_dir = os.path.join(self.gold, ORG, "gold", "bi", "lineitem")
        os.makedirs(li_dir, exist_ok=True)
        self.lineitem_path = os.path.join(li_dir, "lineitem.parquet")
        pq.write_table(gen.lineitem(rng), self.lineitem_path)
        orders = gen.orders(rng)
        self.orders0 = os.path.join(w, "orders_initial.parquet")
        pq.write_table(orders, self.orders0)
        self.snap = os.path.join(w, "snapshot")
        shutil.rmtree(self.snap, ignore_errors=True)
        os.makedirs(os.path.join(self.snap, "current"))
        pq.write_table(orders, os.path.join(self.snap, "current", "part-0.parquet"))
        # the dashboard reads the snapshot the CDC stream swaps in
        od = os.path.join(self.gold, ORG, "gold", "bi", "orders")
        os.makedirs(od, exist_ok=True)
        link = os.path.join(od, "orders.parquet")
        if not os.path.islink(link):
            os.symlink(os.path.relpath(os.path.join(self.snap, "current"), od), link)
        self.snap0_bytes = os.path.getsize(self.orders0)
        self.feed = gen.CdcFeed(rng)

    def plan(self, seconds: int) -> tuple[list[dict], list[dict]]:
        from pyspark.sql import types as T

        from ai_etl_framework_spark.plans.service import DashboardService

        self.stream_schema = (
            self.spark.read.parquet(self.orders0).schema.add("is_delete", T.BooleanType())
        )
        _, warm_rng, timed_rng = gen.streams(self.seed)
        warm = gen.cdc_ops(warm_rng, self.WARM_BLOCKS, self.feed)
        timed = gen.cdc_ops(timed_rng, math.ceil(seconds / gen.CDC_BLOCK_NOMINAL_S), self.feed)
        self.staged = os.path.join(self.work, "staged")
        self.cdc_in = os.path.join(self.work, "cdc_in")
        os.makedirs(self.staged)
        os.makedirs(self.cdc_in)
        n = 0
        for op in warm + timed:
            if op["kind"] == "cdc_apply":
                op["file"] = f"batch-{n:05d}.parquet"
                pq.write_table(op.pop("batch"), os.path.join(self.staged, op["file"]))
                n += 1
        self.ckpt = os.path.join(self.work, "checkpoint")
        self.svc = DashboardService(self.spark, self.gold)
        return warm, timed

    def run(self, op: dict) -> None:
        from ai_etl_framework_spark.streaming.cdc import apply_cdc_stream
        from ai_etl_framework_spark.streaming.events import read_stream

        kind, tr, svc = op["kind"], self.tracer, self.svc
        if kind == "query":
            filters, spec = op["args"]
            with tr.span("plans.run_query"):
                op["answer"] = svc.query(ORG, op["source"], filters, spec)
        elif kind == "fresh_query":
            with tr.span("plans.run_query"):
                op["answer"] = svc.query(ORG, "orders", None, gen.FRESH_SPEC)
        elif kind == "drill_down":
            with tr.span("plans.drill_down"):
                op["answer"] = svc.drill_down(ORG, "lineitem", **op["args"])
        elif kind == "filter_values":
            p = op["args"]
            with tr.span("plans.distinct_values"):
                op["answer"] = svc.filter_values(
                    ORG, "lineitem", p["column"], search=p["search"], limit=p["limit"]
                )
        elif kind == "schema":
            with tr.span("plans.profile_schema"):
                op["answer"] = svc.schema(ORG, "orders")
        elif kind == "cdc_apply":
            # handing the batch to the engine: it lands in the stream's input dir
            os.rename(os.path.join(self.staged, op["file"]), os.path.join(self.cdc_in, op["file"]))
            with tr.span("streaming.cdc.apply"):
                q = apply_cdc_stream(
                    read_stream(self.spark, self.cdc_in, schema=self.stream_schema),
                    self.snap, ["o_orderkey"], "seq", self.ckpt, delete_col="is_delete",
                )
                tr.add_stream_group(str(q.runId))
                q.awaitTermination()
            with tr.span("plans.invalidate"):
                svc.invalidate(ORG, "orders")
        else:
            raise ValueError(f"unknown op kind {kind!r}")

    def after(self, op: dict) -> None:
        if op["kind"] == "fresh_query" and op["error"] is None:
            rows = sum(r["*_count"] for r in op["answer"]["records"])
            op["snapshot_rows"] = rows
            if rows != gen.ORDERS_ROWS:
                op["error"] = f"snapshot row count drifted: {rows} != {gen.ORDERS_ROWS}"
        if op["kind"] == "cdc_apply" and self.tracer.enabled:
            op["bytes_written"], op["files_written"] = dir_bytes(os.path.join(self.snap, "current"))

    def instrument(self):
        """Spans for the merge build, the snapshot write and the swap
        that run inside the stream's foreachBatch callback."""
        from pyspark.sql import readwriter

        from ai_etl_framework_spark.streaming import cdc

        saved = [(cdc, "apply_cdc_batch"), (cdc, "_swap"),
                 (readwriter.DataFrameWriter, "parquet")]
        originals = [getattr(o, a) for o, a in saved]
        cdc.apply_cdc_batch = self.tracer.wrap("streaming.cdc.merge", cdc.apply_cdc_batch)
        cdc._swap = self.tracer.wrap("streaming.cdc.swap", cdc._swap)
        readwriter.DataFrameWriter.parquet = self.tracer.wrap(
            "sinks.write_parquet", readwriter.DataFrameWriter.parquet
        )

        def restore() -> None:
            for (o, a), f in zip(saved, originals):
                setattr(o, a, f)
        return restore

    def fresh_ms(self, ops: list[dict]) -> list[float]:
        """Per write: from handing the batch over until the fresh read returns."""
        return [
            (b["t1"] - a["t0"]) * 1000.0
            for a, b in zip(ops, ops[1:])
            if a["kind"] == "cdc_apply" and b["kind"] == "fresh_query"
        ]

    def store_ratio(self) -> float:
        return dir_bytes(self.snap)[0] / self.snap0_bytes

    def verify(self, ops: list[dict]) -> None:
        """Replay every batch in DuckDB in op order and check each answer
        against the replayed state it was read from; then the final
        snapshot must equal the replay."""
        con = duckdb.connect()
        con.execute(f"CREATE TABLE lineitem AS SELECT * FROM read_parquet('{self.lineitem_path}')")
        con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.orders0}')")
        cols = ", ".join(twin._q(c) for c in pq.read_schema(self.orders0).names)
        ts = ("l_shipdate", "o_orderdate")
        for op in ops:
            if op["error"] is not None:
                op["ok"] = False
                continue
            kind = op["kind"]
            if kind == "cdc_apply":
                path = os.path.join(self.cdc_in, op["file"])
                con.execute(
                    "CREATE OR REPLACE TEMP TABLE latest AS SELECT * EXCLUDE (rn) FROM ("
                    "SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn "
                    f"FROM read_parquet('{path}')) WHERE rn = 1"
                )
                con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM latest)")
                con.execute(f"INSERT INTO orders SELECT {cols} FROM latest WHERE NOT is_delete")
                op["ok"] = True
            elif kind == "query":
                filters, spec = op["args"]
                op["ok"] = twin.check_query(con, op["source"], op["answer"], filters, spec, ts)
            elif kind == "fresh_query":
                op["ok"] = twin.check_query(con, "orders", op["answer"], None, gen.FRESH_SPEC)
            elif kind == "drill_down":
                op["ok"] = twin.check_drill(con, "lineitem", op["answer"], op["args"], ts)
            elif kind == "filter_values":
                op["ok"] = twin.check_filter_values(con, "lineitem", op["answer"], op["args"])
            elif kind == "schema":
                op["ok"] = twin.check_schema(con, "orders", op["answer"])
        cur = os.path.join(self.snap, "current", "*.parquet")
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM orders EXCEPT ALL "
            f"SELECT {cols} FROM read_parquet('{cur}'))) + (SELECT count(*) FROM ("
            f"SELECT {cols} FROM read_parquet('{cur}') EXCEPT ALL SELECT {cols} FROM orders))"
        ).fetchone()[0]
        self.final_ok = diff == 0
        con.close()

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        writes = [o for o in ops if o["kind"] == "cdc_apply" and o["error"] is None]
        fresh = [o for o in ops if o["kind"] == "fresh_query" and o["error"] is None]
        return {
            "plans.get_df.refill_ms": _med([(o["t1"] - o["t0"]) * 1000.0 for o in fresh]),
            "sinks.bytes_written": _med([o["bytes_written"] for o in writes]),
            "sinks.files_written": _med([o["files_written"] for o in writes]),
            "streaming.cdc.snapshot_rows": _med([o["snapshot_rows"] for o in fresh]),
        }


# -- etl ------------------------------------------------------------------------

class Etl(Workload):
    name = "etl"
    SLICES = 4
    WARM_OPS = 6

    AGG = {
        "sum_qty": {"field": "l_quantity", "function": "sum"},
        "avg_price": {"field": "l_extendedprice", "function": "avg"},
        "n": {"field": "l_orderkey", "function": "count"},
    }
    TYPES = {
        "l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
        "l_linenumber": "INTEGER", "l_quantity": "DOUBLE", "l_extendedprice": "DOUBLE",
        "l_discount": "DOUBLE", "l_tax": "DOUBLE", "l_returnflag": "VARCHAR",
        "l_linestatus": "VARCHAR", "l_shipdate": "DATE",
    }

    def write_inputs(self) -> None:
        rng, _, _ = gen.streams(self.seed)
        bronze = os.path.join(self.work, "bronze")
        os.makedirs(bronze, exist_ok=True)
        self.slices, self.slice_rows = [], []
        for i in range(self.SLICES):
            t = gen.bronze_slice(rng)
            path = os.path.join(bronze, f"slice-{i}.csv")
            pcsv.write_csv(t, path)
            self.slices.append(path)
            self.slice_rows.append(t.num_rows)

    def plan(self, seconds: int) -> tuple[list[dict], list[dict]]:
        n = math.ceil(seconds / gen.ETL_OP_NOMINAL_S)
        warm = [{"kind": "etl_run", "slice": i % self.SLICES} for i in range(self.WARM_OPS)]
        timed = [{"kind": "etl_run", "slice": i % self.SLICES} for i in range(n)]
        return warm, timed

    def out(self, layer: str, i: int) -> str:
        return os.path.join(self.work, layer, f"slice-{i}")

    def run(self, op: dict) -> None:
        from ai_etl_framework_spark.operators import (
            Aggregator, Deduplicator, NullRemover, QualityScorer,
        )
        from ai_etl_framework_spark.pipeline.pipeline import Pipeline
        from ai_etl_framework_spark.sinks.writers import write_parquet
        from ai_etl_framework_spark.sources.readers import read_csv

        tr, i = self.tracer, op["slice"]
        silver, gold = self.out("silver", i), self.out("gold", i)
        write = tr.wrap("sinks.write_parquet", write_parquet)
        rollup = tr.wrap("operators.Aggregator", Aggregator(["l_returnflag", "l_linestatus"], self.AGG))
        with tr.span("sources.read_csv"):
            df = read_csv(self.spark, self.slices[i])
        pipe = (
            Pipeline(f"etl-{i}")
            .extract(df)
            .transform(tr.wrap("operators.NullRemover", NullRemover()))
            .transform(tr.wrap("operators.Deduplicator", Deduplicator("exact")))
            .transform(tr.wrap("operators.QualityScorer", QualityScorer()))
            .load(lambda d: write(d, silver))
            .load(lambda d: write(rollup(d), gold))
        )
        with tr.span("pipeline.run"):
            res = pipe.run()
        if not res.success:
            raise RuntimeError(f"pipeline failed: {res.errors}")
        op["records_loaded"] = res.records_loaded
        op["stages"] = dict(res.stage_durations)

    def after(self, op: dict) -> None:
        if self.tracer.enabled and op["error"] is None:
            b1, f1 = dir_bytes(self.out("silver", op["slice"]))
            b2, f2 = dir_bytes(self.out("gold", op["slice"]))
            op["bytes_written"], op["files_written"] = b1 + b2, f1 + f2

    def fresh_ms(self, ops: list[dict]) -> list[float]:
        """The gold rollup is each op's last write: slice handed to
        Pipeline.run until its gold output is on disk."""
        return [(o["t1"] - o["t0"]) * 1000.0 for o in ops]

    def store_ratio(self) -> float:
        out = sum(dir_bytes(os.path.join(self.work, d))[0] for d in ("silver", "gold"))
        return out / sum(os.path.getsize(p) for p in self.slices)

    def verify(self, ops: list[dict]) -> None:
        """Per slice, DuckDB computes the silver row count and the gold
        rollup from the bronze CSV. Every op's loaded-row count is
        checked; the outputs on disk are those of each slice's last op
        and are checked in full."""
        con = duckdb.connect()
        types = ", ".join(f"'{k}': '{v}'" for k, v in self.TYPES.items())
        nullish = " OR ".join(
            f"{twin._q(c)} IS NULL" + (f" OR {twin._q(c)} = ''" if t == "VARCHAR" else "")
            for c, t in self.TYPES.items()
        )
        want_rows, want_gold = [], []
        for path in self.slices:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE clean AS SELECT DISTINCT * FROM "
                f"read_csv('{path}', header = true, columns = {{{types}}}) WHERE NOT ({nullish})"
            )
            want_rows.append(con.execute("SELECT count(*) FROM clean").fetchone()[0])
            want_gold.append(twin.fetch_dicts(
                con,
                "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "avg(l_extendedprice) AS avg_price, count(l_orderkey) AS n "
                "FROM clean GROUP BY ALL",
            ))
        last = {}
        for op in ops:
            op["ok"] = op["error"] is None and op["records_loaded"] == want_rows[op["slice"]]
            last[op["slice"]] = op
        for i, op in last.items():
            silver = os.path.join(self.out("silver", i), "*.parquet")
            gold = os.path.join(self.out("gold", i), "*.parquet")
            rows = con.execute(f"SELECT count(*) FROM read_parquet('{silver}')").fetchone()[0]
            got = twin.fetch_dicts(
                con, f"SELECT l_returnflag, l_linestatus, sum_qty, avg_price, n FROM read_parquet('{gold}')"
            )
            op["ok"] = op["ok"] and rows == want_rows[i] and twin.same_rows(
                got, want_gold[i], ["l_returnflag", "l_linestatus"]
            )
        self.final_ok = True
        con.close()

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        ops = [o for o in ops if o["error"] is None]
        return {
            "pipeline.run.plan_s": _med([o["stages"]["plan"] for o in ops]),
            "pipeline.run.execute_s": _med([o["stages"]["execute"] for o in ops]),
            "pipeline.rows_out_per_in": _med(
                [o["records_loaded"] / self.slice_rows[o["slice"]] for o in ops]
            ),
            "sinks.bytes_written": _med([o["bytes_written"] for o in ops]),
            "sinks.files_written": _med([o["files_written"] for o in ops]),
        }


def _med(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (CdcRefresh, Etl)}
