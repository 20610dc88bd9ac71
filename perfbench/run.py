"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_refresh,etl} --seed N --seconds S --trace {0,1}

One process, one closed-loop client: the next op starts only after the
previous one returned. Spark runs at ``local[<nproc>]``. A run is:

1. set-up (``setup_s``): session start, then input generation and gold
   write repeated SETUP_REPS times (their median counts), then the
   fixed warm-up ops, drawn from a seed stream of their own;
2. the timed window: a fixed, seed-determined op sequence sized from
   ``--seconds`` at a nominal op rate, so every commit runs the same ops;
3. output checks against DuckDB twins, outside the window.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the timed window runs under the tracer and the last
line carries the per-layer metrics. The line before it is the full
record: run stamp, per-op-kind latencies, sample counts, check results
and, for a traced run, the trace report and its overhead against the
latest untraced run of the same workload. Records and traced spans are
also written under ``.perfbench_results/``; working data lives under
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
OP_KINDS = ("query", "drill_down", "filter_values", "schema", "cdc_apply", "fresh_query", "etl_run")
LAYERS = ("plans", "sources", "operators", "pipeline", "sinks", "streaming")

#: traced metric name -> (span name, op kinds it is taken from, unit)
SPAN_METRICS = {
    "plans.run_query.ms": ("plans.run_query", ("query",), "ms"),
    "plans.drill_down.ms": ("plans.drill_down", ("drill_down",), "ms"),
    "plans.distinct_values.ms": ("plans.distinct_values", ("filter_values",), "ms"),
    "plans.profile_schema.ms": ("plans.profile_schema", ("schema",), "ms"),
    "sources.read_csv.ms": ("sources.read_csv", None, "ms"),
    "operators.NullRemover.build_ms": ("operators.NullRemover", None, "ms"),
    "operators.Deduplicator.build_ms": ("operators.Deduplicator", None, "ms"),
    "operators.QualityScorer.build_ms": ("operators.QualityScorer", None, "ms"),
    "operators.Aggregator.build_ms": ("operators.Aggregator", None, "ms"),
    "sinks.write_parquet.ms": ("sinks.write_parquet", None, "ms"),
    "streaming.cdc.apply_ms": ("streaming.cdc.apply", None, "ms"),
    "streaming.cdc.merge_ms": ("streaming.cdc.merge", None, "ms"),
    "streaming.cdc.swap_ms": ("streaming.cdc.swap", None, "ms"),
}
#: metrics the workloads compute from their own op records
WORKLOAD_METRICS = {
    "plans.get_df.refill_ms": "ms",
    "pipeline.run.plan_s": "s",
    "pipeline.run.execute_s": "s",
    "pipeline.rows_out_per_in": "ratio",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "streaming.cdc.snapshot_rows": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {k: u for k, (_, _, u) in SPAN_METRICS.items()}
    units.update(WORKLOAD_METRICS)
    for kind in OP_KINDS:
        units[f"py4j.trips.{kind}"] = "count"
        units[f"spark.jobs.{kind}"] = "count"
        units[f"spark.tasks.{kind}"] = "count"
    units.update({f"layer.{layer}.self_ms": "ms" for layer in LAYERS})
    units.update({
        "session.jvm_gc_ms": "ms",
        "session.cached_mb": "MB",
        "trace.uncovered_frac": "ratio",
    })
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "ok_frac": "ratio",
    "rate_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "fresh_ms": "ms",
    "store_ratio": "ratio",
    "py_peak_rss_mb": "MB",
    "jvm_heap_live_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cpus: int):
    from ai_etl_framework_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def jvm_probe(spark) -> dict[str, float]:
    """Live heap after a full GC, and the MB held by cached blocks."""
    jvm = spark._jvm
    cached = sum(int(i.memSize()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    for _ in range(2):
        jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"jvm_heap_live_mb": int(heap.getUsed()) / 2**20, "cached_mb": cached / 2**20}


def stamp(spark, seed: int, cpus: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "seed": seed,
    }


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0 or x >= 1.0:
        return max(0.0, min(1.0, x))
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    ) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 200):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= c * d
        if abs(c * d - 1.0) < 1e-12:
            break
    return front * h


def quantile(values: list[float], q: int) -> float:
    """q-th percentile, as the Harrell-Davis estimate: a Beta-weighted
    mean of all order statistics. A run holds tens of ops, and on so few
    samples this moves less from run to run than interpolating between
    the two samples nearest the rank."""
    xs = sorted(values)
    n = len(xs)
    a, b = q / 100.0 * (n + 1), (1.0 - q / 100.0) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((hi - lo) * x for lo, hi, x in zip(cdf, cdf[1:], xs))


def end_to_end(wl, timed: list[dict], setup_s: float, probe: dict) -> dict[str, float]:
    ms = [(o["t1"] - o["t0"]) * 1000.0 for o in timed]
    good = sum(1 for o in timed if o["ok"])
    return {
        "setup_s": setup_s,
        "ok_frac": good / len(timed),
        "rate_per_s": len(timed) / (timed[-1]["t1"] - timed[0]["t0"]),
        "op_p50_ms": quantile(ms, 50),
        "op_p90_ms": quantile(ms, 90),
        "fresh_ms": quantile(wl.fresh_ms(timed), 50),
        "store_ratio": wl.store_ratio(),
        "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm_heap_live_mb": probe["jvm_heap_live_mb"],
    }


def per_layer(wl, tracer, timed: list[dict], probe: dict) -> tuple[dict[str, float], dict]:
    report = tracer.report()
    kind_of = {o["id"]: o["kind"] for o in tracer.ops}
    values: dict[str, float] = {}
    for metric, (span, kinds, _unit) in SPAN_METRICS.items():
        durs = [
            (s["end"] - s["start"]) * 1000.0
            for s in tracer.spans
            if s["name"] == span and s["op"] is not None
            and (kinds is None or kind_of.get(s["op"]) in kinds)
        ]
        values[metric] = statistics.median(durs) if durs else 0.0
    values.update(wl.layer_metrics(timed))
    for kind in OP_KINDS:
        counts = report["by_kind"].get(kind, {})
        values[f"py4j.trips.{kind}"] = float(counts.get("py4j_trips", 0))
        values[f"spark.jobs.{kind}"] = float(counts.get("jobs", 0))
        values[f"spark.tasks.{kind}"] = float(counts.get("tasks", 0))
    for layer in LAYERS:
        values[f"layer.{layer}.self_ms"] = report["layer_self_ms"].get(layer, 0.0) / len(timed)
    values["session.jvm_gc_ms"] = report["gc_ms_per_op"]
    values["session.cached_mb"] = probe["cached_mb"]
    values["trace.uncovered_frac"] = report["uncovered_frac_p50"]
    return values, report


def kind_summary(timed: list[dict]) -> dict:
    by: dict[str, list[float]] = {}
    for o in timed:
        by.setdefault(o["kind"], []).append((o["t1"] - o["t0"]) * 1000.0)
    return {k: {"n": len(v), "p50_ms": statistics.median(v)} for k, v in sorted(by.items())}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401

        sys.path.insert(0, ROOT)
        import ai_etl_framework_spark  # noqa: F401
        from perfbench.trace import NullTracer, Tracer
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import what the benchmark drives: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    results = os.path.join(ROOT, ".perfbench_results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    load_start = os.getloadavg()[0]

    t0 = time.perf_counter()
    spark = start_spark(work, cpus)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        gen_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.write_inputs()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm, timed = wl.plan(args.seconds)
        for op in warm:
            wl.timed_op(op)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s

        tracer = Tracer(spark) if args.trace else NullTracer()
        wl.tracer = tracer
        restore = wl.instrument() if args.trace else (lambda: None)
        try:
            for op in timed:
                wl.timed_op(op)
        finally:
            restore()
            tracer.close()
            wl.tracer = NullTracer()
        probe = jvm_probe(spark)
        load_end = os.getloadavg()[0]

        wl.verify(warm + timed)
        warm_ok = all(o["ok"] for o in warm)
        failed = sum(1 for o in timed if not o["ok"])
        e2e = end_to_end(wl, timed, setup_s, probe)
        ms = sorted((o["t1"] - o["t0"]) * 1000.0 for o in timed)
        record = {
            "workload": args.workload,
            "trace": args.trace,
            "stamp": {**stamp(spark, args.seed, cpus),
                      "loadavg_1m_start": load_start, "loadavg_1m_end": load_end},
            "setup": {"session_s": session_s, "inputs_s_reps": gen_s, "warmup_s": warm_s,
                      "warmup_ops": len(warm)},
            "ops": {"attempted": len(timed), "failed": failed,
                    "above_p90": sum(1 for v in ms if v > e2e["op_p90_ms"]),
                    "by_kind": kind_summary(timed),
                    "sequence": [[o["kind"], round((o["t1"] - o["t0"]) * 1000.0, 1)]
                                 for o in warm + timed],
                    "errors": sorted({o["error"] for o in warm + timed if o["error"]}),
                    "warmup_ok": warm_ok, "final_state_ok": wl.final_ok},
            "end_to_end": e2e,
        }
        if args.trace:
            layer, report = per_layer(wl, tracer, timed, probe)
            record["trace_report"] = report
            metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                       for k, u in per_layer_units().items()}
            base = os.path.join(results, f"{args.workload}-untraced-latest.json")
            if os.path.exists(base):
                with open(base) as f:
                    ref = json.load(f)["end_to_end"]
                record["trace_overhead"] = {
                    k: e2e[k] / ref[k] - 1.0 for k in ("op_p50_ms", "op_p90_ms", "rate_per_s")
                }
            else:
                record["trace_overhead"] = None
            with open(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
                json.dump({"spans": tracer.spans, "ops": tracer.ops}, f)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        for fname in [name] + ([] if args.trace else [f"{args.workload}-untraced-latest.json"]):
            with open(os.path.join(results, fname), "w") as f:
                json.dump(record, f, indent=1, default=str)
        print(json.dumps(record, default=str))
        print(json.dumps({
            "correct": failed == 0 and warm_ok and wl.final_ok,
            "attempted": len(timed),
            "failed": failed,
            "metrics": metrics,
        }))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
