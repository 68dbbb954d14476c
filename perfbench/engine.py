"""One benchmark run inside a fresh engine process.

Started by ``run.py`` with the checkout root on ``PYTHONPATH``, the
process sets up the session, checks every query's output in an untimed
first pass, runs the workload's untimed warm passes, times the number of
whole passes over the workload that ``--seconds`` sets, and writes its raw
results as JSON to ``--out``. With ``--trace 1`` it also wraps the
engine's modules in spans and reduces the Spark event log that ``run.py``
turned on, to per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

from checks import Oracle
from spans import Span, Tracer, package_modules, patch_functions
from stats import HostNoise
from workloads import WARM_PASSES, families, pass_orders, timed_passes

# Physical-plan nodes that run Python workers.
_PYTHON_NODE = re.compile(
    r"\(\d+\) (ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython"
    r"|WindowInPandas|ArrowWindowPython|PythonUDTF|ArrowEvalPythonUDTF)\b"
)


def warm_up(spark, queries, fixture: str) -> None:
    """The fixed warm-up counted in set-up time: one ``tpch_q1`` noop
    write (JIT, footers, codegen) and one 1000-row pandas UDF (Python
    worker fork)."""
    from pyspark.sql import functions as F

    noop(queries["tpch_q1"](spark, fixture))
    identity = F.pandas_udf(lambda s: s, "long")
    noop(spark.range(1000).select(identity("id")))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ann_cache_clearer():
    """``clear_ann_caches`` while the package exports it, else a no-op, so
    every query execution trains its ANN artifacts cold."""
    from stupidb_spark import operators

    return getattr(operators, "clear_ann_caches", lambda: None)


def install_tracing(tracer: Tracer) -> dict:
    """Wrap operator modules, ``load_table`` and ``SparkSession.newSession``
    in spans, in every ``stupidb_spark`` namespace that bound them."""
    import importlib
    import pkgutil

    from pyspark.sql import SparkSession

    import stupidb_spark.operators as ops_pkg
    from stupidb_spark.sources import catalog

    modules = {
        info.name: importlib.import_module(f"stupidb_spark.operators.{info.name}")
        for info in pkgutil.iter_modules(ops_pkg.__path__)
    }
    namespaces = package_modules("stupidb_spark")
    patched = {
        name: patch_functions(tracer, module, "operator", name, namespaces)
        for name, module in modules.items()
    }
    for ns in namespaces:
        if getattr(ns, "load_table", None) is catalog.load_table:
            ns.load_table = tracer.wrap(catalog.load_table, "sources.load_table", "source")
    SparkSession.newSession = tracer.wrap(
        SparkSession.newSession, "SparkSession.newSession", "new_session"
    )
    return patched


def plan_shape(df) -> dict:
    """Static shape of the returned DataFrame's plan. (Its codegen spans
    exist only in the final adaptive plan, so they come from the event
    log instead.)"""
    from stupidb_spark.plans import exchange_count, formatted_plan

    return {
        "exchanges": exchange_count(df),
        "python_nodes": len(set(_PYTHON_NODE.findall(formatted_plan(df)))),
    }


def retained_heap_mb(spark, max_rounds: int = 12) -> float:
    """JVM heap still live after full collections: what the session keeps
    for good (persisted and broadcast blocks, sessions, caches).

    A collection lets Spark's context cleaner drop unreachable broadcast
    and cached blocks, whose memory only the next collection frees, and
    that can free further blocks in turn. So collections repeat, with a
    pause for the cleaner, until two in a row free less than 1 MiB, and
    the lowest reading is kept.
    """
    import gc

    runtime = spark._jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    flat = 0
    while len(readings) < max_rounds and flat < 2:
        gc.collect()  # drops Python proxies that pin JVM objects
        spark._jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append((runtime.totalMemory() - runtime.freeMemory()) / 2**20)
        flat = flat + 1 if len(readings) > 1 and readings[-2] - readings[-1] < 1.0 else 0
    return min(readings)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in the JVM's /proc status")


def error_name(exc: BaseException) -> str:
    """The error class and the first line of its message."""
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:300]}"


def run(args) -> dict:
    noise = HostNoise()
    tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-{os.getpid()}")
    with tracer.span("session.start", "session") as start_span:
        from stupidb_spark.queryset import ORACLES, QUERIES
        from stupidb_spark.session import DEFAULT_SF_DIR as fixture
        from stupidb_spark.session import get_session

        spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.warmup", "session") as warm_span:
        warm_up(spark, QUERIES, fixture)
    result = {
        "setup_s": start_span.duration + warm_span.duration,
        "session_start_s": start_span.duration,
        "session_warmup_s": warm_span.duration,
        "cores": spark.sparkContext.defaultParallelism,
        "fixture": fixture,
    }
    clear_ann_caches = ann_cache_clearer()
    if args.trace:
        result["patched_bindings"] = install_tracing(tracer)
    orders = pass_orders(args.workload, args.seed)

    # Untimed first pass: warm every plan and check every output.
    checks = {}
    failures = []
    first = next(orders)
    oracle = Oracle(fixture, ORACLES, first)
    try:
        for name in first:
            clear_ann_caches()
            with tracer.span(name, "query", phase="check") as q:
                try:
                    with tracer.span("build", "build"):
                        df = QUERIES[name](spark, fixture)
                    with tracer.span("check", "check"):
                        checks[name] = oracle.check(name, df)
                except Exception as exc:  # a failing query is named and counted, not fatal
                    checks[name] = {"error": error_name(exc)}
                    failures.append({"query": name, "phase": "check", "error": error_name(exc)})
            checks[name]["wall_s"] = q.duration
    finally:
        oracle.close()

    # Untimed noop passes carry on the JIT warm-up the check pass starts
    # (without them the first timed passes run a third slower), then the
    # timed passes: a fixed number, set by --seconds (workloads.timed_passes).
    samples: dict[str, list[float]] = {name: [] for name in checks}
    shapes: dict[str, dict] = {}
    attempted = len(checks)
    passes = timed_passes(args.workload, args.seconds)
    warm = WARM_PASSES[args.workload]
    window_start = timed_noise = None
    for k in range(-warm, passes):
        if k == 0:
            window_start = time.perf_counter()
            timed_noise = HostNoise()
        for name in first if k < 0 else next(orders):
            clear_ann_caches()
            attempted += 1
            phase = "warm" if k < 0 else "timed"
            try:
                with tracer.span(name, "query", phase=phase, **{"pass": k}) as q:
                    with tracer.span("build", "build"):
                        df = QUERIES[name](spark, fixture)
                    if args.trace:
                        with tracer.span("plan", "plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec", "exec"):
                        noop(df)
            except Exception as exc:  # counted in failed_frac; the run goes on
                label = f"warm{k + warm}" if k < 0 else f"pass{k}"
                failures.append({"query": name, "phase": label, "error": error_name(exc)})
                continue
            if k < 0:
                continue
            samples[name].append(q.duration)
            if args.trace and name not in shapes:
                shapes[name] = plan_shape(df)
    result.update(
        window_s=time.perf_counter() - window_start,
        passes=passes,
        attempted=attempted,
        failures=failures,
        checks=checks,
        samples=samples,
        noise={"run": noise.report(), "timed": timed_noise.report()},
    )
    clear_ann_caches()
    result["retained_mb"] = retained_heap_mb(spark)
    if args.trace:
        result["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        result["plan_shapes"] = shapes
    spark.stop()  # flushes the event log
    if args.trace:
        result["trace"] = traced_layers(args, tracer.spans, result)
        with open(args.spans_out, "w") as f:
            json.dump(tracer.records(), f)
    return result


def traced_layers(args, spans: list[Span], result: dict) -> dict:
    from eventlog import find_app_log, read_lines, reduce_log
    from layers import compute, median_wall

    log = reduce_log(read_lines(find_app_log(args.event_dir)))
    metrics, breakdown, modules = compute(spans, log, result["cores"])
    shapes = result["plan_shapes"]
    for key in ("exchanges", "python_nodes"):
        metrics[f"plan.{key}"] = sum(s[key] for s in shapes.values())
    metrics["session.start_s"] = result["session_start_s"]
    metrics["session.warmup_s"] = result["session_warmup_s"]
    metrics["session.jvm_peak_rss_mb"] = result["jvm_peak_rss_mb"]
    metrics["trace.wall_s"] = median_wall(breakdown)

    fam = families(args.workload)
    by_family: dict[str, dict] = {}
    for name, rows in breakdown.items():
        f = by_family.setdefault(
            fam[name], {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "python_sent_bytes": 0.0}
        )
        for r in rows:
            for key in f:
                f[key] += r[key] / len(rows)
    return {
        "metrics": metrics,
        "queries": breakdown,
        "families": by_family,
        "operators": modules,
        "event_log": {"jobs": len(log.jobs), "stages": len(log.stages), "batches": len(log.batches)},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--event-dir")
    p.add_argument("--spans-out")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
