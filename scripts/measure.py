#!/usr/bin/env python
"""Measure headline queries on sessions built by ``get_session``.

    python scripts/measure.py time q1,q2 [--conf "k=v;k2=v2"] [--runs N]
        [--cycles N] [--max-steal PCT] [--fingerprint]
    python scripts/measure.py profile q [--runs N]
    python scripts/measure.py plans [suffix] [q1,q2]

``time`` runs each query to the noop sink on fresh sessions (arms). Each
session first runs the fixed warm-up (a ``tpch_q1`` noop write and a
1000-row pandas UDF), then per query one untimed warm run and ``--runs``
timed runs. Every run is stamped with the host steal share across it
(``/proc/stat``). The report gives, per query and arm, the minimum over
clean runs (steal <= ``--max-steal``), the minimum over all runs and the
clean-run count; a verdict holds only when every arm has clean runs.
Without ``--conf`` there is one arm, the engine conf: a plain timer. With
``--conf`` the override arm (engine conf plus the entries) alternates with
the stock arm, one fresh session each per cycle, and ``ratio`` is
override / stock; ``--conf ""`` is an A/A run that shows the noise floor.
``--fingerprint`` prints each arm's row count and sorted-row hash, and the
command exits 1 when the arms' hashes differ.

``profile`` runs one query ``--runs`` times with the Spark event log on and
prints each run's jobs and their stages: tasks, task time, task CPU,
shuffle write/read, spill and bytes sent to Python workers. The log is
reduced by the benchmark's own reducer (``perfbench/eventlog.py``).

``plans`` writes ``.explain("formatted")`` of each named headline query
(default: all but the stream gates) to ``plans/r15/<query>_<suffix>.txt``.

Queries read ``SPARK_GRAFT_SF_DIR`` (default sf0.1); ``SPARK_GRAFT_CPUS``
sets the core count, as for every ``get_session`` caller.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

# Queries whose callable runs a staged stream (or writes a batch artifact)
# as a side effect and returns a parquet read-back, so their formatted plan
# carries no optimization signal; ``plans`` skips them unless named.
STREAM_GATES = {
    "stream_quality_gate",
    "stream_knn_label",
    "stream_knn_label_join",
    "stream_events_tumbling",
    "stream_events_sliding",
    "stream_events_session",
    "stream_events_session_append",
    "sketch_events_daily",
}


def parse_conf(text: str) -> dict[str, str]:
    """``"k=v;k2=v2"`` as a conf dict. Empty entries are skipped and a
    value may itself contain ``=``; an entry without ``=`` or without a key
    is a usage error that names the entry."""
    conf = {}
    for entry in text.split(";"):
        if not entry.strip():
            continue
        key, sep, value = entry.partition("=")
        if not sep or not key.strip():
            raise argparse.ArgumentTypeError(f"conf entry {entry!r} is not key=value")
        conf[key.strip()] = value.strip()
    return conf


def _session(app_name: str, overrides: dict[str, str]):
    from stupidb_spark.session import get_session

    spark = get_session(app_name, overrides=overrides)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fingerprint(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return f"rows={len(rows)} hash={digest}"


def _best(samples: list[tuple[float, float]], max_steal: float):
    nan = float("nan")
    clean = [wall for wall, steal in samples if steal <= max_steal]
    every = [wall for wall, _ in samples]
    return min(clean, default=nan), min(every, default=nan), len(clean)


def cmd_time(args, sf_dir: str) -> int:
    from pyspark.sql import functions as F

    from perfbench.stats import cpu_ticks
    from stupidb_spark.queryset import QUERIES

    names = args.queries.split(",")
    arms = {"stk": {}} if args.conf is None else {"ovr": args.conf, "stk": {}}
    cycles = args.cycles or (1 if args.conf is None else 3)
    samples: dict[tuple[str, str], list[tuple[float, float]]] = {}
    prints: dict[tuple[str, str], str] = {}
    for cycle in range(cycles):
        for arm, overrides in arms.items():
            spark = _session(f"measure-{arm}", overrides)
            _noop(QUERIES["tpch_q1"](spark, sf_dir))
            identity = F.pandas_udf(lambda s: s, "long")
            _noop(spark.range(1000).select(identity("id")))
            for name in names:
                for run in range(args.runs + 1):
                    steal0, total0 = cpu_ticks()
                    t0 = time.perf_counter()
                    _noop(QUERIES[name](spark, sf_dir))
                    wall = time.perf_counter() - t0
                    steal1, total1 = cpu_ticks()
                    if run:  # run 0 warms this query in this session
                        steal = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
                        samples.setdefault((name, arm), []).append((wall, steal))
                if args.fingerprint and cycle == 0:
                    prints[name, arm] = _fingerprint(QUERIES[name](spark, sf_dir))
            spark.stop()
        print(f"-- cycle {cycle} done", flush=True)

    ab = len(arms) == 2
    header = f"{'query':32s}"
    header += "".join(f" {arm + '_clean':>9} {arm + '_all':>8}" for arm in arms)
    header += f" {'ratio':>6}" if ab else ""
    print(f"{header}  clean_n({'/'.join(arms)})")
    for name in names:
        best = {a: _best(samples.get((name, a), []), args.max_steal) for a in arms}
        line = f"{name:32s}"
        line += "".join(f" {c:9.3f} {a:8.3f}" for c, a, _ in best.values())
        line += f" {best['ovr'][0] / best['stk'][0]:6.2f}" if ab else ""
        print(line + "  " + "/".join(str(n) for _, _, n in best.values()))
    for (name, arm), runs in sorted(samples.items()):
        print(f"  {name} [{arm}]: " + ", ".join(f"{w:.2f}@{st:.1f}%" for w, st in runs))
    if not args.fingerprint:
        return 0
    differ = []
    for name in names:
        for arm in arms:
            print(f"  {name} [{arm}] {prints[name, arm]}")
        if len({prints[name, arm] for arm in arms}) > 1:
            differ.append(name)
    if differ:
        print(f"result hashes differ between arms: {differ}")
        return 1
    return 0


def cmd_profile(args, sf_dir: str) -> int:
    from perfbench.eventlog import find_app_log, read_lines, reduce_log
    from stupidb_spark.queryset import QUERIES

    event_dir = tempfile.mkdtemp(prefix="measure-events-")
    try:
        spark = _session(
            "measure-profile",
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
            },
        )
        windows = []
        for run in range(args.runs):
            t0 = time.time()
            _noop(QUERIES[args.query](spark, sf_dir))
            windows.append((t0, time.time()))
            print(f"run {run}: {windows[-1][1] - t0:.3f}s", flush=True)
        spark.stop()
        log = reduce_log(read_lines(find_app_log(event_dir)))
    finally:
        shutil.rmtree(event_dir, ignore_errors=True)

    for run, (t0, t1) in enumerate(windows):
        jobs = [job for _, job in sorted(log.jobs.items()) if t0 <= job.start <= t1]
        job_ms = [round(1000 * (job.end - job.start)) if job.end else 0 for job in jobs]
        print(f"\n== {args.query} run {run}: {len(jobs)} jobs, {sum(job_ms)} ms ==")
        for job, ms in zip(jobs, job_ms):
            print(f"  job {job.id}: {ms} ms, {len(job.stage_ids)} stages")
            for sid in job.stage_ids:
                stage = log.stages.get(sid)
                if stage is None:
                    continue  # skipped: its shuffle output was reused
                s = {k: round(v) for k, v in stage.sums.items()}
                print(
                    f"    stage {sid}: {stage.tasks} tasks, "
                    f"{s.get('task_ms', 0)} ms task, "
                    f"{s.get('task_cpu_ns', 0) // 10**6} ms cpu, "
                    f"shufW {s.get('shuffle_write_bytes', 0)}, "
                    f"shufR {s.get('shuffle_read_bytes', 0)}, "
                    f"spill {s.get('spill_bytes', 0)}, "
                    f"pySent {s.get('python_sent_bytes', 0)}"
                )
    return 0


def cmd_plans(args, sf_dir: str) -> int:
    from bench import HEADLINE
    from stupidb_spark.queryset import QUERIES

    names = (
        args.names.split(",")
        if args.names
        else [n for n in HEADLINE if n not in STREAM_GATES]
    )
    out_dir = os.path.join(_REPO, "plans", "r15")
    os.makedirs(out_dir, exist_ok=True)
    spark = _session("stupidb-spark-plans", {})
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        text = QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(text)
        print(name, "ok", flush=True)
    spark.stop()
    return 0


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(description="Measure headline queries.")
    sub = parser.add_subparsers(dest="command", required=True)

    timer = sub.add_parser("time", help="steal-stamped timing or interleaved A/B")
    timer.add_argument("queries", help="comma-separated query names")
    timer.add_argument("--conf", type=parse_conf, help='override arm: "k=v;k2=v2"')
    timer.add_argument("--runs", type=int, default=2, help="timed runs per session")
    timer.add_argument("--cycles", type=int, help="sessions per arm (1; 3 with --conf)")
    timer.add_argument("--max-steal", type=float, default=1.0, help="steal %% bound")
    timer.add_argument("--fingerprint", action="store_true", help="compare row hashes")
    timer.set_defaults(run=cmd_time)

    profile = sub.add_parser("profile", help="event-log job/stage profile of one query")
    profile.add_argument("query")
    profile.add_argument("--runs", type=int, default=2)
    profile.set_defaults(run=cmd_profile)

    plans = sub.add_parser("plans", help="write formatted physical plans")
    plans.add_argument("suffix", nargs="?", default="before")
    plans.add_argument("names", nargs="?", help="comma-separated query names")
    plans.set_defaults(run=cmd_plans)
    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from stupidb_spark.session import DEFAULT_SF_DIR

    return args.run(args, DEFAULT_SF_DIR)


if __name__ == "__main__":
    sys.exit(main())
