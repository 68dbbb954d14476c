#!/usr/bin/env python3
"""Benchmark of the stupidb-spark engine: one workload, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run starts the engine in a fresh
process (``engine.py``) as a closed loop with one client: set-up through
``stupidb_spark.session.get_session`` with ``SPARK_GRAFT_CPUS`` set to the
host's core count less one (``engine_cores``), an untimed pass that checks
every query's output, an untimed warm pass, then the whole timed passes of
noop writes, in a seed-fixed order, that ``--seconds`` sets
(``workloads.timed_passes``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``END_TO_END``); with ``--trace 1`` the Spark event log is
on and spans wrap the engine's modules, and the metrics are the per-layer
ones (``layers.METRICS``). Everything the run writes stays under
``perfbench/.runs/``: Spark scratch is removed at the end, and the run's
full record (per-query times, check hashes, host noise, traced breakdown
and spans) is kept in ``perfbench/.runs/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

from layers import METRICS as PER_LAYER
from stats import failed_frac, geomean, nproc, steady_times
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "geomean_s": "s",
    "retained_mb": "MiB",
}

# A run takes about a minute; the limit keeps the whole run under 180 s.
CHILD_TIMEOUT_S = 150


def engine_cores() -> int:
    """Cores the engine runs tasks on: all but one, which stays free for
    the Python driver, the JIT compiler and the garbage collector. On a
    4-core host with one core kept busy by another process, the relational
    passes slowed by about a quarter with tasks on all four cores, and by
    about a tenth with tasks on three."""
    return max(1, nproc() - 1)


def child_env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    # The workloads read the package's default fixture, never another one
    # an outer environment may point the package at.
    env.pop("SPARK_GRAFT_SF_DIR", None)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir}/events",
            "--conf", "spark.eventLog.compress=false",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(engine_cores()),
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        TMPDIR=f"{run_dir}/tmp",
        SPARK_LOCAL_DIRS=f"{run_dir}/local",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        # Both the launcher and the driver JVM: temp files in the run
        # directory, and no perf-data file in the system temp directory.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    )
    return env


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Terminate what is left of a child's process group (the JVM and its
    Python workers) and wait until none of it remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_engine(args, run_dir: str, out: str, extra: list[str]) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "engine.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
        *extra,
    ]
    with open(os.path.join(run_dir, "engine.log"), "ab") as log:
        proc = subprocess.Popen(
            cmd,
            cwd=run_dir,
            env=child_env(run_dir, bool(args.trace)),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "engine.log"), errors="replace") as f:
            tail = f.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"engine process {reason}; log tail:\n{tail}")
    with open(out) as f:
        return json.load(f)


def end_to_end(result: dict) -> dict:
    steady = steady_times(result["samples"])
    return {
        "setup_s": result["setup_s"],
        "wall_s": sum(steady.values()),
        "geomean_s": geomean(list(steady.values())),
        "retained_mb": result["retained_mb"],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "stupidb_spark", "__init__.py")):
        print(f"no stupidb_spark package at {ROOT}: run from a checkout of the engine", file=sys.stderr)
        return 2

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, name)
    records = os.path.join(RUNS, "records")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    extra = []
    if args.trace:
        extra = [
            "--event-dir", os.path.join(run_dir, "events"),
            "--spans-out", os.path.join(records, f"{name}.spans.json"),
        ]
    try:
        result = run_engine(args, run_dir, os.path.join(run_dir, "result.json"), extra)
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        keep = os.path.join(run_dir, "engine.log")
        if os.path.exists(keep):
            shutil.copy(keep, os.path.join(records, f"{name}.engine.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(result["failures"])
    attempted = result["attempted"]
    e2e = end_to_end(result)
    missing = sorted(q for q, ts in result["samples"].items() if not ts)
    correct = failed == 0 and not missing
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": e2e,
        "failed_frac": failed_frac(failed, attempted),
        **result,
    }
    with open(os.path.join(records, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for fail in result["failures"]:
        print(f"FAILED {fail['query']} ({fail['phase']}): {fail['error']}")
    noise = result["noise"]["timed"]
    print(
        f"{args.workload} seed={args.seed} passes={result['passes']} "
        f"failed_frac={record['failed_frac']:.4f} steal={noise['steal_pct']}% "
        f"loadavg={noise['loadavg_start']}->{noise['loadavg_end']} nproc={noise['nproc']}"
    )
    if args.trace:
        layer = result["trace"]["metrics"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
