"""SparkSession bootstrap tuned for the engine.

The reference (cpcloud/stupidb) is a single-threaded in-memory engine with no
session concept (`stupidb/core.py:42-74` — relations are bare Python
iterators). Here the session is the unit of configuration: AQE, shuffle
parallelism, Arrow, and a fixed UTC timezone so timestamp semantics are stable
across the DuckDB oracle and Spark.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  join-strategy switching are the main levers that keep a static plan healthy
  at 1000 executors.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE coalesces
  down on small inputs and the value should be raised (or left to AQE with a
  high initial value) on a real cluster.
- Arrow enabled so any Pandas-UDF fallback path is batch-vectorized, never
  row-at-a-time pickling.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_session(
    app_name: str = "stupidb-spark",
    *,
    cpus: str | None = None,
    overrides: Mapping[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults applied.

    ``overrides`` are conf entries applied after the defaults, so they win
    (heap, shuffle partitions, event log, an A/B arm's candidate conf).
    The only bootstrap in the repo: tests, bench and scripts all build
    their sessions here.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan split size, tuned to the deployment's file sizes: the fixture
        # tables are a few MB, so the default 128 MB would hand each scan to
        # 1-3 tasks and serialize the read+map side. On a real cluster with
        # 100 TB of ≥128 MB files, set SPARK_GRAFT_MAX_PARTITION_BYTES back
        # up (default there: 128m) — tiny splits at that scale would create
        # millions of tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(1024 * 1024)),
        )
        # AQE coalescing stays PARALLELISM-FIRST (the Spark default).
        # Size-first (parallelismFirst=false + a small advisory target)
        # was measured as a candidate for killing fixed per-task overhead
        # on tiny post-shuffle stages — and REJECTED: an interleaved A/B
        # (min-of-N across alternating fresh sessions) showed ann_knn_join
        # 1.43× SLOWER under size-first on 32 cores, because the
        # quantized-scoring pandas stages are CPU-dense per byte:
        # coalescing their kilobyte shuffles to one task serializes real
        # compute. Bytes are the wrong cost proxy for this engine's Python
        # stages; per-operator partition sizing (e.g.
        # size_state_partitions for streams) is used instead. Reproduce:
        #   python scripts/measure.py time ann_knn_join --fingerprint --conf
        #   "spark.sql.adaptive.coalescePartitions.parallelismFirst=false;
        #   spark.sql.adaptive.advisoryPartitionSizeInBytes=1m"
        .config(map=dict(overrides or {}))
    )
    return builder.getOrCreate()


def ensure_worker_pythonpath(spark: SparkSession) -> None:
    """Make `stupidb_spark` importable inside forked Python UDF workers.

    Workers resolve cloudpickled references via the PYTHONPATH captured in
    ``SparkContext.environment`` at UDF-creation time. If the session (and
    JVM) was created before our package directory reached the environment —
    e.g. a driver that builds its SparkSession first and imports
    ``__spark_entry__`` second, from another cwd — pandas UDFs would fail
    with ModuleNotFoundError. Called from ``load_table`` so every query path
    repairs the environment before any UDF is created.
    """
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    current = env.get("PYTHONPATH", "")
    if repo not in current.split(os.pathsep):
        env["PYTHONPATH"] = repo + (os.pathsep + current if current else "")
    if repo not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get("PYTHONPATH", "")


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we didn't build.

    The driver hands us its own session in ``__spark_entry__.entry``; only
    runtime-mutable confs can be set there.
    """
    for key, value in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.parquet is physically timestamp[us]; read natively. A
        # TIMESTAMP(NANOS) file is read with a per-read LongType schema
        # (sources/catalog.py) — a blanket "true" here would corrupt a µs
        # fixture read as raw longs.
        "spark.sql.legacy.parquet.nanosAsLong": "false",
    }.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in this session; fine — correctness never depends on conf
    return spark
