"""Fixture-table catalog with explicit StructType schemas.

The reference has no schema concept at all — columns are dict keys and types
are whatever Python values appear (`stupidb/aggregation.py:519-521` even
wishes for static schemas). Explicit schemas are the single largest model
upgrade (SURVEY.md §1.2): they make column pruning, predicate pushdown and
vectorized parquet reads possible.

Scale note: at 100 TB the scan is the dominant cost. Pinning the schema here
(instead of inferring) avoids a footer-sampling pass and guarantees
``ReadSchema`` prunes to exactly the referenced columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


FIXTURE_SCHEMAS: dict[str, StructType] = {
    "region": _st(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _st(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _st(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    # events.ts is physically timestamp[us] in the current fixtures, which
    # Spark's vectorized reader handles natively as TimestampType. If a
    # future regeneration writes TIMESTAMP(NANOS) instead (which the
    # vectorized reader rejects as TimestampType), read_fixture sniffs the
    # footer, reads ts with a LongType schema as raw nanos and truncates to
    # µs (what DuckDB does). The per-read schema is enough; no session
    # conf changes.
    "events": _st(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _st(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _st(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TABLE_NAMES = tuple(FIXTURE_SCHEMAS)

# Dimension tables that are always broadcast-size regardless of scale factor.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def parquet_ts_is_nanos(path: str) -> bool:
    """True iff ``path`` stores ``ts`` as physical TIMESTAMP(NANOS).

    Checks the parquet *physical+logical* type, not pyarrow's arrow-mapped
    type: Spark-written INT96 timestamps also map to arrow ``timestamp[ns]``
    but Spark reads INT96 natively as TimestampType — only a true INT64
    nanosecond column needs the raw-long read of :func:`read_fixture`.
    """
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema
    for i in range(len(schema)):
        col = schema.column(i)
        if col.name == "ts":
            return (
                col.physical_type == "INT64"
                and "nanoseconds" in str(col.logical_type)
            )
    return False


def _first_parquet_file(path: str) -> str:
    """``path`` itself when it is a file, else the first ``*.parquet``
    under it (``path`` may be a directory or a glob)."""
    import glob
    import os

    if os.path.isfile(path):
        return path
    found = sorted(glob.glob(f"{path}/*.parquet")) or sorted(
        glob.glob(f"{path}/**/*.parquet", recursive=True)
    )
    if not found:
        # The sniff decides the schema for the whole read; guessing on an
        # empty stream directory would silently misread TIMESTAMP(NANOS)
        # files staged later.
        raise FileNotFoundError(
            f"no parquet files in {path} to sniff the timestamp physical type"
            " from — stage at least one file before defining a stream (the"
            " schema is fixed at definition time)"
        )
    return found[0]


def read_fixture(
    spark: SparkSession,
    name: str,
    path: str,
    *,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Read fixture table ``name`` from the parquet at ``path`` with its
    pinned schema: a batch read, or with ``stream=True`` a file-source
    stream (``max_files_per_trigger=1`` makes each staged file its own
    micro-batch).

    ``events.ts`` is read natively when it is timestamp[us]. A
    TIMESTAMP(NANOS) file, which Spark's vectorized reader rejects as
    TimestampType, is read with ``ts`` pinned to LongType — raw nanos —
    and truncated to µs (DuckDB's ns→µs cast). The schema is per read, so
    no session conf changes and a later schema-less read of another NANOS
    file still fails as Spark's default reader does. The footer is sniffed
    on every call — one local metadata read — so a file rewritten in place
    between reads is read as it now is.
    """
    from pyspark.sql import functions as F

    schema = FIXTURE_SCHEMAS[name]
    nanos = name == "events" and parquet_ts_is_nanos(_first_parquet_file(path))
    if nanos:
        schema = StructType(
            [
                StructField(f.name, LongType() if f.name == "ts" else f.dataType, True)
                for f in schema.fields
            ]
        )
    reader = (spark.readStream if stream else spark.read).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its pinned schema."""
    from stupidb_spark.session import ensure_worker_pythonpath

    ensure_worker_pythonpath(spark)
    return read_fixture(spark, name, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full fixture star schema as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
