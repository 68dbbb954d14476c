"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper, and
an order-insensitive comparison mirroring the driver's check."""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

from stupidb_spark.session import get_session
from stupidb_spark.sources import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_session(
        "stupidb-spark-tests",
        cpus="8",
        overrides={"spark.sql.shuffle.partitions": "8"},
    )
    yield session


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0 and represent at 10 significant digits
        if v == 0:
            return 0.0
        return v
    if isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    try:
        from decimal import Decimal

        if isinstance(v, Decimal):
            return float(v)
    except ImportError:  # pragma: no cover
        pass
    return v


def rowset(rows, columns):
    """Order-insensitive canonical form: sort columns by name, then rows."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


# Type-parity checking lives in stupidb_spark.oracle_checks (shared with
# scripts/gate_check.py, which must not depend on the test tree or pytest);
# re-exported here so tests keep importing it from conftest.
from stupidb_spark.oracle_checks import (  # noqa: E402,F401
    oracle_type_violations,
)


def assert_matches_oracle(sdf, duck_con, sql, *, name=""):
    """Driver-style comparison: row count + sorted-column value sets, plus
    oracle-vs-Spark type parity (the check that would have caught the
    prep_winsorize HUGEINT red rows locally)."""
    type_problems = oracle_type_violations(duck_con, sql, sdf.schema)
    assert not type_problems, f"{name}: oracle type parity: {type_problems}"
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    rel = duck_con.execute(sql)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    left = rowset(spark_rows, spark_cols)
    right = rowset(duck_rows, duck_cols)
    if left != right:
        diffs = [(l, r) for l, r in zip(left, right) if l != r][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def write_events_parquet(df, path, *, nanos):
    """Write an events frame as ONE parquet file; ``ts`` physically
    TIMESTAMP(NANOS) when ``nanos`` else timestamp[us]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df.toPandas(), preserve_index=False)
    ts = table.schema.get_field_index("ts")
    unit = "ns" if nanos else "us"
    table = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(table, str(path), version="2.6")
