"""Source/sink round-trips: csv/json/parquet readers, table_from_rows, and
partitioned parquet writes (the reference's only source is an iterable of
mappings — SURVEY.md §2.1)."""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from stupidb_spark.sources import load_table
from stupidb_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
    table_from_rows,
    write_parquet,
)
from tests.conftest import SF_DIR, write_events_parquet

SCRATCH = Path("/root/repo/.scratch")


@pytest.fixture()
def outdir():
    d = SCRATCH / f"io-{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_table_from_rows_mirrors_reference_entry(spark):
    rows = [{"z": "a", "a": 1}, {"z": "b", "a": 2}]
    df = table_from_rows(spark, rows, schema="z string, a long")
    assert sorted(map(tuple, df.collect())) == [("a", 1), ("b", 2)]


def test_csv_json_parquet_round_trip(spark, outdir):
    src = load_table(spark, SF_DIR, "nation")
    expected = sorted(map(tuple, src.collect()))

    write_parquet(src, str(outdir / "p"))
    assert sorted(map(tuple, read_parquet(spark, str(outdir / "p")).collect())) == expected

    src.write.option("header", True).csv(str(outdir / "c"))
    got_csv = read_csv(spark, str(outdir / "c"), schema=src.schema)
    assert sorted(map(tuple, got_csv.collect())) == expected

    src.write.json(str(outdir / "j"))
    got_json = read_json(spark, str(outdir / "j"), schema=src.schema)
    assert sorted(map(tuple, got_json.collect())) == expected


def test_orc_round_trip_with_pushdown(spark, outdir):
    from stupidb_spark.sources.readers import read_orc, write_orc

    src = load_table(spark, SF_DIR, "nation")
    expected = sorted(map(tuple, src.collect()))
    write_orc(src, str(outdir / "o"))
    back = read_orc(spark, str(outdir / "o"), schema=src.schema)
    assert sorted(map(tuple, back.collect())) == expected
    # predicate pushdown reaches the ORC scan like parquet
    plan = (
        back.filter(F.col("n_nationkey") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "n_nationkey" in plan and "PushedFilters" in plan


def test_text_reader_lines_and_whole_file(spark, outdir, tmp_path):
    from stupidb_spark.sources.readers import read_text

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo\n")
    lines = read_text(spark, str(d))
    assert sorted(r.value for r in lines.collect()) == [
        "line one", "line two", "solo",
    ]
    whole = read_text(spark, str(d), whole_file=True)
    assert whole.count() == 2  # one row per file
    assert any("line one\nline two" in r.value for r in whole.collect())


def test_partitioned_write_prunes(spark, outdir):
    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    src.write.partitionBy("o_orderstatus").parquet(str(outdir / "part"))
    back = spark.read.parquet(str(outdir / "part"))
    one = back.filter(F.col("o_orderstatus") == "F")
    # partition pruning: only the o_orderstatus=F directory is scanned
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() == src.filter(F.col("o_orderstatus") == "F").count()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus=F" in plan


# ---------------------------------------------------------------------------
# fixture physical-schema guard: the driver regenerates /root/testdata between
# rounds, and a silent physical-type change (e.g. events.ts flipping between
# TIMESTAMP(NANOS) and timestamp[us]) must fail HERE, loudly, instead of
# corrupting every timestamp-arithmetic query downstream.
# ---------------------------------------------------------------------------

# Spark catalog type -> acceptable pyarrow types in the fixture footer.
_ARROW_OK = {
    "LongType()": {"int64"},
    "IntegerType()": {"int32", "int64"},
    "DoubleType()": {"double"},
    "StringType()": {"string", "large_string"},
    "TimestampType()": {"timestamp[us]", "timestamp[ns]", "timestamp[ms]"},
    "ArrayType(FloatType(), True)": {"list<element: float>", "list<item: float>"},
}


def test_fixture_footers_match_catalog():
    import pyarrow.parquet as pq

    from stupidb_spark.sources.catalog import FIXTURE_SCHEMAS

    for name, schema in FIXTURE_SCHEMAS.items():
        arrow = pq.ParquetFile(f"{SF_DIR}/{name}.parquet").schema_arrow
        assert set(arrow.names) == {f.name for f in schema.fields}, name
        for field in schema.fields:
            got = str(arrow.field(field.name).type)
            ok = _ARROW_OK[repr(field.dataType)]
            assert got in ok, (
                f"{name}.{field.name}: fixture is physically {got}, catalog "
                f"expects one of {ok} — the driver regenerated testdata with "
                f"a new physical schema; update sources/catalog.py ingestion"
            )


def test_events_ts_ingests_into_fixture_epoch(spark):
    """End-to-end canary for the r2 corruption: a broken unit conversion
    lands every event in 1970; the fixture generator writes 2024 data."""
    import datetime

    bounds = load_table(spark, SF_DIR, "events").agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    assert bounds.lo.year >= 2000, f"events.ts min={bounds.lo} — unit corruption"
    span = bounds.hi - bounds.lo
    assert span >= datetime.timedelta(days=1), f"span {span} — scale corruption"


def test_sql_entry_point_matches_dataframe_path(spark):
    """register_views + spark.sql is a first-class query surface: the SQL
    form of the flagship aggregation must produce exactly the DataFrame
    verb pipeline's rows."""
    from stupidb_spark.queryset import QUERIES
    from stupidb_spark.sources.catalog import register_views

    register_views(spark, SF_DIR)
    sql_rows = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS count_order,
               sum(l_quantity) AS sum_qty
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    ).collect()
    df_rows = (
        QUERIES["tpch_q1"](spark, SF_DIR)
        .select("l_returnflag", "l_linestatus", "count_order", "sum_qty")
        .collect()
    )
    assert sorted(map(tuple, sql_rows)) == sorted(map(tuple, df_rows))


def test_compact_parquet_coalesces_small_files(spark, outdir):
    """Many tiny files in → few right-sized files out, same rowset, and the
    rewrite plan is shuffle-free (coalesce, not repartition)."""
    from stupidb_spark.sources.readers import compact_parquet

    src = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    frag = str(outdir / "fragmented")
    src.repartition(40).write.mode("overwrite").parquet(frag)
    import glob

    assert len(glob.glob(f"{frag}/*.parquet")) >= 40

    n_out = compact_parquet(spark, frag, target_file_bytes=1 << 30)
    assert n_out == 1  # everything fits one target-size file
    compacted = spark.read.parquet(frag + "_compacted")
    assert compacted.count() == src.count()
    assert sorted(map(tuple, compacted.collect())) == sorted(map(tuple, src.collect()))


def test_events_rewritten_in_place_reread_as_written(spark, outdir):
    """The events footer is sniffed per read: a file rewritten in place
    from timestamp[us] to TIMESTAMP(NANOS) is read with the nanos fallback
    on the next load, not with a remembered answer for that path."""
    from stupidb_spark.sources.catalog import parquet_ts_is_nanos

    src = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 300)
    expected = sorted(src.collect())
    path = outdir / "events.parquet"
    write_events_parquet(src, path, nanos=False)
    assert sorted(load_table(spark, str(outdir), "events").collect()) == expected
    write_events_parquet(src, path, nanos=True)
    assert parquet_ts_is_nanos(str(path))
    assert sorted(load_table(spark, str(outdir), "events").collect()) == expected


def test_nanos_events_read_leaves_session_conf(spark, outdir):
    """A TIMESTAMP(NANOS) events read is local to that read: afterwards the
    session's nanosAsLong conf is unchanged, and a schema-less read of
    another NANOS file still fails as Spark's default reader does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    src = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 300)
    write_events_parquet(src, outdir / "events.parquet", nanos=True)
    got = load_table(spark, str(outdir), "events").collect()
    assert sorted(got) == sorted(src.collect())
    assert spark.conf.get(key) == before
    other = outdir / "t_only.parquet"
    t = pa.array([1_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"t": t}), str(other), version="2.6")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(str(other)).collect()
