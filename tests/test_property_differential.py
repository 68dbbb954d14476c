"""Property-based differential testing: hypothesis-generated tiny relations
run through the verb layer AND DuckDB, results compared exactly.

This upgrades the reference's fixed-fixture SQLite differential pattern
(`stupidb/tests/conftest.py:98-150`) with randomized inputs — nulls,
duplicates, empty relations and single-row groups appear by construction.
Examples are kept tiny and few: each one pays a full Spark job.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stupidb_spark.verbs import (
    aggregate,
    difference_all,
    group_by,
    intersect_all,
    limit,
    order_by,
    select,
    sift,
    union_all,
)

# rows: (k small group key, v nullable small int)
ROWS = st.lists(
    st.tuples(st.integers(0, 3), st.none() | st.integers(-5, 5)),
    min_size=0,
    max_size=12,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _pdf(rows):
    return pd.DataFrame({"k": [k for k, _ in rows], "v": pd.array([v for _, v in rows], dtype="Int64")})


def _sdf(spark, rows):
    return spark.createDataFrame([(k, v) for k, v in rows], "k long, v long")


def _r(seq):
    return sorted(seq, key=repr)


def _duck(sql: str, **frames):
    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(name, pdf)
    return con.execute(sql).fetchall()


@given(rows=ROWS)
@SLOW
def test_grouped_agg_matches_duckdb(spark, rows):
    got = _r(
        tuple(r)
        for r in (
            _sdf(spark, rows)
            >> group_by("k")
            >> aggregate(
                n=F.count(F.lit(1)),
                nv=F.count("v"),
                s=F.sum("v"),
                mn=F.min("v"),
                mx=F.max("v"),
            )
        ).collect()
    )
    want = _r(
        _duck(
            "SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s,"
            " min(v) AS mn, max(v) AS mx FROM t GROUP BY k",
            t=_pdf(rows),
        )
    )
    assert got == want


@given(rows=ROWS)
@SLOW
def test_filter_project_matches_duckdb(spark, rows):
    got = _r(
        tuple(r)
        for r in (
            _sdf(spark, rows)
            >> sift(F.col("v").isNotNull() & (F.col("v") > 0))
            >> select("k", doubled=F.col("v") * 2)
        ).collect()
    )
    want = _r(
        _duck("SELECT k, v * 2 AS doubled FROM t WHERE v IS NOT NULL AND v > 0", t=_pdf(rows))
    )
    assert got == want


@given(rows=ROWS)
@SLOW
def test_order_limit_matches_duckdb(spark, rows):
    # unique total order: (v NULLS FIRST, k, rowid-free data so add v+k tiebreak)
    got = [
        tuple(r)
        for r in (
            _sdf(spark, rows)
            >> order_by(F.col("v").asc_nulls_first(), F.col("k").asc())
            >> limit(5)
        ).collect()
    ]
    want = _duck(
        "SELECT k, v FROM t ORDER BY v ASC NULLS FIRST, k ASC LIMIT 5", t=_pdf(rows)
    )
    # ties beyond (v, k) don't exist since those are all the columns
    assert _r(got) == _r(want) and [g[1] for g in got] == [w[1] for w in want]


@given(left=ROWS, right=ROWS)
@SLOW
def test_bag_set_ops_match_duckdb(spark, left, right):
    l, r = _sdf(spark, left), _sdf(spark, right)
    lp, rp = _pdf(left), _pdf(right)
    for verb, sql_op in [
        (union_all, "UNION ALL"),
        (intersect_all, "INTERSECT ALL"),
        (difference_all, "EXCEPT ALL"),
    ]:
        got = _r(tuple(x) for x in (l >> verb(r)).collect())
        want = _r(
            _duck(f"SELECT * FROM a {sql_op} SELECT * FROM b", a=lp, b=rp)
        )
        assert got == want, sql_op


@given(rows=ROWS)
@SLOW
def test_running_sum_window_matches_duckdb(spark, rows):
    from stupidb_spark.window import rows_window

    w = rows_window(
        partition_by=("k",),
        order_by=(F.col("v").asc_nulls_first(),),
        preceding=None,
        following=0,
    )
    got = _r(
        tuple(r)
        for r in _sdf(spark, rows)
        .withColumn("rs", F.sum("v").over(w))
        .collect()
    )
    want = _r(
        _duck(
            "SELECT k, v, sum(v) OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs FROM t",
            t=_pdf(rows),
        )
    )
    assert got == want


# non-overlapping interval list derived from sorted cut points; values land
# in [0, 40) so some rows fall outside every bucket (must drop identically)
_CUTS = st.lists(
    st.integers(1, 39), min_size=2, max_size=6, unique=True
).map(sorted)
_VALS = st.lists(st.integers(0, 40), min_size=0, max_size=15)


@given(cuts=_CUTS, vals=_VALS)
@SLOW
def test_bucketize_equals_range_join_on_disjoint_intervals(spark, cuts, vals):
    """bucketize (chained CASE) and range_join (broadcast NLJ) are the same
    operator when intervals don't overlap — every row must land in the same
    bucket (or drop) under both, for arbitrary disjoint interval lists."""
    from stupidb_spark.operators.asof import bucketize, range_join

    buckets = [
        (f"b{i}", float(lo), float(hi))
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:]))
    ]
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "id long, value double")

    via_case = (
        bucketize(df, buckets, value=F.col("value"))
        .filter(F.col("bucket_name").isNotNull())
        .select("id", "bucket_name")
    )
    ranges = spark.createDataFrame(buckets, "bucket_name string, lo double, hi double")
    via_join = range_join(
        df, ranges, value=F.col("value"), lo=F.col("lo"), hi=F.col("hi")
    ).select("id", "bucket_name")

    assert _r(tuple(r) for r in via_case.collect()) == _r(
        tuple(r) for r in via_join.collect()
    )


@given(left=ROWS, right=ROWS)
@SLOW
def test_join_family_matches_duckdb(spark, left, right):
    # equi joins across the four families the reference exposes; null keys
    # never match (SQL semantics), null-padding on the outer sides
    from stupidb_spark.verbs import anti_join, inner_join, left_join, semi_join

    l = _sdf(spark, left).withColumnRenamed("v", "lv")
    r = _sdf(spark, right).withColumnRenamed("v", "rv")
    r = r.withColumnRenamed("k", "rk")
    lp, rp = _pdf(left), _pdf(right)
    on = F.col("k") == F.col("rk")

    got = _r(tuple(x) for x in (l >> inner_join(r, on)).collect())
    want = _r(
        _duck(
            "SELECT a.k, a.v AS lv, b.k AS rk, b.v AS rv"
            " FROM a JOIN b ON a.k = b.k",
            a=lp, b=rp,
        )
    )
    assert got == want, "inner"

    got = _r(tuple(x) for x in (l >> left_join(r, on)).collect())
    want = _r(
        _duck(
            "SELECT a.k, a.v AS lv, b.k AS rk, b.v AS rv"
            " FROM a LEFT JOIN b ON a.k = b.k",
            a=lp, b=rp,
        )
    )
    assert got == want, "left"

    got = _r(tuple(x) for x in (l >> semi_join(r, on)).collect())
    want = _r(
        _duck(
            "SELECT a.k, a.v AS lv FROM a"
            " WHERE EXISTS (SELECT 1 FROM b WHERE b.k = a.k)",
            a=lp, b=rp,
        )
    )
    assert got == want, "semi"

    got = _r(tuple(x) for x in (l >> anti_join(r, on)).collect())
    want = _r(
        _duck(
            "SELECT a.k, a.v AS lv FROM a"
            " WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.k = a.k)",
            a=lp, b=rp,
        )
    )
    assert got == want, "anti"


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 200), st.integers(1, 5000)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    batch_size=st.integers(1, 7),
)
@SLOW
def test_bucketed_batches_match_naive_window(spark, rows, batch_size):
    """The salted two-phase batch assignment must equal the naive
    per-bucket global-window form on arbitrary (id, token) relations."""
    from pyspark.sql import Window

    from stupidb_spark.operators.packing import (
        LENGTH_BUCKET_EDGES,
        bucketed_batches,
    )

    df = spark.createDataFrame(rows, "id long, n_tok long")
    got = sorted(
        map(
            tuple,
            bucketed_batches(
                df, id_col="id", token_col="n_tok",
                batch_size=batch_size, seed="p",
            ).collect(),
        )
    )
    bucket = F.lit(0)
    for e in LENGTH_BUCKET_EDGES:
        bucket = bucket + F.when(F.col("n_tok") > e, 1).otherwise(0)
    key = F.md5(F.concat(F.lit("p:"), F.col("id").cast("string")))
    naive = (
        df.withColumn("len_bucket", bucket.cast("int"))
        .withColumn(
            "batch",
            F.floor(
                (
                    F.row_number().over(
                        Window.partitionBy("len_bucket").orderBy(key, "id")
                    )
                    - 1
                )
                / batch_size
            ).cast("long"),
        )
        .select("id", "n_tok", "len_bucket", "batch")
    )
    assert got == sorted(map(tuple, naive.collect()))


def test_second_moment_split_sum_survives_int64_overflow(spark):
    """The sf1 scaling rehearsal overflowed the naive long Σx²·10^4 sum
    (agg_grouped_stats at 6M rows of 6-digit prices). The split q/r form
    must (a) agree bit-exactly with DuckDB's identical textual construction
    on a sum that exceeds int64, and (b) agree with the unsplit closed form
    where no overflow occurs."""
    import duckdb

    from pyspark.sql import functions as F
    from stupidb_spark.functions import exact as X

    # 400k rows of ~1e5-magnitude values: Σ(x²·10^4) ≈ 400k·1e14 = 4e19,
    # past the 9.2e18 int64 envelope that the old single-sum form used
    n = 400_000
    df = spark.range(n).select(
        (F.lit(95000.0) + (F.col("id") % 9973).cast("double") / 100.0).alias("x")
    )
    got = df.agg(
        X.dsum("x", 2).alias("s1"),
        X.dvar_samp("x", 2).alias("v"),
        X.dcovar_samp("x", "x", 2).alias("c"),
    ).collect()[0]

    con = duckdb.connect()
    o = con.execute(
        f"""
        WITH t AS (
          SELECT 95000.0 + (CAST(range AS BIGINT) % 9973) / 100.0 AS x
          FROM range({n})
        )
        SELECT {X.sql_dsum('x', 2)} AS s1,
               {X.sql_dvar_samp('x', 2)} AS v,
               {X.sql_dcovar('x', 'x', 2, samp=True)} AS c
        FROM t
        """
    ).fetchone()
    assert (got.s1.hex(), got.v.hex(), got.c.hex()) == (
        o[0].hex(),
        o[1].hex(),
        o[2].hex(),
    ), (got, o)
    # var(x) == cov(x, x) by definition; the split path must preserve it
    assert got.v == got.c


# random little corpora over a 3-letter alphabet: dense pair-count ties,
# so the (count DESC, left, right) tie-break and the batched disjointness
# rule both get exercised hard
CORPUS = st.lists(
    st.text(alphabet="abc xyz", min_size=0, max_size=24),
    min_size=1,
    max_size=6,
)

BPE_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(texts=CORPUS, batch=st.sampled_from([1, 3]))
@BPE_SLOW
def test_bpe_train_matches_mirror_on_random_corpora(spark, texts, batch):
    from stupidb_spark.operators.bpe import bpe_train
    from tests.mirrors import bpe_train_reference

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_train(df, n_merges=6, batch_size=batch, min_pair_count=2)
    want, _ = bpe_train_reference(
        texts, n_merges=6, batch_size=batch, min_pair_count=2
    )
    assert got == want
