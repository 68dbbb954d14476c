"""Output checks for the untimed first pass.

An oracled query must match its DuckDB oracle over the same parquet files:
same row count, same canonical value hash, and DuckDB column types that
pandas renders like the Spark ones (``oracle_type_violations``). A query
without an oracle is an approximate algorithm; it must return rows, and its
hash is recorded so two runs can be compared.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import time
from concurrent.futures import ThreadPoolExecutor

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(v) -> str:
    """Engine-neutral rendering of one value.

    Decimal 1.5000 and float 1.5 render alike; a Decimal becomes a float
    only when the double round-trips exactly, so precision beyond double
    shows up as a mismatch instead of being masked. Floats render with
    ``repr`` (shortest round-trip), dates and timestamps as ISO strings.
    """
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, decimal.Decimal):
        if decimal.Decimal(repr(float(v))) == v.normalize():
            return repr(float(v))
        return str(v.normalize())
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def value_hash(rows, names: list[str], order: list[str]) -> str:
    """Order-insensitive hash of ``rows`` (tuples laid out as ``names``),
    with columns taken in ``order``."""
    idx = [names.index(c) for c in order]
    canonical = sorted(tuple(canon(r[i]) for i in idx) for r in rows)
    return hashlib.md5(str(canonical).encode()).hexdigest()


class CheckFailed(Exception):
    """A query ran but its output is wrong."""


class Oracle:
    """DuckDB views over the fixture tables, and the per-query check.

    The oracle queries of ``names`` start at once on a background thread,
    so DuckDB runs while Spark computes the first pass; the pass is not
    timed, so sharing the cores costs nothing the metrics see.
    """

    def __init__(self, fixture_dir: str, oracles: dict[str, str], names: list[str]) -> None:
        import duckdb

        self._oracles = oracles
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
            )
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._results = {
            n: self._pool.submit(self._run, oracles[n]) for n in names if n in oracles
        }

    def _run(self, sql: str):
        cur = self._con.cursor()
        try:
            res = cur.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            cur.close()

    def close(self) -> None:
        for fut in self._results.values():
            fut.cancel()
        self._pool.shutdown(wait=True)
        self._con.close()

    def check(self, name: str, df) -> dict:
        """Collect ``df`` and check it. Returns ``{rows, hash, oracled}``;
        raises ``CheckFailed`` with the reason when the output is wrong."""
        from stupidb_spark.oracle_checks import oracle_type_violations

        t0 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        collect_s = time.perf_counter() - t0
        cols = sorted(df.columns)
        got = value_hash(rows, df.columns, cols)
        sql = self._oracles.get(name)
        if sql is None:
            if not rows:
                raise CheckFailed("approximate query returned no rows")
            return {"rows": len(rows), "hash": got, "oracled": False, "collect_s": collect_s}
        cur = self._con.cursor()
        try:
            problems = oracle_type_violations(cur, sql, df.schema)
        finally:
            cur.close()
        if problems:
            raise CheckFailed(f"oracle type parity: {problems}")
        onames, orows = self._results[name].result()
        if len(orows) != len(rows):
            raise CheckFailed(f"{len(rows)} rows, oracle has {len(orows)}")
        if value_hash(orows, onames, cols) != got:
            raise CheckFailed("value hash differs from the oracle's")
        return {"rows": len(rows), "hash": got, "oracled": True, "collect_s": collect_s}
