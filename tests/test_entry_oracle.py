"""Local replica of the driver's correctness gate: every queries() entry
vs its oracle_sql() through DuckDB, on sf0.001 (fast) — row count +
column names + order-insensitive value equality (float tolerance)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def _duck():
    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(round(v, 6))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out, key=str)


ORACLES = E.oracle_sql()
QUERIES = E.queries()


@pytest.mark.parametrize("name", sorted(ORACLES), ids=sorted(ORACLES))
def test_query_vs_oracle(spark, name):
    qdf = QUERIES[name](spark, SF_DIR)
    spark_cols = qdf.columns
    spark_rows = [tuple(r) for r in qdf.collect()]

    con = _duck()
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    got = _canon(spark_rows, [c.lower() for c in spark_cols])
    want = _canon(duck_rows, [c.lower() for c in duck_cols])
    mism = [(g, w) for g, w in zip(got, want) if g != w][:3]
    assert got == want, f"{name}: first mismatches {mism}"


def test_rows_only_queries(spark):
    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0
        assert df.columns


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0


def test_warm_up_guard_keys_on_application_id(spark):
    """queries() records the warmed session by its applicationId: an
    id(spark) key can be reused by a later session after the first is
    garbage-collected, and that session would skip its warm-up."""
    E.queries()
    assert spark.sparkContext.applicationId in E._WARMED_SESSIONS
