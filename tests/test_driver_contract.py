"""Replicates the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf0.01 inputs,
compare row count + column names + order-insensitive values.
"""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as SE  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rows(recs, cols):
    out = [tuple(_norm(r[c]) for c in cols) for r in recs]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


QUERIES = sorted(SE.queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_vs_oracle(spark, ddb, name):
    q = SE.queries()[name]
    oracles = SE.oracle_sql()
    df = q(spark, SF_DIR)
    cols = sorted(df.columns)
    spark_recs = [r.asDict() for r in df.collect()]
    if name not in oracles:
        assert len(spark_recs) >= 0  # rows-only check (driver does the same)
        return
    odf = ddb.execute(oracles[name]).fetchdf()
    assert sorted(odf.columns) == cols, f"{name}: column mismatch {sorted(odf.columns)} vs {cols}"
    oracle_recs = odf.to_dict("records")
    got = _rows(spark_recs, cols)
    want = _rows(oracle_recs, cols)
    assert len(got) == len(want), f"{name}: {len(got)} rows vs oracle {len(want)}"
    sg, sw = set(got), set(want)
    assert got == want, (
        f"{name}: value mismatch\n engine-only: {list(sg - sw)[:3]}\n"
        f" oracle-only: {list(sw - sg)[:3]}"
    )


def test_oracle_types_fit_spark(ddb):
    """Every oracle column must have a type Spark's result can match: no
    128-bit integer or DECIMAL (DuckDB's SUM over BIGINT widens to HUGEINT
    while Spark's stays bigint). DESCRIBE binds each query without running
    it; the value comparison above cannot see the width, since it compares
    Python ints."""
    wide = []
    for name, sql in SE.oracle_sql().items():
        for col, typ, *_ in ddb.execute(f"DESCRIBE {sql}").fetchall():
            if any(w in typ.upper() for w in ("HUGEINT", "INT128", "DECIMAL")):
                wide.append(f"{name}.{col}: {typ}")
    assert not wide, f"oracle columns wider than int64: {wide}"


def test_entry_smoke(spark):
    df = SE.entry(spark)
    assert df.count() > 0
