"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() in DuckDB on the
same parquet tables, compare as sorted row multisets (sf0.001 for
speed; the driver uses sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, bool):
        return bool(v)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


def all_query_names():
    import __spark_entry__ as E

    return sorted(E.queries().keys())


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(spark, name):
    import __spark_entry__ as E
    from shaclex_spark.queries import missing_corpus

    missing = missing_corpus(name)
    if missing is not None:
        pytest.skip(f"{name}: external shaclex corpus absent: {missing}")
    q = E.queries()[name]
    df = q(spark, SF_DIR)
    spark_rows = df.collect()
    spark_cols = df.columns

    oracle = E.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    res = _duck(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == \
        sorted(c.lower() for c in duck_cols), \
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    s = _rowset([c.lower() for c in spark_cols],
                [tuple(r) for r in spark_rows])
    d = _rowset([c.lower() for c in duck_cols], duck_rows)
    assert len(s) == len(d), f"{name}: row count {len(s)} vs {len(d)}"
    if s != d:
        diff = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diff}")
