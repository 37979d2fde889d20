"""Mimics the driver's correctness gate: every queries() entry is run on
Spark and its oracle_sql() on DuckDB at sf0.01; row count, column names and
(order-insensitive) values must match exactly."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck01():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse float noise below the rounding discipline
        return round(v, 9)
    return v


def _key(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def _rowset(rows, cols):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=_key), cols


QUERY_NAMES = sorted(entrymod.queries().keys()) + sorted(
    entrymod.demoted_queries().keys()
)


def test_registry_pairs_every_query_with_one_oracle():
    """JVM-free: each registry name appears once (a repeat would silently
    replace a query or its oracle in the dict views), each query has
    exactly one non-empty oracle, no oracle lacks a query, and no name is
    both driver-checked and demoted."""
    names = [row[0] for row in entrymod.REGISTRY]
    assert len(names) == len(set(names))
    live, demoted = entrymod.queries(), entrymod.demoted_queries()
    assert not set(live) & set(demoted)
    for qs, oracles in ((live, entrymod.oracle_sql()),
                        (demoted, entrymod.demoted_oracle_sql())):
        assert list(oracles) == list(qs)
        assert all(isinstance(sql, str) and sql.strip()
                   for sql in oracles.values())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck01, name):
    q = {**entrymod.queries(), **entrymod.demoted_queries()}[name]
    sql = {**entrymod.oracle_sql(), **entrymod.demoted_oracle_sql()}.get(name)
    assert sql is not None, f"{name}: no oracle"
    sdf = q(spark, SF_DIR)
    s_cols = sorted(sdf.columns)
    s_rows = [[r[c] for c in s_cols] for r in sdf.collect()]
    duck01.execute(sql)
    d_cols_raw = [d[0] for d in duck01.description]
    d_rows_raw = duck01.fetchall()
    d_cols = sorted(d_cols_raw)
    idx = [d_cols_raw.index(c) for c in d_cols]
    d_rows = [[r[i] for i in idx] for r in d_rows_raw]
    assert s_cols == d_cols, f"{name}: columns {s_cols} != {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} vs {len(d_rows)} rows"
    sr, _ = _rowset(s_rows, s_cols)
    dr, _ = _rowset(d_rows, d_cols)
    if sr != dr:
        diffs = [
            (a, b) for a, b in zip(sr, dr) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diffs}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
