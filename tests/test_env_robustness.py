"""Driver-environment robustness for the contract queries.

Round-1 driver red rows (multiline_assemble, hec_roundtrip) passed locally
at every scale factor — the divergence was environmental:

  1. The driver builds its own SparkSession (not ocs.session.get_spark which
     pins spark.sql.session.timeZone=UTC).  unix_timestamp over the
     TIMESTAMP_NTZ parquet `ts` column is session-timezone-dependent, while
     DuckDB's epoch() always reads naive timestamps as UTC.
  2. DuckDB's uncast integer SUM returns HUGEINT (int128); fetch paths that
     go through Arrow/pandas stringify it differently than fetchall()'s
     plain Python int.

These tests reproduce both perturbations and assert the contract still
holds: the queries() wrapper must pin the session timezone itself, and no
oracle may expose a HUGEINT column. The session factory must also fit its
JVM heap into the box and let Python workers import the package from any
working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from opentelemetry_collector_contrib_spark import session

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# queries whose round-1 red status traced to env coupling, plus one
# timestamp-heavy green control
PERTURBED = ["multiline_assemble", "hec_roundtrip", "statsd_window"]


@pytest.fixture(scope="module")
def duck_env():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_no_hugeint_in_any_oracle(duck_env):
    """A HUGEINT (int128) output column round-trips differently through
    Arrow vs fetchall; every integer aggregate in the oracles must be cast."""
    for name, sql in entrymod.oracle_sql().items():
        rel = duck_env.sql(sql)
        types = [str(t).upper() for t in rel.types]
        assert not any("HUGEINT" in t or "INT128" in t for t in types), (
            f"{name}: oracle exposes HUGEINT columns {list(zip(rel.columns, types))}"
        )


@pytest.mark.parametrize("name", PERTURBED)
def test_contract_under_foreign_session_timezone(spark, duck_env, name):
    """Run the contract query with the session timezone knocked off UTC
    (the driver does not use ocs.session.get_spark); the queries() wrapper
    must repin it so results still match the DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sdf = entrymod.queries()[name](spark, SF_DIR)
        s_cols = sorted(sdf.columns)
        s_rows = sorted(
            tuple(str(r[c]) for c in s_cols) for r in sdf.collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    cur = duck_env.execute(entrymod.oracle_sql()[name])
    d_cols_raw = [d[0] for d in cur.description]
    idx = [d_cols_raw.index(c) for c in sorted(d_cols_raw)]
    d_rows = sorted(tuple(str(r[i]) for i in idx) for r in cur.fetchall())
    assert sorted(d_cols_raw) == s_cols
    assert s_rows == d_rows, (
        f"{name}: mismatch under foreign session TZ; first diff "
        f"{next(((a, b) for a, b in zip(s_rows, d_rows) if a != b), None)}"
    )


def test_wrapper_repins_utc(spark):
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    entrymod.queries()["filter_range"](spark, SF_DIR)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_default_heap_fits_in_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_mb = next(int(ln.split()[1]) for ln in f
                        if ln.startswith("MemTotal:")) // 1024
    heap = session.driver_memory()
    assert heap.endswith("m") and 0 < int(heap[:-1]) <= total_mb
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


_OUTSIDE_REPO = """
import sys
sys.path.insert(0, {root!r})
from opentelemetry_collector_contrib_spark.session import get_spark
import __spark_entry__ as entrymod
spark = get_spark("outside-repo", cores=1, shuffle_partitions=1)
rows = entrymod.queries()["multimodal_decode"](spark, {sf!r}).select(
    "kind").collect()
print("ROWS", len(rows))
spark.stop()
"""


def test_python_worker_query_runs_outside_repo_dir():
    """Python workers start in the caller's working directory; the session
    must put the package on their path, not just the driver's.
    ``multimodal_decode`` runs a ``mapInArrow`` function of the package, so
    its workers must import it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO.format(root=ROOT, sf=SF_DIR)],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.split("ROWS")[1]) > 0
