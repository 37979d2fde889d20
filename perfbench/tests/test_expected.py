"""The benchmark's expected-output model against the DuckDB page oracle.

Run with ``python -m pytest perfbench/tests``. Uses the tier-1 test data
(``SPARK_GRAFT_TEST_SF_DIR``, as ``tests/conftest.py`` resolves it).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), ROOT, os.path.join(ROOT, "tests")]

import __spark_entry__ as entry  # noqa: E402
import expected  # noqa: E402
from conftest import SF_DIR  # noqa: E402

DOCS = os.path.join(SF_DIR, "documents.parquet")
pytestmark = pytest.mark.skipif(not os.path.exists(DOCS), reason="no test data")


def _oracle(offset: int):
    """(doc_id, lang) pairs and the oracle's rows per (route, day) for the
    test documents with their ids shifted by ``offset``."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id + {int(offset)} AS doc_id,"
            f" text, lang, source, n_chars FROM read_parquet('{DOCS}')")
        docs = con.execute("SELECT doc_id, lang FROM documents").fetchall()
        rows = con.execute(
            f"{entry.PAGES_CTE} SELECT {entry.ROUTE_CASE} AS route,"
            " strftime(warc_ts, '%Y-%m-%d') AS day, COUNT(*) FROM pages GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    return docs, {(r, d): n for r, d, n in rows}


@pytest.mark.parametrize("offset", [0, 1009, 1009 * 999])
def test_route_day_counts_match_page_oracle(offset):
    docs, want = _oracle(offset)
    assert dict(expected.route_day_counts(docs)) == want
    per_route = Counter()
    for (route, _), n in want.items():
        per_route[route] += n
    assert expected.route_counts(docs) == dict(per_route)


def test_check_batch_accepts_exact_and_flags_drift():
    docs, sinks = _oracle(0)
    routes = expected.route_counts(docs)
    parsed = {r: n for r, n in routes.items() if r != "sink_refused"}
    ok = expected.check_batch(docs, routes, sinks, parsed, sum(parsed.values()))
    assert ok == []

    lost_row = dict(sinks)
    key = next(iter(lost_row))
    lost_row[key] -= 1
    assert expected.check_batch(docs, routes, lost_row, parsed, sum(parsed.values()))
    refused_counted = dict(parsed, sink_refused=routes["sink_refused"])
    assert expected.check_batch(docs, routes, sinks, refused_counted, sum(parsed.values()))
    assert expected.check_batch(docs, routes, sinks, parsed, sum(parsed.values()) + 1)


def test_check_resume_flags_gaps_and_duplicates():
    docs, sinks = _oracle(0)
    days = list(expected.DAYS)
    assert expected.check_resume(docs, days[:3], days[3:], set(days), 3, sinks) == []
    # a day written twice, a day never written, a manifest missing a day
    assert expected.check_resume(docs, days[:3], days[2:], set(days), 3, sinks)
    assert expected.check_resume(docs, days[:3], days[4:], set(days), 3, sinks)
    assert expected.check_resume(docs, days[:3], days[3:], set(days[1:]), 3, sinks)
    doubled = {k: 2 * n for k, n in sinks.items()}
    assert expected.check_resume(docs, days[:3], days[3:], set(days), 3, doubled)


def test_synth_lang_follows_doc_id_mod_20():
    shares = Counter(expected.synth_lang(d) for d in range(20))
    assert shares == {"en": 8, "de": 4, "fr": 3, "zh": 3, "es": 2}


def test_shift_documents_moves_only_doc_ids(tmp_path):
    import pyarrow.parquet as pq

    import workloads

    dst = str(tmp_path / "documents.parquet")
    n = workloads.shift_documents(workloads.DOCUMENTS, dst, 1009)
    src, out = pq.read_table(workloads.DOCUMENTS), pq.read_table(dst)
    assert n == src.num_rows == out.num_rows
    assert out.column("doc_id").to_pylist() == [
        d + 1009 for d in src.column("doc_id").to_pylist()]
    assert out.drop(["doc_id"]).equals(src.drop(["doc_id"]))


def test_benchmark_json_names_what_the_run_reports():
    import json

    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in doc["workloads"]] == list(workloads.WORKLOADS)
