"""Parse stage: byte-identical extraction (north_star per-row invariant) and
field-level agreement with the construction-side oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import synth
from opentelemetry_collector_contrib_spark.functions import parse


def test_byte_identical_extraction(spark, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir)
    parsed = parse.parse_stage(pages)
    n = parsed.count()
    ok = parsed.filter("parse_ok")
    # every parsed row's message equals the golden text byte-for-byte
    bad = ok.filter(F.col("message") != F.col("text")).count()
    assert bad == 0
    # corrupt rows (doc_id % 23 == 0) are refused, everything else parses
    n_refused = parsed.filter(~F.col("parse_ok")).count()
    assert n_refused == parsed.filter("page_id % 23 = 0").count()
    assert n_refused > 0
    assert ok.count() + n_refused == n


def test_parse_fields_match_oracle(spark, duck, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir)
    got = {
        r["page_id"]: r.asDict()
        for r in parse.parse_stage(pages)
        .select("page_id", "domain", "section", "title", "fmt", "event_time",
                "severity_in", "stream", "message", "status", "parse_ok")
        .collect()
    }
    rows = duck.execute(
        f"WITH {synth.pages_oracle_cte('duckdb')} {synth.expected_parse_sql('duckdb')}"
    ).fetchall()
    cols = ["doc_id", "url", "warc_ts", "lang", "domain", "latency_ms", "title",
            "fmt", "event_time", "severity_text", "stream", "message", "status",
            "parse_ok"]
    for row in rows:
        e = dict(zip(cols, row))
        g = got[e["doc_id"]]
        assert g["domain"] == e["domain"]
        assert g["title"] == e["title"]
        assert g["fmt"] == e["fmt"]
        assert g["event_time"] == e["event_time"]
        assert g["severity_in"] == e["severity_text"]
        assert g["stream"] == e["stream"]
        assert g["message"] == e["message"]
        assert g["parse_ok"] == e["parse_ok"]
        if e["parse_ok"]:
            assert g["status"] == e["status"]


def test_severity_ladder(spark):
    df = spark.createDataFrame(
        [("DEBUG",), ("INFO",), ("WARN",), ("ERROR",), ("FATAL",), ("weird",), (None,)],
        ["sev"],
    )
    txt, num = parse.severity_columns(F.col("sev"))
    rows = {r["sev"]: (r["t"], r["n"]) for r in df.select("sev", txt.alias("t"), num.alias("n")).collect()}
    # convertSeverity standard levels (internal/stanza/converter.go:532-558)
    assert rows["DEBUG"] == ("Debug", 5)
    assert rows["INFO"] == ("Info", 9)
    assert rows["WARN"] == ("Info", 12)
    assert rows["ERROR"] == ("Error", 17)
    assert rows["FATAL"] == ("Fatal", 21)
    assert rows["weird"] == ("Undefined", 0)
    assert rows[None] == ("Undefined", 0)


def test_router_predicates(spark):
    df = spark.createDataFrame(
        [('{"log": "x"}',), ("2024-01-01T00:00:00Z stdout F hi",),
         ("2024-01-01 INFO hi",), ("garbage",)],
        ["body"],
    )
    tag = parse.router(
        [
            ("C", F.col("body").startswith("{")),
            ("B", F.col("body").rlike(r"^\d{4}-\d{2}-\d{2}T")),
            ("A", F.col("body").rlike(r"^\d{4}-\d{2}-\d{2} ")),
        ],
        default="refused",
    )
    got = [r["t"] for r in df.select(tag.alias("t")).collect()]
    assert got == ["C", "B", "A", "refused"]


def test_extraction_picks_first_occurrence_any_layout(spark):
    """Repeated or out-of-order title/status/pre must extract the FIRST
    occurrence of each field independently (a combined single-pass regex
    silently picked later occurrences — round-1 ADVICE)."""
    html_rows = [
        # pre before the status meta, plus a second pre after it
        (1, "<html><pre>2024-01-01 INFO first</pre>"
            '<title>t1</title><meta http-equiv="status" content="200"/>'
            "<pre>2024-01-02 WARN second</pre></html>"),
        # duplicated title and status: first of each wins
        (2, "<html><title>first-title</title>"
            '<meta http-equiv="status" content="301"/>'
            '<title>second-title</title>'
            '<meta http-equiv="status" content="502"/>'
            "<pre>2024-01-03 ERROR msg</pre></html>"),
    ]
    df = spark.createDataFrame(html_rows, "id INT, h STRING").select(
        "id", F.encode("h", "UTF-8").alias("html")
    )
    out = {
        r["id"]: r
        for r in df.withColumn("p", parse.parse_html(F.col("html")))
        .select("id", "p.*")
        .collect()
    }
    assert out[1]["title"] == "t1"
    assert out[1]["status"] == 200
    assert out[1]["message"] == "first"
    assert out[1]["severity_text"] == "INFO"
    assert out[2]["title"] == "first-title"
    assert out[2]["status"] == 301
    assert out[2]["message"] == "msg"

