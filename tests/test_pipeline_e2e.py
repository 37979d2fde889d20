"""End-to-end pipeline: routed-row equality vs the construction oracle,
per-sink aggregate counts, metric conservation (SURVEY.md section 5:
Sent == Received testbed analogue)."""

from __future__ import annotations

import json

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import synth
from opentelemetry_collector_contrib_spark.plans import runner
from opentelemetry_collector_contrib_spark.operators.spanmetrics import (
    span_metrics_oracle_sql,
)


def _expected_route_case() -> str:
    """The oracle's route derivation — mirrors runner.routing_config()."""
    return (
        "CASE WHEN corrupt THEN 'sink_refused'"
        " WHEN status >= 400 THEN 'sink_quarantine'"
        " WHEN lang = 'en' THEN 'sink_en'"
        " WHEN lang = 'de' THEN 'sink_de'"
        " ELSE 'sink_other' END"
    )


def test_e2e_counts_and_conservation(spark, duck, sf_dir, tmp_path, monkeypatch):
    pages = synth.pages_from_documents(spark, sf_dir)

    # the batch run ships no driver-side data to Spark: a local list turned
    # into a DataFrame or RDD goes through Python workers
    def refuse(*_a, **_k):
        raise AssertionError("driver data shipped to Spark during run_pipeline")

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", refuse)
        m.setattr(SparkContext, "parallelize", refuse)
        res = runner.run_pipeline(spark, pages, out_dir=str(tmp_path), write=True)

    assert not (tmp_path / "_metrics_pipeline").exists()
    report = json.loads((tmp_path / runner.REPORT).read_text())
    assert {(s, n): v for s, n, v in report["metrics"]} == res.metrics.rows
    assert report["conservation_ok"] is True
    assert set(report["wall_s"]) == {"fanout_write", "aggregate_writes"}

    exp = {
        r[0]: r[1]
        for r in duck.execute(
            f"WITH {synth.pages_oracle_cte('duckdb')} "
            f"SELECT {_expected_route_case()} AS route, COUNT(*) FROM pages GROUP BY 1"
        ).fetchall()
    }
    assert res.route_counts == exp
    assert res.metrics.conservation_ok()
    assert res.metrics.get("receiver", "accepted") == sum(exp.values())

    # sinks written and partition-pruned readable; Sent == Received per sink
    written = spark.read.parquet(str(tmp_path / "sinks"))
    got = {r["route"]: r["n"] for r in written.groupBy("route").agg(F.count("*").alias("n")).collect()}
    assert got == exp


def test_e2e_routed_row_equality(spark, duck, sf_dir):
    """Per-sink routed-row EQUALITY (url sets), not just counts."""
    pages = synth.pages_from_documents(spark, sf_dir)
    tagged = runner.build_tagged(spark, pages)
    got = {
        (r["route"], r["url"]) for r in tagged.select("route", "url").collect()
    }
    exp = {
        (r[0], r[1])
        for r in duck.execute(
            f"WITH {synth.pages_oracle_cte('duckdb')} "
            f"SELECT {_expected_route_case()} AS route, url FROM pages"
        ).fetchall()
    }
    assert got == exp


def test_e2e_spanmetrics_match_oracle(spark, duck, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir)
    res = runner.run_pipeline(spark, pages, write=False)
    got = {
        (r["route"], r["domain"], r["severity_text"]): r.asDict()
        for r in res.span_metrics.collect()
    }
    oracle = f"""
WITH {synth.pages_oracle_cte('duckdb')},
routed AS (
  SELECT {_expected_route_case()} AS route, domain,
    CASE WHEN NOT corrupt AND fmt_id = 0 THEN
      CASE doc_id % 5 WHEN 0 THEN 'Debug' WHEN 1 THEN 'Info' WHEN 2 THEN 'Info'
           WHEN 3 THEN 'Error' ELSE 'Fatal' END
    ELSE 'Undefined' END AS severity_text,
    latency_ms, corrupt
  FROM pages
),
ok AS (SELECT * FROM routed WHERE NOT corrupt)
{span_metrics_oracle_sql('ok', ['route', 'domain', 'severity_text'])}
"""
    rows = duck.execute(oracle).fetchall()
    desc = [d[0] for d in duck.description]
    assert len(rows) == len(got) > 0
    for row in rows:
        e = dict(zip(desc, row))
        g = got[(e["route"], e["domain"], e["severity_text"])]
        assert g["calls_total"] == e["calls_total"]
        assert abs(g["latency_sum"] - e["latency_sum"]) < 1e-6
        for i in range(17):
            assert g[f"bucket_{i}"] == e[f"bucket_{i}"], (i, e)


def test_e2e_enrichment_applied(spark, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir)
    tagged = runner.build_tagged(spark, pages)
    # every known domain got org/category/tier; constant attrs present
    assert tagged.filter(F.col("org").isNull()).count() == 0
    assert tagged.filter(F.col("collector_name") != "otelcol-spark").count() == 0
    hot = tagged.filter(F.col("domain") == synth.HOT_DOMAIN).limit(1).collect()[0]
    assert hot["org"] == "org-hot" and hot["tier"] == "gold"
