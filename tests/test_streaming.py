"""Structured Streaming tests: fan-out, watermarked window agg, stateful
groupbytrace sessions. All run against the same synthetic pages/events the
batch path uses; availableNow (or a short processing-time trigger for the
stateful case) drains the input deterministically."""

from __future__ import annotations

import glob
import json
import time
from collections import Counter

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import synth
from opentelemetry_collector_contrib_spark.plans import runner
from opentelemetry_collector_contrib_spark.streaming import pipeline as spipe
from opentelemetry_collector_contrib_spark.streaming import stateful


def _write_pages(spark, sf_dir, path):
    pages = synth.pages_from_documents(spark, sf_dir)
    pages.repartition(2).write.mode("overwrite").parquet(path)
    return pages


def test_streaming_fanout_matches_batch(spark, sf_dir, tmp_path):
    in_path = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages(spark, sf_dir, in_path)

    q = spipe.run_streaming_fanout(spark, in_path, out_dir, ckpt)
    q.awaitTermination(300)

    got = {
        r["route"]: r["n"]
        for r in spark.read.parquet(f"{out_dir}/sinks")
        .groupBy("route").count().withColumnRenamed("count", "n").collect()
    }
    expected = {
        r["route"]: r["n"]
        for r in runner.build_tagged(spark, pages)
        .groupBy("route").count().withColumnRenamed("count", "n").collect()
    }
    assert got == expected

    # one run report per epoch, outside sinks/; refused and dropped are
    # the refused and quarantine lanes, routed_<sink> the others
    lanes = {"refused": "sink_refused", "dropped": "sink_quarantine"}
    reports = []
    for path in glob.glob(f"{out_dir}/_run_report_epoch*.json"):
        with open(path) as f:
            reports.append(json.load(f))
    assert reports and all(r["conservation_ok"] for r in reports)
    assert sorted(r["epoch"] for r in reports) == list(range(len(reports)))
    reported: Counter = Counter()
    for r in reports:
        for _stage, name, v in r["metrics"]:
            if name in lanes or name.startswith("routed_"):
                reported[lanes.get(name, name.removeprefix("routed_"))] += v
    assert {r: n for r, n in reported.items() if n} == expected


def test_streaming_window_agg_append(spark, sf_dir, tmp_path):
    in_path = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages(spark, sf_dir, in_path)

    q = spipe.run_streaming_window_agg(spark, in_path, out_dir, ckpt)
    q.awaitTermination(300)

    emitted = spark.read.parquet(f"{out_dir}/window_agg").collect()
    expected = {
        (r["window_start"], r["lang"]): r["n_rows"]
        for r in pages.groupBy(
            F.window("warc_ts", "1 hour").getField("start").alias("window_start"),
            "lang",
        ).agg(F.count(F.lit(1)).alias("n_rows")).collect()
    }
    # append mode emits only watermark-finalized windows: a nonempty exact
    # subset of the batch aggregate (the final windows stay in state)
    assert len(emitted) > 0
    for r in emitted:
        assert expected[(r["window_start"], r["lang"])] == r["n_rows"]


def test_groupbytrace_stream_sessions(spark, sf_dir, tmp_path):
    in_path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.repartition(2).write.mode("overwrite").parquet(in_path)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )
    sessions = stateful.group_by_trace_stream(stream, "user_id", "event_id")
    q = (
        sessions.writeStream.format("memory")
        .queryName("gbt_sessions")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    expected = {
        (str(r["user_id"]), r["n"], r["lo"], r["hi"])
        for r in events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi"),
        ).collect()
    }
    try:
        deadline = time.time() + 120
        got: set = set()
        while time.time() < deadline and len(got) < len(expected):
            time.sleep(2)
            got = {
                (r["trace_key"], r["span_count"], r["first_id"], r["last_id"])
                for r in spark.sql("SELECT * FROM gbt_sessions").collect()
            }
        assert got == expected
    finally:
        q.stop()


def test_groupbytrace_stream_capped_eviction(spark, tmp_path):
    """processor.go:130-143: a new trace arriving at a full ring evicts the
    oldest buffered trace. 20 traces through a num_traces=5 single-worker
    ring in one micro-batch: the first 15 (arrival order) surface as
    released=false evictions, the last 5 release on the wait timeout."""
    import pandas as pd

    in_path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    rows = []
    eid = 0
    for t in range(20):
        for _ in range(2):  # two spans per trace
            rows.append((f"t{t:02d}", eid))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["trace_id", "event_id"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(in_path)

    stream = (
        spark.readStream.schema("trace_id string, event_id long")
        .parquet(in_path)
    )
    out = stateful.group_by_trace_stream_capped(
        stream, "trace_id", "event_id",
        wait_duration_ms=1500, num_traces=5, n_workers=1,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("gbt_capped")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        got = []
        while time.time() < deadline and len(got) < 20:
            time.sleep(2)
            got = spark.sql("SELECT * FROM gbt_capped").collect()
        evicted = {r["trace_key"] for r in got if not r["released"]}
        released = {r["trace_key"] for r in got if r["released"]}
        assert evicted == {f"t{t:02d}" for t in range(15)}
        assert released == {f"t{t:02d}" for t in range(15, 20)}
        # per-trace aggregates survive both paths
        by_key = {r["trace_key"]: r for r in got}
        assert by_key["t00"]["span_count"] == 2
        assert by_key["t19"]["first_id"] == 38 and by_key["t19"]["last_id"] == 39
    finally:
        q.stop()
