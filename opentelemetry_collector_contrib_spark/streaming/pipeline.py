"""Structured Streaming flavor of the pipeline (the reference's native mode).

The collector is an unbounded push engine (SURVEY.md section 1.4); the batch
DAG in plans/runner.py is the table-centric re-expression. This module runs
the SAME lazy plan (parse -> enrich -> route) as a stream:

  readStream(parquet dir)  [filelog tailer analogue: new files = new data]
    -> build_tagged (identical code path as batch — plan reuse, no fork)
    -> foreachBatch fan-out write     [exporters; routing.go:133-147]
       + one run report per epoch     [obsreport]
    -> watermarked tumbling-window aggregate [statsd flush interval,
       receiver/statsdreceiver/receiver.go:90-133, with late-data handling
       the reference lacks]

Checkpoint/offsets: Spark's checkpointLocation replaces the storage
extension's bbolt offset store (extension/storage/filestorage/client.go:
20-40); both persist "how far each source has been read" so a restart
resumes without re-emitting.

Tests run with trigger(availableNow=True) so the stream drains the input
and stops — semantics identical to the unbounded run.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import metrics, runner
from ..schema import PAGES_SCHEMA
from ..sinks import writer


def pages_stream(spark: SparkSession, path: str, files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path)


def run_streaming_fanout(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream pages -> tagged -> per-sink parquet fan-out via foreachBatch.

    foreachBatch gets each micro-batch as a batch DataFrame, so the exact
    batch writer (dynamic-partition fan-out) is reused. Exactly-once: each
    epoch writes (dynamic-partition OVERWRITE) into its own
    ``sinks/epoch={id}`` directory — a retried micro-batch replays the same
    epoch_id with the same data and replaces its own partitions instead of
    appending duplicates (the exporterhelper queue/retry analogue).
    Readers see ``epoch`` as one more partition column under ``sinks/``.
    Each epoch's route counts ride its write (one ``Observation``) into
    ``{out_dir}/_run_report_epoch{id}.json``, outside ``sinks/``; a
    replayed epoch rewrites its own report.
    """
    tagged = runner.build_tagged(spark, pages_stream(spark, in_path))

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        observed, obs = runner.observe_routes(batch_df)
        t0 = time.perf_counter()
        writer.write_fanout(
            observed, f"{out_dir}/sinks/epoch={epoch_id}", mode="overwrite"
        )
        metrics.write_report(
            f"{out_dir}/_run_report_epoch{epoch_id}.json",
            runner.metrics_from_counts(runner.observed_counts(obs)),
            epoch=epoch_id, wall_s={"fanout_write": time.perf_counter() - t0},
        )

    q = (
        tagged.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{checkpoint_dir}/fanout")
    )
    q = q.trigger(availableNow=True) if available_now else q.trigger(processingTime="10 seconds")
    return q.start()


def run_streaming_window_agg(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    interval: str = "1 hour",
    available_now: bool = True,
):
    """Watermarked tumbling-window per-lang counts (statsd flush analogue).

    The watermark bounds state: windows older than max(event_time)-watermark
    finalize and evict — the streaming replacement for the reference's
    "reset state each tick" (statsd_parser.go GetMetrics :106-131).
    """
    pages = pages_stream(spark, in_path)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", interval).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_rows")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/window_agg")
        .option("checkpointLocation", f"{checkpoint_dir}/window_agg")
    )
    q = q.trigger(availableNow=True) if available_now else q.trigger(processingTime="10 seconds")
    return q.start()
