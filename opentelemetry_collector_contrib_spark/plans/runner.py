"""The end-to-end pipeline (EP1 lifecycle, SURVEY.md section 3): one lazy
DataFrame DAG — parse -> enrich -> route -> aggregate -> fan-out writes —
replacing the reference's goroutine topology
(internal/stanza/factory.go:45-97 + service pipeline wiring).

Topology reproduced:

  pages (Iceberg/parquet scan, column-pruned)
    -> parse (router + substring/regex/json extraction, JVM-only)
    -> enrich (broadcast lookup join on domain + constant resource attrs)
    -> route tag (predicate lanes + value table + default)
    -> fan-out write partitionBy(route, day)      [exporters]
       + Observation: accepted/refused/dropped/routed on the same pass
    -> per-sink spanmetrics + statsd-window aggregates [batch-processor
       semantics as grouped aggregates]
    -> ``_run_report.json`` next to the sinks, written by the driver
       [obsreport]

Scale notes: three shuffles — the fan-out write hash-repartitions on
(route, day, salt) to bound the file count (``writer.write_fanout``), and
the two aggregates (both map-side partial); the dimension join broadcasts;
the pages scan prunes ``html`` out when the golden-text check is off.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from .. import synth
from ..functions import parse as parse_fns
from ..operators import attributes, routing, spanmetrics, statsd
from . import metrics as metrics_mod
from .checkpoint import Manifest
from ..sinks import writer

ROUTING_CONFIG_TABLE = {"en": "sink_en", "de": "sink_de"}
DEFAULT_SINK = "sink_other"
SPANMETRIC_DIMS = ["route", "domain", "severity_text"]
REPORT = "_run_report.json"


def routing_config() -> routing.RoutingConfig:
    """FIXTURES.md F4: lang routing table + quarantine predicate lanes.
    Lane order matters (routing.go:133-147: first match wins):
    refused (unparseable) -> quarantine (HTTP error) -> lang table -> default.
    """
    return routing.RoutingConfig(
        from_attribute="lang",
        table=dict(ROUTING_CONFIG_TABLE),
        default_sink=DEFAULT_SINK,
        predicate_routes=[
            ("sink_refused", ~F.col("parse_ok")),
            ("sink_quarantine", F.col("status") >= 400),
        ],
    )


def build_tagged(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """pages -> parsed + enriched + route-tagged rows (pure lazy plan)."""
    parsed = parse_fns.parse_stage(pages)
    # deterministic fetch-latency analogue, derived from page identity
    parsed = parsed.withColumn(
        "latency_ms", (F.col("page_id") * 97 % 160000).cast("double") / 10.0
    )
    # k8sprocessor-style broadcast enrichment (insert-if-absent)
    dim = synth.domain_info(spark)
    enriched = attributes.enrich_lookup(
        parsed, dim, on="domain", attrs=["org", "category", "tier"], override=False
    )
    # resourcedetection-style constant resource attrs (insert-if-absent)
    enriched = attributes.upsert_attrs(
        enriched,
        {"collector_name": F.lit("otelcol-spark"), "deployment_env": F.lit("prod")},
        override=False,
    )
    tagged = routing.with_route(enriched, routing_config())
    return tagged.withColumn("day", F.date_format("warc_ts", "yyyy-MM-dd"))


@dataclass
class PipelineResult:
    tagged: DataFrame
    route_counts: dict[str, int]
    metrics: metrics_mod.PipelineMetrics
    span_metrics: DataFrame
    window_metrics: DataFrame


def _agg_pair(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    span_m = spanmetrics.span_metrics(
        tagged.filter(F.col("parse_ok")),
        dims=SPANMETRIC_DIMS,
        latency_col="latency_ms",
        dim_defaults={"severity_text": "Undefined"},
    )
    win_m = statsd.statsd_aggregate(
        tagged.filter(F.col("parse_ok")),
        ts_col="warc_ts",
        name_col="lang",
        value_col="latency_ms",
        interval="1 hour",
        order_col="page_id",
    )
    return span_m, win_m


def observe_routes(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its per-route row counts riding the next action on it
    (obsreport-style: one ``Observation``, no extra scan or job)."""
    cfg = routing_config()
    routes = [name for name, _ in cfg.predicate_routes] + list(
        cfg.table.values()
    ) + [cfg.default_sink]
    obs = Observation()
    return df.observe(
        obs,
        *[F.sum(F.when(F.col("route") == r, 1).otherwise(0)).alias(r) for r in routes],
    ), obs


def observed_counts(obs: Observation) -> dict[str, int]:
    """Non-zero per-route counts of an action that has run."""
    return {r: int(v) for r, v in obs.get.items() if v}


def metrics_from_counts(counts: dict[str, int]) -> metrics_mod.PipelineMetrics:
    pm = metrics_mod.PipelineMetrics()
    pm.add("receiver", "accepted", sum(counts.values()))
    pm.add("receiver", "refused", counts.get("sink_refused", 0))
    pm.add("exporter", "dropped", counts.get("sink_quarantine", 0))
    for sink, n in counts.items():
        if sink not in ("sink_refused", "sink_quarantine"):
            pm.add("exporter", f"routed_{sink}", n)
    return pm


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str | None = None,
    persist: bool = False,
    write: bool = True,
) -> PipelineResult:
    """Execute the full DAG; optionally write sinks + aggregate tables.

    Scale design (writing mode): the expensive parse runs EXACTLY ONCE — the
    fan-out write carries `Observation` metrics (per-route conditional sums
    riding the same pass, obsreport-style), and the two aggregates re-scan
    the just-written columnar sinks with column pruning instead of caching
    the working set (at 100 TB, persist() of the full stream is the wrong
    tool: it serializes everything into executor memory/disk; a pruned
    re-scan of 5 output columns is far cheaper and embarrassingly parallel).
    The counts, their conservation check and the driver-timed write
    seconds go to ``{out_dir}/_run_report.json``.
    """
    tagged = build_tagged(spark, pages)

    if write and out_dir:
        # sinks carry the parsed record (message == extracted text); the
        # golden `text` column is test-only and would double sink bytes.
        observed, obs = observe_routes(tagged.drop("text"))
        # files_per_partition scales with session parallelism: with 1 the
        # clustered write runs ONE task per (route, day) — at |routes| x
        # |days| ~ 35 partitions a hot route's single writer becomes the
        # whole job's critical path once cores > partitions (measured:
        # local[16] at 12M pages was capped at ~107k docs/s by exactly
        # this; cores/4 salt splits restore write parallelism while
        # keeping files bounded at partitions x cores/4 per run — on a
        # real cluster size this by target file bytes instead)
        fpp = max(1, spark.sparkContext.defaultParallelism // 4)
        t0 = time.perf_counter()
        writer.write_fanout(
            observed, f"{out_dir}/sinks", files_per_partition=fpp
        )
        t1 = time.perf_counter()
        counts = observed_counts(obs)
        pm = metrics_from_counts(counts)

        # read back with the schema just written: no footer-inference job.
        # `day` reads as the string it was written from; neither aggregate
        # reads it.
        sink_rows = spark.read.schema(observed.schema).parquet(f"{out_dir}/sinks")
        span_m, win_m = _agg_pair(sink_rows)
        span_m.write.mode("overwrite").parquet(f"{out_dir}/agg_spanmetrics")
        win_m.write.mode("overwrite").parquet(f"{out_dir}/agg_window")
        metrics_mod.write_report(
            f"{out_dir}/{REPORT}", pm,
            wall_s={"fanout_write": t1 - t0,
                    "aggregate_writes": time.perf_counter() - t1},
        )
        return PipelineResult(tagged, counts, pm, span_m, win_m)

    # no-write mode (tests / interactive): one cached pass, counts collect
    if persist:
        tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {
        r["route"]: r["rows"]
        for r in metrics_mod.routed_counts(tagged).collect()
    }
    pm = metrics_from_counts(counts)
    span_m, win_m = _agg_pair(tagged)
    if persist:
        tagged.unpersist()
    return PipelineResult(tagged, counts, pm, span_m, win_m)


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    manifest_path: str,
    fail_after: int | None = None,
) -> list[str]:
    """Checkpointed per-partition run (north_rule resume-with-lineage).

    Partition unit = day(warc_ts). Each pending day is processed and written
    with dynamic partition overwrite, then committed to the manifest —
    exactly the stanza offset-checkpoint pattern
    (internal/stanza/storage.go:27-72). ``fail_after`` simulates a crash
    after N partitions (for the resume test).
    Each day's write observes its route counts; the sums over the days this
    call wrote, and those days, go to ``{out_dir}/_run_report.json``.
    Returns the list of days processed this run.
    """
    tagged = build_tagged(spark, pages).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        all_days = sorted(r["day"] for r in tagged.select("day").distinct().collect())
        man = Manifest(manifest_path)
        todo = man.pending(all_days)
        done: list[str] = []
        totals: Counter[str] = Counter()
        write_s = 0.0
        for i, day in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                break
            part, obs = observe_routes(tagged.filter(F.col("day") == day).drop("text"))
            t0 = time.perf_counter()
            # same parallelism-scaled salt as run_pipeline; the content-
            # hash salt keeps crash/resume byte-identity AT A GIVEN
            # session width (a resume on a different core count lays the
            # same rows out across a different file count — pass an
            # explicit files_per_partition to pin layout across widths)
            writer.write_fanout(
                part,
                f"{out_dir}/sinks",
                mode="overwrite",
                files_per_partition=max(
                    1, spark.sparkContext.defaultParallelism // 4
                ),
            )
            write_s += time.perf_counter() - t0
            man.mark_done(day)
            totals.update(observed_counts(obs))
            done.append(day)
        metrics_mod.write_report(
            f"{out_dir}/{REPORT}", metrics_from_counts(dict(totals)),
            days=done, wall_s={"fanout_write": write_s},
        )
        return done
    finally:
        tagged.unpersist()
