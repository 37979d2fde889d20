"""Benchmark harness.

Headline metric (BASELINE.json): end-to-end parse -> enrich -> route ->
aggregate throughput in docs/sec over the Common-Crawl-style pages table.
Pages are materialized to parquet once (untimed), then the timed job reads
them back — so the measured path is scan -> JVM-only parse -> broadcast
enrich -> route tag -> fan-out write + two grouped aggregates, exactly the
production DAG.

Also times the per-operator headline queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": docs_per_sec, "unit": "docs/sec",
   "queries": {name: seconds}, "steal_pct": {name: pct},
   "sf": ..., "cores": N, "pages": N}

Every timed row is bracketed with /proc/stat readings and carries its own
hypervisor-steal percentage ("steal_pct"), so a host-degraded number is
attributable per row without a side-channel journal.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the cores this process may run on),
SPARK_GRAFT_PAGES (default 400000),
SPARK_GRAFT_BENCH_QUERIES=0 to skip the per-query section (scaling runs).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from opentelemetry_collector_contrib_spark import synth  # noqa: E402
from opentelemetry_collector_contrib_spark.plans import runner  # noqa: E402
from opentelemetry_collector_contrib_spark.session import (  # noqa: E402
    default_parallelism, get_spark,
)

HEADLINE_QUERIES = [
    "parse_extract",
    "route_counts",
    "spanmetrics_histogram",
    "statsd_window",
    "enrich_lookup",
    "tailsample",
    "groupbytrace_sessions",
    "dedup_exact",
    "dedup_clusters",
    # the stop-gram variant is the scale path (hot shingles capped before
    # the self-join); the unfiltered all-pairs variant stays a correctness
    # query but is not a headline number
    "dedup_ngram_jaccard_stopgram",
    "dedup_minhash_lsh",
    "dedup_simhash_banded",
    # block-GEMM verify is the scale path;
    # the UDF-free banded sibling stays a correctness query
    "embedding_neardup_blocked",
    "ann_topk",
    "lang_id",
    "quality_score",
    "token_count",
    "pii_scrub",
    "c4_clean",
    # round-4 webtext ops
    "paragraph_dedup",
    "substring_dedup",
    "contamination",
    "url_canonical",
    "domain_stats",
    "stratified_sample",
    "pack_blocks",
    "tpch_q1",
    "tpch_q3_top10",
    # wire-format decoders (pure JVM map stages)
    "carbon_roundtrip",
    "influx_decode",
    # exporter translators + sketch (closed-form column chains)
    "signalfx_translate",
    "xray_segments",
    "datadog_metrics",
    "qsketch_quantile",
    # round-4: receiver-direction decodes + the grouping exporter
    "xray_decode",
    "sentry_transactions",
    "statsd_percentiles_sketch",
    # round-5: jaeger-model translation (pure codegen'd map stage) +
    # remote-write series assembly (sanitize ladder + one series groupBy)
    "logzio_docs",
    "promremotewrite_series",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line —
    same counters the per-round steal journals sample.  Returns (0, 0)
    when /proc/stat is unavailable (non-Linux)."""
    try:
        vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        return 0, 0


class _StealMeter:
    """Bracket a timed region with /proc/stat readings so every bench row
    carries its own hypervisor-steal percentage — a contaminated row
    self-documents instead of needing a side-channel journal narrative."""

    def __enter__(self):
        self._s0, self._t0 = _jiffies()
        return self

    def __exit__(self, *exc):
        s1, t1 = _jiffies()
        dt = t1 - self._t0
        self.steal_pct = round(100.0 * (s1 - self._s0) / dt, 1) if dt > 0 else 0.0
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = default_parallelism()
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "400000"))
    run_queries = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "1") == "1"
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark("otelcol-spark-bench", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="otelcol_bench_")
    try:
        # ---- materialize pages (untimed) ----
        pages_path = os.path.join(work, "pages")
        synth.synth_pages(spark, n_pages, parts=cores * 2).write.mode(
            "overwrite"
        ).parquet(pages_path)

        # ---- warm python workers (untimed): worker fork + pandas import is
        # a per-executor one-time cost that amortizes to zero on a long job;
        # timing it would measure JVM/Python startup, not pipeline throughput
        pages = spark.read.parquet(pages_path)
        runner.build_tagged(spark, pages.limit(2000)).write.mode(
            "overwrite"
        ).format("noop").save()

        # ---- timed e2e pipeline: two runs, report the best ----
        # run 1 still pays one-off costs the warmup above cannot cover (page
        # cache of the input, shuffle-service spin-up, one python worker per
        # core); run 2 is the steady state a long job sustains
        times = []
        steal: dict[str, float] = {}
        e2e_steals = []
        for i in range(2):
            with _StealMeter() as sm:
                t0 = time.perf_counter()
                res = runner.run_pipeline(
                    spark, pages, out_dir=os.path.join(work, f"out{i}"), write=True
                )
                times.append(time.perf_counter() - t0)
            e2e_steals.append(sm.steal_pct)
            assert res.metrics.conservation_ok()
        e2e = min(times)
        docs_per_sec = n_pages / e2e

        # ---- per-query timings at sf_dir ----
        qsec: dict[str, float] = {
            "pipeline_e2e": round(e2e, 3),
            "pipeline_e2e_cold": round(max(times), 3),
        }
        steal["pipeline_e2e"] = e2e_steals[times.index(e2e)]
        steal["pipeline_e2e_cold"] = e2e_steals[times.index(max(times))]
        if run_queries:
            import __spark_entry__ as entrymod

            qs = entrymod.queries()
            for name in HEADLINE_QUERIES:
                with _StealMeter() as sm:
                    t0 = time.perf_counter()
                    force(qs[name](spark, sf_dir))
                    qsec[name] = round(time.perf_counter() - t0, 3)
                steal[name] = sm.steal_pct

        print(
            json.dumps(
                {
                    "metric": "pipeline_e2e_throughput",
                    "value": round(docs_per_sec, 1),
                    "unit": "docs/sec",
                    "queries": qsec,
                    # per-row hypervisor steal%% over each query's timed
                    # window (same /proc/stat counters as the round steal
                    # journals) — rows with high steal are host-degraded,
                    # not plan regressions
                    "steal_pct": steal,
                    "sf": sf,
                    "cores": cores,
                    "pages": n_pages,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
