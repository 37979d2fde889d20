"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes one entry per implemented operator from SURVEY.md section 2
(+ the training-data ops); oracle_sql() gives the DuckDB-equivalent SQL over
the same parquet tables. The pages-family oracles reconstruct the
deterministic synthetic pages table (synth.pages_oracle_cte) by construction
and assert the pipeline recovers it by parsing — per-row byte-identical.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import synth
from opentelemetry_collector_contrib_spark.functions import multimodal
from opentelemetry_collector_contrib_spark.functions import parse as parse_fns
from opentelemetry_collector_contrib_spark.functions import text as text_fns
from opentelemetry_collector_contrib_spark.sinks import (
    awsxray, datadog, dynatrace, honeycomb, loki,
)
from opentelemetry_collector_contrib_spark.sources import splunkhec, syslog
from opentelemetry_collector_contrib_spark.sources import awsxray as awsxray_rx
from opentelemetry_collector_contrib_spark.sources import text as src_text
from opentelemetry_collector_contrib_spark.operators import (
    dedup,
    filters,
    groupbyattrs,
    groupbytrace,
    loadbalancing,
    metricstransform,
    qsketch,
    routing,
    signalfx,
    similarity,
    spanmetrics,
    statsd,
    tailsampling,
)
from opentelemetry_collector_contrib_spark.plans import runner
from opentelemetry_collector_contrib_spark.schema import DEFAULT_LATENCY_BOUNDS_MS

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

PAGES_CTE = f"WITH {synth.pages_oracle_cte('duckdb')}"

ROUTE_CASE = (
    "CASE WHEN corrupt THEN 'sink_refused'"
    " WHEN status >= 400 THEN 'sink_quarantine'"
    " WHEN lang = 'en' THEN 'sink_en'"
    " WHEN lang = 'de' THEN 'sink_de'"
    " ELSE 'sink_other' END"
)
SEV_TEXT_CASE = (
    "CASE WHEN corrupt OR fmt_id != 0 THEN 'Undefined'"
    " ELSE CASE doc_id % 5 WHEN 0 THEN 'Debug' WHEN 1 THEN 'Info'"
    " WHEN 2 THEN 'Info' WHEN 3 THEN 'Error' ELSE 'Fatal' END END"
)
SEV_NUM_CASE = (
    "CASE WHEN corrupt OR fmt_id != 0 THEN 0"
    " ELSE CASE doc_id % 5 WHEN 0 THEN 5 WHEN 1 THEN 9"
    " WHEN 2 THEN 12 WHEN 3 THEN 17 ELSE 21 END END"
)


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth.pages_from_documents(spark, sf_dir)


def _tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runner.build_tagged(spark, _pages(spark, sf_dir))


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """A small parquet reads as ONE split, which serializes every map
    stage built on it (measured: influx_decode spent 10.5 of 11 s in a
    single-task parse). Spread it to the session's parallelism — a no-op
    at real scale where the scan already has enough splits.

    Catalyst pushes deterministic filters through this round-robin
    exchange into the one-split scan. A filter on a costly derived column
    (an explicit ``.filter`` or the ``size(...) > 0`` inferred for a plain
    ``explode`` of an array column) then runs in that single task with
    the column's expression inlined. On the 5,000 sf0.1 documents at
    local[4], the contamination query took 1.0 s with ``explode_outer``
    of its gram sets and 3.6-3.9 s with a plain ``explode``.
    Operators built on ``_docs`` keep such filters above the exchange
    (see ``operators/dedup.py``)."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# pipeline-family queries (pages)
# ---------------------------------------------------------------------------


def q_parse_extract(spark, sf_dir):
    parsed = parse_fns.parse_stage(_pages(spark, sf_dir))
    return parsed.select(
        "page_id", "domain", "section", "title", "fmt", "event_time",
        F.col("severity_in").alias("severity_raw"), "stream", "message",
        "status", "parse_ok",
    )


ORACLE_PARSE_EXTRACT = f"""{PAGES_CTE}
SELECT doc_id AS page_id, domain, 's' || CAST(doc_id % 10 AS VARCHAR) AS section,
  title,
  CASE WHEN corrupt THEN NULL WHEN fmt_id = 0 THEN 'A' WHEN fmt_id = 1 THEN 'B' ELSE 'C' END AS fmt,
  CASE WHEN corrupt THEN NULL WHEN fmt_id = 0 THEN substr(ts_str, 1, 10)
       ELSE replace(ts_str, ' ', 'T') || 'Z' END AS event_time,
  CASE WHEN NOT corrupt AND fmt_id = 0 THEN sev_in ELSE NULL END AS severity_raw,
  CASE WHEN corrupt THEN NULL WHEN fmt_id = 0 THEN NULL
       WHEN fmt_id = 1 THEN 'stdout' ELSE 'stderr' END AS stream,
  CASE WHEN corrupt THEN NULL ELSE text END AS message,
  CAST(status AS INTEGER) AS status,
  NOT corrupt AS parse_ok
FROM pages
"""


def q_severity_map(spark, sf_dir):
    parsed = parse_fns.parse_stage(_pages(spark, sf_dir))
    return parsed.groupBy("severity_text", "severity_number").agg(
        F.count(F.lit(1)).alias("n_records")
    )


ORACLE_SEVERITY_MAP = f"""{PAGES_CTE}
SELECT {SEV_TEXT_CASE} AS severity_text,
       CAST({SEV_NUM_CASE} AS INTEGER) AS severity_number,
       COUNT(*) AS n_records
FROM pages GROUP BY 1, 2
"""


def q_route_counts(spark, sf_dir):
    return _tagged(spark, sf_dir).groupBy("route").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


ORACLE_ROUTE_COUNTS = f"""{PAGES_CTE}
SELECT {ROUTE_CASE} AS route, COUNT(*) AS n_rows FROM pages GROUP BY 1
"""


def q_routed_rows(spark, sf_dir):
    return _tagged(spark, sf_dir).select("route", "url")


ORACLE_ROUTED_ROWS = f"""{PAGES_CTE}
SELECT {ROUTE_CASE} AS route, url FROM pages
"""


# routing to exporter LISTS (config.go:43-52 RoutingTableItem.Exporters):
# 'en' feeds two sinks, so every English page is duplicated-by-design into
# sink_en AND sink_archive; the exploded row set is what the clustered
# fan-out write consumes in one scan
def _multi_routed(spark, sf_dir):
    cfg = routing.RoutingConfig(
        from_attribute="lang",
        table={"en": ["sink_en", "sink_archive"], "de": "sink_de"},
        default_sink=["sink_other"],
        predicate_routes=[
            ("sink_refused", ~F.col("parse_ok")),
            ("sink_quarantine", F.col("status") >= 400),
        ],
    )
    parsed = parse_fns.parse_stage(_pages(spark, sf_dir))
    return routing.explode_routes(routing.with_routes(parsed, cfg))


MULTI_LANE_CASE = (
    "CASE WHEN corrupt THEN 'refused'"
    " WHEN status >= 400 THEN 'quarantine'"
    " WHEN lang = 'en' THEN 'en'"
    " WHEN lang = 'de' THEN 'de'"
    " ELSE 'other' END"
)


def q_route_multi_counts(spark, sf_dir):
    return _multi_routed(spark, sf_dir).groupBy("route").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


ORACLE_ROUTE_MULTI_COUNTS = f"""{PAGES_CTE},
lanes AS (SELECT {MULTI_LANE_CASE} AS lane FROM pages),
fan AS (
  SELECT CASE lane WHEN 'refused' THEN 'sink_refused'
                   WHEN 'quarantine' THEN 'sink_quarantine'
                   WHEN 'en' THEN 'sink_en'
                   WHEN 'de' THEN 'sink_de'
                   ELSE 'sink_other' END AS route
  FROM lanes
  UNION ALL
  SELECT 'sink_archive' AS route FROM lanes WHERE lane = 'en'
)
SELECT route, COUNT(*) AS n_rows FROM fan GROUP BY 1
"""


def q_route_multi_rows(spark, sf_dir):
    return _multi_routed(spark, sf_dir).select("route", "url")


ORACLE_ROUTE_MULTI_ROWS = f"""{PAGES_CTE},
lanes AS (SELECT url, {MULTI_LANE_CASE} AS lane FROM pages)
SELECT CASE lane WHEN 'refused' THEN 'sink_refused'
                 WHEN 'quarantine' THEN 'sink_quarantine'
                 WHEN 'en' THEN 'sink_en'
                 WHEN 'de' THEN 'sink_de'
                 ELSE 'sink_other' END AS route, url
FROM lanes
UNION ALL
SELECT 'sink_archive' AS route, url FROM lanes WHERE lane = 'en'
"""


def q_enrich_lookup(spark, sf_dir):
    return _tagged(spark, sf_dir).select("url", "domain", "org", "category", "tier")


ORACLE_ENRICH_LOOKUP = f"""{PAGES_CTE}, {synth.domain_info_oracle_cte()}
SELECT url, pg.domain AS domain, org, category, tier
FROM pages pg LEFT JOIN domain_info d ON pg.domain = d.domain
"""


def q_enrich_ttl(spark, sf_dir):
    # ttlmap-bounded enrichment: dim entries registered > 1300 days before
    # the fact's warc_ts have expired -> lookup miss (org stays NULL)
    from opentelemetry_collector_contrib_spark.operators import attributes as attr_ops

    pages = _pages(spark, sf_dir)
    dim = synth.domain_info(spark)
    facts = pages.select(
        "url",
        F.regexp_extract("url", parse_fns.URL_META_PATTERN, 1).alias("domain"),
        "warc_ts",
    )
    out = attr_ops.enrich_lookup_ttl(
        facts, dim, on="domain", attrs=["org"], fact_ts_col="warc_ts",
        dim_ts_col="registered_ts", ttl="'1300' DAY",
    )
    return out.select("url", "domain", "org")


ORACLE_ENRICH_TTL = f"""{PAGES_CTE}, {synth.domain_info_oracle_cte()}
SELECT url, pg.domain AS domain, d.org AS org
FROM pages pg LEFT JOIN domain_info d
  ON pg.domain = d.domain
 AND pg.warc_ts >= d.registered_ts
 AND pg.warc_ts < d.registered_ts + INTERVAL '1300 days'
"""


def q_spanmetrics_histogram(spark, sf_dir):
    tagged = _tagged(spark, sf_dir).filter("parse_ok")
    sm = spanmetrics.span_metrics(
        tagged, dims=["route", "domain", "severity_text"], latency_col="latency_ms",
        dim_defaults={"severity_text": "Undefined"},
    )
    cols = [
        "route", "domain", "severity_text", "calls_total", "latency_count",
        F.round("latency_sum", 4).alias("latency_sum"),
    ] + [F.col(f"bucket_{i}") for i in range(len(DEFAULT_LATENCY_BOUNDS_MS) + 1)]
    return sm.select(*cols)


def _oracle_spanmetrics() -> str:
    inner = spanmetrics.span_metrics_oracle_sql(
        "ok", ["route", "domain", "severity_text"], "latency_ms"
    )
    buckets = ", ".join(
        f"CAST(bucket_{i} AS BIGINT) AS bucket_{i}"
        for i in range(len(DEFAULT_LATENCY_BOUNDS_MS) + 1)
    )
    return f"""{PAGES_CTE},
routed AS (
  SELECT {ROUTE_CASE} AS route, domain, {SEV_TEXT_CASE} AS severity_text,
         latency_ms, corrupt
  FROM pages
),
ok AS (SELECT * FROM routed WHERE NOT corrupt),
agg AS ({inner})
SELECT route, domain, severity_text, calls_total, latency_count,
  ROUND(latency_sum, 4) AS latency_sum, {buckets}
FROM agg
"""


def q_spanmetrics_salted(spark, sf_dir):
    # same aggregate via the two-phase salted path (hot-domain skew
    # handling, north_rule) — results identical to the plain groupBy
    tagged = _tagged(spark, sf_dir).filter("parse_ok")
    out = spanmetrics.salted_group_agg(
        tagged,
        ["route", "domain"],
        {
            "calls_total": ("latency_ms", "count", "sum"),
            "latency_sum": ("latency_ms", "sum", "sum"),
            "latency_max": ("latency_ms", "max", "max"),
        },
        salt_buckets=8,
    )
    return out.select(
        "route", "domain", "calls_total",
        F.round("latency_sum", 4).alias("latency_sum"), "latency_max",
    )


ORACLE_SPANMETRICS_SALTED = f"""{PAGES_CTE},
routed AS (
  SELECT {ROUTE_CASE} AS route, domain, latency_ms FROM pages WHERE NOT corrupt
)
SELECT route, domain, COUNT(latency_ms) AS calls_total,
  ROUND(SUM(latency_ms), 4) AS latency_sum, MAX(latency_ms) AS latency_max
FROM routed GROUP BY 1, 2
"""


def q_statsd_window(spark, sf_dir):
    tagged = _tagged(spark, sf_dir).filter("parse_ok")
    agg = statsd.statsd_aggregate(
        tagged, ts_col="warc_ts", name_col="lang", value_col="latency_ms",
        interval="1 hour", order_col="page_id",
    )
    return agg.select(
        F.col("window_start").cast("string").alias("window_start"),
        "lang",
        F.round("counter_sum", 4).alias("counter_sum"),
        "gauge_last", "timer_count", "timer_min", "timer_max",
        F.round("timer_p50", 6).alias("timer_p50"),
    )


ORACLE_STATSD_WINDOW = f"""{PAGES_CTE},
ok AS (SELECT * FROM pages WHERE NOT corrupt)
SELECT CAST(date_trunc('hour', warc_ts) AS VARCHAR) AS window_start, lang,
  ROUND(SUM(latency_ms), 4) AS counter_sum,
  arg_max(latency_ms, doc_id) AS gauge_last,
  COUNT(latency_ms) AS timer_count,
  MIN(latency_ms) AS timer_min,
  MAX(latency_ms) AS timer_max,
  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY latency_ms), 6) AS timer_p50
FROM ok GROUP BY 1, 2
"""


def q_statsd_percentiles(spark, sf_dir):
    # timer summary percentiles (statsd_parser.go:168-218) over events
    ev = _events(spark, sf_dir)
    out = statsd.timer_summary(ev, "ts", "event_type", "value", "1 day")
    cols = ["window_start", "event_type", "n_obs"] + [
        F.round(f"p{int(p*100)}", 6).alias(f"p{int(p*100)}")
        for p in (0.0, 0.1, 0.5, 0.9, 0.95, 0.99, 1.0)
    ]
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        *cols[1:],
    )


def _oracle_statsd_percentiles() -> str:
    inner = statsd.timer_summary_oracle_sql("events", "ts", "event_type", "value")
    rounded = ", ".join(
        f"ROUND(p{int(p*100)}, 6) AS p{int(p*100)}"
        for p in (0.0, 0.1, 0.5, 0.9, 0.95, 0.99, 1.0)
    )
    return f"""
SELECT CAST(CAST(window_start AS TIMESTAMP) AS VARCHAR) AS window_start,
  event_type, n_obs, {rounded}
FROM ({inner.replace("date_trunc('hour'", "date_trunc('day'")})
"""


def q_statsd_percentiles_sketch(spark, sf_dir):
    # The 10^12-row percentile path: timer quantiles read from merged
    # DDSketch-family sketches. Built hour-grain, merged to day
    # (sketch_merge), while the oracle builds the day-grain sketch
    # DIRECTLY in DuckDB — a hash match therefore proves both the
    # quantile walk and exact merge-equivalence of the sketch.
    ev = _events(spark, sf_dir)
    out = statsd.timer_summary_sketch(
        ev, "ts", "event_type", "value", interval="1 day",
        percentiles=(0.5, 0.9, 0.99), merge_from="1 hour")
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type", "n_obs", "p50_est", "p90_est", "p99_est")


def _oracle_statsd_percentiles_sketch() -> str:
    ests = []
    for p in (0.5, 0.9, 0.99):
        b = (f"MIN(CASE WHEN cum >= GREATEST(CAST(CEIL({p} * total) AS BIGINT), 1)"
             f" THEN bucket END)")
        ests.append(
            f"CASE WHEN {b} < 0 THEN 0.0 "
            f"ELSE 3.0 * POWER(2.0, {b} - 1) / 100 END AS p{int(p*100)}_est")
    return f"""
WITH sk AS (
  SELECT date_trunc('day', ts) AS window_start, event_type,
         CASE WHEN CAST(ROUND(value * 100) AS BIGINT) <= 0 THEN -1
              ELSE LENGTH(BIN(CAST(ROUND(value * 100) AS BIGINT))) - 1
         END AS bucket,
         COUNT(*) AS bucket_count
  FROM events GROUP BY 1, 2, 3
), ranked AS (
  SELECT *,
    SUM(bucket_count) OVER (PARTITION BY window_start, event_type
                            ORDER BY bucket) AS cum,
    SUM(bucket_count) OVER (PARTITION BY window_start, event_type) AS total
  FROM sk
)
SELECT CAST(CAST(window_start AS TIMESTAMP) AS VARCHAR) AS window_start,
       event_type, CAST(MAX(total) AS BIGINT) AS n_obs, {', '.join(ests)}
FROM ranked GROUP BY 1, 2
"""


def q_map_pipeline(spark, sf_dir):
    """End-to-end dynamic-attributes path: parse into a MAP<STRING,STRING>
    attributes column (the pdata attribute-map model,
    internal/stanza/converter.go:402-530), promote a route key out of the
    map (groupbyattrs), then enrich the map with insert-if-absent and
    override upserts (resourcedetection.go:178-196 merge semantics).
    Absent keys occur naturally: fmt-A rows carry sev but no stream, B/C
    the reverse, corrupt rows neither; 'org' is pre-set for page_id%10==0
    so insert-if-absent exercises both branches."""
    from opentelemetry_collector_contrib_spark.operators import attributes as attr_ops

    parsed = parse_fns.parse_stage(_pages(spark, sf_dir))
    attrs = F.map_filter(
        F.map_from_arrays(
            F.array(
                F.lit("fmt"), F.lit("stream"), F.lit("sev"),
                F.lit("section"), F.lit("org"),
            ),
            F.array(
                F.col("fmt"), F.col("stream"), F.col("severity_in"),
                F.col("section"),
                F.when(F.col("page_id") % 10 == 0, F.lit("local")),
            ),
        ),
        lambda _k, v: v.isNotNull(),
    )
    df = parsed.select("page_id", "domain", attrs.alias("attributes"))
    # promote the route key to a real column (and delete it from the map)
    df = groupbyattrs.promote_from_map(df, "attributes", ["fmt"])
    # broadcast-enrich: insert-if-absent (pre-set 'org' wins), then an
    # override upsert stamping the processing marker
    dim = synth.domain_info(spark).select("domain", F.col("org").alias("__org"))
    df = (
        df.join(F.broadcast(dim), "domain", "left")
        .withColumn(
            "attributes",
            attr_ops.map_upsert(
                F.col("attributes"), "org", F.col("__org"), override=False
            ),
        )
        .drop("__org")
        .withColumn(
            "attributes",
            attr_ops.map_upsert(
                F.col("attributes"), "checked", F.lit("y"), override=True
            ),
        )
    )
    return df.select(
        "page_id",
        "fmt",
        F.expr(
            "array_join(transform(array_sort(map_keys(attributes)),"
            " k -> concat(k, '=', element_at(attributes, k))), ',')"
        ).alias("attrs_csv"),
    )


ORACLE_MAP_PIPELINE = f"""{PAGES_CTE}, {synth.domain_info_oracle_cte()}
SELECT doc_id AS page_id,
  CASE WHEN corrupt THEN NULL WHEN fmt_id = 0 THEN 'A'
       WHEN fmt_id = 1 THEN 'B' ELSE 'C' END AS fmt,
  'checked=y,org=' || CASE WHEN doc_id % 10 = 0 THEN 'local' ELSE d.org END
    || ',section=s' || CAST(doc_id % 10 AS VARCHAR)
    || CASE WHEN NOT corrupt AND fmt_id = 0 THEN ',sev=' || sev_in ELSE '' END
    || CASE WHEN NOT corrupt AND fmt_id = 1 THEN ',stream=stdout'
            WHEN NOT corrupt AND fmt_id = 2 THEN ',stream=stderr'
            ELSE '' END AS attrs_csv
FROM pages pg LEFT JOIN domain_info d ON pg.domain = d.domain
"""


def q_multimodal_meta(spark, sf_dir):
    # binary-column plumbing: opaque bytes + typed metadata (decode is a
    # pandas-UDF stub in streaming/multimodal; here the byte-level schema)
    pages = _pages(spark, sf_dir)
    return pages.select(
        F.regexp_extract("url", parse_fns.URL_META_PATTERN, 4)
        .cast("long")
        .alias("page_id"),
        F.length("html").alias("html_bytes"),
        F.decode(F.substring("html", 1, 5), "UTF-8").alias("head"),
    )


ORACLE_MULTIMODAL_META = f"""{PAGES_CTE}
SELECT doc_id AS page_id, CAST(strlen(html_str) AS INTEGER) AS html_bytes,
       substr(html_str, 1, 5) AS head
FROM pages
"""


# ---------------------------------------------------------------------------
# events-family queries (processor semantics on the events table)
# ---------------------------------------------------------------------------


def q_router_json(spark, sf_dir):
    ev = _events(spark, sf_dir)
    tag = parse_fns.router(
        [
            ("alerts", F.col("event_type") == "error"),
            ("big", F.col("value") > 50.0),
        ],
        default="normal",
    )
    return ev.select(
        "event_id",
        tag.alias("tag"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


ORACLE_ROUTER_JSON = """
SELECT event_id,
  CASE WHEN event_type = 'error' THEN 'alerts'
       WHEN value > 50.0 THEN 'big' ELSE 'normal' END AS tag,
  CAST(props->>'$.k' AS BIGINT) AS k
FROM events
"""


def q_statsd_lines(spark, sf_dir):
    # construct statsd wire lines, then parse them back with the statsd
    # parser — the oracle recomputes the aggregate from the raw columns,
    # proving lossless parse (statsd_parser.go:224-279)
    ev = _events(spark, sf_dir).select(
        F.concat(
            F.col("event_type"), F.lit(":"),
            F.col("value").cast("string"), F.lit("|c"),
        ).alias("line")
    )
    parsed = statsd.parse_statsd_lines(ev)
    return parsed.groupBy(F.col("metric_name")).agg(
        F.round(F.sum("metric_value"), 4).alias("counter_sum"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_STATSD_LINES = """
SELECT event_type AS metric_name, ROUND(SUM(value), 4) AS counter_sum,
       COUNT(*) AS n_lines
FROM events GROUP BY 1
"""


def q_filter_range(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.filter(filters.numeric_range(F.col("value"), 10.0, 20.0)).select(
        "event_id", "value"
    )


ORACLE_FILTER_RANGE = "SELECT event_id, value FROM events WHERE value BETWEEN 10.0 AND 20.0"


def q_filter_regexp(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.filter(filters.regexp_match(F.col("source"), ["^src1[0-9]$"])).select(
        "doc_id", "source"
    )


ORACLE_FILTER_REGEXP = (
    "SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^src1[0-9]$')"
)


def q_tailsample(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = tailsampling.tail_sample(
        ev, "user_id",
        policies=[F.col("event_type") == "error", F.col("value") > 90.0],
    )
    return out.select("event_id", "user_id", "event_type")


ORACLE_TAILSAMPLE = """
SELECT event_id, user_id, event_type FROM events
WHERE user_id IN (
  SELECT user_id FROM events GROUP BY user_id
  HAVING bool_or(event_type = 'error') OR MAX(value) > 90.0
)
"""


def q_tailsample_metrics(spark, sf_dir):
    # sampling-decision observability (processor.go:176-188): sampled /
    # not-sampled trace + span counts for the same policy set as tailsample
    ev = _events(spark, sf_dir)
    return tailsampling.decision_metrics(
        ev, "user_id",
        policies=[F.col("event_type") == "error", F.col("value") > 90.0],
    )


ORACLE_TAILSAMPLE_METRICS = """
WITH per_trace AS (
  SELECT user_id,
    CASE WHEN bool_or(event_type = 'error') OR MAX(value) > 90.0
         THEN 1 ELSE 0 END AS s,
    COUNT(*) AS n
  FROM events GROUP BY user_id
)
SELECT CAST(SUM(s) AS BIGINT) AS num_traces_sampled,
  CAST(SUM(1 - s) AS BIGINT) AS num_traces_not_sampled,
  CAST(SUM(CASE WHEN s = 1 THEN n ELSE 0 END) AS BIGINT) AS num_spans_sampled,
  CAST(SUM(CASE WHEN s = 0 THEN n ELSE 0 END) AS BIGINT) AS num_spans_dropped
FROM per_trace
"""


def q_groupbytrace_sessions(spark, sf_dir):
    ev = _events(spark, sf_dir)
    g = groupbytrace.group_by_trace(ev, "user_id", ["event_type"], "event_id")
    return g.select(
        "user_id", "span_count",
        F.col("first_ts").alias("first_id"), F.col("last_ts").alias("last_id"),
        F.expr("concat_ws(',', transform(spans, s -> s.event_type))").alias("events_csv"),
    )


ORACLE_GROUPBYTRACE = """
SELECT user_id, COUNT(*) AS span_count, MIN(event_id) AS first_id,
  MAX(event_id) AS last_id,
  array_to_string(list(event_type ORDER BY event_id), ',') AS events_csv
FROM events GROUP BY user_id
"""


def q_severity_number_ladder(spark, sf_dir):
    # numeric stanza severity -> otel (text, number), exactly
    # convertSeverity incl. custom in-between levels (converter.go:532-582);
    # event_id % 101 sweeps every branch: all ten anchors, every custom
    # range, and 0 -> Undefined
    ev = _events(spark, sf_dir).withColumn(
        "sev_in", (F.col("event_id") % 101).cast("int")
    )
    txt, num = parse_fns.convert_severity_number(F.col("sev_in"))
    return (
        ev.select(txt.alias("severity_text"), num.alias("severity_number"))
        .groupBy("severity_text", "severity_number")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


def _oracle_severity_number() -> str:
    t_case, n_case = parse_fns.convert_severity_number_sql("event_id % 101")
    return f"""
SELECT {t_case} AS severity_text, CAST({n_case} AS INTEGER) AS severity_number,
       COUNT(*) AS n_records
FROM events GROUP BY 1, 2
"""


def q_es_docs(spark, sf_dir):
    # elasticsearch exporter document encoding (model.go:40-62): one JSON
    # doc per record, @timestamp first, Attributes/Resource sub-objects,
    # null fields omitted
    from opentelemetry_collector_contrib_spark.sinks import elasticsearch as es

    ev = _events(spark, sf_dir)
    txt, num = parse_fns.convert_severity_number(
        (F.col("event_id") % 101).cast("int")
    )
    ev = ev.select(
        "event_id", "ts", "event_type", "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.concat(F.lit("msg for "), F.col("event_type")).alias("body"),
        txt.alias("sev_text"), num.alias("sev_num"),
    )
    return es.to_es_docs(
        ev, ts_col="ts", name_col="event_type", body_col="body",
        attr_cols=["user_id", "k"], severity_text_col="sev_text",
        severity_number_col="sev_num", id_cols=["event_id"],
    )


def _oracle_es_docs() -> str:
    t_case, n_case = parse_fns.convert_severity_number_sql("event_id % 101")
    return f"""
SELECT event_id,
  '{{"@timestamp":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S')
  || '","SeverityText":"' || {t_case}
  || '","SeverityNumber":' || CAST({n_case} AS VARCHAR)
  || ',"Name":"' || event_type
  || '","Body":"msg for ' || event_type
  || '","Attributes":{{"user_id":' || CAST(user_id AS VARCHAR)
  || ',"k":' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
  || '}}}}' AS doc
FROM events
"""


def q_groupbytrace_capped(spark, sf_dir):
    # bounded trace state: only the 100 most recently started traces
    # survive (ring-buffer / deleteChan eviction analogue)
    ev = _events(spark, sf_dir)
    kept = groupbytrace.evict_to_capacity(ev, "user_id", "event_id", 100)
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.min("event_id").alias("first_id"),
    )


ORACLE_GBT_CAPPED = """
WITH firsts AS (SELECT user_id, MIN(event_id) AS f FROM events GROUP BY 1),
keep AS (SELECT user_id FROM firsts ORDER BY f DESC, user_id DESC LIMIT 100)
SELECT e.user_id, COUNT(*) AS span_count, MIN(event_id) AS first_id
FROM events e JOIN keep USING (user_id) GROUP BY 1
"""


def q_groupbytrace_bounded(spark, sf_dir):
    # bounded per-trace span buffer: array capped at 5, overflow counted
    ev = _events(spark, sf_dir)
    g = groupbytrace.group_by_trace(
        ev, "user_id", ["event_type"], "event_id", max_spans=5
    )
    return g.select(
        "user_id", "span_count", "n_dropped",
        F.expr("concat_ws(',', transform(spans, s -> s.event_type))").alias(
            "events_csv"
        ),
    )


ORACLE_GBT_BOUNDED = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS span_count,
  CAST(GREATEST(COUNT(*) - 5, 0) AS BIGINT) AS n_dropped,
  array_to_string(list_transform(
    list_sort(list({'o': event_id, 't': event_type}))[1:5], x -> x.t), ',')
    AS events_csv
FROM events GROUP BY 1
"""


def q_rate_limit(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return tailsampling.rate_limit(ev, ["user_id"], "event_id", 5).select(
        "event_id", "user_id"
    )


ORACLE_RATE_LIMIT = """
SELECT event_id, user_id FROM (
  SELECT event_id, user_id,
    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
) WHERE rn <= 5
"""


def q_groupbyattrs_metrics(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "k",
        F.when(
            F.get_json_object("props", "$.k").cast("long") >= 20,
            F.get_json_object("props", "$.k").cast("long"),
        ),
    )
    _, m = groupbyattrs.group_by_attrs(ev, ["k"])
    return m


ORACLE_GROUPBYATTRS = """
WITH e AS (
  SELECT CASE WHEN CAST(props->>'$.k' AS BIGINT) >= 20
              THEN CAST(props->>'$.k' AS BIGINT) END AS k
  FROM events
)
SELECT CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS num_grouped,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS num_non_grouped,
       COUNT(DISTINCT k) AS num_groups
FROM e
"""


def q_metricstransform_agg(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = metricstransform.aggregate_labels(ev, ["event_type"], "value", "sum")
    return out.select("event_type", F.round("value", 4).alias("value"))


ORACLE_MT_AGG = (
    "SELECT event_type, ROUND(SUM(value), 4) AS value FROM events GROUP BY 1"
)


def q_metricsgen_rate(spark, sf_dir):
    ev = _events(spark, sf_dir)
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.sum("value").alias("s")
    )
    metrics = m.selectExpr(
        "event_type", "'count' AS metric_name", "n AS value"
    ).unionByName(m.selectExpr("event_type", "'sum' AS metric_name", "s AS value"))
    gen = metricstransform.metrics_generation(
        metrics, "sum", "count", "divide", "avg_value", ["event_type"]
    )
    return gen.select(
        "event_type", "metric_name", F.round("value", 6).alias("value")
    )


ORACLE_METRICSGEN = """
SELECT event_type, 'avg_value' AS metric_name,
       ROUND(SUM(value) / COUNT(*), 6) AS value
FROM events GROUP BY 1
"""


def q_loadbalance_assign(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id", loadbalancing.md5_bucket(F.col("user_id"), 8).alias("backend")
    )


ORACLE_LOADBALANCE = (
    "SELECT event_id, "
    + loadbalancing.md5_bucket_sql("user_id", 8)
    + " AS backend FROM events"
)

RING_ENDPOINTS = ["backend-a:4317", "backend-b:4317", "backend-c:4317"]


def q_consistent_ring(spark, sf_dir):
    # full virtual-node ring with lower-bound lookup
    # (consistent_hashing.go:24-105), not just hash-mod
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        loadbalancing.ring_assign("user_id", RING_ENDPOINTS).alias("backend"),
    )


ORACLE_RING = loadbalancing.ring_assign_oracle_sql(
    "events", "user_id", "event_id", RING_ENDPOINTS
)


# ---------------------------------------------------------------------------
# sources / sinks family (syslog, multiline, HEC, loki)
# ---------------------------------------------------------------------------

SYSLOG_LINE_EXPR = (
    "concat('<', CAST(event_id % 192 AS STRING), '>1 2024-01-01T12:00:00Z ',"
    " 'host', CAST(event_id % 7 AS STRING), ' app', CAST(event_id % 3 AS STRING),"
    " ' ', CAST(event_id AS STRING), ' ev - msg for ', event_type)"
)


def q_syslog_rfc5424(spark, sf_dir):
    # build RFC5424 lines deterministically from events, parse them back;
    # the oracle recomputes every field by construction (lossless parse)
    lines = _events(spark, sf_dir).select(
        "event_id", F.expr(SYSLOG_LINE_EXPR).alias("line")
    )
    parsed = syslog.parse_rfc5424(lines)
    return parsed.select(
        "event_id", "pri", "facility", "severity", "hostname", "appname",
        "procid", "msgid", "message", "parse_ok",
    )


ORACLE_SYSLOG = """
SELECT event_id,
  CAST(event_id % 192 AS INTEGER) AS pri,
  CAST((event_id % 192) // 8 AS INTEGER) AS facility,
  CAST(event_id % 192 % 8 AS INTEGER) AS severity,
  'host' || CAST(event_id % 7 AS VARCHAR) AS hostname,
  'app' || CAST(event_id % 3 AS VARCHAR) AS appname,
  CAST(event_id AS VARCHAR) AS procid,
  'ev' AS msgid,
  'msg for ' || event_type AS message,
  TRUE AS parse_ok
FROM events
"""


RFC3164_LINE_EXPR = (
    "concat('<', CAST(event_id % 192 AS STRING), '>Jan ',"
    " lpad(CAST(event_id % 28 + 1 AS STRING), 2, ' '), ' 03:14:',"
    " lpad(CAST(event_id % 60 AS STRING), 2, '0'),"
    " ' host', CAST(event_id % 7 AS STRING),"
    " ' app', CAST(event_id % 3 AS STRING),"
    " '[', CAST(event_id AS STRING), ']: msg for ', event_type)"
)


def q_syslog_rfc3164(spark, sf_dir):
    # BSD-syslog lines built deterministically from events, parsed back;
    # the oracle recomputes every field by construction (lossless parse,
    # receiver/syslogreceiver/syslog.go:69-88 RFC3164 grammar)
    lines = _events(spark, sf_dir).select(
        "event_id", F.expr(RFC3164_LINE_EXPR).alias("line")
    )
    parsed = syslog.parse_rfc3164(lines)
    return parsed.select(
        "event_id", "pri", "facility", "severity", "syslog_ts", "hostname",
        "appname", "procid", "message", "parse_ok",
    )


ORACLE_SYSLOG_3164 = """
SELECT event_id,
  CAST(event_id % 192 AS INTEGER) AS pri,
  CAST((event_id % 192) // 8 AS INTEGER) AS facility,
  CAST(event_id % 192 % 8 AS INTEGER) AS severity,
  'Jan ' || lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, ' ') || ' 03:14:'
        || lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS syslog_ts,
  'host' || CAST(event_id % 7 AS VARCHAR) AS hostname,
  'app' || CAST(event_id % 3 AS VARCHAR) AS appname,
  CAST(event_id AS INTEGER) AS procid,
  'msg for ' || event_type AS message,
  TRUE AS parse_ok
FROM events
"""


def q_metricstransform_label_values(spark, sf_dir):
    # aggregate_label_values (datapoint_aggregation.go:103-130): merge
    # click+view into 'interaction', re-aggregating collided datapoints
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string")
    )
    out = metricstransform.aggregate_label_values(
        ev, "event_type", ["click", "view"], "interaction",
        other_labels=["day"], value_col="value", agg="sum",
    )
    return out.select(
        "day", "event_type", F.round("value", 4).alias("value")
    )


ORACLE_MT_LABEL_VALUES = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
  CASE WHEN event_type IN ('click', 'view') THEN 'interaction'
       ELSE event_type END AS event_type,
  ROUND(SUM(value), 4) AS value
FROM events GROUP BY 1, 2
"""


def q_metricstransform_combine(spark, sf_dir):
    # combine (metrics_transform_processor.go:279-421 + config.go:100-112):
    # per-family metrics named evt_<type>_count / evt_<type>_sum are
    # combined under a regexp include filter whose capture groups become
    # NEW LABELS carrying the submatches of the original metric name; the
    # count input carries a 'unit' column the sum input lacks, so
    # unionByName(allowMissingColumns) null-fills it
    ev = _events(spark, sf_dir)
    m_count = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .withColumn(
            "metric_name",
            F.concat(F.lit("evt_"), F.col("event_type"), F.lit("_count")),
        )
        .withColumn("unit", F.lit("1"))
    )
    m_sum = (
        ev.groupBy("event_type")
        .agg(F.round(F.sum("value"), 4).alias("value"))
        .withColumn(
            "metric_name",
            F.concat(F.lit("evt_"), F.col("event_type"), F.lit("_sum")),
        )
    )
    merged = m_count.unionByName(m_sum, allowMissingColumns=True)
    out = metricstransform.combine_matched(
        merged, r"^evt_(.*)_(count|sum)$", "combined_metric"
    )
    # unnamed capture groups surface as $1/$2 (SubexpNames parity);
    # aliased here so the oracle compare has plain identifiers
    return out.select(
        "event_type",
        "metric_name",
        F.col("$1").alias("family"),
        F.col("$2").alias("kind"),
        "value",
        "unit",
    )


ORACLE_MT_COMBINE = """
SELECT event_type, 'combined_metric' AS metric_name,
       event_type AS family, 'count' AS kind,
       CAST(COUNT(*) AS DOUBLE) AS value, '1' AS unit
FROM events GROUP BY 1
UNION ALL
SELECT event_type, 'combined_metric', event_type, 'sum',
       ROUND(SUM(value), 4), NULL
FROM events GROUP BY 1
"""


def q_metricstransform_ops(spark, sf_dir):
    # Chains the remaining per-datapoint metricstransform operations
    # (operation_add_label.go / operation_update_label.go /
    # operation_delete_label_value.go / metrics_transform_processor.go:439-440
    # ToggleScalarDataType / config.go Insert action): copy 'purchase' under a
    # new name, tag the copy with a constant label, rename+remap a shard
    # label, drop one label value, flip double->int64, then aggregate so the
    # result is small and deterministic.
    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("metric_name"),
        (F.col("user_id") % 4).cast("string").alias("shard"),
        "value",
    )
    out = metricstransform.insert_copy(ev, "purchase", "purchase_copy")
    out = metricstransform.add_label(
        out, "env", "prod", F.col("metric_name") == "purchase_copy"
    )
    out = metricstransform.update_label(
        out, "shard", new_label="lane", value_mapping={"0": "zero", "1": "one"}
    )
    out = metricstransform.delete_label_value(out, "lane", "3")
    out = metricstransform.toggle_scalar_data_type(out)
    return out.groupBy("metric_name", "lane", "env").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )


ORACLE_MT_OPS = """
WITH base AS (
  SELECT event_type AS metric_name,
         CAST(user_id % 4 AS VARCHAR) AS shard,
         value
  FROM events
), withcopy AS (
  SELECT * FROM base
  UNION ALL
  SELECT 'purchase_copy', shard, value FROM base WHERE metric_name = 'purchase'
), labeled AS (
  SELECT metric_name,
         CASE WHEN metric_name = 'purchase_copy' THEN 'prod' END AS env,
         CASE shard WHEN '0' THEN 'zero' WHEN '1' THEN 'one' ELSE shard END AS lane,
         CAST(TRUNC(value) AS BIGINT) AS value
  FROM withcopy
)
SELECT metric_name, lane, env,
       COUNT(*) AS n, CAST(SUM(value) AS BIGINT) AS sum_value
FROM labeled
WHERE lane IS DISTINCT FROM '3'
GROUP BY 1, 2, 3
"""


MULTILINE_LINES_SQL = (
    "SELECT source AS file, doc_id AS off, "  # 'offset' is reserved in DuckDB
    "CASE WHEN doc_id % 4 = 0 THEN 'START ' || lang ELSE 'cont ' || lang END AS line "
    "FROM documents"
)


def q_multiline_assemble(spark, sf_dir):
    _docs(spark, sf_dir).createOrReplaceTempView("__ml_documents")
    lines = spark.sql(MULTILINE_LINES_SQL.replace("documents", "__ml_documents"))
    out = src_text.assemble_multiline(lines, r"^START ", offset_col="off", joiner="|")
    return out.select("file", "block", "entry", "n_lines", "first_offset")


ORACLE_MULTILINE = f"""
WITH {src_text.assemble_multiline_oracle_sql(f'({MULTILINE_LINES_SQL})', '^START ', offset_col='off', joiner='|')}
SELECT file, block, entry, n_lines, first_offset FROM multiline
"""


def q_hec_roundtrip(spark, sf_dir):
    # exporter -> receiver round trip: rows -> HEC JSON -> parsed rows
    # (logdata_to_splunk.go:41-95 inverse of receiver.go:240-262)
    ev = _events(spark, sf_dir).withColumn("host", F.concat(F.lit("h"), F.col("user_id")))
    hec = splunkhec.to_hec_events(ev, "host", "event_type", "props", "ts")
    parsed = splunkhec.parse_hec_events(hec)
    return parsed.groupBy("host", "source").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.get_json_object("event", "$.k").cast("long")).alias("sum_k"),
        F.max(F.col("event_ts").cast("long")).alias("max_epoch"),
    )


# Portability: the integer SUM is cast to BIGINT (uncast it yields HUGEINT,
# which some driver fetch paths stringify differently), and the JSON access
# uses json_extract_string (more version-robust than the ->> operator).
ORACLE_HEC = """
SELECT 'h' || CAST(user_id AS VARCHAR) AS host, event_type AS source,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS max_epoch
FROM events GROUP BY 1, 2
"""


def q_carbon_roundtrip(spark, sf_dir):
    # exporter -> receiver round trip for the Graphite plaintext protocol:
    # rows -> "name;user=<u> value ts" lines (metricdata_to_plaintext.go:
    # 289-326) -> parsed back (path_parser_helper.go:101-135,
    # plaintext_parser.go:51-90); the oracle recomputes the aggregate from
    # the raw columns, proving the wire format is lossless
    from opentelemetry_collector_contrib_spark.sources import carbon

    ev = _events(spark, sf_dir).select(
        F.concat(F.lit("evt."), F.col("event_type")).alias("metric_name"),
        (F.col("user_id") % 10).cast("string").alias("user_tag"),
        F.col("value"),
        F.col("ts"),
    )
    lines = carbon.to_carbon_lines(ev, "metric_name", ["user_tag"], "value", "ts")
    parsed = carbon.parse_carbon_lines(lines).filter("valid")
    return parsed.groupBy(
        "metric_name", F.element_at("tags", "user_tag").alias("user_tag")
    ).agg(
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.count(F.lit(1)).alias("n_lines"),
        F.max(F.col("ts").cast("long")).alias("max_epoch"),
    )


ORACLE_CARBON = """
SELECT 'evt.' || event_type AS metric_name,
  CAST(user_id % 10 AS VARCHAR) AS user_tag,
  ROUND(SUM(value), 4) AS value_sum,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS max_epoch
FROM events GROUP BY 1, 2
"""


def q_wavefront_roundtrip(spark, sf_dir):
    # wavefront wire format (wavefront_parser.go:61-139): construct lines
    # incl. a quoted tag value with a space (the stateful tokenizer path),
    # parse back, aggregate; oracle recomputes from the raw columns
    from opentelemetry_collector_contrib_spark.sources import wavefront

    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.concat(
            F.col("event_type"), F.lit(" "),
            F.col("value").cast("string"), F.lit(" "),
            F.unix_timestamp(F.col("ts")).cast("string"),
            F.lit(" source=h"), (F.col("user_id") % 5).cast("string"),
            F.lit(' dc="dc 1"'),
        ).alias("line")
    )
    parsed = wavefront.parse_wavefront_lines(lines).filter("valid")
    return parsed.groupBy(
        "metric_name",
        F.col("tags").getItem("source").alias("source"),
        F.col("tags").getItem("dc").alias("dc"),
    ).agg(
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.count(F.lit(1)).alias("n_lines"),
        F.max(F.col("ts").cast("long")).alias("max_epoch"),
    )


ORACLE_WAVEFRONT = """
SELECT event_type AS metric_name,
  'h' || CAST(user_id % 5 AS VARCHAR) AS source,
  'dc 1' AS dc,
  ROUND(SUM(value), 4) AS value_sum,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS max_epoch
FROM events GROUP BY 1, 2, 3
"""


def q_collectd_decode(spark, sf_dir):
    # collectd write_http JSON records (collectd.go:34-95): two parallel
    # datapoints per record (gauge double + derive int), bracket label
    # extraction from host/type_instance, then decode and re-aggregate;
    # the oracle rebuilds both datapoint families from the raw columns
    from opentelemetry_collector_contrib_spark.sources import collectd

    ev = _events(spark, sf_dir)
    js = ev.select(
        F.to_json(
            F.struct(
                F.array(F.lit("short"), F.lit("long")).alias("dsnames"),
                F.array(F.lit("gauge"), F.lit("derive")).alias("dstypes"),
                F.array(
                    F.col("value").cast("string"),
                    F.col("user_id").cast("string"),
                ).alias("values"),
                F.unix_timestamp("ts").cast("double").alias("time"),
                F.lit(10.0).alias("interval"),
                F.concat(
                    F.lit("host[region=r"),
                    (F.col("user_id") % 3).cast("string"),
                    F.lit("]-x"),
                ).alias("host"),
                F.lit("load").alias("plugin"),
                F.col("event_type").alias("type"),
                F.lit("ti[env=prod]").alias("type_instance"),
            )
        ).alias("json")
    )
    pts = collectd.parse_collectd_records(js).filter(~F.col("is_event"))
    return pts.groupBy(
        "metric_name",
        F.col("labels").getItem("region").alias("region"),
        F.col("labels").getItem("env").alias("env"),
        F.col("labels").getItem("host").alias("host"),
        "is_cumulative",
    ).agg(
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.count(F.lit(1)).alias("n_points"),
    )


ORACLE_COLLECTD = """
SELECT event_type || '.ti.short' AS metric_name,
  'r' || CAST(user_id % 3 AS VARCHAR) AS region, 'prod' AS env,
  'host-x' AS host, FALSE AS is_cumulative,
  ROUND(SUM(value), 4) AS value_sum, CAST(COUNT(*) AS BIGINT) AS n_points
FROM events GROUP BY 1, 2, 3, 4, 5
UNION ALL
SELECT event_type || '.ti.long' AS metric_name,
  'r' || CAST(user_id % 3 AS VARCHAR) AS region, 'prod' AS env,
  'host-x' AS host, TRUE AS is_cumulative,
  ROUND(SUM(CAST(user_id AS DOUBLE)), 4) AS value_sum,
  CAST(COUNT(*) AS BIGINT) AS n_points
FROM events GROUP BY 1, 2, 3, 4, 5
"""


def q_influx_decode(spark, sf_dir):
    # InfluxDB line protocol (receiver/influxdbreceiver wire contract):
    # two fields per line (float + 'i'-suffixed int), a tag, ns timestamp;
    # decode fans fields into rows; oracle rebuilds both field families
    from opentelemetry_collector_contrib_spark.sources import influx

    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.concat(
            F.col("event_type"),
            F.lit(",user=u"), (F.col("user_id") % 5).cast("string"),
            F.lit(" value="), F.col("value").cast("string"),
            F.lit(",k="), F.get_json_object("props", "$.k"), F.lit("i"),
            F.lit(" "),
            (F.unix_timestamp("ts").cast("long") * F.lit(1000000000)).cast(
                "string"
            ),
        ).alias("line")
    )
    parsed = influx.parse_influx_lines(lines).filter("valid")
    return parsed.groupBy(
        "measurement",
        F.col("tags").getItem("user").alias("user_tag"),
        "field_key",
    ).agg(
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.count(F.lit(1)).alias("n_points"),
        F.max(F.col("ts").cast("long")).alias("max_epoch"),
    )


ORACLE_INFLUX = """
SELECT event_type AS measurement, 'u' || CAST(user_id % 5 AS VARCHAR) AS user_tag,
  'value' AS field_key, ROUND(SUM(value), 4) AS value_sum,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS max_epoch
FROM events GROUP BY 1, 2, 3
UNION ALL
SELECT event_type AS measurement, 'u' || CAST(user_id % 5 AS VARCHAR) AS user_tag,
  'k' AS field_key,
  ROUND(SUM(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS value_sum,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS max_epoch
FROM events GROUP BY 1, 2, 3
"""


def q_influx_roundtrip(spark, sf_dir):
    # exporter -> receiver round trip for the line protocol
    # (exporter/influxdbexporter writer.go:70-76 strict ns encoder +
    # receiver/influxdbreceiver): rows with escape-hostile tag keys/values
    # (spaces, commas, '=') and one float + one int + one string field
    # encode to lines and parse back; the oracle recomputes the aggregate
    # from the raw columns, proving both wire directions are lossless
    from opentelemetry_collector_contrib_spark.sources import influx

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    rows = ev.select(
        F.concat(F.lit("evt "), et).alias("measurement"),
        F.create_map(
            F.lit("user id"), F.concat(F.lit("u "), (u % 5).cast("string")),
            F.lit("dc=zone"), F.lit("us,east"),
        ).alias("tags"),
        F.create_map(F.lit("value"), F.col("value")).alias("ff"),
        F.create_map(F.lit("n"), (eid % 7).cast("long")).alias("fi"),
        F.create_map(
            F.lit("note"), F.concat(F.lit('say "'), et, F.lit('"'))
        ).alias("fs"),
        (F.unix_timestamp("ts").cast("long") * F.lit(1000000000)).alias("ts"),
    )
    lines = influx.to_influx_lines(
        rows, "measurement", "tags", "ff", "fi", "fs", None, "ts"
    )
    parsed = influx.parse_influx_lines(lines).filter("valid")
    return parsed.groupBy(
        "measurement",
        F.col("tags").getItem("user id").alias("user_tag"),
        F.col("tags").getItem("dc=zone").alias("dc_tag"),
        "field_key",
    ).agg(
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.count(F.lit(1)).alias("n_points"),
        F.max("value_str").alias("max_str"),
        F.max(F.col("ts").cast("long")).alias("max_epoch"),
    )


ORACLE_INFLUX_ROUNDTRIP = """
WITH base AS (
  SELECT 'evt ' || event_type AS measurement,
         'u ' || CAST(user_id % 5 AS VARCHAR) AS user_tag,
         'us,east' AS dc_tag,
         value, event_id % 7 AS n_val,
         'say "' || event_type || '"' AS note,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
  FROM events
)
SELECT measurement, user_tag, dc_tag, 'value' AS field_key,
       ROUND(SUM(value), 4) AS value_sum,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(NULL AS VARCHAR) AS max_str,
       MAX(epoch_s) AS max_epoch
FROM base GROUP BY 1, 2, 3
UNION ALL
SELECT measurement, user_tag, dc_tag, 'n' AS field_key,
       ROUND(SUM(n_val), 4) AS value_sum,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(NULL AS VARCHAR) AS max_str,
       MAX(epoch_s) AS max_epoch
FROM base GROUP BY 1, 2, 3
UNION ALL
SELECT measurement, user_tag, dc_tag, 'note' AS field_key,
       CAST(NULL AS DOUBLE) AS value_sum,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       MAX(note) AS max_str,
       MAX(epoch_s) AS max_epoch
FROM base GROUP BY 1, 2, 3
"""


def q_prom_text_decode(spark, sf_dir):
    # Prometheus text exposition format (simpleprometheusreceiver /
    # prometheusexecreceiver scrape payloads): synthesize a counter family
    # with ms timestamps and a gauge family whose label value carries an
    # escaped quote, interleave TYPE/HELP/comment/blank/junk lines, parse,
    # attach family metadata relationally, and re-aggregate per family.
    from opentelemetry_collector_contrib_spark.sources import prometheus

    ev = _events(spark, sf_dir)
    counter = ev.select(
        F.concat(
            F.lit('events_total{type="'), F.col("event_type"),
            F.lit('",shard="s'), (F.col("user_id") % 3).cast("string"),
            F.lit('"} 1 '),
            F.unix_millis(F.col("ts").cast("timestamp")).cast("string"),
        ).alias("line")
    )
    gauge = ev.select(
        F.concat(
            F.lit('event_value{type="'), F.col("event_type"),
            F.lit('",note="v\\"'), (F.col("user_id") % 7).cast("string"),
            F.lit('"} '), F.col("value").cast("string"),
        ).alias("line")
    )
    meta = spark.createDataFrame(
        [
            ("# TYPE events_total counter",),
            ("# HELP events_total Event counts.",),
            ("# TYPE event_value gauge",),
            ("",),
            ("# scrape boundary",),
            ("!! not a metric",),
        ],
        "line string",
    )
    parsed = prometheus.parse_prometheus_text(
        counter.unionByName(gauge).unionByName(meta)
    )
    out = prometheus.attach_family_meta(parsed)
    return out.groupBy(
        "metric_name",
        "metric_type",
        F.col("labels").getItem("type").alias("type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.unix_millis(F.max("ts")).alias("max_ts_ms"),
        F.max(F.col("labels").getItem("note")).alias("max_note"),
    )


ORACLE_PROM_TEXT = """
WITH s AS (
  SELECT event_type, user_id, value,
         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
  FROM events
)
SELECT 'events_total' AS metric_name, 'counter' AS metric_type,
       event_type AS type, COUNT(*) AS n,
       ROUND(SUM(CAST(1 AS DOUBLE)), 4) AS value_sum,
       MAX(ts_ms) AS max_ts_ms,
       CAST(NULL AS VARCHAR) AS max_note
FROM s GROUP BY 3
UNION ALL
SELECT 'event_value', 'gauge', event_type, COUNT(*),
       ROUND(SUM(value), 4), CAST(NULL AS BIGINT),
       MAX('v"' || CAST(user_id % 7 AS VARCHAR))
FROM s GROUP BY 3
"""


def q_sumologic_lines(spark, sf_dir):
    # sumologic exporter line formats (carbon_formatter.go:29-84,
    # graphite_formatter.go:53-99): every emitted line is compared
    # byte-identically against a string-constructed oracle, exercising the
    # two-space carbon2 separator, the _name collision prefix, space/dot
    # sanitization, and the appended metric=/unit= pairs.
    from opentelemetry_collector_contrib_spark.sinks import sumologic

    ev = _events(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host"),
        F.concat(F.lit("r "), (F.col("user_id") % 3).cast("string")).alias("region"),
        F.col("event_type").alias("name"),
        F.col("event_type").alias("metric_name"),
        F.col("user_id").alias("value"),
        F.unix_timestamp("ts").alias("ts_sec"),
        F.concat(F.lit("dc."), (F.col("user_id") % 2).cast("string")).alias("dc"),
        F.lit("ms").alias("unit"),
    )
    c2 = sumologic.to_carbon2_lines(
        ev, ["host", "region", "name"], "metric_name", "value", "ts_sec",
        unit_col="unit",
    ).select(F.lit("carbon2").alias("fmt"), "line")
    gr = sumologic.to_graphite_lines(
        ev, ["metric_name", "dc", "host"], "value", "ts_sec"
    ).select(F.lit("graphite").alias("fmt"), "line")
    return c2.unionByName(gr)


ORACLE_SUMOLOGIC = """
WITH s AS (
  SELECT 'h' || CAST(user_id % 5 AS VARCHAR) AS host,
         'r_' || CAST(user_id % 3 AS VARCHAR) AS region_s,
         event_type,
         CAST(user_id AS VARCHAR) AS val,
         CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS VARCHAR)
           AS ts_sec,
         'dc_' || CAST(user_id % 2 AS VARCHAR) AS dc_esc
  FROM events
)
SELECT 'carbon2' AS fmt,
  'host=' || host || ' region=' || region_s || ' _name=' || event_type ||
  ' metric=' || event_type || ' unit=ms  ' || val || ' ' || ts_sec AS line
FROM s
UNION ALL
SELECT 'graphite',
  event_type || '.' || dc_esc || '.' || host || ' ' || val || ' ' || ts_sec
FROM s
"""


def q_fluentforward_roundtrip(spark, sf_dir):
    # fluentforward receiver (conversion.go:191-330): every event is framed
    # on the wire in one of the three protocol modes by row (Message /
    # Forward / gzip-CompressedPackedForward — all count-preserving with
    # one entry per frame), decoded back through the msgpack decoder, and
    # re-aggregated; the oracle recomputes from the raw columns.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from opentelemetry_collector_contrib_spark.sources import fluentforward as ff

    ev = _events(spark, sf_dir).select(
        F.concat(F.lit("evt."), "event_type").alias("tag"),
        F.unix_timestamp(F.col("ts")).alias("secs"),
        F.col("props").alias("msg"),
        (F.col("user_id") % 5).cast("string").alias("k"),
        (F.col("event_id") % 3).alias("mode"),
    )

    @pandas_udf("binary")
    def enc(tag, secs, msg, k, mode):
        out = []
        for t, s, m, kk, md in zip(tag, secs, msg, k, mode):
            rec = {"message": m, "k": kk}
            if md == 0:
                out.append(ff.encode_message_event(t, int(s), rec))
            elif md == 1:
                out.append(ff.encode_forward_event(t, [(int(s), rec)]))
            else:
                out.append(
                    ff.encode_packed_forward_event(t, [(int(s), rec)], compress=True)
                )
        return pd.Series(out)

    frames = ev.select(enc("tag", "secs", "msg", "k", "mode").alias("event"))
    decoded = ff.decode_fluentforward(frames).filter("valid")
    return decoded.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("body")).alias("body_chars"),
        F.max(F.col("ts").cast("long")).alias("max_epoch"),
        F.max(F.col("attrs").getItem("k")).alias("max_k"),
    )


ORACLE_FLUENTFORWARD = """
SELECT 'evt.' || event_type AS tag,
       COUNT(*) AS n,
       CAST(SUM(len(props)) AS BIGINT) AS body_chars,
       MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS max_epoch,
       MAX(CAST(user_id % 5 AS VARCHAR)) AS max_k
FROM events GROUP BY 1
"""


def q_emf_docs(spark, sf_dir):
    # awsemf exporter (metric_translator.go:353-391): grouped metrics ->
    # EMF structured-log JSON; parse the emitted documents back and verify
    # every field (labels, values, _aws.Timestamp, namespace, rolled-up
    # dimension sets, per-metric Unit incl. the omitted-Unit case).
    from opentelemetry_collector_contrib_spark.sinks import awsemf

    ev = _events(spark, sf_dir)
    g = ev.groupBy(
        "event_type", (F.col("user_id") % 3).cast("string").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.unix_millis(F.max(F.col("ts").cast("timestamp"))).alias("ts_ms"),
    )
    docs = awsemf.to_emf_log_events(
        g,
        "ocs/events",
        ["event_type", "shard"],
        ["n", "value_sum"],
        "ts_ms",
        units={"n": "Count"},
        rollup="ZeroAndSingleDimensionRollup",
    )
    m = F.col("message")
    cw = "$._aws.CloudWatchMetrics[0]"
    return docs.select(
        F.get_json_object(m, "$.event_type").alias("event_type"),
        F.get_json_object(m, "$.shard").alias("shard"),
        F.get_json_object(m, "$.n").cast("double").alias("n"),
        F.get_json_object(m, "$.value_sum").cast("double").alias("value_sum"),
        F.get_json_object(m, "$._aws.Timestamp").cast("long").alias("ts_ms"),
        F.get_json_object(m, f"{cw}.Namespace").alias("namespace"),
        F.get_json_object(m, f"{cw}.Dimensions").alias("dims_json"),
        F.get_json_object(m, f"{cw}.Metrics[0].Unit").alias("n_unit"),
        F.get_json_object(m, f"{cw}.Metrics[1].Name").alias("m2_name"),
        F.get_json_object(m, f"{cw}.Metrics[1].Unit").alias("m2_unit"),
    )


ORACLE_EMF = """
SELECT event_type,
       CAST(user_id % 3 AS VARCHAR) AS shard,
       CAST(COUNT(*) AS DOUBLE) AS n,
       ROUND(SUM(value), 4) AS value_sum,
       MAX(CAST(epoch_ms(ts) AS BIGINT)) AS ts_ms,
       'ocs/events' AS namespace,
       '[["event_type","shard"],[],["event_type"],["shard"]]' AS dims_json,
       'Count' AS n_unit,
       'value_sum' AS m2_name,
       CAST(NULL AS VARCHAR) AS m2_unit
FROM events GROUP BY 1, 2
"""


def q_loki_streams(spark, sf_dir):
    # severity_in is only set for fmt-A rows, stream only for B/C; corrupt
    # rows map no labels at all -> the labels='' dropped bucket
    # (lokiexporter/exporter.go:123-136)
    parsed = parse_fns.parse_stage(_pages(spark, sf_dir))
    out = loki.to_loki_streams(
        parsed, {"severity_in": "sev", "stream": "stream"}, "message"
    )
    return out


ORACLE_LOKI = f"""{PAGES_CTE},
lab AS (
  SELECT COALESCE(array_to_string(list_filter([
      CASE WHEN NOT corrupt AND fmt_id = 0 THEN 'sev=' || sev_in END,
      CASE WHEN NOT corrupt AND fmt_id = 1 THEN 'stream=stdout'
           WHEN NOT corrupt AND fmt_id = 2 THEN 'stream=stderr' END
    ], x -> x IS NOT NULL), ','), '') AS labels,
    CASE WHEN corrupt THEN NULL ELSE text END AS line
  FROM pages)
SELECT labels, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(strlen(line)) AS BIGINT) AS total_bytes
FROM lab GROUP BY 1
"""


# ---------------------------------------------------------------------------
# multimodal family (binary payload plumbing; decode stubbed)
# ---------------------------------------------------------------------------


def q_multimodal_decode(spark, sf_dir):
    media = multimodal.synth_media(spark, sf_dir)
    return multimodal.decode_media_meta(media)


ORACLE_MM_KIND = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)
ORACLE_MM_DECODE = f"""
SELECT doc_id AS media_id,
  {ORACLE_MM_KIND} AS kind,
  CAST(doc_id % 640 + 16 AS INTEGER) AS width,
  CAST(doc_id % 480 + 16 AS INTEGER) AS height,
  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 120 + 1 ELSE 1 END AS INTEGER) AS n_frames,
  CAST(strlen('MM01|' || {ORACLE_MM_KIND} || '|' || CAST(doc_id % 640 + 16 AS VARCHAR)
    || '|' || CAST(doc_id % 480 + 16 AS VARCHAR) || '|'
    || CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 120 + 1 ELSE 1 END AS VARCHAR)
    || '|' || text) AS INTEGER) AS payload_bytes,
  substr(text, 1, 8) AS body_head
FROM documents
"""


def q_frame_sample(spark, sf_dir):
    media = multimodal.synth_media(spark, sf_dir)
    meta = multimodal.decode_media_meta(media)
    return multimodal.frame_sample(meta, every=10)


ORACLE_FRAME_SAMPLE = f"""
WITH meta AS ({ORACLE_MM_DECODE}),
f AS (
  SELECT media_id, payload_bytes,
    unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 10)) AS fi
  FROM meta WHERE kind = 'video'
)
SELECT media_id, CAST(fi AS INTEGER) AS frame_index,
       fi * payload_bytes AS frame_offset
FROM f
"""


# ---------------------------------------------------------------------------
# TPC-H-style relational checks (generic engine correctness)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  ROUND(SUM(l_quantity), 2) AS sum_qty,
  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  ROUND(AVG(l_quantity), 6) AS avg_qty,
  ROUND(AVG(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_broadcast_enrich_tpch(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


ORACLE_BROADCAST_ENRICH = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_tpch_q3_top10(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1995-03-15")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > "1995-03-15")
    )
    agg = j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    return (
        agg.orderBy(F.col("rev").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
            F.round("rev", 2).alias("revenue"),
        )
    )


ORACLE_TPCH_Q3 = """
SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority,
       ROUND(rev, 2) AS revenue
FROM (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         SUM(l_extendedprice * (1 - l_discount)) AS rev
  FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
  GROUP BY 1, 2, 3
)
ORDER BY rev DESC, o_orderkey LIMIT 10
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


ORACLE_DEDUP_EXACT = dedup.exact_dedup_sql("documents", "doc_id", "text")


def q_paragraph_dedup(spark, sf_dir):
    # CCNet-style paragraph-level exact dedup (Wenzek et al. §3.2): keep
    # the corpus-wide first occurrence of every paragraph, reassemble
    # docs; paragraph breaks are synthesized deterministically (plain
    # string replace — identical semantics both engines) since the
    # synthetic corpus is single-line
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr("replace(text, ' table ', '\n\n')").alias("text")
    )
    return dedup.paragraph_dedup(docs, "doc_id", "text")


ORACLE_PARAGRAPH_DEDUP = dedup.paragraph_dedup_sql(
    "(SELECT doc_id, replace(text, ' table ', chr(10)||chr(10)) AS text"
    " FROM documents)",
    "doc_id",
    "text",
)


def q_contamination(spark, sf_dir):
    # benchmark-contamination screen (GPT-3 appendix C / Dodge et al. C4
    # §4.2): docs sharing any 8-gram with the "eval set" (every 97th doc
    # stands in) are flagged; bench grams broadcast, corpus never
    # shuffles on the gram key
    docs = _docs(spark, sf_dir)
    return dedup.contamination_flags(
        docs, docs.filter("doc_id % 97 = 0"), "doc_id", "text", n=8
    )


ORACLE_CONTAMINATION = dedup.contamination_flags_sql(
    "documents", "doc_id % 97 = 0", "doc_id", "text", n=8
)


def q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text", 3, 0.5)


ORACLE_DEDUP_JACCARD = dedup.ngram_jaccard_pairs_sql("documents", "doc_id", "text", 3, 0.5)


def q_dedup_ngram_jaccard_stopgram(spark, sf_dir):
    # stop-gram filter: grams in more than max_doc_freq docs are dropped
    # before the self-join — the knob that keeps the gram join linear-ish
    # at web scale (hot shingles stop exploding the join)
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", 3, 0.5, max_doc_freq=4
    )


ORACLE_DEDUP_JACCARD_STOPGRAM = dedup.ngram_jaccard_pairs_sql(
    "documents", "doc_id", "text", 3, 0.5, max_doc_freq=4
)


def q_dedup_clusters(spark, sf_dir):
    # duplicate-cluster resolution: stop-gram Jaccard pairs -> connected
    # components (min-label propagation) -> every doc tagged with its
    # cluster representative + survivor flag; the step a training-data
    # dedup pipeline runs after any pair generator
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.5, max_doc_freq=4
    )
    comp = dedup.connected_components(pairs)
    out = dedup.canonical_docs(docs, comp, "doc_id")
    return out.select("doc_id", "cluster_rep", "keep")


# transitive closure via recursive CTE — fine at oracle scale; the Spark
# side is the iterative label propagation that survives web scale
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE p AS ({ORACLE_DEDUP_JACCARD_STOPGRAM}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM p
  UNION
  SELECT doc_b, doc_a FROM p
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
rep AS (
  SELECT u AS node, MIN(LEAST(u, v)) AS label FROM reach GROUP BY u
)
SELECT d.doc_id,
       COALESCE(rep.label, d.doc_id) AS cluster_rep,
       COALESCE(rep.label, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN rep ON d.doc_id = rep.node
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, num_hashes=8, bands=4,
        threshold=0.5,
    )


ORACLE_DEDUP_MINHASH = dedup.minhash_lsh_pairs_sql(
    "documents", "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
)


# 48-bit signatures: at 16 bits a (chunk, value) bucket holds corpus/2^5
# docs and random pairs pass hamming<=2 at ~0.2% — the banded join
# degenerates quadratic and the "near-dup" relation is mostly hash noise.
# 48 bits / hamming<=4 keeps buckets at corpus/2^9 and makes the relation
# mean document similarity (the industry-standard simhash width regime).
def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash_pairs(
        _docs(spark, sf_dir), "doc_id", "text", bits=48, max_hamming=4
    )


ORACLE_DEDUP_SIMHASH = dedup.simhash_pairs_sql(
    "documents", "doc_id", "text", bits=48, max_hamming=4
)


def q_dedup_simhash_banded(spark, sf_dir):
    # pigeonhole-banded candidate gen + verify: same pairs as the exact
    # join (shares the exact oracle), but scales linearly
    return dedup.simhash_pairs_banded(
        _docs(spark, sf_dir), "doc_id", "text", bits=48, max_hamming=4
    )


def q_embedding_neardup(spark, sf_dir):
    return similarity.neardup_pairs(_emb(spark, sf_dir), threshold=0.45)


ORACLE_EMB_NEARDUP = similarity.neardup_pairs_sql("embeddings", threshold=0.45)


def q_embedding_neardup_banded(spark, sf_dir):
    # anchor-cell (pivot-pruned) scale path — provably identical result to
    # the all-pairs join, so it shares ORACLE_EMB_NEARDUP
    return similarity.neardup_pairs_banded(_emb(spark, sf_dir), threshold=0.45)


def q_embedding_neardup_blocked(spark, sf_dir):
    # same exact anchor prune, block-GEMM verify (the scale path) —
    # identical result, shares ORACLE_EMB_NEARDUP
    return similarity.neardup_pairs_blocked(_emb(spark, sf_dir), threshold=0.45)


def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return similarity.brute_force_topk(emb, emb.filter("vec_id < 10"), k=5)


ORACLE_ANN_TOPK = similarity.brute_force_topk_sql("embeddings", "vec_id < 10", k=5)


def q_ann_ivf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(emb, emb.filter("vec_id < 10"), k=5)


ORACLE_ANN_IVF = similarity.brute_force_topk_sql(
    "embeddings", "vec_id < 10", k=5, cell_join="AND q.label = c.label"
)


def q_ann_ivf_trained(spark, sf_dir):
    # trained coarse quantizer (spherical k-means, deterministic init) +
    # multi-probe search; nprobe == n_cells probes every cell, so the
    # result is provably identical to brute force and shares its oracle.
    # Recall at nprobe < n_cells is covered by tests/test_dedup_scale.py.
    emb = _emb(spark, sf_dir)
    cents = similarity.train_ivf_centroids(emb, n_cells=8, iters=2)
    return similarity.ivf_topk_trained(
        emb, emb.filter("vec_id < 10"), cents, k=5, nprobe=8
    )


def q_lang_id(spark, sf_dir):
    out = text_fns.lang_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "pred_lang", (F.col("pred_lang") == F.col("lang")).alias("is_match")
    )


def _oracle_lang_id() -> str:
    hits, case = text_fns.lang_id_case_sql()
    return f"""
SELECT doc_id, pred_lang, pred_lang = lang AS is_match FROM (
  SELECT doc_id, lang, {case} AS pred_lang FROM (
    SELECT doc_id, lang, {hits} FROM documents))
"""


def q_quality_score(spark, sf_dir):
    return text_fns.quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "distinct_ratio_ppm", "mean_tok_len_ppm",
        "quality_score_ppm",
    )


ORACLE_QUALITY = text_fns.quality_features_sql("documents", "doc_id")


def q_pii_scrub(spark, sf_dir):
    # privacy scrub: typed redaction of emails/phones/IPv4s with counts —
    # PII synthesized deterministically onto the word-soup documents so
    # both engines see identical inputs (RE2/Java-shared regexes)
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    t2 = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact u"), d.cast("string"), F.lit("@example.com"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit(" at 10.0."), (d % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit(" tel 555-123-4567")).otherwise(F.lit("")),
    )
    out = text_fns.pii_scrub(docs.select("doc_id", t2.alias("text")))
    return out.select(
        "doc_id", "text_scrubbed", "n_emails", "n_phones", "n_ips"
    )


ORACLE_PII_SCRUB = f"""
WITH s AS (
  SELECT doc_id,
    substr(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
      || '@example.com'
    || CASE WHEN doc_id % 2 = 0
            THEN ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
            ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN ' tel 555-123-4567' ELSE '' END AS text
  FROM documents
)
-- counts mirror the cascade: each count runs on the text its replacement
-- pass sees, so n_<kind> == placeholders written (see text.pii_scrub)
, st AS (
  SELECT doc_id, text,
    regexp_replace(text, '{text_fns.PII_EMAIL_RE}', '<EMAIL>', 'g') AS after_email
  FROM s
), st2 AS (
  SELECT doc_id, text, after_email,
    regexp_replace(after_email, '{text_fns.PII_PHONE_RE}', '<PHONE>', 'g') AS after_phone
  FROM st
)
SELECT doc_id,
  regexp_replace(after_phone, '{text_fns.PII_IP_RE}', '<IP>', 'g') AS text_scrubbed,
  CAST(len(regexp_extract_all(text, '{text_fns.PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(after_email, '{text_fns.PII_PHONE_RE}')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(after_phone, '{text_fns.PII_IP_RE}')) AS INTEGER) AS n_ips
FROM st2
"""


def q_c4_clean(spark, sf_dir):
    # C4-style cleaning (public JMLR'20 rules subset): terminal-punct +
    # min-word + javascript line filters, lorem-ipsum / brace doc flags,
    # min-kept-lines doc keep decision — over deterministic multi-line
    # text synthesized from the documents table
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    text = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 60), F.lit(" tail.")),
        F.lit("short line."),
        F.concat(F.substring("text", 61, 40), F.lit(" no punct")),
        F.lit("please enable javascript to view this page."),
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" second good sentence here."),
            F.when(d % 7 == 0, F.lit(" lorem ipsum dolor.")).otherwise(F.lit("")),
        ),
        F.when(d % 5 == 0, F.lit("a third good sentence appears right here.")),
        F.when(d % 11 == 0, F.lit("stray { brace line.")),
    )
    out = text_fns.c4_line_filter(docs.select("doc_id", text.alias("text")))
    return out.select(
        "doc_id", "clean_text", "n_lines", "n_lines_kept",
        "has_lorem", "has_brace", "keep_doc",
    )


ORACLE_C4_CLEAN = """
WITH s AS (
  SELECT doc_id, concat_ws(chr(10),
    substr(text, 1, 60) || ' tail.',
    'short line.',
    substr(text, 61, 40) || ' no punct',
    'please enable javascript to view this page.',
    substr(text, 1, 40) || ' second good sentence here.'
      || CASE WHEN doc_id % 7 = 0 THEN ' lorem ipsum dolor.' ELSE '' END,
    CASE WHEN doc_id % 5 = 0
         THEN 'a third good sentence appears right here.' END,
    CASE WHEN doc_id % 11 = 0 THEN 'stray { brace line.' END
  ) AS text FROM documents
),
k AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)), l ->
      regexp_matches(l, '[.!?"'']$')
      AND len(string_split_regex(trim(l), '\\s+')) >= 5
      AND NOT contains(lower(l), 'javascript')) AS kept
  FROM s
)
SELECT doc_id,
  array_to_string(kept, chr(10)) AS clean_text,
  CAST(len(string_split(text, chr(10))) AS INTEGER) AS n_lines,
  CAST(len(kept) AS INTEGER) AS n_lines_kept,
  contains(lower(text), 'lorem ipsum') AS has_lorem,
  contains(text, '{') AS has_brace,
  NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
    AND len(kept) >= 3 AS keep_doc
FROM k
"""


def q_repetition_signals(spark, sf_dir):
    # Gopher-style repetition filters (public Rae et al. 2021 definitions):
    # the corpus text has no newlines, so a multi-line view is synthesized
    # by appending a duplicated 40-char prefix — identically in the oracle.
    docs = _docs(spark, sf_dir).withColumn(
        "ltext",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.substring("text", 1, 40),
            F.substring("text", 1, 40),
        ),
    )
    return text_fns.repetition_features(
        docs, "doc_id", "text", line_col="ltext", top_n=2, dup_n=3
    )


ORACLE_REPETITION = text_fns.repetition_features_sql(
    "documents",
    "doc_id",
    "text",
    line_expr=(
        "text || chr(10) || substr(text, 1, 40) || chr(10) || "
        "substr(text, 1, 40)"
    ),
    top_n=2,
    dup_n=3,
)


def q_token_count(spark, sf_dir):
    return text_fns.token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "ws_tokens", "subword_tokens"
    )


ORACLE_TOKEN_COUNT = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INTEGER) AS subword_tokens
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    return text_fns.doc_fingerprint(_docs(spark, sf_dir), "doc_id")


ORACLE_FINGERPRINT = text_fns.doc_fingerprint_sql("documents", "doc_id")


# deterministic messy-URL synth shared by the Spark query and the oracle:
# four crawl-realistic variants (mixed case + default port + tracking
# params + fragment; nonstandard port; http:80 + gclid; bare apex host)
# CAST(... AS STRING) parses in BOTH engines (DuckDB aliases STRING to
# VARCHAR; Spark rejects bare VARCHAR)
_URL_CASES_SQL = """CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/p/' ||
              CAST(doc_id AS STRING) || '/?utm_source=x&b=2&a=1#f'
  WHEN 1 THEN 'http://' || source || '.example.com:8080/p/' ||
              CAST(doc_id AS STRING)
  WHEN 2 THEN 'http://' || source || '.example.com:80/p/' ||
              CAST(doc_id AS STRING) || '?gclid=1'
  ELSE 'https://' || source || '.org'
END"""


def q_url_canonical(spark, sf_dir):
    # URL canonicalization + host/registrable-domain extraction
    # (functions/urlutil.py): RFC 3986 §6 syntax normalization + the
    # tracking-param strip every crawl pipeline (C4, CCNet, RefinedWeb)
    # keys dedup and per-domain stats on; pure JVM regexp/array
    # expressions, one map stage
    from opentelemetry_collector_contrib_spark.functions import urlutil

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_URL_CASES_SQL).alias("url")
    )
    host = urlutil.url_parts(F.col("url"))["host"]
    return docs.select(
        "doc_id",
        F.col("url").alias("raw_url"),
        urlutil.canonicalize_url(F.col("url")).alias("canonical_url"),
        host.alias("host"),
        urlutil.registrable_domain(host).alias("domain"),
    )


def _oracle_url_canonical():
    from opentelemetry_collector_contrib_spark.functions import urlutil

    host = urlutil.host_sql("url")
    return f"""
WITH u AS (SELECT doc_id, {_URL_CASES_SQL} AS url FROM documents)
SELECT doc_id, url AS raw_url,
       {urlutil.canonicalize_url_sql('url')} AS canonical_url,
       {host} AS host,
       {urlutil.registrable_domain_sql(host)} AS domain
FROM u
"""


ORACLE_URL_CANONICAL = _oracle_url_canonical()


def q_domain_stats(spark, sf_dir):
    # per-registrable-domain corpus stats (the RefinedWeb/C4 site-level
    # aggregation that feeds domain blocklists and per-site quality
    # curves): one map stage for canonicalization, one partial-agg
    # groupBy(domain) — at 10^12 docs the domain key is low-cardinality
    # relative to rows, so map-side combine collapses almost everything
    from opentelemetry_collector_contrib_spark.functions import urlutil

    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.expr(_URL_CASES_SQL).alias("url")
    )
    host = urlutil.url_parts(F.col("url"))["host"]
    return (
        docs.select(
            urlutil.registrable_domain(host).alias("domain"), "n_chars"
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def _oracle_domain_stats():
    from opentelemetry_collector_contrib_spark.functions import urlutil

    host = urlutil.host_sql("url")
    return f"""
WITH u AS (SELECT doc_id, n_chars, {_URL_CASES_SQL} AS url FROM documents)
SELECT {urlutil.registrable_domain_sql(host)} AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 4) AS avg_chars
FROM u GROUP BY 1
"""


ORACLE_DOMAIN_STATS = _oracle_domain_stats()


#: per-language sampling rates for the mixture query — en kept at half,
#: es deliberately absent so the default-rate branch is exercised
_MIX_RATES = {"en": 0.5, "de": 0.35, "fr": 0.25, "zh": 0.15}
_MIX_DEFAULT = 0.05
_MIX_SALT = "mix1"


def q_stratified_sample(spark, sf_dir):
    # deterministic stratified sampling (operators/sampling.py): the
    # data-mixture step every corpus pipeline ends with (GPT-3 §2.2 /
    # The Pile / FineWeb per-source weights) — admission is a pure
    # hash-vs-threshold decision per doc id, so the sample is
    # reproducible across reruns, resumes, and engines; map-only, no
    # shuffle, composes with the parquet scan
    from opentelemetry_collector_contrib_spark.operators import sampling

    return sampling.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "source"),
        "lang", _MIX_RATES, default_rate=_MIX_DEFAULT, salt=_MIX_SALT,
    )


def _oracle_stratified_sample():
    from opentelemetry_collector_contrib_spark.operators import sampling

    return sampling.stratified_sample_sql(
        "(SELECT doc_id, lang, source FROM documents)",
        "lang", _MIX_RATES, default_rate=_MIX_DEFAULT, salt=_MIX_SALT,
    )


ORACLE_STRATIFIED_SAMPLE = _oracle_stratified_sample()

_PACK_BLOCK = 512
_PACK_SHARDS = 8


def q_pack_blocks(spark, sf_dir):
    # token-block packing (operators/packing.py): the GPT-style
    # concatenate-and-chunk step that turns a curated corpus into
    # fixed-length training blocks — per-shard exclusive prefix sum over
    # a deterministic doc order (one window per shard, no global sort),
    # block ids by integer division; documents span block boundaries
    from opentelemetry_collector_contrib_spark.operators import packing

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).alias("shard_id"),
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
    )
    return packing.pack_token_blocks(
        docs, "n_toks", _PACK_BLOCK, "shard_id")


def _oracle_pack_blocks():
    from opentelemetry_collector_contrib_spark.operators import packing

    rel = (
        f"(SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard_id,"
        f" len(string_split(text, ' ')) AS n_toks FROM documents)"
    )
    return packing.pack_token_blocks_sql(
        rel, "n_toks", _PACK_BLOCK, "shard_id")


ORACLE_PACK_BLOCKS = _oracle_pack_blocks()


def _sfx_datapoints(spark, sf_dir):
    # events -> SignalFx-shaped datapoints (metric, dims map, int/double value)
    ev = _events(spark, sf_dir)
    return ev.select(
        F.concat(F.lit("app."), "event_type").alias("metric"),
        F.map_from_arrays(
            F.array(F.lit("host"), F.lit("shard"), F.lit("env")),
            F.array(
                F.concat(F.lit("h"), (F.col("user_id") % 5)),
                (F.col("event_id") % 3).cast("string"),
                F.when(F.col("user_id") % 2 == 0, "prod").otherwise("dev"),
            ),
        ).alias("dims"),
        (F.col("event_id") % 1000).alias("value_int"),
        F.round("value", 2).alias("value_double"),
        F.lit("COUNTER").alias("metric_type"),
        F.col("event_id").alias("ts"),
    )


def q_sapm_batches(spark, sf_dir):
    # sapm exporter (exporter.go:96-165): spans batch per access token, the
    # token resource attr is scrubbed from the serialized tags, and the
    # payload is a canonical sorted span array (gzip covered in pytest —
    # DuckDB can't gzip); token_leaked pins the scrub at the payload level
    from opentelemetry_collector_contrib_spark.sinks import sapm

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.md5(eid.cast("string").cast("binary")).alias("span_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.create_map(
            F.lit(sapm.TOKEN_ATTR), F.concat(F.lit("tok"), (u % 3).cast("string")),
            F.lit("service.name"), F.concat(F.lit("svc"), (u % 2).cast("string")),
        ).alias("resource"),
    )
    out = sapm.sapm_batches(spans)
    return out.select(
        "access_token",
        "process_tags",
        "n_spans",
        "n_traces",
        F.when(
            F.col("access_token") != "",
            F.col("payload").contains(F.col("access_token")),
        ).otherwise(F.lit(False)).alias("token_leaked"),
        F.get_json_object("payload", "$[0].span_id").alias("first_span"),
    )


ORACLE_SAPM = """
WITH s AS (
  SELECT 'tok' || CAST(user_id % 3 AS VARCHAR) AS access_token,
         'service.name=svc' || CAST(user_id % 2 AS VARCHAR) AS process_tags,
         md5(CAST(user_id AS VARCHAR)) AS trace_id,
         md5(CAST(event_id AS VARCHAR)) AS span_id
  FROM events
)
SELECT access_token, process_tags,
       COUNT(*) AS n_spans,
       COUNT(DISTINCT trace_id) AS n_traces,
       FALSE AS token_leaked,
       (ARRAY_AGG(span_id ORDER BY trace_id, span_id))[1] AS first_span
FROM s GROUP BY 1, 2
"""


def q_sapm_decode(spark, sf_dir):
    # sapm receiver (receiver/sapmreceiver/trace_receiver.go:64-99): the
    # exporter's gzip'd per-token batches decode back to one row per span
    # with the access token re-upserted into the resource attributes
    # (AccessTokenPassthrough, trace_receiver.go:80-89) — the full
    # encode→gzip→gunzip→decode round trip; the oracle rebuilds the span
    # rows straight from the raw columns, proving the wire is lossless
    from opentelemetry_collector_contrib_spark.sinks import sapm as sapm_sink
    from opentelemetry_collector_contrib_spark.sources import sapm as sapm_src

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.md5(eid.cast("string").cast("binary")).alias("span_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.create_map(
            F.lit(sapm_sink.TOKEN_ATTR),
            F.concat(F.lit("tok"), (u % 3).cast("string")),
            F.lit("service.name"), F.concat(F.lit("svc"), (u % 2).cast("string")),
        ).alias("resource"),
    )
    decoded = sapm_src.parse_sapm_batches(sapm_sink.sapm_batches(spans))
    return decoded.select(
        "trace_id",
        "span_id",
        "name",
        F.element_at("resource", sapm_sink.TOKEN_ATTR).alias("token"),
        F.element_at("resource", "service.name").alias("service"),
    )


ORACLE_SAPM_DECODE = """
SELECT md5(CAST(user_id AS VARCHAR)) AS trace_id,
       md5(CAST(event_id AS VARCHAR)) AS span_id,
       'evt-' || event_type AS name,
       'tok' || CAST(user_id % 3 AS VARCHAR) AS token,
       'svc' || CAST(user_id % 2 AS VARCHAR) AS service
FROM events
"""


def q_newrelic_spans(spark, sf_dir):
    # newrelic exporter (transformer.go:91-230): flat span attributes with
    # guarded otel.* entries, span.kind lowering, override attrs winning
    # over resource/span attrs, instrumentation.* only when non-empty
    from opentelemetry_collector_contrib_spark.sinks import newrelic

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    spans = ev.select(
        F.md5(eid.cast("string").cast("binary")).alias("span_id"),
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.when(eid % 3 == 0, "").otherwise("beef").alias("parent_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(et == "error", "STATUS_CODE_ERROR")
        .when(eid % 2 == 0, "STATUS_CODE_OK")
        .otherwise("STATUS_CODE_UNSET").alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        F.when(u % 3 == 0, "SPAN_KIND_SERVER")
        .when(u % 3 == 1, "SPAN_KIND_CLIENT")
        .otherwise("SPAN_KIND_UNSPECIFIED").alias("kind"),
        (eid % 4).cast("long").alias("dropped_attributes_count"),
        F.lit(0).cast("long").alias("dropped_events_count"),
        F.col("ts").cast("timestamp").alias("start_ts"),
        (
            F.col("ts").cast("timestamp")
            + F.make_interval(secs=(eid % 30).cast("double"))
        ).alias("end_ts"),
        # span attr trying to spoof the override key must be dropped
        F.create_map(
            F.lit("color"), et,
            F.lit("collector.name"), F.lit("spoof"),
        ).alias("attrs"),
        F.create_map(
            F.lit("service.name"), F.concat(F.lit("svc"), (u % 2).cast("string")),
            F.lit("collector.name"), F.lit("resource-spoof"),
        ).alias("resource"),
        F.lit("mylib").alias("lib_name"),
        F.when(eid % 2 == 0, "1.2.3").otherwise("").alias("lib_version"),
    )
    out = newrelic.newrelic_spans(spans, collector_name="otelcol-spark")
    return out.select(
        "span_id",
        "trace_id",
        "name",
        "timestamp_ms",
        "duration_ms",
        F.element_at("attributes", "otel.status_code").alias("status_code"),
        F.element_at("attributes", "otel.status_description").alias("status_desc"),
        F.element_at("attributes", "span.kind").alias("span_kind"),
        F.element_at("attributes", "otel.dropped_attributes_count").alias("dropped"),
        F.element_at("attributes", "color").alias("color"),
        F.element_at("attributes", "collector.name").alias("attr_spoof"),
        F.element_at("common_attributes", "collector.name").alias("collector"),
        F.element_at("common_attributes", "service.name").alias("service"),
        F.element_at("common_attributes", "instrumentation.version").alias("lib_ver"),
        "valid",
    )


ORACLE_NEWRELIC = """
SELECT md5(CAST(event_id AS VARCHAR)) AS span_id,
       md5(CAST(user_id AS VARCHAR)) AS trace_id,
       'evt-' || event_type AS name,
       CAST(epoch_ms(ts) AS BIGINT) AS timestamp_ms,
       CAST(event_id % 30 AS BIGINT) * 1000 AS duration_ms,
       CASE WHEN event_type = 'error' THEN 'ERROR'
            WHEN event_id % 2 = 0 THEN 'OK' END AS status_code,
       CASE WHEN event_type = 'error' THEN 'boom' END AS status_desc,
       CASE WHEN user_id % 3 = 0 THEN 'server'
            WHEN user_id % 3 = 1 THEN 'client' END AS span_kind,
       CASE WHEN event_id % 4 > 0 THEN CAST(event_id % 4 AS VARCHAR) END AS dropped,
       event_type AS color,
       CAST(NULL AS VARCHAR) AS attr_spoof,
       'otelcol-spark' AS collector,
       'svc' || CAST(user_id % 2 AS VARCHAR) AS service,
       CASE WHEN event_id % 2 = 0 THEN '1.2.3' END AS lib_ver,
       TRUE AS valid
FROM events
"""


def q_logzio_docs(spark, sf_dir):
    # logzio exporter (exporter.go:98-112): spans -> Jaeger-model Logz.io
    # span docs; translation ladder from the in-reference
    # protospan_to_jaegerthrift.go — signed-int64 ids, epoch-µs times,
    # typed tags with GUARDED span.kind/status appends (attr-provided
    # keys suppress the computed tags), CHILD_OF/FOLLOWS_FROM references,
    # unknown-service-name process fallback; invalid spans (zero /
    # undecodable ids) are flagged — the ones pushTraceData drops.
    from opentelemetry_collector_contrib_spark.sinks import logzio

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")

    def tag(k, t, v):
        return F.struct(
            F.lit(k).alias("key"), F.lit(t).alias("vtype"), v.alias("value")
        )

    attrs = F.filter(
        F.array(
            F.when(eid % 2 == 0,
                   tag("http.url", "string",
                       F.concat(F.lit("https://x/"), et))),
            tag("retry", "long", (eid % 4).cast("string")),
            # spoofs exercising the span.kind / status guards
            F.when(eid % 11 == 0, tag("span.kind", "string", F.lit("spoofed"))),
            F.when(eid % 13 == 0, tag("status.code", "string", F.lit("999"))),
        ),
        lambda e: e.isNotNull(),
    )
    link_t = ("array<struct<trace_id:string,span_id:string,"
              "is_parent:boolean>>")
    links = F.when(
        eid % 2 == 1,
        F.array(F.struct(
            F.lpad(F.lower(F.hex(u + 1)), 32, "0").alias("trace_id"),
            F.lpad(F.lower(F.hex(eid + 7)), 16, "0").alias("span_id"),
            (eid % 4 == 1).alias("is_parent"),
        )),
    ).otherwise(F.array().cast(link_t))

    spans = ev.select(
        F.lpad(F.lower(F.hex(u + 1)), 32, "0").alias("trace_id"),
        F.lpad(F.lower(F.hex(eid + 1)), 16, "0").alias("span_id"),
        F.when(eid % 3 == 0, "")
        .when(eid % 5 == 0, "zzzzzzzzzzzzzzzz")      # undecodable parent
        .otherwise(F.lpad(F.lower(F.hex(u + 1)), 16, "0"))
        .alias("parent_span_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 4 == 0, "SPAN_KIND_SERVER")
        .when(u % 4 == 1, "SPAN_KIND_CLIENT")
        .when(u % 4 == 2, "SPAN_KIND_PRODUCER")
        .otherwise("SPAN_KIND_UNSPECIFIED").alias("kind"),
        F.when(eid % 7 == 0, F.lit(None).cast("long"))
        .otherwise((eid % 3).cast("long")).alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        attrs.alias("attrs"),
        links.alias("links"),
        F.when(u % 10 == 0, "").otherwise(
            F.concat(F.lit("svc"), (u % 3).cast("string"))
        ).alias("service_name"),
        F.when(u % 10 == 0, F.create_map().cast("map<string,string>"))
        .otherwise(F.create_map(
            F.lit("host"), F.concat(F.lit("h"), (u % 5).cast("string"))
        )).alias("resource"),
        (eid * 1000000 + 123).cast("long").alias("start_us"),
        (eid * 1000000 + 123 + eid % 1000).cast("long").alias("end_us"),
    )
    out = logzio.logzio_docs(spans)
    fmt_tag = lambda t: F.concat(  # noqa: E731
        t["key"], F.lit("="), t["vtype"], F.lit(":"), t["value"])
    return out.select(
        "trace_id_high", "trace_id_low", "span_id_long",
        "parent_span_id_long", "operation_name",
        "start_us", "start_ms", "duration_us",
        F.concat_ws(",", F.transform("jaeger_tags", fmt_tag)).alias("tags_str"),
        F.concat_ws(",", F.transform(
            "references",
            lambda r: F.concat_ws(":", r["ref_type"],
                                  r["trace_id_high"].cast("string"),
                                  r["trace_id_low"].cast("string"),
                                  r["span_id"].cast("string")),
        )).alias("refs_str"),
        "service_name",
        F.concat_ws(",", F.transform("process_tags", fmt_tag)).alias(
            "process_str"),
        "type", "valid",
    )


def q_promremotewrite_series(spark, sf_dir):
    # awsprometheusremotewrite exporter (factory.go wraps the core
    # remote-write exporter; README.md admission table): namespace
    # prefix + sanitize ladder on names and label keys, monotonic sums
    # refused unless CUMULATIVE, __name__ label, per-series sample
    # assembly (one groupBy on the canonical label set).
    from opentelemetry_collector_contrib_spark.sinks import promremotewrite

    ev = _events(spark, sf_dir)
    u, eid = F.col("user_id"), F.col("event_id")
    pts = ev.select(
        F.when(u % 3 == 0, "app.req")
        .when(u % 3 == 1, "1bad.name")
        .otherwise("_lead").alias("name"),
        F.create_map(
            F.lit("host.x"), F.concat(F.lit("h"), (u % 5).cast("string")),
            F.lit("1x"), F.concat(F.lit("a"), (u % 2).cast("string")),
            F.lit("_y"), F.lit("b"),
        ).alias("labels"),
        ((eid % 7) + F.lit(0.5)).cast("double").alias("value"),
        (eid * 1000000000).cast("long").alias("ts_ns"),
        F.when(eid % 3 == 0, "monotonic_sum").otherwise("gauge").alias("mtype"),
        F.when(eid % 2 == 0, "CUMULATIVE").otherwise("DELTA").alias(
            "temporality"),
    )
    scalars = promremotewrite.scalar_points(pts, namespace="ns")
    out = promremotewrite.remote_write_series(scalars)
    return out.select(
        "series", "n_samples",
        F.concat_ws(",", F.transform(
            "samples",
            lambda s: F.concat(s["ts_ms"].cast("string"), F.lit(":"),
                               s["value"].cast("string")),
        )).alias("samples_str"),
    )


ORACLE_PROMREMOTEWRITE = """
WITH pts AS (
  SELECT '__name__=ns_' ||
         CASE WHEN user_id % 3 = 0 THEN 'app_req'
              WHEN user_id % 3 = 1 THEN '1bad_name'
              ELSE '_lead' END
         || ',host_x=h' || CAST(user_id % 5 AS VARCHAR)
         || ',key_1x=a' || CAST(user_id % 2 AS VARCHAR)
         || ',key_y=b' AS series,
         event_id * 1000 AS ts_ms,
         CAST(event_id % 7 + 0.5 AS DOUBLE) AS value
  FROM events
  WHERE NOT (event_id % 3 = 0 AND event_id % 2 = 1)
)
SELECT series,
       COUNT(*) AS n_samples,
       STRING_AGG(CAST(ts_ms AS VARCHAR) || ':' || CAST(value AS VARCHAR),
                  ',' ORDER BY ts_ms, value) AS samples_str
FROM pts GROUP BY series
"""


def q_substring_dedup(spark, sf_dir):
    # exact-substring duplicate spans (Lee et al. 2021 ExactSubstr,
    # k-gram fingerprint formulation): maximal token spans >= min_len
    # whose every k-gram occurs >= 2x corpus-wide; map-side-combinable
    # gram counts + per-doc interval merge (see dedup.py docstring for
    # the 10^12-row shuffle discipline)
    from opentelemetry_collector_contrib_spark.operators import dedup

    return dedup.duplicate_substring_spans(
        _docs(spark, sf_dir), k=4, min_len=6
    )


ORACLE_SUBSTRING_DEDUP = dedup.duplicate_substring_spans_sql(
    "documents", k=4, min_len=6
)


def q_cloudwatch_logs(spark, sf_dir):
    # awscloudwatchlogs exporter (exporter.go:150-191): one InputLogEvent
    # per record — ms timestamp (ns DIV 1e6, sub-ms truncated) + cwLogBody
    # JSON in Go struct order with per-type omitempty (empty strings /
    # zero numerics / empty-or-all-zero ids / EMPTY maps drop; an
    # empty-STRING body is a non-nil interface{} and is KEPT), nested
    # maps with Go's sorted-key marshal order
    from opentelemetry_collector_contrib_spark.sinks import cloudwatchlogs

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    empty_map = F.create_map().cast("map<string,string>")
    logs = ev.select(
        (F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
         + (eid % 1000) * F.lit(1000000)
         + (eid % 777) * F.lit(1000)).alias("ts_ns"),
        F.when(eid % 5 == 0, "").otherwise(F.concat(F.lit("evt-"), et))
        .alias("name"),
        F.when(eid % 7 == 0, F.lit(None).cast("string"))
        .when(eid % 7 == 1, "")
        .otherwise(F.concat(F.lit("b:"), et)).alias("body"),
        (u % 25).cast("int").alias("severity_number"),
        F.when(u % 4 == 0, "").otherwise(
            F.concat(F.lit("SEV"), (u % 4).cast("string"))
        ).alias("severity_text"),
        F.when(eid % 11 == 0, 2).otherwise(0).cast("int")
        .alias("dropped_count"),
        F.when(eid % 2 == 0, 1).otherwise(0).cast("int").alias("flags"),
        F.when(u % 6 == 0, F.lit("0" * 32))
        .when(u % 6 == 1, "")
        .otherwise(F.md5(u.cast("string").cast("binary")))
        .alias("trace_id"),
        F.when(eid % 6 == 0, F.lit("0" * 16))
        .otherwise(F.substring(F.md5(eid.cast("string").cast("binary")),
                               1, 16)).alias("span_id"),
        # inserted z-before-a so the sorted-key marshal is load-bearing
        F.when(eid % 3 == 0, empty_map).otherwise(F.create_map(
            F.lit("zkey"), et,
            F.lit("akey"), (u % 5).cast("string"),
        )).alias("attributes"),
        F.when(u % 7 == 0, empty_map).otherwise(F.create_map(
            F.lit("service.name"), F.concat(F.lit("svc"), (u % 3).cast("string")),
            F.lit("host"), F.concat(F.lit("h"), (u % 2).cast("string")),
        )).alias("resource"),
    )
    return cloudwatchlogs.to_cw_log_events(logs)


# concat_ws skips NULL parts — exactly omitempty; part order = the Go
# struct declaration order the Spark side renders via to_json(struct)
ORACLE_CWLOGS = """
SELECT
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000
    + event_id % 1000 AS "timestamp",
  '{' || concat_ws(',',
    CASE WHEN event_id % 5 = 0 THEN NULL
         ELSE '"name":"evt-' || event_type || '"' END,
    CASE WHEN event_id % 7 = 0 THEN NULL
         WHEN event_id % 7 = 1 THEN '"body":""'
         ELSE '"body":"b:' || event_type || '"' END,
    CASE WHEN user_id % 25 = 0 THEN NULL
         ELSE '"severity_number":' || CAST(user_id % 25 AS VARCHAR) END,
    CASE WHEN user_id % 4 = 0 THEN NULL
         ELSE '"severity_text":"SEV' || CAST(user_id % 4 AS VARCHAR) || '"'
         END,
    CASE WHEN event_id % 11 = 0 THEN '"dropped_attributes_count":2'
         ELSE NULL END,
    CASE WHEN event_id % 2 = 0 THEN '"flags":1' ELSE NULL END,
    CASE WHEN user_id % 6 IN (0, 1) THEN NULL
         ELSE '"trace_id":"' || md5(CAST(user_id AS VARCHAR)) || '"' END,
    CASE WHEN event_id % 6 = 0 THEN NULL
         ELSE '"span_id":"'
              || substr(md5(CAST(event_id AS VARCHAR)), 1, 16) || '"' END,
    CASE WHEN event_id % 3 = 0 THEN NULL
         ELSE '"attributes":{"akey":"' || CAST(user_id % 5 AS VARCHAR)
              || '","zkey":"' || event_type || '"}' END,
    CASE WHEN user_id % 7 = 0 THEN NULL
         ELSE '"resource":{"host":"h' || CAST(user_id % 2 AS VARCHAR)
              || '","service.name":"svc' || CAST(user_id % 3 AS VARCHAR)
              || '"}' END
  ) || '}' AS message
FROM events
"""


ORACLE_LOGZIO = """
SELECT CAST(0 AS BIGINT) AS trace_id_high,
       user_id + 1 AS trace_id_low,
       event_id + 1 AS span_id_long,
       CASE WHEN event_id % 3 = 0 THEN 0
            WHEN event_id % 5 = 0 THEN NULL
            ELSE user_id + 1 END AS parent_span_id_long,
       'evt-' || event_type AS operation_name,
       event_id * 1000000 + 123 AS start_us,
       event_id * 1000 AS start_ms,
       event_id % 1000 AS duration_us,
       concat_ws(',',
         CASE WHEN event_id % 2 = 0
              THEN 'http.url=string:https://x/' || event_type END,
         'retry=long:' || CAST(event_id % 4 AS VARCHAR),
         CASE WHEN event_id % 11 = 0 THEN 'span.kind=string:spoofed'
              WHEN user_id % 4 = 0 THEN 'span.kind=string:server'
              WHEN user_id % 4 = 1 THEN 'span.kind=string:client' END,
         CASE WHEN event_id % 13 = 0 THEN 'status.code=string:999'
              WHEN event_id % 7 <> 0
              THEN 'status.code=long:' || CAST(event_id % 3 AS VARCHAR) END,
         CASE WHEN event_id % 13 <> 0 AND event_id % 7 <> 0
                   AND event_type = 'error'
              THEN 'status.message=string:boom' END
       ) AS tags_str,
       CASE WHEN event_id % 2 = 1 THEN
         (CASE WHEN event_id % 4 = 1 THEN 'CHILD_OF'
               ELSE 'FOLLOWS_FROM' END)
         || ':0:' || CAST(user_id + 1 AS VARCHAR)
         || ':' || CAST(event_id + 7 AS VARCHAR)
       ELSE '' END AS refs_str,
       CASE WHEN user_id % 10 = 0 THEN 'unknown-service-name'
            ELSE 'svc' || CAST(user_id % 3 AS VARCHAR) END AS service_name,
       CASE WHEN user_id % 10 = 0 THEN ''
            ELSE 'host=string:h' || CAST(user_id % 5 AS VARCHAR)
       END AS process_str,
       'span' AS type,
       NOT (event_id % 3 <> 0 AND event_id % 5 = 0) AS valid
FROM events
"""


def q_azuremonitor_envelopes(spark, sf_dir):
    # azuremonitor exporter (trace_to_envelope.go:53-156): Request vs
    # RemoteDependency split by span kind (UNSPECIFIED -> INTERNAL ->
    # InProc dependency), span-type ladder, http status override with the
    # 100..399 success window, DD.HH:MM:SS.ffffff duration serialization,
    # cloud role tags from service.namespace/name
    from opentelemetry_collector_contrib_spark.sinks import azuremonitor

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    attrs = (
        F.when(u % 4 == 0, F.create_map(
            F.lit("http.method"), F.lit("GET"),
            F.lit("http.route"), F.concat(F.lit("api/"), et),
            F.lit("http.status_code"), (F.lit(200) + (eid % 3) * 150).cast("string"),
        ))
        .when(u % 4 == 1, F.create_map(
            F.lit("db.system"), F.lit("postgresql"),
        ))
        .when(u % 4 == 2, F.create_map(
            F.lit("faas.trigger"), F.lit("http"),
        ))
        .otherwise(F.create_map().cast("map<string,string>"))
    )
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.when(eid % 3 == 0, "").otherwise("beef").alias("parent_span_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 3 == 0, "SPAN_KIND_SERVER")
        .when(u % 3 == 1, "SPAN_KIND_CLIENT")
        .otherwise("SPAN_KIND_UNSPECIFIED").alias("kind"),
        F.when(et == "error", "STATUS_CODE_ERROR")
        .otherwise("STATUS_CODE_UNSET").alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        F.col("ts").cast("timestamp").alias("start_ts"),
        (
            F.col("ts").cast("timestamp")
            + F.make_interval(
                days=(eid % 2).cast("int"),
                secs=(eid % 90).cast("double") + (eid % 7).cast("double") / 1000,
            )
        ).alias("end_ts"),
        attrs.alias("attrs"),
        F.create_map(
            F.lit("service.name"), F.concat(F.lit("svc"), (u % 2).cast("string")),
            F.lit("service.namespace"), F.when(u % 2 == 0, F.lit("prod")),
        ).alias("resource"),
        F.lit("mylib").alias("lib_name"),
        F.lit("1.0").alias("lib_version"),
    )
    out = azuremonitor.spans_to_envelopes(spans)
    return out.select(
        "envelope_name", "base_type", "time", "operation_id",
        "operation_name", "data_name", "duration", "response_code",
        "success", "dependency_type", "cloud_role", "span_type", "valid",
    )


ORACLE_AZUREMONITOR = """
WITH s AS (
  SELECT user_id AS u, event_id AS eid, event_type AS et, ts,
         md5(CAST(user_id AS VARCHAR)) AS trace_id,
         CASE WHEN user_id % 3 = 0 THEN 'server'
              WHEN user_id % 3 = 1 THEN 'client' ELSE 'internal' END AS k,
         CASE WHEN user_id % 4 = 0 THEN 'http'
              WHEN user_id % 4 = 1 THEN 'database'
              WHEN user_id % 4 = 2 THEN 'faas' ELSE 'unknown' END AS st,
         event_id % 2 AS xd,
         event_id % 90 AS xs,
         event_id % 7 AS xms,
         200 + (event_id % 3) * 150 AS http_code
  FROM events
)
SELECT CASE WHEN k = 'server' THEN 'Microsoft.ApplicationInsights.Request'
            ELSE 'Microsoft.ApplicationInsights.RemoteDependency' END AS envelope_name,
       CASE WHEN k = 'server' THEN 'RequestData'
            ELSE 'RemoteDependencyData' END AS base_type,
       replace(regexp_replace(strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'),
                              '0+Z$', 'Z'), '.Z', 'Z') AS time,
       trace_id AS operation_id,
       CASE WHEN k = 'server' THEN
         CASE WHEN st = 'http' THEN 'GET /api/' || et ELSE 'evt-' || et END
       END AS operation_name,
       CASE WHEN st = 'http' THEN 'GET /api/' || et
            ELSE 'evt-' || et END AS data_name,
       printf('%02d.%02d:%02d:%02d.%06d', xd, xs // 3600, (xs % 3600) // 60,
              xs % 60, xms * 1000) AS duration,
       CASE WHEN st = 'http' THEN CAST(http_code AS VARCHAR)
            WHEN et = 'error' THEN '2' ELSE '0' END AS response_code,
       CASE WHEN st = 'http' THEN http_code <= 399
            ELSE et != 'error' END AS success,
       CASE WHEN k = 'server' THEN NULL
            WHEN k = 'internal' THEN 'InProc'
            WHEN st = 'database' THEN 'postgresql' END AS dependency_type,
       CASE WHEN u % 2 = 0 THEN 'prod.svc0' ELSE 'svc1' END AS cloud_role,
       st AS span_type,
       st != 'faas' AS valid
FROM s
"""


def q_tanzu_spans(spark, sf_dir):
    # tanzuobservability exporter (transformer.go:58-95): trace ids parse
    # into UUIDs, span ids LEFT-pad to 16 bytes first (padTo16Bytes), an
    # empty parent maps to uuid.Nil; tags merge resource-then-span
    # last-wins, setRequiredTags promotes service.name into service
    # (deleting it) with defaults, kind/status/error tags ride along with
    # the 240-byte status.message truncation; ns->ms times with the
    # unset-end duration clamp
    from opentelemetry_collector_contrib_spark.sinks import tanzu

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    spans = ev.select(
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(eid % 11 == 0, F.lit("xyz"))
        .otherwise(F.md5(u.cast("string").cast("binary"))).alias("trace_id"),
        F.when(eid % 17 == 0, F.lit("0000000000000000"))
        .otherwise(
            F.substring(F.md5(eid.cast("string").cast("binary")), 1, 16)
        ).alias("span_id"),
        F.when(eid % 3 == 0, F.lit("")).otherwise(
            F.substring(
                F.md5(F.concat(F.lit("p"), eid.cast("string")).cast("binary")),
                1, 16,
            )
        ).alias("parent_id"),
        F.when(u % 6 == 0, "CLIENT").when(u % 6 == 1, "SERVER")
        .when(u % 6 == 2, "PRODUCER").when(u % 6 == 3, "CONSUMER")
        .when(u % 6 == 4, "INTERNAL").otherwise("WEIRD").alias("kind"),
        F.when(et == "error", 2).when(u % 2 == 0, 1).otherwise(0)
        .alias("status_code"),
        F.when(
            et == "error", F.concat(F.repeat(F.lit("m"), 250), F.lit("TAIL"))
        ).otherwise(F.lit("")).alias("status_message"),
        (
            F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
            + (eid % 1000) * F.lit(1000000)
        ).alias("start_ns"),
        F.when(eid % 13 == 0, F.lit(0).cast("long")).otherwise(
            F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
            + (eid % 1000) * F.lit(1000000)
            + (eid % 5000) * F.lit(1000000)
        ).alias("end_ns"),
        F.when(
            u % 5 == 0,
            F.create_map(
                F.lit("service"), F.lit("explicit-svc"),
                F.lit("application"), F.lit("app1"),
                F.lit("env"), F.lit("prod"),
            ),
        ).otherwise(
            F.create_map(
                F.lit("service.name"),
                F.concat(F.lit("svc"), (u % 3).cast("string")),
                F.lit("env"), F.lit("prod"),
            )
        ).alias("resource"),
        F.create_map(
            F.lit("env"), F.concat(F.lit("e"), (eid % 2).cast("string")),
            F.lit("http.status"), (F.lit(200) + eid % 3).cast("string"),
        ).alias("attributes"),
    )
    out = tanzu.tanzu_spans(spans)
    return out.select(
        "name", "trace_uuid", "span_uuid", "parent_uuid",
        "start_millis", "duration_millis", "valid",
        F.element_at("tags", "service").alias("service"),
        F.element_at("tags", "service.name").alias("svc_name_left"),
        F.element_at("tags", "application").alias("application"),
        F.element_at("tags", "env").alias("env"),
        F.element_at("tags", "span.kind").alias("span_kind"),
        F.element_at("tags", "status.code").alias("status_code_tag"),
        F.element_at("tags", "error").alias("error_tag"),
        F.coalesce(
            F.length(F.element_at("tags", "status.message")), F.lit(-1)
        ).alias("msg_len"),
    )


ORACLE_TANZU = """
WITH s AS (
  SELECT user_id AS u, event_id AS eid, event_type AS et, ts,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE md5(CAST(user_id AS VARCHAR)) END AS th,
         CASE WHEN event_id % 17 = 0 THEN NULL
              ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 16) END AS sh,
         CASE WHEN event_id % 3 = 0 THEN NULL
              ELSE substr(md5('p' || CAST(event_id AS VARCHAR)), 1, 16)
         END AS ph,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000
           + event_id % 1000 AS start_ms
  FROM events
)
SELECT 'evt-' || et AS name,
  CASE WHEN th IS NULL THEN NULL ELSE
    substr(th,1,8) || '-' || substr(th,9,4) || '-' || substr(th,13,4) ||
    '-' || substr(th,17,4) || '-' || substr(th,21,12) END AS trace_uuid,
  CASE WHEN sh IS NULL THEN NULL ELSE
    '00000000-0000-0000-' || substr(sh,1,4) || '-' || substr(sh,5,12)
  END AS span_uuid,
  CASE WHEN ph IS NULL THEN '00000000-0000-0000-0000-000000000000' ELSE
    '00000000-0000-0000-' || substr(ph,1,4) || '-' || substr(ph,5,12)
  END AS parent_uuid,
  start_ms AS start_millis,
  CASE WHEN eid % 13 = 0 THEN 0 ELSE eid % 5000 END AS duration_millis,
  th IS NOT NULL AND sh IS NOT NULL AS valid,
  CASE WHEN u % 5 = 0 THEN 'explicit-svc'
       ELSE 'svc' || CAST(u % 3 AS VARCHAR) END AS service,
  CAST(NULL AS VARCHAR) AS svc_name_left,
  CASE WHEN u % 5 = 0 THEN 'app1' ELSE 'defaultApp' END AS application,
  'e' || CAST(eid % 2 AS VARCHAR) AS env,
  CASE WHEN u % 6 = 0 THEN 'client' WHEN u % 6 = 1 THEN 'server'
       WHEN u % 6 = 2 THEN 'producer' WHEN u % 6 = 3 THEN 'consumer'
       WHEN u % 6 = 4 THEN 'internal' ELSE 'unknown' END AS span_kind,
  CASE WHEN et = 'error' THEN '2'
       WHEN u % 2 = 0 THEN '1' ELSE '0' END AS status_code_tag,
  CASE WHEN et = 'error' THEN 'true' END AS error_tag,
  CASE WHEN et = 'error' THEN 240 ELSE -1 END AS msg_len
FROM s
"""


def q_sls_logs(spark, sf_dir):
    # alibabacloudlogservice exporter (tracedata_to_logservice.go:74-157 +
    # logsdata_to_logservice.go:69-111): flat key/value log per span —
    # end-second Time (NULL when end unset: server-stamped), host/service
    # promoted out of the resource JSON, microsecond start/end/duration
    # strings, lowercase OpenTracing kind, UNSET/OK/ERROR status, and
    # sorted-key attribute JSON (Go json.Marshal order)
    from opentelemetry_collector_contrib_spark.sinks import alibabacloud

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    start = (F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
             + (eid % 1000) * F.lit(1000))
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.substring(F.md5(eid.cast("string").cast("binary")), 1, 16)
        .alias("span_id"),
        F.when(eid % 3 == 0, "").otherwise("beef").alias("parent_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 3 == 0, "SPAN_KIND_SERVER")
        .when(u % 3 == 1, "SPAN_KIND_CONSUMER")
        .otherwise("SPAN_KIND_WEIRD").alias("kind"),
        F.when(et == "error", "STATUS_CODE_ERROR")
        .when(u % 2 == 0, "STATUS_CODE_OK")
        .otherwise("STATUS_CODE_UNSET").alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        start.alias("start_ns"),
        F.when(eid % 13 == 0, F.lit(0).cast("long"))
        .otherwise(start + F.lit(7000000)).alias("end_ns"),
        F.when(
            u % 7 == 0,
            F.create_map(F.lit("env"), F.lit("prod")),
        ).otherwise(
            F.create_map(
                F.lit("host.name"), F.concat(F.lit("h"), (u % 4).cast("string")),
                F.lit("service.name"), F.concat(F.lit("svc"), (u % 3).cast("string")),
                F.lit("env"), F.lit("prod"),
            )
        ).alias("resource"),
        # insertion order b-then-a: the sorted-key JSON must flip them
        F.create_map(
            F.lit("b.key"), (F.lit(200) + eid % 3).cast("string"),
            F.lit("a.key"), et,
        ).alias("attributes"),
        F.lit("mylib").alias("lib_name"),
        F.lit("1.0").alias("lib_version"),
    )
    return alibabacloud.sls_logs(spans)


ORACLE_SLS = """
SELECT
  CASE WHEN event_id % 13 = 0 THEN NULL
       ELSE CAST(epoch(date_trunc('second', ts)) AS BIGINT) END AS time,
  CASE WHEN user_id % 7 = 0 THEN ''
       ELSE 'h' || CAST(user_id % 4 AS VARCHAR) END AS host,
  CASE WHEN user_id % 7 = 0 THEN ''
       ELSE 'svc' || CAST(user_id % 3 AS VARCHAR) END AS service,
  '{"env":"prod"}' AS resource,
  'mylib' AS otlp_name,
  '1.0' AS otlp_version,
  md5(CAST(user_id AS VARCHAR)) AS traceID,
  substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS spanID,
  CASE WHEN event_id % 3 = 0 THEN '' ELSE 'beef' END AS parentSpanID,
  CASE WHEN user_id % 3 = 0 THEN 'server'
       WHEN user_id % 3 = 1 THEN 'consumer'
       ELSE 'unspecified' END AS kind,
  'evt-' || event_type AS name,
  '' AS traceState,
  CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000
       + event_id % 1000 AS VARCHAR) AS start,
  CAST(CASE WHEN event_id % 13 = 0 THEN 0
            ELSE CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000
                 + event_id % 1000 + 7000 END AS VARCHAR) AS "end",
  CAST(CASE WHEN event_id % 13 = 0
            THEN -(CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000
                   + event_id % 1000)
            ELSE 7000 END AS VARCHAR) AS duration,
  '{"a.key":"' || event_type || '","b.key":"'
    || CAST(200 + event_id % 3 AS VARCHAR) || '"}' AS attribute,
  CASE WHEN event_type = 'error' THEN 'ERROR'
       WHEN user_id % 2 = 0 THEN 'OK' ELSE 'UNSET' END AS statusCode,
  CASE WHEN event_type = 'error' THEN 'boom' ELSE '' END AS statusMessage
FROM events
"""


def q_elastic_docs(spark, sf_dir):
    # elastic APM exporter (translator/elastic/traces.go:42-357): root-or-
    # SERVER spans become transactions (fractional-ms durations, OK/Error
    # result), others become spans typed external/http (destination
    # host:port with scheme-default-port append), db (subtype db.system)
    # or app; success/failure/'' outcomes; label keys cleaned; service
    # names sanitized
    from opentelemetry_collector_contrib_spark.sinks import elastic

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    attrs = (
        F.when(u % 4 == 1, F.create_map(
            F.lit("http.method"), F.lit("GET"),
            F.lit("http.url"),
            F.concat(F.lit("https://api.example.com/v1/"), et),
            F.lit("custom.key"), et,
        ))
        .when(u % 4 == 2, F.create_map(
            F.lit("db.system"), F.lit("postgresql"),
            F.lit("db.statement"), F.lit("SELECT 1"),
        ))
        .otherwise(F.create_map(F.lit("custom.key"), et))
    )
    start = F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.substring(F.md5(eid.cast("string").cast("binary")), 1, 16)
        .alias("span_id"),
        F.when(eid % 3 == 0, "").otherwise("beef").alias("parent_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 4 == 0, "SPAN_KIND_SERVER")
        .otherwise("SPAN_KIND_CLIENT").alias("kind"),
        F.when(et == "error", "STATUS_CODE_ERROR")
        .when(u % 2 == 0, "STATUS_CODE_OK")
        .otherwise("STATUS_CODE_UNSET").alias("status_code"),
        start.alias("start_ns"),
        (start + (eid % 5000) * F.lit(1000000)).alias("end_ns"),
        attrs.alias("attributes"),
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc/"), (u % 3).cast("string"), F.lit("!prod")),
        ).alias("resource"),
    )
    out = elastic.elastic_docs(spans)
    return out.select(
        "doc_type", "trace_id", "span_id", "parent_id", "name",
        "timestamp_us",
        F.round("duration_ms", 3).alias("duration_ms"),
        "outcome", "result", "type", "subtype", "destination_resource",
        "service_name",
        F.element_at("labels", "custom_key").alias("custom_label"),
    )


ORACLE_ELASTIC = """
WITH s AS (
  SELECT user_id AS u, event_id AS eid, event_type AS et, ts,
         event_id % 3 = 0 OR user_id % 4 = 0 AS is_tx,
         user_id % 4 = 1 AS is_http, user_id % 4 = 2 AS is_db
  FROM events
)
SELECT CASE WHEN is_tx THEN 'transaction' ELSE 'span' END AS doc_type,
  md5(CAST(u AS VARCHAR)) AS trace_id,
  substr(md5(CAST(eid AS VARCHAR)), 1, 16) AS span_id,
  CASE WHEN eid % 3 = 0 THEN '' ELSE 'beef' END AS parent_id,
  'evt-' || et AS name,
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000 AS timestamp_us,
  ROUND(CAST(eid % 5000 AS DOUBLE), 3) AS duration_ms,
  CASE WHEN et = 'error' THEN 'failure'
       WHEN u % 2 = 0 THEN 'success' ELSE '' END AS outcome,
  CASE WHEN NOT is_tx THEN NULL
       WHEN et = 'error' THEN 'Error'
       WHEN u % 2 = 0 THEN 'OK' END AS result,
  CASE WHEN is_tx THEN (CASE WHEN is_http THEN 'request' ELSE 'unknown' END)
       WHEN is_http THEN 'external'
       WHEN is_db THEN 'db' ELSE 'app' END AS type,
  CASE WHEN is_tx THEN NULL
       WHEN is_http THEN 'http'
       WHEN is_db THEN 'postgresql' END AS subtype,
  CASE WHEN is_tx THEN NULL
       WHEN is_http THEN 'api.example.com:443'
       WHEN is_db THEN 'postgresql' END AS destination_resource,
  'svc_' || CAST(u % 3 AS VARCHAR) || '_prod' AS service_name,
  CASE WHEN is_db THEN NULL ELSE et END AS custom_label
FROM s
"""


def q_uptrace_spans(spark, sf_dir):
    # uptrace exporter (exporter.go:41-100, translator.go:27-53):
    # little-endian uint64 span/parent ids (decimal strings — the uint64
    # range exceeds signed LONG), UNSPECIFIED folds into "internal",
    # lowercase ok/error/unset status, raw ns times, null-valued attr
    # entries dropped
    from opentelemetry_collector_contrib_spark.sinks import uptrace

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    start = (F.unix_timestamp("ts").cast("long") * F.lit(1000000000))
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.substring(F.md5(eid.cast("string").cast("binary")), 1, 16)
        .alias("span_id"),
        F.when(eid % 3 == 0, "").otherwise(
            F.substring(F.md5(F.concat(F.lit("p"), eid.cast("string"))
                              .cast("binary")), 1, 16)
        ).alias("parent_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 5 == 0, "SPAN_KIND_PRODUCER")
        .when(u % 5 == 1, "SPAN_KIND_CLIENT")
        .otherwise("SPAN_KIND_UNSPECIFIED").alias("kind"),
        F.when(et == "error", "STATUS_CODE_ERROR")
        .when(u % 2 == 0, "STATUS_CODE_OK")
        .otherwise("STATUS_CODE_UNSET").alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        start.alias("start_ns"),
        (start + F.lit(9000000)).alias("end_ns"),
        F.create_map(F.lit("env"), F.lit("prod")).alias("resource"),
        # one NULL-valued entry on every 4th row — must be dropped
        F.create_map(
            F.lit("k"), et,
            F.lit("maybe"), F.when(eid % 4 == 0, F.lit(None).cast("string"))
            .otherwise(F.lit("v")),
        ).alias("attributes"),
        F.lit("mylib").alias("lib_name"),
        F.lit("1.0").alias("lib_version"),
    )
    out = uptrace.uptrace_spans(spans)
    return out.select(
        "id", "parent_id", "trace_id", "name", "kind",
        "start_time", "end_time", "status_code", "status_message",
        "tracer_name", "tracer_version",
        F.element_at("resource", "env").alias("env"),
        F.element_at("attrs", "k").alias("attr_k"),
        F.size("attrs").alias("n_attrs"),
    )


ORACLE_UPTRACE = """
WITH s AS (
  SELECT user_id AS u, event_id AS eid, event_type AS et, ts,
         substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS sh,
         CASE WHEN event_id % 3 = 0 THEN NULL
              ELSE substr(md5('p' || CAST(event_id AS VARCHAR)), 1, 16)
         END AS ph
  FROM events
)
SELECT
  CAST(CAST('0x' || substr(sh,15,2) || substr(sh,13,2) || substr(sh,11,2)
    || substr(sh,9,2) || substr(sh,7,2) || substr(sh,5,2) || substr(sh,3,2)
    || substr(sh,1,2) AS UBIGINT) AS VARCHAR) AS id,
  CASE WHEN ph IS NULL THEN '0' ELSE
    CAST(CAST('0x' || substr(ph,15,2) || substr(ph,13,2) || substr(ph,11,2)
      || substr(ph,9,2) || substr(ph,7,2) || substr(ph,5,2) || substr(ph,3,2)
      || substr(ph,1,2) AS UBIGINT) AS VARCHAR) END AS parent_id,
  md5(CAST(u AS VARCHAR)) AS trace_id,
  'evt-' || et AS name,
  CASE WHEN u % 5 = 0 THEN 'producer'
       WHEN u % 5 = 1 THEN 'client' ELSE 'internal' END AS kind,
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000000 AS start_time,
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000000 + 9000000
    AS end_time,
  CASE WHEN et = 'error' THEN 'error'
       WHEN u % 2 = 0 THEN 'ok' ELSE 'unset' END AS status_code,
  CASE WHEN et = 'error' THEN 'boom' ELSE '' END AS status_message,
  'mylib' AS tracer_name,
  '1.0' AS tracer_version,
  'prod' AS env,
  et AS attr_k,
  CASE WHEN eid % 4 = 0 THEN 1 ELSE 2 END AS n_attrs
FROM s
"""


def q_humio_events(spark, sf_dir):
    # humio exporter (traces_exporter.go:118-198): resources without
    # service.name are refused (valid flag), service.name is promoted out
    # of the merged attrs, the span+resource merge is RESOURCE-wins
    # (toHumioAttributes assignment order), non-empty library name/version
    # ride in under otel.library.*, events tag by service name
    from opentelemetry_collector_contrib_spark.sinks import humio

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    spans = ev.select(
        F.md5(u.cast("string").cast("binary")).alias("trace_id"),
        F.substring(F.md5(eid.cast("string").cast("binary")), 1, 16)
        .alias("span_id"),
        F.when(eid % 3 == 0, "").otherwise("beef").alias("parent_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 2 == 0, "SPAN_KIND_SERVER").otherwise("SPAN_KIND_CLIENT")
        .alias("kind"),
        F.when(et == "error", "STATUS_CODE_ERROR")
        .otherwise("STATUS_CODE_UNSET").alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        (F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
         + (eid % 1000) * F.lit(1000)).alias("start_ns"),
        (F.unix_timestamp("ts").cast("long") * F.lit(1000000000)
         + (eid % 1000) * F.lit(1000) + F.lit(5000000)).alias("end_ns"),
        F.when(
            u % 7 == 0, F.create_map(F.lit("env"), F.lit("prod"))
        ).otherwise(
            F.create_map(
                F.lit("service.name"),
                F.concat(F.lit("svc"), (u % 3).cast("string")),
                F.lit("env"), F.lit("prod"),
                F.lit("shared"), F.lit("res-wins"),
            )
        ).alias("resource"),
        F.create_map(
            F.lit("shared"), F.lit("span-val"),
            F.lit("http.status"), (F.lit(200) + eid % 3).cast("string"),
        ).alias("attributes"),
        F.when(eid % 2 == 0, F.lit("mylib")).otherwise(F.lit(""))
        .alias("lib_name"),
        F.lit("1.0").alias("lib_version"),
    )
    out = humio.humio_events(spans, tag_strategy=humio.TAG_SERVICE_NAME)
    return out.select(
        "tag", "timestamp", "trace_id", "span_id", "parent_span_id",
        "name", "kind", "status_code", "status_description",
        "service_name", "valid",
        F.element_at("attributes", "shared").alias("shared"),
        F.element_at("attributes", "env").alias("env"),
        F.element_at("attributes", "service.name").alias("svc_left"),
        F.element_at("attributes", humio.LIB_NAME_KEY).alias("lib"),
        F.element_at("attributes", humio.LIB_VERSION_KEY).alias("libv"),
    )


ORACLE_HUMIO = """
SELECT CASE WHEN user_id % 7 = 0 THEN ''
            ELSE 'svc' || CAST(user_id % 3 AS VARCHAR) END AS tag,
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000000
    + (event_id % 1000) * 1000 AS timestamp,
  md5(CAST(user_id AS VARCHAR)) AS trace_id,
  substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS span_id,
  CASE WHEN event_id % 3 = 0 THEN '' ELSE 'beef' END AS parent_span_id,
  'evt-' || event_type AS name,
  CASE WHEN user_id % 2 = 0 THEN 'SPAN_KIND_SERVER'
       ELSE 'SPAN_KIND_CLIENT' END AS kind,
  CASE WHEN event_type = 'error' THEN 'STATUS_CODE_ERROR'
       ELSE 'STATUS_CODE_UNSET' END AS status_code,
  CASE WHEN event_type = 'error' THEN 'boom' ELSE '' END
    AS status_description,
  CASE WHEN user_id % 7 = 0 THEN ''
       ELSE 'svc' || CAST(user_id % 3 AS VARCHAR) END AS service_name,
  user_id % 7 != 0 AS valid,
  CASE WHEN user_id % 7 = 0 THEN 'span-val' ELSE 'res-wins' END AS shared,
  'prod' AS env,
  CAST(NULL AS VARCHAR) AS svc_left,
  CASE WHEN event_id % 2 = 0 THEN 'mylib' END AS lib,
  '1.0' AS libv
FROM events
"""


def q_dynatrace_lines(spark, sf_dir):
    # Gauge + histogram ingest lines (sinks/dynatrace.py): name/key
    # normalization, quote-then-backslash value escaping, and the
    # bug-faithful %.6f + trim-[0.]-suffix float rendering.
    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    name = dynatrace.normalize_string(
        F.concat(F.lit("evt "), et, F.lit(".count!!")), 250)
    labels = F.create_map(
        F.lit("Host Name"), F.concat(F.lit('h"'), (u % 5).cast("string")),
        F.lit("Day"), (eid % 3).cast("string"))
    gauges = ev.select(name.alias("name"), labels.alias("labels"),
                       F.round("value", 2).alias("value"),
                       eid.alias("ts_ms"))
    g_lines = dynatrace.serialize_gauge_lines(gauges)
    hist = (ev.groupBy("event_type", (eid % 3).alias("day"))
              .agg(F.count(F.lit(1)).alias("count"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("sum"))
              .select(dynatrace.normalize_string(
                          F.concat(F.lit("evt "), F.col("event_type"),
                                   F.lit(".latency!!")), 250).alias("name"),
                      F.create_map(F.lit("Day"),
                                   F.col("day").cast("string")).alias("labels"),
                      "count", "sum", F.col("day").alias("ts_ms")))
    h_lines = dynatrace.serialize_histogram_lines(hist)
    return g_lines.unionByName(h_lines)


ORACLE_DYNATRACE = r"""
WITH esc AS (
  SELECT 'evt_' || event_type || '.count' AS name,
         'day="' || CAST(event_id % 3 AS VARCHAR) || '",host_name="'
           || replace(replace('h"' || CAST(user_id % 5 AS VARCHAR),
                              '"', '\"'), '\', '\\') || '"' AS tags,
         ROUND(value, 2) AS v, event_id AS ts
  FROM events
), g AS (
  SELECT name || ',' || tags || ' ' ||
         CASE WHEN regexp_replace(printf('%.6f', v), '[0.]+$', '') = ''
              THEN '0'
              ELSE regexp_replace(printf('%.6f', v), '[0.]+$', '') END
         || ' ' || CAST(ts AS VARCHAR) AS line
  FROM esc
), hsrc AS (
  SELECT 'evt_' || event_type || '.latency' AS name,
         CAST(event_id % 3 AS VARCHAR) AS day,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm
  FROM events GROUP BY 1, 2
), h AS (
  SELECT name || ',day="' || day || '" gauge,min='
         || regexp_replace(printf('%.6f', round(sm / cnt, 4)), '[0.]+$', '')
         || ',max=' || regexp_replace(printf('%.6f', round(sm / cnt, 4)), '[0.]+$', '')
         || ',sum=' || regexp_replace(printf('%.6f', sm), '[0.]+$', '')
         || ',count=' || CAST(cnt AS VARCHAR)
         || ' ' || day AS line
  FROM hsrc WHERE cnt > 0
)
SELECT line FROM g UNION ALL SELECT line FROM h
"""


def q_honeycomb_events(spark, sf_dir):
    # events -> spans exercising the honeycomb translation: short/long
    # trace-id form, kind mapping, sampleRate attribute, attr-over-resource
    # field precedence, empty-string omissions (sinks/honeycomb.py).
    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    md5_e = F.md5(eid.cast("string").cast("binary"))
    tid = F.when(u % 2 == 0,
                 F.concat(F.lit("0" * 16), F.substring(md5_e, 1, 16))) \
           .otherwise(F.substring(md5_e, 1, 32))
    kind = (F.when(u % 6 == 0, "SERVER").when(u % 6 == 1, "CLIENT")
             .when(u % 6 == 2, "PRODUCER").when(u % 6 == 3, "CONSUMER")
             .when(u % 6 == 4, "INTERNAL").otherwise("UNSPECIFIED"))
    attrs = F.when(
        eid % 2 == 0,
        F.create_map(F.lit("sampleRate"), (F.lit(1) + eid % 7).cast("string"),
                     F.lit("color"), et),
    ).otherwise(F.create_map(F.lit("color"), et))
    spans = ev.select(
        tid.alias("trace_id"),
        F.substring(F.md5(F.concat(F.lit("s"), eid.cast("string")).cast("binary")),
                    1, 16).alias("span_id"),
        F.when(eid % 3 == 0, "").otherwise("beef").alias("parent_span_id"),
        F.concat(F.lit("evt-"), et).alias("name"),
        kind.alias("kind"),
        F.when(et == "error", "ERROR").otherwise("OK").alias("status_code"),
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        (eid.cast("double") / 1000).alias("start_ts"),
        (eid.cast("double") / 1000 + (eid % 250).cast("double") / 1000)
         .alias("end_ts"),
        attrs.alias("attrs"),
        F.create_map(F.lit("service.name"), F.lit("websvc"),
                     F.lit("color"), F.lit("resource-col")).alias("resource"),
        F.when(u % 2 == 0, "otel-sdk").otherwise("").alias("library_name"),
        F.when(u % 2 == 0, "1.2").otherwise("").alias("library_version"),
    )
    out = honeycomb.to_events(spans, sample_rate_attr="sampleRate")
    return out.select(
        "trace_id", "span_id", "parent_id", "name", "duration_ms",
        "span_kind", "status_code", "status_message", "library_name",
        "samplerate",
        F.element_at("fields", "color").alias("color"),
        F.element_at("fields", "service.name").alias("svc"))


ORACLE_HONEYCOMB = """
SELECT CASE WHEN user_id % 2 = 0 THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 16)
            ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 32) END AS trace_id,
       substr(md5('s' || CAST(event_id AS VARCHAR)), 1, 16) AS span_id,
       CASE WHEN event_id % 3 <> 0 THEN 'beef' END AS parent_id,
       'evt-' || event_type AS name,
       (CAST(event_id AS DOUBLE)/1000 + CAST(event_id % 250 AS DOUBLE)/1000
        - CAST(event_id AS DOUBLE)/1000) * 1000 AS duration_ms,
       CASE user_id % 6 WHEN 0 THEN 'server' WHEN 1 THEN 'client'
            WHEN 2 THEN 'producer' WHEN 3 THEN 'consumer'
            WHEN 4 THEN 'internal' ELSE 'unspecified' END AS span_kind,
       CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'OK' END AS status_code,
       CASE WHEN event_type = 'error' THEN 'boom' ELSE '' END AS status_message,
       CASE WHEN user_id % 2 = 0 THEN 'otel-sdk' END AS library_name,
       CASE WHEN event_id % 2 = 0 THEN 1 + event_id % 7 ELSE 1 END AS samplerate,
       event_type AS color,          -- span attr wins over resource 'color'
       'websvc' AS svc
FROM events
"""


def q_qsketch_build(spark, sf_dir):
    # Mergeable log2 quantile sketch over events.value per event_type
    # (operators/qsketch.py; integer-exact bucketing, no float log).
    return qsketch.sketch_build(_events(spark, sf_dir), ["event_type"], "value")


ORACLE_QSKETCH_BUILD = qsketch.sketch_build_oracle_sql(
    "events", ["event_type"], "value")


def q_qsketch_quantile(spark, sf_dir):
    sk = qsketch.sketch_build(_events(spark, sf_dir), ["event_type"], "value")
    return qsketch.sketch_quantile(sk, ["event_type"], 0.95)


ORACLE_QSKETCH_QUANTILE = qsketch.sketch_quantile_oracle_sql(
    qsketch.sketch_build_oracle_sql("events", ["event_type"], "value"),
    ["event_type"], 0.95)


def q_datadog_metrics(spark, sf_dir):
    # Exercises the three non-trivial datadog mappers (sinks/datadog.py):
    # histogram -> .count/.sum/.count_per_bucket, summary -> quantile tags
    # with OpenMetrics canonical-number quirks, cumulative monotonic ->
    # per-series deltas with reset suppression.
    ev = _events(spark, sf_dir)
    et = F.col("event_type")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
    dec = F.col("value").cast("decimal(18,2)")
    hist = (ev.withColumn("day", day)
              .groupBy("event_type", "day")
              .agg(F.count(F.lit(1)).alias("count"),
                   F.sum(dec).cast("double").alias("sum"),
                   F.sum(F.when(F.col("value") < 50, 1).otherwise(0)).alias("b0"),
                   F.sum(F.when((F.col("value") >= 50) & (F.col("value") < 150), 1)
                          .otherwise(0)).alias("b1"),
                   F.sum(F.when(F.col("value") >= 150, 1).otherwise(0)).alias("b2"))
              .select(F.lit("lat").alias("name"),
                      F.create_map(F.lit("service"), et).alias("labels"),
                      F.col("day").alias("ts"), "count", "sum",
                      F.array("b0", "b1", "b2").alias("bucket_counts")))
    qlen = F.length(et).cast("double")
    summ = (ev.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("count"),
                   F.sum(dec).cast("double").alias("sum"))
              .select(F.lit("rt").alias("name"),
                      F.create_map(F.lit("service"), et).alias("labels"),
                      F.lit(0).cast("long").alias("ts"), "count", "sum",
                      F.array(*[
                          F.struct(F.lit(q).cast("double").alias("quantile"),
                                   (F.lit(q * 100) + qlen).alias("value"))
                          for q in (0.0, 0.5, 0.99, 1.0)
                      ]).alias("quantile_values")))
    mono = ev.select(
        F.lit("bytes.total").alias("name"),
        F.create_map(F.lit("service"), et,
                     F.lit("shard"), (F.col("user_id") % 2).cast("string"))
         .alias("labels"),
        F.col("event_id").alias("ts"),
        (F.col("event_id") % 5000).alias("value"))
    out = (datadog.map_histograms(hist, buckets=True)
           .unionByName(datadog.map_summaries(summ, quantiles=True))
           .unionByName(datadog.map_monotonic(mono)))
    return datadog.render_tags(out).select(
        "metric", "tags_str", "metric_type", "ts", "value")


ORACLE_DATADOG = """
WITH hist AS (
  SELECT event_type AS et,
         DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm,
         CAST(SUM(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS DOUBLE) AS b0,
         CAST(SUM(CASE WHEN value >= 50 AND value < 150 THEN 1 ELSE 0 END) AS DOUBLE) AS b1,
         CAST(SUM(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS DOUBLE) AS b2
  FROM events GROUP BY 1, 2
), summ AS (
  SELECT event_type AS et, CAST(COUNT(*) AS DOUBLE) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm
  FROM events GROUP BY 1
), mono AS (
  SELECT event_type AS et, CAST(user_id % 2 AS VARCHAR) AS shard,
         event_id AS ts, event_id % 5000 AS v,
         LAG(event_id % 5000) OVER (
           PARTITION BY event_type, user_id % 2 ORDER BY event_id) AS prev
  FROM events
)
SELECT 'lat.count' AS metric, 'service:' || et AS tags_str,
       'gauge' AS metric_type, day AS ts, cnt AS value FROM hist
UNION ALL
SELECT 'lat.sum', 'service:' || et, 'gauge', day, sm FROM hist
UNION ALL
SELECT 'lat.count_per_bucket', 'bucket_idx:' || CAST(i AS VARCHAR) || ',service:' || et,
       'gauge', day, CASE i WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END
FROM hist, (VALUES (0), (1), (2)) AS bidx(i)
UNION ALL
SELECT 'rt.count', 'service:' || et, 'gauge', 0, cnt FROM summ
UNION ALL
SELECT 'rt.sum', 'service:' || et, 'gauge', 0, sm FROM summ
UNION ALL
SELECT 'rt.quantile',
       'quantile:' || CASE q WHEN 0.0 THEN '0' WHEN 1.0 THEN '1.0'
                             ELSE CAST(CAST(q AS DOUBLE) AS VARCHAR) END || ',service:' || et,
       'gauge', 0, q * 100 + LENGTH(et)
FROM summ, (VALUES (0.0), (0.5), (0.99), (1.0)) AS qs(q)
UNION ALL
SELECT 'bytes.total', 'service:' || et || ',shard:' || shard, 'count', ts,
       CAST(v - prev AS DOUBLE)
FROM mono WHERE prev IS NOT NULL AND v - prev >= 0
"""


_XRAY_BASE = 1700000000
_XRAY_NOW = _XRAY_BASE + 3600


def q_xray_segments(spark, sf_dir):
    # events -> spans exercising the MakeSegment naming ladder, error/fault/
    # throttle classification, origin detection, trace-id age gate and
    # subsegment typing (sinks/awsxray.py cites the reference lines).
    ev = _events(spark, sf_dir)
    u = F.col("user_id")
    eid = F.col("event_id")
    et = F.col("event_type")
    epoch = F.when(eid % 97 == 0, F.lit(_XRAY_BASE - 2500000)) \
             .otherwise(F.lit(_XRAY_BASE) + eid % 3600)
    md5_e = F.md5(eid.cast("string").cast("binary"))
    kind = F.when(u % 3 == 0, "SERVER").when(u % 3 == 1, "CLIENT") \
            .otherwise("INTERNAL")

    def kv(key, val):
        return F.struct(F.lit(key).alias("key"), val.alias("value"))

    attrs = F.map_from_entries(F.filter(F.array(
        kv("http.method", F.when(et.isin("click", "view"), "GET")),
        kv("http.status_code",
           F.when(et == "error", (F.lit(400) + eid % 150).cast("string"))
            .when(et.isin("click", "view"), F.lit("200"))),
        kv("http.scheme", F.when(et == "click", "https")),
        kv("http.host", F.when(et == "click", F.concat(F.lit("www.ex"), u % 10))),
        kv("http.target", F.when(et == "click", F.concat(F.lit("/p/"), eid % 7))),
        kv("net.peer.name", F.when(et == "view", F.concat(F.lit("peer"), u % 4))),
        kv("peer.service", F.when(et == "signup", F.concat(F.lit("svc"), u % 5))),
        kv("aws.service", F.when((et == "purchase") & (u % 2 == 0), "S3")),
        kv("db.name",
           F.when((et == "purchase") & (u % 2 == 1), F.concat(F.lit("db"), u % 3))),
        kv("db.connection_string",
           F.when((et == "purchase") & (u % 2 == 1),
                  F.concat(F.lit("postgres://app@dbhost"), u % 3,
                           F.lit(".example:5432/x")))),
        kv("enduser.id", F.when(et == "signup", F.concat(F.lit("u"), u))),
    ), lambda e: e["value"].isNotNull()))
    resource = F.map_from_entries(F.filter(F.array(
        kv("service.name", F.lit("websvc")),
        kv("cloud.provider", F.when(u % 4 < 2, "aws").when(u % 4 == 2, "gcp")),
        kv("cloud.platform",
           F.when(u % 4 == 0, "EKS").when(u % 4 == 2, "EC2")),
        kv("container.name", F.when(u % 4 == 1, "c1")),
        kv("host.id", F.when(u % 4 == 3, "h1")),
    ), lambda e: e["value"].isNotNull()))
    spans = ev.select(
        F.concat(F.format_string("%08x", epoch), F.substring(md5_e, 1, 24))
         .alias("trace_id"),
        F.substring(F.md5(F.concat(F.lit("s"), eid.cast("string")).cast("binary")),
                    1, 16).alias("span_id"),
        F.when(eid % 2 == 1, "abcd").otherwise("").alias("parent_span_id"),
        F.concat(F.lit("evt-"), et, F.lit("!")).alias("name"),
        kind.alias("kind"),
        F.when(et == "error", "ERROR").otherwise("OK").alias("status_code"),
        (eid.cast("double") / 1000).alias("start_ts"),
        (eid.cast("double") / 1000 + 0.5).alias("end_ts"),
        attrs.alias("attrs"),
        resource.alias("resource"),
    )
    seg = awsxray.make_segments(spans, _XRAY_NOW)
    return seg.select("id", "trace_id", "name", "namespace", "type",
                      "error", "fault", "throttle", "origin",
                      F.col("http.request.url").alias("url"))


ORACLE_XRAY = f"""
WITH base AS (
  SELECT event_id AS eid, user_id AS u, event_type AS et,
         CASE WHEN user_id % 3 = 0 THEN 'SERVER'
              WHEN user_id % 3 = 1 THEN 'CLIENT' ELSE 'INTERNAL' END AS kind,
         event_id % 2 = 1 AS has_parent
  FROM events WHERE event_id % 97 <> 0          -- stale trace-id epoch dropped
), attrs AS (
  SELECT *,
         CASE WHEN et = 'signup' THEN 'svc' || CAST(u % 5 AS VARCHAR) END AS peer_service,
         CASE WHEN et = 'purchase' AND u % 2 = 0 THEN 'S3' END AS aws_service,
         CASE WHEN et = 'purchase' AND u % 2 = 1
              THEN 'db' || CAST(u % 3 AS VARCHAR) || '@dbhost'
                   || CAST(u % 3 AS VARCHAR) || '.example' END AS db_full,
         CASE WHEN et = 'click' THEN 'www.ex' || CAST(u % 10 AS VARCHAR) END AS http_host,
         CASE WHEN et = 'view' THEN 'peer' || CAST(u % 4 AS VARCHAR) END AS peer_name,
         CASE WHEN et = 'error' THEN 400 + eid % 150
              WHEN et IN ('click','view') THEN 200 END AS http_status,
         et IN ('click','view') AS has_method
  FROM base
)
SELECT substr(md5('s' || CAST(eid AS VARCHAR)), 1, 16) AS id,
       '1-' || printf('%08x', {_XRAY_BASE} + eid % 3600) || '-'
            || substr(md5(CAST(eid AS VARCHAR)), 1, 24) AS trace_id,
       COALESCE(peer_service, aws_service, db_full,
                CASE WHEN kind = 'SERVER' THEN 'websvc' END,
                http_host, peer_name, 'evt-' || et) AS name,
       CASE WHEN peer_service IS NULL AND aws_service IS NOT NULL THEN 'aws'
            WHEN kind = 'CLIENT' THEN 'remote' END AS namespace,
       CASE WHEN kind <> 'SERVER' AND has_parent THEN 'subsegment' END AS type,
       et = 'error' AND http_status BETWEEN 400 AND 499 AS error,
       et = 'error' AND NOT http_status BETWEEN 400 AND 499 AS fault,
       et = 'error' AND http_status = 429 AS throttle,
       CASE WHEN u % 4 = 0 THEN 'AWS::EKS::Container'
            WHEN u % 4 = 1 THEN 'AWS::ECS::Container'
            WHEN u % 4 = 3 THEN 'AWS::EC2::Instance' END AS origin,
       -- URL assembly armed only by http.host here (click rows); view rows
       -- carry just net.peer.name, which does not arm it (http.go:89-90)
       CASE WHEN et = 'click'
              THEN 'https://www.ex' || CAST(u % 10 AS VARCHAR)
                   || '/p/' || CAST(eid % 7 AS VARCHAR)
       END AS url
FROM attrs
"""


def q_xray_decode(spark, sf_dir):
    # awsxray RECEIVER (sources/awsxray.py — the inverse of the exporter;
    # receiver/awsxrayreceiver/internal/translator/translator.go:37):
    # synthesizes 3-level nested X-Ray segment documents (root SERVER +
    # namespace CLIENT subsegment + namespace-less INTERNAL leaf) with
    # http/cause/annotations/metadata/aws blocks and flattens them back
    # to span rows; ~9% of roots carry an undecodable trace id (valid
    # flag), error roots carry exception-object causes, every 13th other
    # root a bare exception-id cause.
    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    hex8 = F.format_string("%08x", (F.lit(_XRAY_BASE) + eid % 3600).cast("int"))
    md24 = F.substring(F.md5(eid.cast("string").cast("binary")), 1, 24)
    trace = F.when(eid % 11 == 0, F.lit("1-dead")).otherwise(
        F.concat(F.lit("1-"), hex8, F.lit("-"), md24))
    rid = F.substring(F.md5(F.concat(F.lit("r"), eid.cast("string"))
                            .cast("binary")), 1, 16)
    aid = F.substring(F.md5(F.concat(F.lit("a"), eid.cast("string"))
                            .cast("binary")), 1, 16)
    bid = F.substring(F.md5(F.concat(F.lit("b"), eid.cast("string"))
                            .cast("binary")), 1, 16)
    has_http_req = et.isin("click", "view")
    status_val = F.when(et == "error", F.lit(400) + eid % 150) \
                  .when(has_http_req, F.lit(200))
    request = F.when(
        has_http_req | (u % 5 == 0),
        F.struct(
            F.when(has_http_req, F.lit("GET")).alias("method"),
            F.when(u % 5 == 0, F.lit("9.9.9.9")).alias("client_ip"),
        ))
    http = F.when(
        request.isNotNull() | status_val.isNotNull(),
        F.struct(
            request.alias("request"),
            F.when(status_val.isNotNull(),
                   F.struct(status_val.cast("long").alias("status"))
                   ).alias("response"),
        ))
    head = F.to_json(F.struct(
        F.concat(F.lit("root-"), et).alias("name"),
        rid.alias("id"),
        trace.alias("trace_id"),
        eid.cast("double").alias("start_time"),
        (eid.cast("double") + 0.5).alias("end_time"),
        F.when(et == "signup", F.concat(F.lit("u"), u)).alias("user"),
        http.alias("http"),
        F.struct(
            F.struct(F.lit("X-Ray for Go").alias("sdk"),
                     F.concat(F.lit("1."), u % 2).alias("sdk_version"))
             .alias("xray"),
            F.concat(F.lit("acct"), u % 4).alias("account_id"),
        ).alias("aws"),
        F.create_map(
            F.lit("tier"), F.concat(F.lit("gold"), u % 3),
            F.lit("n"), (eid % 5).cast("string"),
        ).alias("annotations"),
    ))
    cause_raw = (
        F.when(et == "error", F.concat(
            F.lit(',"cause":{"exceptions":[{"id":"00000000000000ff",'
                  '"message":"boom","type":"Err","stack":[{"path":"S.java",'
                  '"line":'), (eid % 9).cast("string"),
            F.lit(',"label":"S.run"}]}]}')))
        .when(eid % 13 == 0, F.lit(',"cause":"0123456789abcdef"'))
        .otherwise(F.lit("")))
    sub2 = F.to_json(F.struct(
        F.lit("conn").alias("name"), bid.alias("id"),
        eid.cast("double").alias("start_time")))
    sub1_head = F.to_json(F.struct(
        F.lit("DynamoDB").alias("name"), aid.alias("id"),
        eid.cast("double").alias("start_time"),
        (eid.cast("double") + 0.25).alias("end_time"),
        F.when(u % 2 == 0, "aws").otherwise("remote").alias("namespace"),
        F.struct(
            F.lit("GetItem").alias("operation"),
            F.concat(F.lit("t"), u % 3).alias("table_name"),
            F.lit("us-east-1").alias("region"),
            (eid % 3).cast("long").alias("retries"),
        ).alias("aws")))
    # assemble: strip each head's closing brace and append the raw blocks
    # (to_json cannot embed raw JSON text, and the cause field's type
    # varies per row — string vs object — so those blocks concat in raw)
    sub1_full = F.concat(
        sub1_head.substr(F.lit(1), F.length(sub1_head) - 1),
        F.lit(',"subsegments":['), sub2, F.lit("]}"))
    root = F.concat(
        head.substr(F.lit(1), F.length(head) - 1),
        cause_raw,
        F.lit(',"metadata":{"m":{"a":'), (u % 7).cast("string"),
        F.lit('}},"subsegments":['), sub1_full, F.lit("]}"))
    docs = ev.select(root.alias("doc"))
    out = awsxray_rx.segments_to_spans(docs, max_depth=3)
    return out.select(
        "trace_id", "span_id", "parent_span_id", "name", "kind",
        "status_code", "status_message",
        F.unix_millis("start_ts").alias("start_ms"),
        F.unix_millis("end_ts").alias("end_ms"),
        F.element_at("attrs", "tier").alias("tier"),
        F.element_at("attrs", "n").alias("n_anno"),
        F.element_at("attrs", "aws.xray.metadata.m").alias("meta_m"),
        F.element_at("attrs", "enduser.id").alias("enduser"),
        F.element_at("attrs", "http.client_ip").alias("client_ip"),
        F.element_at("attrs", "http.status_code").alias("http_status"),
        F.element_at("attrs", "aws.service").alias("aws_service"),
        F.element_at("attrs", "aws.operation").alias("aws_op"),
        F.element_at("attrs", "aws.xray.retries").alias("retries"),
        F.element_at("resource", "cloud.provider").alias("provider"),
        F.element_at("resource", "telemetry.sdk.language").alias("sdk_lang"),
        F.element_at("resource", "cloud.account.id").alias("acct"),
        F.element_at(F.col("events")[0]["attrs"], "exception.message")
         .alias("exc_msg"),
        F.element_at(F.col("events")[0]["attrs"], "exception.stacktrace")
         .alias("exc_stack"),
        "valid",
    )


ORACLE_XRAY_DECODE = f"""
WITH e AS (
  SELECT user_id AS u, event_id AS eid, event_type AS et,
         eid % 11 <> 0 AS vt,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE printf('%08x', {_XRAY_BASE} + event_id % 3600)
                   || substr(md5(CAST(event_id AS VARCHAR)), 1, 24)
         END AS tid,
         substr(md5('r' || CAST(event_id AS VARCHAR)), 1, 16) AS rid,
         substr(md5('a' || CAST(event_id AS VARCHAR)), 1, 16) AS aid,
         substr(md5('b' || CAST(event_id AS VARCHAR)), 1, 16) AS bid,
         CASE WHEN event_type = 'error' THEN 400 + event_id % 150
              WHEN event_type IN ('click','view') THEN 200 END AS hst,
         'acct' || CAST(user_id % 4 AS VARCHAR) AS acct,
         CASE WHEN event_type = 'error' THEN 'java' ELSE 'Go' END AS lang
  FROM events
)
SELECT tid AS trace_id, rid AS span_id, NULL AS parent_span_id,
       'root-' || et AS name, 'SERVER' AS kind,
       CASE WHEN et = 'error' OR eid % 13 = 0 THEN 'ERROR'
            ELSE 'UNSET' END AS status_code,
       CASE WHEN et <> 'error' AND eid % 13 = 0
            THEN '0123456789abcdef' END AS status_message,
       eid * 1000 AS start_ms, eid * 1000 + 500 AS end_ms,
       'gold' || CAST(u % 3 AS VARCHAR) AS tier,
       CAST(eid % 5 AS VARCHAR) AS n_anno,
       '{{"a":' || CAST(u % 7 AS VARCHAR) || '}}' AS meta_m,
       CASE WHEN et = 'signup' THEN 'u' || CAST(u AS VARCHAR) END AS enduser,
       CASE WHEN u % 5 = 0 THEN '9.9.9.9' END AS client_ip,
       CAST(hst AS VARCHAR) AS http_status,
       NULL AS aws_service, NULL AS aws_op, NULL AS retries,
       'aws' AS provider, lang AS sdk_lang, acct,
       CASE WHEN et = 'error' THEN 'boom' END AS exc_msg,
       CASE WHEN et = 'error' THEN 'Err: boom' || chr(10) || chr(9)
            || 'at S.run(S.java: ' || CAST(eid % 9 AS VARCHAR) || ')'
            || chr(10) END AS exc_stack,
       vt AS valid
FROM e
UNION ALL
SELECT tid, aid, rid, 'DynamoDB', 'CLIENT', 'UNSET', NULL,
       eid * 1000, eid * 1000 + 250,
       NULL, NULL, NULL, NULL, NULL, NULL,
       CASE WHEN u % 2 = 0 THEN 'DynamoDB' END,
       'GetItem', CAST(eid % 3 AS VARCHAR),
       'aws', lang, acct, NULL, NULL, vt
FROM e
UNION ALL
SELECT tid, bid, aid, 'conn', 'INTERNAL', 'UNSET', NULL,
       eid * 1000, NULL,
       NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       'aws', lang, acct, NULL, NULL, vt
FROM e
"""


def q_signalfx_translate(spark, sf_dir):
    # Chains 9 of the 13 translator.go actions end-to-end; see
    # operators/signalfx.py docstring for per-action reference lines.
    dps = _sfx_datapoints(spark, sf_dir)
    out = signalfx.translate_datapoints(dps, [
        {"action": "rename_dimension_keys", "mapping": {"host": "host_name"}},
        {"action": "rename_metrics", "mapping": {"app.error": "app.failures"},
         "add_dimensions": {"source": "otel"}},
        {"action": "multiply_float", "scale_factors_float": {"app.purchase": 2.0}},
        {"action": "divide_int", "scale_factors_int": {"app.signup": 4}},
        {"action": "convert_values", "types_mapping": {"app.purchase": "int"}},
        {"action": "split_metric", "metric_name": "app.failures",
         "dimension_key": "env", "mapping": {"prod": "app.failures.prod"}},
        {"action": "drop_dimensions", "dimension_pairs": {"shard": []}},
        {"action": "copy_metrics", "mapping": {"app.failures.prod": "slo.failures"}},
        {"action": "drop_metrics", "metric_names": ["app.click"]},
        {"action": "aggregate_metric", "metric_name": "slo.failures",
         "aggregation_method": "sum",
         "without_dimensions": ["host_name", "source"]},
    ])
    out = signalfx.dims_fingerprint(out)
    # decimal-cast before summing: exact, order-independent addition so the
    # distributed sum is bit-identical to DuckDB's sequential one
    return (out.groupBy("metric", "dims_str")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("value_int").alias("sum_int"),
                    F.sum(F.col("value_double").cast("decimal(18,2)"))
                     .cast("double").alias("sum_double")))


ORACLE_SFX_TRANSLATE = """
WITH base AS (
  SELECT 'app.' || event_type AS metric,
         'h' || CAST(user_id % 5 AS VARCHAR) AS host_name,   -- rule 1 renames host
         CAST(event_id % 3 AS VARCHAR) AS shard,
         CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'dev' END AS env,
         event_id % 1000 AS vi,
         ROUND(value, 2) AS vd,
         event_id AS ts
  FROM events
), renamed AS (                                  -- rules 2-5
  SELECT CASE WHEN metric = 'app.error' THEN 'app.failures' ELSE metric END AS metric,
         host_name, shard, env,
         CASE WHEN metric = 'app.error' THEN 'otel' END AS source,
         CASE WHEN metric = 'app.signup' THEN vi // 4
              WHEN metric = 'app.purchase' THEN CAST(TRUNC(vd * 2.0) AS BIGINT)
              ELSE vi END AS vi,
         CASE WHEN metric = 'app.purchase' THEN NULL ELSE vd END AS vd,
         ts
  FROM base
), split AS (                                    -- rule 6: split app.failures by env=prod
  SELECT CASE WHEN metric = 'app.failures' AND env = 'prod'
              THEN 'app.failures.prod' ELSE metric END AS metric,
         host_name,
         CASE WHEN metric = 'app.failures' AND env = 'prod' THEN NULL
              ELSE env END AS env,
         source, vi, vd, ts
  FROM renamed
), dropped AS (                                  -- rules 7+9: drop shard dim, app.click
  SELECT metric, host_name, env, source, vi, vd, ts
  FROM split WHERE metric <> 'app.click'
), copied AS (                                   -- rule 8: copy to slo.failures
  SELECT * FROM dropped
  UNION ALL
  SELECT 'slo.failures', host_name, env, source, vi, vd, ts
  FROM dropped WHERE metric = 'app.failures.prod'
), aggregated AS (                               -- rule 10: sum without host/source
  SELECT metric, NULL AS host_name, env, NULL AS source,
         SUM(vi) AS vi, SUM(vd) AS vd, ts
  FROM copied WHERE metric = 'slo.failures'
  GROUP BY metric, env, ts
  UNION ALL
  SELECT * FROM copied WHERE metric <> 'slo.failures'
), rendered AS (
  -- stringifyDimensions: sorted k:v//k:v; key order env < host_name < source
  SELECT metric,
         COALESCE(ARRAY_TO_STRING(LIST_FILTER([
           CASE WHEN env IS NOT NULL THEN 'env:' || env END,
           CASE WHEN host_name IS NOT NULL THEN 'host_name:' || host_name END,
           CASE WHEN source IS NOT NULL THEN 'source:' || source END
         ], x -> x IS NOT NULL), '//'), '') AS dims_str,
         vi, vd
  FROM aggregated
)
SELECT metric, dims_str, COUNT(*) AS n,
       CAST(SUM(vi) AS BIGINT) AS sum_int,
       CAST(SUM(CAST(vd AS DECIMAL(18,2))) AS DOUBLE) AS sum_double
FROM rendered GROUP BY 1, 2
"""


def q_signalfx_delta(spark, sf_dir):
    # delta_translator.go: per-series delta with reset + first-point-skip
    dps = _sfx_datapoints(spark, sf_dir)
    out = signalfx.delta_metric(dps, {"app.view": "app.view.delta"})
    return (out.filter(F.col("metric") == "app.view.delta")
               .select("metric",
                       F.element_at("dims", "host").alias("host"),
                       F.element_at("dims", "shard").alias("shard"),
                       F.element_at("dims", "env").alias("env"),
                       "ts", "value_int", "metric_type"))


ORACLE_SFX_DELTA = """
WITH base AS (
  SELECT 'h' || CAST(user_id % 5 AS VARCHAR) AS host,
         CAST(event_id % 3 AS VARCHAR) AS shard,
         CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'dev' END AS env,
         event_id % 1000 AS vi,
         event_id AS ts
  FROM events WHERE event_type = 'view'
), lagged AS (
  SELECT host, shard, env, ts, vi,
         LAG(vi) OVER (PARTITION BY host, shard, env ORDER BY ts) AS prev
  FROM base
)
SELECT 'app.view.delta' AS metric, host, shard, env, ts,
       CASE WHEN vi - prev < 0 THEN vi ELSE vi - prev END AS value_int,
       'GAUGE' AS metric_type
FROM lagged WHERE prev IS NOT NULL
"""


def q_signalfx_decode(spark, sf_dir):
    # signalfxv2_to_metricdata.go:42-199 — SFx v2 datapoint → metric rows:
    # GAUGE→gauge (no temporality), COUNTER→DELTA sum, CUMULATIVE_COUNTER→
    # CUMULATIVE sum, double datum wins over int, nil-datum / unknown-type
    # points dropped, ms→ns timestamps. Input rotates all 4 type branches
    # and nulls each datum on a different stride so every fillInType arm
    # (incl. both drop reasons) appears in the table.
    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    dps = ev.select(
        F.concat(F.lit("app."), "event_type").alias("metric"),
        F.create_map(
            F.lit("host"), F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")),
        ).alias("dims"),
        F.when(eid % 5 != 0, eid % 1000).alias("value_int"),
        F.when(eid % 3 != 0, F.round("value", 2)).alias("value_double"),
        F.element_at(
            F.array(F.lit("GAUGE"), F.lit("COUNTER"),
                    F.lit("CUMULATIVE_COUNTER"), F.lit("ENUM")),
            (eid % 4).cast("int") + 1,
        ).alias("metric_type"),
        eid.alias("ts"),
    )
    out = signalfx.datapoints_to_metrics(dps)
    return out.select(
        "name", "data_type", "temporality", "is_monotonic", "ts_ns",
        "value_int", "value_double",
        F.element_at("labels", "host").alias("host"),
    )


ORACLE_SFX_DECODE = """
WITH dp AS (
  SELECT 'app.' || event_type AS metric,
         'h' || CAST(user_id % 5 AS VARCHAR) AS host,
         CASE WHEN event_id % 5 <> 0 THEN event_id % 1000 END AS vi,
         CASE WHEN event_id % 3 <> 0 THEN ROUND(value, 2) END AS vd,
         ['GAUGE','COUNTER','CUMULATIVE_COUNTER','ENUM'][CAST(event_id % 4 AS INT) + 1] AS mt,
         event_id AS ts
  FROM events
)
SELECT metric AS name,
       (CASE WHEN vd IS NOT NULL THEN 'double' ELSE 'int' END) || '_' ||
       (CASE WHEN mt = 'GAUGE' THEN 'gauge' ELSE 'sum' END) AS data_type,
       CASE WHEN mt = 'COUNTER' THEN 'DELTA'
            WHEN mt = 'CUMULATIVE_COUNTER' THEN 'CUMULATIVE' END AS temporality,
       CASE WHEN mt IN ('COUNTER','CUMULATIVE_COUNTER') THEN TRUE END AS is_monotonic,
       ts * 1000000 AS ts_ns,
       CASE WHEN vd IS NULL THEN vi END AS value_int,
       vd AS value_double,
       host
FROM dp
WHERE (vi IS NOT NULL OR vd IS NOT NULL)
  AND mt IN ('GAUGE','COUNTER','CUMULATIVE_COUNTER')
"""


def q_sentry_transactions(spark, sf_dir):
    # sentry exporter (sentry_exporter.go:51-148): root spans anchor
    # transactions, non-roots attach to their TRANSITIVE root ancestor,
    # chains that exit the batch become per-span orphan transactions.
    # Synthetic per-user span tree: idx 1 is the root, idx 2 points at a
    # missing parent (orphan subtree head), every other idx parents to
    # idx//2 — so the batch mixes multi-level grouped chains (depth ~7 at
    # 86 spans/user) with multi-level orphan chains, exercising the
    # pointer-doubling resolver end-to-end against a recursive-CTE oracle.
    from opentelemetry_collector_contrib_spark.sinks import sentry

    ev = _events(spark, sf_dir)
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    w = Window.partitionBy("user_id").orderBy("event_id")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.row_number().over(w).alias("idx"),
    )
    b, p = base.alias("b"), base.alias("p")
    nodes = b.join(
        p,
        (F.col("b.user_id") == F.col("p.user_id"))
        & (F.col("p.idx") == F.floor(F.col("b.idx") / 2)),
        "left",
    ).select(
        F.col("b.user_id").alias("user_id"),
        F.col("b.event_id").alias("event_id"),
        F.col("b.event_type").alias("event_type"),
        F.when(F.col("b.idx") == 1, "")
        .when(F.col("b.idx") == 2,
              F.concat(F.lit("missing-"), F.col("b.user_id")))
        .otherwise(F.concat(F.lit("s"), F.col("p.event_id")))
        .alias("parent_span_id"),
    )
    u, eid, et = F.col("user_id"), F.col("event_id"), F.col("event_type")
    sem = eid % 5
    spans = nodes.select(
        F.concat(F.lit("t"), u).alias("trace_id"),
        F.concat(F.lit("s"), eid).alias("span_id"),
        "parent_span_id",
        F.concat(F.lit("evt-"), et).alias("name"),
        F.when(u % 3 == 0, "SPAN_KIND_SERVER")
        .when(u % 3 == 1, "SPAN_KIND_CLIENT")
        .otherwise("SPAN_KIND_UNSPECIFIED").alias("kind"),
        (eid % 4).alias("status_code"),          # 3 = out-of-range branch
        F.when(et == "error", "boom").otherwise("").alias("status_message"),
        F.map_filter(
            F.map_from_arrays(
                F.array(F.lit("color"), F.lit("service.name"),
                        F.lit("http.method"), F.lit("db.system"),
                        F.lit("db.statement"), F.lit("rpc.service"),
                        F.lit("messaging.system"), F.lit("faas.trigger")),
                F.array(et, F.lit("attr-spoof"),
                        F.when(sem == 0, "GET"),
                        F.when(sem == 1, "mysql"),
                        F.when((sem == 1) & (eid % 2 == 0), "SELECT 1"),
                        F.when(sem == 2, "auth"),
                        F.when(sem == 3, "kafka"),
                        F.when(sem == 4, "pubsub")),
            ),
            lambda k, v: v.isNotNull(),
        ).alias("attrs"),
        F.create_map(
            F.lit("service.name"), F.concat(F.lit("svc"), (u % 2).cast("string")),
        ).alias("resource"),
        F.lit("mylib").alias("lib_name"),
        F.lit("1.0").alias("lib_version"),
        (eid * 1000).alias("start_ns"),
        (eid * 1000 + (eid % 50) * 10).alias("end_ns"),
    )
    out = sentry.sentry_transactions(spans)
    return out.select(
        "trace_id", "span_id", "op", "status",
        F.col("transaction").alias("txn"),   # 'transaction' is a SQL keyword
        "start_ns", "timestamp_ns", "anchor_kind",
        F.size("spans").alias("n_spans"),
        F.array_join(
            F.transform(F.col("spans"), lambda s: s["span_id"]), ","
        ).alias("child_ids"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries("tags")),
                lambda e: F.concat(e["key"], F.lit(":"), e["value"]),
            ), "//",
        ).alias("tags_str"),
    )


ORACLE_SENTRY_TXN = """
WITH RECURSIVE base AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS idx
  FROM events
), nodes AS (
  SELECT b.user_id, b.event_id, b.event_type,
         's' || b.event_id AS span_id,
         CASE WHEN b.idx = 1 THEN ''
              WHEN b.idx = 2 THEN 'missing-' || b.user_id
              ELSE 's' || p.event_id END AS parent_id
  FROM base b
  LEFT JOIN base p ON p.user_id = b.user_id AND p.idx = b.idx // 2
), walk AS (
  SELECT user_id, span_id AS start_id, span_id AS cur, parent_id AS ptr
  FROM nodes
  UNION ALL
  SELECT w.user_id, w.start_id, n.span_id, n.parent_id
  FROM walk w JOIN nodes n ON n.user_id = w.user_id AND n.span_id = w.ptr
  WHERE w.ptr <> ''
), resolved AS (
  SELECT user_id, start_id, CASE WHEN ptr = '' THEN cur END AS root_id
  FROM walk w
  WHERE ptr = '' OR NOT EXISTS (
    SELECT 1 FROM nodes n WHERE n.user_id = w.user_id AND n.span_id = w.ptr)
), conv AS (
  SELECT user_id, span_id,
         CASE WHEN event_id % 5 = 0 THEN
                'http' || CASE WHEN user_id % 3 = 0 THEN '.server'
                               WHEN user_id % 3 = 1 THEN '.client'
                               ELSE '' END
              WHEN event_id % 5 = 1 THEN 'db'
              WHEN event_id % 5 = 2 THEN 'rpc'
              WHEN event_id % 5 = 3 THEN 'message'
              ELSE 'pubsub' END AS op,
         CASE WHEN event_id % 4 = 0 THEN 'undefined'
              WHEN event_id % 4 = 1 THEN 'ok'
              ELSE 'unknown' END AS status,
         CASE WHEN event_id % 5 = 0 THEN 'GET evt-' || event_type
              WHEN event_id % 5 = 1 AND event_id % 2 = 0 THEN 'SELECT 1'
              ELSE 'evt-' || event_type END AS txn,
         event_id * 1000 AS start_ns,
         event_id * 1000 + (event_id % 50) * 10 AS timestamp_ns,
         ARRAY_TO_STRING(LIST_FILTER([
           'color:' || event_type,
           CASE WHEN event_id % 5 = 1 AND event_id % 2 = 0
                THEN 'db.statement:SELECT 1' END,
           CASE WHEN event_id % 5 = 1 THEN 'db.system:mysql' END,
           CASE WHEN event_id % 5 = 4 THEN 'faas.trigger:pubsub' END,
           CASE WHEN event_id % 5 = 0 THEN 'http.method:GET' END,
           'library_name:mylib', 'library_version:1.0',
           CASE WHEN event_id % 5 = 3 THEN 'messaging.system:kafka' END,
           CASE WHEN event_id % 5 = 2 THEN 'rpc.service:auth' END,
           'service.name:svc' || CAST(user_id % 2 AS VARCHAR),
           CASE WHEN user_id % 3 = 0 THEN 'span_kind:server'
                WHEN user_id % 3 = 1 THEN 'span_kind:client' END,
           CASE WHEN event_id % 4 = 3 THEN 'status_message:error code 3'
                WHEN event_type = 'error' AND event_id % 4 <> 3
                THEN 'status_message:boom' END
         ], x -> x IS NOT NULL), '//') AS tags_str
  FROM nodes
), children AS (
  SELECT user_id, root_id,
         COUNT(*) AS n_spans,
         STRING_AGG(start_id, ',' ORDER BY start_id) AS child_ids
  FROM resolved
  WHERE root_id IS NOT NULL AND root_id <> start_id
  GROUP BY user_id, root_id
)
SELECT 't' || r.user_id AS trace_id,
       r.start_id AS span_id,
       c.op, c.status, c.txn, c.start_ns, c.timestamp_ns,
       CASE WHEN r.root_id = r.start_id THEN 'root' ELSE 'orphan' END
         AS anchor_kind,
       COALESCE(ch.n_spans, 0) AS n_spans,
       COALESCE(ch.child_ids, '') AS child_ids,
       c.tags_str
FROM resolved r
JOIN conv c ON c.user_id = r.user_id AND c.span_id = r.start_id
LEFT JOIN children ch ON ch.user_id = r.user_id AND ch.root_id = r.start_id
WHERE r.root_id = r.start_id OR r.root_id IS NULL
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse->enrich->route->aggregate pipeline on sf0.001;
    returns the per-sink spanmetrics aggregate."""
    return q_spanmetrics_histogram(spark, "/root/testdata/sf0.001")


def _pin_session(fn: Callable[[SparkSession, str], DataFrame]):
    """Make query results independent of how the caller built its
    SparkSession: the driver does NOT use ocs.session.get_spark, so pin the
    runtime-settable confs that change results (session timezone flows into
    unix_timestamp/date_format over TIMESTAMP_NTZ parquet columns)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


# One row per driver query: (name, query, oracle, demoted). The oracle is
# DuckDB SQL or a zero-argument builder of it. Demoted rows are exact-baseline
# variants whose banded/pruned siblings share their oracle; pytest checks them
# (tests/test_driver_contract.py) instead of the driver. The driver checks
# roughly the first 50 rows in order, so a new or changed query goes first.
REGISTRY: list[tuple[str, Callable[[SparkSession, str], DataFrame],
                     str | Callable[[], str], bool]] = [
    ("logzio_docs", q_logzio_docs, ORACLE_LOGZIO, False),
    ("promremotewrite_series", q_promremotewrite_series,
     ORACLE_PROMREMOTEWRITE, False),
    ("cloudwatch_logs", q_cloudwatch_logs, ORACLE_CWLOGS, False),
    ("substring_dedup", q_substring_dedup, ORACLE_SUBSTRING_DEDUP, False),
    ("stratified_sample", q_stratified_sample,
     ORACLE_STRATIFIED_SAMPLE, False),
    ("pack_blocks", q_pack_blocks, ORACLE_PACK_BLOCKS, False),
    ("xray_decode", q_xray_decode, ORACLE_XRAY_DECODE, False),
    ("sentry_transactions", q_sentry_transactions, ORACLE_SENTRY_TXN, False),
    ("domain_stats", q_domain_stats, ORACLE_DOMAIN_STATS, False),
    ("signalfx_decode", q_signalfx_decode, ORACLE_SFX_DECODE, False),
    ("statsd_percentiles_sketch", q_statsd_percentiles_sketch,
     _oracle_statsd_percentiles_sketch, False),
    ("dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS, False),
    ("pii_scrub", q_pii_scrub, ORACLE_PII_SCRUB, False),
    ("newrelic_spans", q_newrelic_spans, ORACLE_NEWRELIC, False),
    ("azuremonitor_envelopes", q_azuremonitor_envelopes,
     ORACLE_AZUREMONITOR, False),
    ("influx_decode", q_influx_decode, ORACLE_INFLUX, False),
    ("carbon_roundtrip", q_carbon_roundtrip, ORACLE_CARBON, False),
    ("humio_events", q_humio_events, ORACLE_HUMIO, False),
    ("sls_logs", q_sls_logs, ORACLE_SLS, False),
    ("embedding_neardup_blocked", q_embedding_neardup_blocked,
     ORACLE_EMB_NEARDUP, False),
    ("uptrace_spans", q_uptrace_spans, ORACLE_UPTRACE, False),
    ("influx_roundtrip", q_influx_roundtrip, ORACLE_INFLUX_ROUNDTRIP, False),
    ("tailsample", q_tailsample, ORACLE_TAILSAMPLE, False),
    ("tailsample_metrics", q_tailsample_metrics,
     ORACLE_TAILSAMPLE_METRICS, False),
    ("groupbytrace_sessions", q_groupbytrace_sessions,
     ORACLE_GROUPBYTRACE, False),
    ("groupbytrace_capped", q_groupbytrace_capped, ORACLE_GBT_CAPPED, False),
    ("groupbytrace_bounded", q_groupbytrace_bounded,
     ORACLE_GBT_BOUNDED, False),
    ("severity_number_ladder", q_severity_number_ladder,
     _oracle_severity_number, False),
    ("es_docs", q_es_docs, _oracle_es_docs, False),
    ("rate_limit", q_rate_limit, ORACLE_RATE_LIMIT, False),
    ("groupbyattrs_metrics", q_groupbyattrs_metrics,
     ORACLE_GROUPBYATTRS, False),
    ("metricstransform_agg", q_metricstransform_agg, ORACLE_MT_AGG, False),
    ("metricsgen_rate", q_metricsgen_rate, ORACLE_METRICSGEN, False),
    ("loadbalance_assign", q_loadbalance_assign, ORACLE_LOADBALANCE, False),
    ("consistent_ring", q_consistent_ring, ORACLE_RING, False),
    ("syslog_rfc5424", q_syslog_rfc5424, ORACLE_SYSLOG, False),
    ("syslog_rfc3164", q_syslog_rfc3164, ORACLE_SYSLOG_3164, False),
    ("metricstransform_label_values", q_metricstransform_label_values,
     ORACLE_MT_LABEL_VALUES, False),
    ("metricstransform_ops", q_metricstransform_ops, ORACLE_MT_OPS, False),
    ("signalfx_translate", q_signalfx_translate, ORACLE_SFX_TRANSLATE, False),
    ("xray_segments", q_xray_segments, ORACLE_XRAY, False),
    ("datadog_metrics", q_datadog_metrics, ORACLE_DATADOG, False),
    ("qsketch_quantile", q_qsketch_quantile, ORACLE_QSKETCH_QUANTILE, False),
    ("honeycomb_events", q_honeycomb_events, ORACLE_HONEYCOMB, False),
    ("dynatrace_lines", q_dynatrace_lines, ORACLE_DYNATRACE, False),
    ("hec_roundtrip", q_hec_roundtrip, ORACLE_HEC, False),
    ("fluentforward_roundtrip", q_fluentforward_roundtrip,
     ORACLE_FLUENTFORWARD, False),
    ("sapm_decode", q_sapm_decode, ORACLE_SAPM_DECODE, False),
    ("paragraph_dedup", q_paragraph_dedup, ORACLE_PARAGRAPH_DEDUP, False),
    ("contamination", q_contamination, ORACLE_CONTAMINATION, False),
    ("multiline_assemble", q_multiline_assemble, ORACLE_MULTILINE, False),
    ("collectd_decode", q_collectd_decode, ORACLE_COLLECTD, False),
    ("url_canonical", q_url_canonical, ORACLE_URL_CANONICAL, False),
    ("elastic_docs", q_elastic_docs, ORACLE_ELASTIC, False),
    ("tanzu_spans", q_tanzu_spans, ORACLE_TANZU, False),
    ("statsd_window", q_statsd_window, ORACLE_STATSD_WINDOW, False),
    ("statsd_percentiles", q_statsd_percentiles,
     _oracle_statsd_percentiles, False),
    ("wavefront_roundtrip", q_wavefront_roundtrip, ORACLE_WAVEFRONT, False),
    ("prom_text_decode", q_prom_text_decode, ORACLE_PROM_TEXT, False),
    ("embedding_neardup_banded", q_embedding_neardup_banded,
     ORACLE_EMB_NEARDUP, False),
    ("signalfx_delta", q_signalfx_delta, ORACLE_SFX_DELTA, False),
    ("qsketch_build", q_qsketch_build, ORACLE_QSKETCH_BUILD, False),
    ("sumologic_lines", q_sumologic_lines, ORACLE_SUMOLOGIC, False),
    ("emf_docs", q_emf_docs, ORACLE_EMF, False),
    ("dedup_ngram_jaccard_stopgram", q_dedup_ngram_jaccard_stopgram,
     ORACLE_DEDUP_JACCARD_STOPGRAM, False),
    ("ann_ivf_trained", q_ann_ivf_trained, ORACLE_ANN_TOPK, False),
    ("repetition_signals", q_repetition_signals, ORACLE_REPETITION, False),
    ("loki_streams", q_loki_streams, ORACLE_LOKI, False),
    ("multimodal_decode", q_multimodal_decode, ORACLE_MM_DECODE, False),
    ("frame_sample", q_frame_sample, ORACLE_FRAME_SAMPLE, False),
    ("tpch_q1", q_tpch_q1, ORACLE_TPCH_Q1, False),
    ("tpch_q3_top10", q_tpch_q3_top10, ORACLE_TPCH_Q3, False),
    ("broadcast_enrich_tpch", q_broadcast_enrich_tpch,
     ORACLE_BROADCAST_ENRICH, False),
    ("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT, False),
    ("dedup_minhash_lsh", q_dedup_minhash_lsh, ORACLE_DEDUP_MINHASH, False),
    ("dedup_simhash_banded", q_dedup_simhash_banded,
     ORACLE_DEDUP_SIMHASH, False),
    ("ann_topk", q_ann_topk, ORACLE_ANN_TOPK, False),
    ("lang_id", q_lang_id, _oracle_lang_id, False),
    ("quality_score", q_quality_score, ORACLE_QUALITY, False),
    ("token_count", q_token_count, ORACLE_TOKEN_COUNT, False),
    ("doc_fingerprint", q_doc_fingerprint, ORACLE_FINGERPRINT, False),
    ("metricstransform_combine", q_metricstransform_combine,
     ORACLE_MT_COMBINE, False),
    ("route_counts", q_route_counts, ORACLE_ROUTE_COUNTS, False),
    ("routed_rows", q_routed_rows, ORACLE_ROUTED_ROWS, False),
    ("route_multi_counts", q_route_multi_counts,
     ORACLE_ROUTE_MULTI_COUNTS, False),
    ("route_multi_rows", q_route_multi_rows, ORACLE_ROUTE_MULTI_ROWS, False),
    ("sapm_batches", q_sapm_batches, ORACLE_SAPM, False),
    ("c4_clean", q_c4_clean, ORACLE_C4_CLEAN, False),
    ("parse_extract", q_parse_extract, ORACLE_PARSE_EXTRACT, False),
    ("severity_map", q_severity_map, ORACLE_SEVERITY_MAP, False),
    ("enrich_lookup", q_enrich_lookup, ORACLE_ENRICH_LOOKUP, False),
    ("enrich_ttl", q_enrich_ttl, ORACLE_ENRICH_TTL, False),
    ("spanmetrics_histogram", q_spanmetrics_histogram,
     _oracle_spanmetrics, False),
    ("spanmetrics_salted", q_spanmetrics_salted,
     ORACLE_SPANMETRICS_SALTED, False),
    ("multimodal_meta", q_multimodal_meta, ORACLE_MULTIMODAL_META, False),
    ("map_pipeline", q_map_pipeline, ORACLE_MAP_PIPELINE, False),
    ("router_json", q_router_json, ORACLE_ROUTER_JSON, False),
    ("statsd_lines", q_statsd_lines, ORACLE_STATSD_LINES, False),
    ("filter_range", q_filter_range, ORACLE_FILTER_RANGE, False),
    ("filter_regexp", q_filter_regexp, ORACLE_FILTER_REGEXP, False),
    ("dedup_ngram_jaccard", q_dedup_ngram_jaccard, ORACLE_DEDUP_JACCARD, True),
    ("dedup_simhash", q_dedup_simhash, ORACLE_DEDUP_SIMHASH, True),
    ("embedding_neardup", q_embedding_neardup, ORACLE_EMB_NEARDUP, True),
    ("ann_ivf", q_ann_ivf, ORACLE_ANN_IVF, True),
]


def _query_view(demoted: bool):
    return {name: _pin_session(fn)
            for name, fn, _, d in REGISTRY if d == demoted}


def _oracle_view(demoted: bool) -> dict[str, str]:
    return {name: oracle if isinstance(oracle, str) else oracle()
            for name, _, oracle, d in REGISTRY if d == demoted}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _query_view(False)


def oracle_sql() -> dict[str, str]:
    return _oracle_view(False)


def demoted_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _query_view(True)


def demoted_oracle_sql() -> dict[str, str]:
    return _oracle_view(True)
