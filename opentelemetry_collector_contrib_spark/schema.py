"""Fixed Spark schemas for the engine.

The reference's data model is the dynamic, tagged pdata attribute map
(internal/stanza/converter.go:432-470): every record may carry different
keys. The idiomatic Spark translation (SURVEY.md section 1.2) is a fixed
StructType envelope for the well-known fields plus MapType(string,string)
for open-ended attributes, with hot attributes (route keys, group keys)
promoted to real columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint: Common-Crawl-style web pages.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# stanza entry.Entry analogue (internal/stanza/converter.go:366-430):
# timestamp, severity text+number, attributes map, body.
LOG_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("severity_text", T.StringType(), True),
        T.StructField("severity_number", T.IntegerType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Enrichment dimension (FIXTURES.md F3, k8sprocessor analogue
# processor/k8sprocessor/kube/client.go:204-258).
DOMAIN_INFO_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("org", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("tier", T.StringType(), True),
        T.StructField("registered_ts", T.TimestampType(), True),
    ]
)

# Default latency histogram bounds, ms — exactly the reference's
# defaultLatencyHistogramBucketsMs (spanmetricsprocessor/processor.go:48-51)
# minus the synthetic maxDurationMs catch-all (we model the catch-all as the
# implicit last bucket, as the reference's SearchFloat64s index == len(bounds)).
DEFAULT_LATENCY_BOUNDS_MS: list[float] = [
    2, 4, 6, 8, 10, 50, 100, 200, 400, 800, 1000, 1400, 2000, 5000, 10_000, 15_000,
]

# Severity ladder: stanza severity text -> (otel text, SeverityNumber), the
# standard-level arm of convertSeverity (internal/stanza/converter.go:532-558).
SEVERITY_MAP: dict[str, tuple[str, int]] = {
    "FATAL": ("Fatal", 21),   # entry.Catastrophe -> SeverityNumberFATAL4
    "EMERGENCY": ("Error", 18),
    "ALERT": ("Error", 19),
    "CRITICAL": ("Error", 18),
    "ERROR": ("Error", 17),
    "WARN": ("Info", 12),     # entry.Warning -> SeverityNumberINFO4
    "WARNING": ("Info", 12),
    "NOTICE": ("Info", 11),
    "INFO": ("Info", 9),
    "DEBUG": ("Debug", 5),
    "TRACE": ("Trace", 2),
}
SEVERITY_DEFAULT: tuple[str, int] = ("Undefined", 0)
