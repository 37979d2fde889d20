"""Parse stage: stanza-operator analogues + the vectorized HTML parse UDF.

The reference's parse pipeline is the stanza operator list configured per
receiver (internal/stanza/factory.go:45-63), exercised in
examples/kubernetes/otel-collector-config.yml:11-66:

  router -> regex_parser (CRI) | json_parser (docker) -> metadata/restructure

Spark mapping (SURVEY.md section 2.1): the router is a ``F.when`` predicate
ladder, simple extractions are JVM-side ``regexp_extract``/``from_json``,
and the full multi-format byte-identical extraction is one Arrow-batched
pandas UDF (input_hint: vectorized, no per-row Spark UDFs).
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..schema import PARSED_STRUCT, SEVERITY_DEFAULT, SEVERITY_MAP

# ---------------------------------------------------------------------------
# Generic stanza-operator analogues (composable building blocks)
# ---------------------------------------------------------------------------


def router(routes: list[tuple[str, Column]], default: str | None = None) -> Column:
    """stanza ``router`` operator (otel-collector-config.yml:13-21): first
    matching predicate wins; unmatched rows get ``default`` (None -> NULL).
    """
    out: Column | None = None
    for name, cond in routes:
        out = F.when(cond, F.lit(name)) if out is None else out.when(cond, F.lit(name))
    assert out is not None
    return out.otherwise(F.lit(default))


def regex_parser(col: Column, pattern: str, groups: list[str]) -> list[Column]:
    """stanza ``regex_parser`` for patterns Spark's JVM regex handles
    (otel-collector-config.yml:23-38): one ``regexp_extract`` per named
    group — stays inside whole-stage codegen.
    """
    return [F.regexp_extract(col, pattern, i + 1).alias(g) for i, g in enumerate(groups)]


def json_parser(col: Column, schema: str) -> Column:
    """stanza ``json_parser`` (otel-collector-config.yml:40-45)."""
    return F.from_json(col, schema)


def severity_columns(sev_col: Column) -> tuple[Column, Column]:
    """Severity text -> (otel severity text, SeverityNumber) ladder, exactly
    convertSeverity's standard levels (internal/stanza/converter.go:532-558).
    """
    txt: Column | None = None
    num: Column | None = None
    for k, (t, n) in SEVERITY_MAP.items():
        cond = F.upper(sev_col) == k
        txt = F.when(cond, t) if txt is None else txt.when(cond, t)
        num = F.when(cond, n) if num is None else num.when(cond, n)
    assert txt is not None and num is not None
    return (
        txt.otherwise(F.lit(SEVERITY_DEFAULT[0])),
        num.otherwise(F.lit(SEVERITY_DEFAULT[1])),
    )


# Numeric severity ladder — exactly convertSeverity
# (internal/stanza/converter.go:532-582). Input is a stanza entry.Severity
# (0-100 scale with decade anchors: Default 0, Trace 10, Debug 20, Info 30,
# Notice 40, Warning 50, Error 60, Critical 70, Alert 80, Emergency 90,
# Catastrophe 100 — public stanza constants). Equality cases first, then
# the custom-level range cases, in the reference's switch order. Note the
# reference quirks preserved verbatim: Emergency maps to TEXT "Error" with
# NUMBER SeverityNumberFATAL(21), and s>Critical shares ERROR3(19) with
# the Alert equality case.
_SEV_NUM_LADDER: list[tuple[str, int, str, int]] = [
    ("=", 100, "Fatal", 24),   # Catastrophe -> FATAL4
    ("=", 90, "Error", 21),    # Emergency   -> FATAL  (text "Error"!)
    ("=", 80, "Error", 19),    # Alert       -> ERROR3
    ("=", 70, "Error", 18),    # Critical    -> ERROR2
    ("=", 60, "Error", 17),    # Error       -> ERROR
    ("=", 50, "Info", 12),     # Warning     -> INFO4
    ("=", 40, "Info", 11),     # Notice      -> INFO3
    ("=", 30, "Info", 9),      # Info        -> INFO
    ("=", 20, "Debug", 5),     # Debug       -> DEBUG
    ("=", 10, "Trace", 2),     # Trace       -> TRACE2
    (">", 90, "Fatal", 22),    # > Emergency -> FATAL2
    (">", 80, "Error", 20),    # > Alert     -> ERROR4
    (">", 70, "Error", 19),    # > Critical  -> ERROR3
    (">", 60, "Error", 18),    # > Error     -> ERROR2
    (">", 50, "Info", 12),     # > Warning   -> INFO4
    (">", 40, "Info", 11),     # > Notice    -> INFO3
    (">", 30, "Info", 10),     # > Info      -> INFO2
    (">", 20, "Debug", 6),     # > Debug     -> DEBUG2
    (">", 10, "Trace", 3),     # > Trace     -> TRACE3
    (">", 0, "Trace", 1),      # > Default   -> TRACE
]


def convert_severity_number(sev: Column) -> tuple[Column, Column]:
    """stanza numeric severity -> (otel severity_text, SeverityNumber)."""
    txt: Column | None = None
    num: Column | None = None
    for op, anchor, t, n in _SEV_NUM_LADDER:
        cond = (sev == anchor) if op == "=" else (sev > anchor)
        txt = F.when(cond, t) if txt is None else txt.when(cond, t)
        num = F.when(cond, n) if num is None else num.when(cond, n)
    assert txt is not None and num is not None
    return txt.otherwise(F.lit("Undefined")), num.otherwise(F.lit(0))


def convert_severity_number_sql(expr: str) -> tuple[str, str]:
    """The identical ladder as two ANSI-SQL CASE chains (oracle side)."""
    t_cases = " ".join(
        f"WHEN {expr} {op} {a} THEN '{t}'" for op, a, t, _n in _SEV_NUM_LADDER
    )
    n_cases = " ".join(
        f"WHEN {expr} {op} {a} THEN {n}" for op, a, _t, n in _SEV_NUM_LADDER
    )
    return (
        f"CASE {t_cases} ELSE 'Undefined' END",
        f"CASE {n_cases} ELSE 0 END",
    )


URL_META_PATTERN = r"^https?://([^/]+)/([^/]+)/([^/]+)/page-(\d+)$"


def url_metadata(url: Column) -> list[Column]:
    """Url-metadata extraction — the filelog file_name regex analogue
    (otel-collector-config.yml:47-50): named groups domain/section/page_id.
    JVM-side regexp_extract (codegen'd, no Python).
    """
    return [
        F.regexp_extract(url, URL_META_PATTERN, 1).alias("domain"),
        F.regexp_extract(url, URL_META_PATTERN, 3).alias("section"),
        F.regexp_extract(url, URL_META_PATTERN, 4).cast("long").alias("page_id"),
    ]


# ---------------------------------------------------------------------------
# The HTML parse UDF (byte-identical extraction)
# ---------------------------------------------------------------------------

_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
_PRE_RE = re.compile(r"<pre>(.*?)</pre>", re.S)
_STATUS_RE = re.compile(r'http-equiv="status" content="(\d+)"')
# Three independent first-match scans — NOT a combined single-pass regex.
# A combined '<title>.*?status.*?<pre>' pattern silently picks later
# occurrences when the fields repeat or appear out of order, and measures
# *slower* anyway (the .*? backtracking costs more than three anchored
# scans: 0.68 s vs 0.57 s per 50k pages).
# format A — testbed filelog line (testbed/datasenders/stanza.go:129-133)
_FMT_A_RE = re.compile(r"^(\d{4}-\d{2}-\d{2}) ([A-Z0-9]*) (.*)$", re.S)
# format B — CRI line (otel-collector-config.yml:23-38)
_FMT_B_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z) (stdout|stderr) ([^ ]*) ?(.*)$", re.S
)


def _loads_or_none(v: str):
    try:
        obj = json.loads(v)
        return obj if isinstance(obj, dict) else None
    except (ValueError, TypeError):
        return None


@pandas_udf(PARSED_STRUCT)
def parse_html(html: pd.Series) -> pd.DataFrame:
    """Decode html bytes, route the embedded body line across the three
    k8s container formats, extract fields with named-group regexes / JSON.

    Router predicates mirror otel-collector-config.yml:13-21: body starting
    with ``{`` -> docker JSON; rfc3339 'T...Z' prefix -> CRI; plain date
    prefix -> testbed text format; anything else is refused (parse_ok=false).

    The extracted ``message`` must be byte-identical to the page's golden
    ``text`` column (north_star per-row invariant) — asserted in tests.

    Hot path discipline: every step is a whole-Series pandas op (str.decode,
    str.extract, combine_first); the only per-row Python is json.loads on
    the JSON-format subset (a real parse, like the stanza json_parser).
    """
    s = html.str.decode("utf-8", errors="replace").fillna("")
    title = s.str.extract(_TITLE_RE, expand=False)
    status = s.str.extract(_STATUS_RE, expand=False).astype("float").astype("Int32")
    body = s.str.extract(_PRE_RE, expand=False).fillna("")

    is_c = body.str.startswith("{")

    # formats A and B extracted over the full Series (one C-speed regex pass
    # each; non-matching rows yield NaN), then routed with combine_first
    ext_a = body.str.extract(_FMT_A_RE)
    ext_b = body.str.extract(_FMT_B_RE)
    a_ok = ext_a[0].notna() & ~is_c
    b_ok = ext_b[0].notna() & ~is_c & ~a_ok

    # format C: real JSON parse on the subset only
    c_obj = body[is_c].map(_loads_or_none) if is_c.any() else pd.Series(dtype="object")
    c_ok_sub = c_obj.notna()
    c_time = c_obj.map(lambda o: o.get("time") if o else None)
    c_stream = c_obj.map(lambda o: o.get("stream") if o else None)
    c_log = c_obj.map(lambda o: o.get("log") if o else None)

    idx = s.index
    c_ok = c_ok_sub.reindex(idx, fill_value=False)

    def pick(a_vals, b_vals, c_vals):
        out = pd.Series([None] * len(idx), index=idx, dtype="object")
        if a_vals is not None:
            out[a_ok] = a_vals[a_ok]
        if b_vals is not None:
            out[b_ok] = b_vals[b_ok]
        if c_vals is not None:
            out[c_ok] = c_vals.reindex(idx)[c_ok]
        return out

    fmt = pd.Series([None] * len(idx), index=idx, dtype="object")
    fmt[a_ok], fmt[b_ok], fmt[c_ok] = "A", "B", "C"

    return pd.DataFrame(
        {
            "title": title,
            "fmt": fmt,
            "event_time": pick(ext_a[0], ext_b[0], c_time),
            "severity_text": pick(ext_a[1], None, None),
            "stream": pick(None, ext_b[1], c_stream),
            "message": pick(ext_a[2], ext_b[3], c_log),
            "status": status,
            "parse_ok": (a_ok | b_ok | c_ok),
        }
    )


def parse_stage(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> parsed log records.

    The one parse path: the ArrowEvalPython pandas UDF ``parse_html``. Only
    the ``html`` column crosses into the Python worker; Spark joins the
    struct result back positionally and derives everything else JVM-side.
    The golden ``text`` column rides along so tests can assert
    byte-identity; production reads would simply not select it (column
    pruning keeps it out of the scan).
    """
    df = pages.withColumn("p", parse_html(F.col("html")))
    sev_txt, sev_num = severity_columns(F.col("p.severity_text"))
    return df.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        *url_metadata(F.col("url")),
        F.col("p.title").alias("title"),
        F.col("p.fmt").alias("fmt"),
        F.col("p.event_time").alias("event_time"),
        F.coalesce(
            F.try_to_timestamp(F.col("p.event_time"), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
            F.try_to_timestamp(F.col("p.event_time"), F.lit("yyyy-MM-dd")),
        ).alias("event_ts"),
        F.col("p.severity_text").alias("severity_in"),
        sev_txt.alias("severity_text"),
        sev_num.alias("severity_number"),
        F.col("p.stream").alias("stream"),
        F.col("p.message").alias("message"),
        F.col("p.status").alias("status"),
        F.col("p.parse_ok").alias("parse_ok"),
    )
