"""Parse stage: stanza-operator analogues + the HTML page parse.

The reference's parse pipeline is the stanza operator list configured per
receiver (internal/stanza/factory.go:45-63), exercised in
examples/kubernetes/otel-collector-config.yml:11-66:

  router -> regex_parser (CRI) | json_parser (docker) -> metadata/restructure

Spark mapping (SURVEY.md section 2.1): the router is a ``F.when`` predicate
ladder, and extractions are JVM-side substring search, ``regexp_*`` and
``from_json``. The full multi-format byte-identical extraction
(``parse_stage``) is Catalyst expressions only, so the pipeline starts no
Python worker (input_hint: no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import SEVERITY_DEFAULT, SEVERITY_MAP

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
# The HTML parse (byte-identical extraction, Catalyst expressions only)
# ---------------------------------------------------------------------------

_STATUS_RE = r'(?<=http-equiv="status" content=")\d+(?=")'
# Java's \d is ASCII-only, as is RE2's in the Go reference.
# format A — testbed filelog line (testbed/datasenders/stanza.go:129-133)
_FMT_A_RE = r"^\d{4}-\d{2}-\d{2} [A-Z0-9]* "
# format B — CRI line (otel-collector-config.yml:23-38)
_FMT_B_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z (stdout|stderr) "
# format C — docker JSON. The body is parsed as the first element of
# ``[<body>,{"body":"<body, JSON-escaped>"}]``: Jackson ignores whatever
# follows a complete value, so the body is whole JSON only when the parse
# yields exactly two elements and the second carries the body back. Text
# after the object can close the array early or add elements, but cannot
# forge the second element: its decoded string would have to contain
# itself.
_JSON_SCHEMA = "array<struct<time: string, stream: string, log: string, body: string>>"
# RFC 8259, as Go's encoding/json: no single quotes, no NaN/Infinity
_JSON_OPTIONS = {"allowSingleQuotes": "false", "allowNonNumericNumbers": "false"}


def _first_between(s: Column, open_tag: str, close_tag: str) -> Column:
    """The text between the first ``open_tag`` and the first ``close_tag``
    after it, NULL when either is missing: the lazy first match of
    ``open_tag(.*?)close_tag`` by substring search."""
    start = F.locate(open_tag, s) + len(open_tag)
    end = F.call_function("locate", F.lit(close_tag), s, start)
    return F.when((start > len(open_tag)) & (end > 0), F.substr(s, start, end - start))


def parse_stage(pages: DataFrame) -> DataFrame:
    r"""pages(url, warc_ts, html, text, lang) -> parsed log records.

    Decodes each page, takes the first ``<title>`` and ``<pre>`` body and
    the status meta, routes the body across the three k8s container
    formats and extracts their fields, all as JVM expressions: no Python
    worker runs. Router predicates mirror otel-collector-config.yml:13-21:
    body starting with ``{`` -> docker JSON (C); rfc3339 'T...Z' prefix ->
    CRI (B); plain date prefix -> testbed text format (A); anything else is
    refused (parse_ok=false). The extracted ``message`` must be
    byte-identical to the page's golden ``text`` column (north_star per-row
    invariant), which rides along for the tests; production reads would not
    select it, and column pruning keeps it out of the scan.

    The decoded page and the ``<pre>`` body are computed once, in their own
    projections, and every field reads them: inlined into each field they
    made the stage 2.4x slower. The JSON is parsed once, by one
    ``from_json``; format C rows alone reach it.

    Decisions on inputs the formats leave open:

    - ``\d`` matches ASCII digits only, as in Go's RE2: ``٢٠٢٤-٠١-٠١ INFO
      hi`` is refused, and a non-ASCII status number reads as no status.
    - Invalid UTF-8 becomes U+FFFD per maximal ill-formed subsequence,
      exactly as Python's ``decode("utf-8", errors="replace")``.
    - Format C needs the whole body to be one JSON object (RFC 8259, as
      Go's ``encoding/json``): trailing whitespace is allowed, any other
      trailing data, single quotes, NaN and Infinity refuse the page.
      Duplicate keys keep the last value.
    - A non-string JSON value gives its field Spark's JSON text of the
      value (``"log": 5`` -> ``'5'``, ``1.0e5`` -> ``'100000.0'``, nested
      values compact); JSON null gives NULL. An escaped lone surrogate
      (``\ud800``) decodes to ``?``.
    - A status number outside the int range gives status NULL.
    """
    page = pages.select("*", F.make_valid_utf8(F.col("html").cast("string")).alias("_page"))
    s = F.col("_page")
    with_body = page.select(
        "*", F.coalesce(_first_between(s, "<pre>", "</pre>"), F.lit("")).alias("_body")
    )
    b = F.col("_body")
    wrapped = F.concat(F.lit("["), b, F.lit(","), F.to_json(F.struct(b.alias("body"))), F.lit("]"))
    routed = with_body.select(
        "*",
        b.rlike(_FMT_A_RE).alias("_is_a"),
        b.rlike(_FMT_B_RE).alias("_is_b"),
        F.when(b.startswith("{"), F.from_json(wrapped, _JSON_SCHEMA, _JSON_OPTIONS)).alias("_json"),
    )
    is_a, is_b = F.col("_is_a"), F.col("_is_b")
    obj = F.try_element_at("_json", F.lit(1))
    is_c = (F.size("_json") == 2) & (F.try_element_at("_json", F.lit(2))["body"] == b)
    fmt = F.when(is_a, "A").when(is_b, "B").when(is_c, "C")

    # A: <date> <SEV> <message>
    a_sev = F.substring_index(F.substr(b, F.lit(12)), " ", 1)
    a_msg = F.substr(b, F.length(a_sev) + 13)
    # B: <time> <stream> <tag>[ ]<message>
    b_time = F.substring_index(b, " ", 1)
    b_stream = F.substr(b, F.length(b_time) + 2, F.lit(6))
    b_rest = F.substr(b, F.length(b_time) + 9)
    b_msg = F.substr(b_rest, F.length(F.substring_index(b_rest, " ", 1)) + 2)

    fields = routed.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        "_page",
        fmt.alias("fmt"),
        F.when(is_a, F.substr(b, F.lit(1), F.lit(10))).when(is_b, b_time)
        .when(is_c, obj["time"]).alias("event_time"),
        F.when(is_a, a_sev).alias("severity_in"),
        F.when(is_b, b_stream).when(is_c, obj["stream"]).alias("stream"),
        F.when(is_a, a_msg).when(is_b, b_msg).when(is_c, obj["log"]).alias("message"),
    )
    event_time = F.col("event_time")
    sev_txt, sev_num = severity_columns(F.col("severity_in"))
    return fields.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        *url_metadata(F.col("url")),
        _first_between(s, "<title>", "</title>").alias("title"),
        "fmt",
        "event_time",
        F.coalesce(
            F.try_to_timestamp(event_time, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
            F.try_to_timestamp(event_time, F.lit("yyyy-MM-dd")),
        ).alias("event_ts"),
        "severity_in",
        sev_txt.alias("severity_text"),
        sev_num.alias("severity_number"),
        "stream",
        "message",
        F.regexp_substr(s, F.lit(_STATUS_RE)).try_cast("int").alias("status"),
        F.col("fmt").isNotNull().alias("parse_ok"),
    )
