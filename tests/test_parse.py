"""Parse stage: byte-identical extraction (north_star per-row invariant),
field-level agreement with the construction-side oracle, and agreement
with an independent per-row Python model on generated pages."""

from __future__ import annotations

import contextlib
import io
import json
import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import synth
from opentelemetry_collector_contrib_spark.functions import parse
from opentelemetry_collector_contrib_spark.plans import runner

# ---------------------------------------------------------------------------
# independent model: one page at a time, Python re + json
# ---------------------------------------------------------------------------

_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
_PRE_RE = re.compile(r"<pre>(.*?)</pre>", re.S)
_STATUS_RE = re.compile(r'http-equiv="status" content="(\d+)"', re.A)
_FMT_A_RE = re.compile(r"^(\d{4}-\d{2}-\d{2}) ([A-Z0-9]*) (.*)$", re.S | re.A)
_FMT_B_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z) (stdout|stderr) ([^ ]*) ?(.*)$",
    re.S | re.A,
)
_SURROGATE_RE = re.compile("[\ud800-\udfff]")
FIELDS = ["title", "fmt", "event_time", "severity_in", "stream", "message",
          "status", "parse_ok"]


def _refuse_constant(name):
    raise ValueError(f"non-RFC 8259 constant {name}")


def _json_text(v):
    """A JSON value read as a STRING field: strings as decoded (a lone
    surrogate becomes '?'), other values as compact JSON text (the model
    covers ints, booleans and nested arrays/objects of them and strings)."""
    if v is None:
        return None
    if isinstance(v, str):
        return _SURROGATE_RE.sub("?", v)
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def model_parse(html: bytes | None) -> dict:
    """One page through the parse the pipeline used to run as a pandas
    UDF, plus the decisions ``parse_stage`` documents: ASCII ``\\d``,
    RFC 8259 JSON, non-string values as JSON text, out-of-int status as
    NULL."""
    s = (html or b"").decode("utf-8", errors="replace")
    m = _TITLE_RE.search(s)
    out = dict.fromkeys(FIELDS)
    out["title"] = m.group(1) if m else None
    m = _STATUS_RE.search(s)
    out["status"] = int(m.group(1)) if m and int(m.group(1)) < 2**31 else None
    m = _PRE_RE.search(s)
    body = m.group(1) if m else ""
    a = _FMT_A_RE.match(body)
    b = _FMT_B_RE.match(body)
    if a:
        out.update(fmt="A", event_time=a[1], severity_in=a[2], message=a[3])
    elif b:
        out.update(fmt="B", event_time=b[1], stream=b[2], message=b[4])
    elif body.startswith("{"):
        try:
            obj = json.loads(body, parse_constant=_refuse_constant)
        except ValueError:
            obj = None
        if isinstance(obj, dict):
            out.update(fmt="C", event_time=_json_text(obj.get("time")),
                       stream=_json_text(obj.get("stream")),
                       message=_json_text(obj.get("log")))
    out["parse_ok"] = out["fmt"] is not None
    return out


def _parse_pages(spark, htmls: list) -> dict:
    """parse_stage over ad-hoc pages; result rows keyed by list index."""
    df = spark.createDataFrame(list(enumerate(htmls)), "i long, html binary")
    pages = df.select(
        F.concat(F.lit("https://d.example.com/en/s1/page-"), F.col("i").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "html", F.lit("").alias("text"), F.lit("en").alias("lang"),
    )
    return {r["page_id"]: {c: r[c] for c in FIELDS}
            for r in parse.parse_stage(pages).select("page_id", *FIELDS).collect()}


def _page(body: str, title: str = "t", status: str = "200") -> bytes:
    return (f'<html><head><title>{title}</title><meta http-equiv="status" '
            f'content="{status}"></head><body><pre>{body}</pre></body></html>').encode()


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
    htmls = [
        # pre before the status meta, plus a second pre after it
        "<html><pre>2024-01-01 INFO first</pre>"
        '<title>t1</title><meta http-equiv="status" content="200"/>'
        "<pre>2024-01-02 WARN second</pre></html>",
        # duplicated title and status: first of each wins
        "<html><title>first-title</title>"
        '<meta http-equiv="status" content="301"/>'
        '<title>second-title</title>'
        '<meta http-equiv="status" content="502"/>'
        "<pre>2024-01-03 ERROR msg</pre></html>",
    ]
    out = _parse_pages(spark, [h.encode() for h in htmls])
    assert out[0]["title"] == "t1"
    assert out[0]["status"] == 200
    assert out[0]["message"] == "first"
    assert out[0]["severity_in"] == "INFO"
    assert out[1]["title"] == "first-title"
    assert out[1]["status"] == 301
    assert out[1]["message"] == "msg"


# (page, field values parse_stage must give): each decision the
# parse_stage docstring documents, pinned on one page
EDGE_CASES = [
    # \d is ASCII-only, as in Go's RE2
    (_page("\u0662\u0660\u0662\u0664-\u0660\u0661-\u0660\u0661 INFO hi"), {"parse_ok": False}),
    (_page("2024-01-01 INFO hi", status="\u0662\u0660\u0660"), {"status": None, "message": "hi"}),
    # trailing data after the JSON object refuses the page; whitespace does not
    (_page('{"log": "a"} trailing'), {"parse_ok": False}),
    (_page('{"log": "a"}]'), {"parse_ok": False}),
    (_page('{"log": "a"},{"body":"{\\"log\\": \\"a\\"}"}]'), {"parse_ok": False}),
    (_page('{"log": "a"}{"log": "b"}'), {"parse_ok": False}),
    (_page('{"log": "a"} \r\n'), {"fmt": "C", "message": "a"}),
    # non-string JSON values give their JSON text; out-of-int status is NULL
    (_page('{"log": 5}'), {"fmt": "C", "message": "5"}),
    (_page('{"log": {"x": [1, "b"], "y": null}, "time": true}'),
     {"message": '{"x":[1,"b"],"y":null}', "event_time": "true"}),
    (_page('{"log": 1.0e5}'), {"message": "100000.0"}),
    (_page('{"log": "a"}', status="99999999999"), {"fmt": "C", "status": None}),
    (_page('{"log": "a"}', status="2147483647"), {"status": 2147483647}),
    # duplicate keys keep the last value; RFC 8259 only
    (_page('{"log": "a", "log": "b"}'), {"message": "b"}),
    (_page("{'log': 'a'}"), {"parse_ok": False}),
    (_page('{"log": NaN}'), {"parse_ok": False}),
    (_page('{"log": "a\nb"}'), {"parse_ok": False}),
    (_page('{"log":"\\ud800"}'), {"message": "?"}),
    # invalid UTF-8 becomes U+FFFD per maximal subpart
    (b"<title>\xff\xfe</title><pre>2024-01-01 INFO \xc0\xafx\xf0\x9f\x98</pre>",
     {"title": "\ufffd\ufffd", "message": "\ufffd\ufffdx\ufffd"}),
    # CR/LF, empty and missing <pre>, non-object JSON
    (_page("2024-01-01  msg\r\nline2"), {"severity_in": "", "message": "msg\r\nline2"}),
    (_page("2024-01-01T00:00:00.5Z stderr F"), {"fmt": "B", "stream": "stderr", "message": ""}),
    (_page(""), {"parse_ok": False}),
    (b"<html><title>t</title>no pre</html>", {"parse_ok": False, "title": "t"}),
    (_page("[1, 2]"), {"parse_ok": False}),
    (None, {"parse_ok": False, "title": None}),
    # 1 MB pages parse (no regex recursion over the page)
    (_page("2024-01-01 INFO " + "x" * 1_000_000), {"fmt": "A"}),
    (_page('{"log": "' + "y" * 1_000_000 + '"}'), {"fmt": "C"}),
    (_page("2024-01-01T00:00:00Z stdout F " + "z " * 500_000), {"fmt": "B"}),
]


def test_edge_cases_follow_documented_decisions(spark):
    got = _parse_pages(spark, [h for h, _ in EDGE_CASES])
    for i, (html, expect) in enumerate(EDGE_CASES):
        assert got[i] == model_parse(html), i
        assert {k: got[i][k] for k in expect} == expect, i


# ---------------------------------------------------------------------------
# property: parse_stage vs the model on generated pages
# ---------------------------------------------------------------------------

_chars = st.sampled_from(list("ab Z9 <>/{}[]\":,\\\r\n\t\u00e9\x00\u0662"))
_text = st.lists(
    _chars | st.sampled_from(["<pre>", "</pre>", "<title>", "</title>", " INFO "]),
    max_size=8,
).map("".join)
_digit = st.sampled_from(list("0123456789\u0662"))


def _digits(n):
    return st.lists(_digit, min_size=n, max_size=n).map("".join)


_date = st.just("2024-01-02") | st.tuples(_digits(4), _digits(2), _digits(2)).map("-".join)
_fmt_a = st.tuples(_date, st.text("ABZ09a", max_size=4), _text).map(" ".join)
_fmt_b = st.builds(
    "{}T{}:{}:{}{}Z {} {}{}{}".format,
    _date, _digits(2), _digits(2), _digits(2), st.sampled_from(["", ".5", ".123456", "."]),
    st.sampled_from(["stdout", "stderr", "stdin"]), st.text("F P", max_size=3),
    st.sampled_from(["", " "]), _text,
)
_json_scalar = (st.none() | st.booleans() | st.integers(-10**25, 10**25)
                | st.text(_chars, max_size=6))
_json_value = st.recursive(
    _json_scalar,
    lambda inner: st.lists(inner, max_size=3)
    | st.dictionaries(st.sampled_from(["a", "b"]), inner, max_size=2),
    max_leaves=4,
)


@st.composite
def _fmt_c(draw):
    """A JSON object body: keys may repeat, strings may be raw (invalid
    when they hold a control character or quote), text may trail."""
    items = []
    for _ in range(draw(st.integers(0, 4))):
        key = draw(st.sampled_from(["log", "time", "stream", "x"]))
        if draw(st.booleans()):
            val = json.dumps(draw(_json_value), ensure_ascii=draw(st.booleans()))
        else:
            val = '"' + draw(st.text(_chars, max_size=6)) + '"'
        sep = draw(st.sampled_from([":", " : ", ":\r\n"]))
        items.append(f'"{key}"{sep}{val}')
    trail = draw(st.sampled_from(["", " ", "\r\n", " x", "]", "}", ",{}]",
                                  '{"log":"b"}', ' // c']))
    return "{" + ", ".join(items) + "}" + trail


_body = _fmt_a | _fmt_b | _fmt_c() | _text


@st.composite
def _html(draw):
    """Title, status meta and <pre> parts in any order, repeated or
    unclosed, with invalid UTF-8 spliced in."""
    parts = draw(st.lists(st.one_of(
        _text.map(lambda t: f"<title>{t}</title>"),
        st.text("0123456789\u0662x", max_size=12).map(
            lambda d: f'<meta http-equiv="status" content="{d}">'),
        _body.map(lambda b: f"<pre>{b}</pre>"),
        st.sampled_from(["<pre>", "<title>", "</pre>", "<html>", ""]),
    ), max_size=5))
    html = "".join(parts).encode()
    bad = draw(st.binary(max_size=3))
    at = draw(st.integers(0, len(html)))
    return html[:at] + bad + html[at:] if draw(st.booleans()) else html


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_html(), min_size=1, max_size=20))
@example([_page('{"log": "a", "log": 7}'), _page('{"log": "a"} x'),
          _page("2024-01-01 INFO hi\r\n")])
def test_parse_stage_matches_python_model(spark, htmls):
    got = _parse_pages(spark, htmls)
    for i, html in enumerate(htmls):
        assert got[i] == model_parse(html), html


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_parse_plan_is_jvm_only_with_one_json_parse(spark, sf_dir):
    """The parse and the tagged plan start no Python worker, and format C
    is parsed by one from_json (not one per field)."""
    pages = synth.pages_from_documents(spark, sf_dir)
    for df in (parse.parse_stage(pages), runner.build_tagged(spark, pages)):
        plan = _physical_plan(df)
        for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert node.lower() not in plan.lower(), node
        assert plan.count("from_json(") == 1
