"""Property tests: core LLM-pipeline operators vs independent pure-Python
models on hypothesis-generated corpora.

Same discipline as tests/test_substring_dedup_property.py: tiny
vocabularies make collisions COMMON, so generated inputs stress the
interesting branches (fully-duplicated corpora, empty docs, chained
components, boundary buckets) that a fixed fixture never covers. Each
model recomputes the semantics from the published definition with no
shared code:

- paragraph_dedup  -> CCNet §3.2 first-occurrence winner (Wenzek et al.)
- connected_components -> union-find with min-label components
- canonicalize_url -> RFC 3986 §6 idempotence + output invariants
- qsketch          -> DDSketch bucket/rank determinism + merge identity
- minhash_lsh_pairs -> exact-duplicate recall guarantee + verified
                       jaccard == true set jaccard on every emitted pair
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.functions import urlutil
from opentelemetry_collector_contrib_spark.operators import dedup, qsketch

from pyspark.sql import functions as F

PROP = settings(max_examples=10, deadline=None,
                suppress_health_check=list(HealthCheck))


# ---------------------------------------------------------------------------
# paragraph_dedup (CCNet §3.2)
# ---------------------------------------------------------------------------

PARA_VOCAB = ["alpha", "bb", "c", "dd dd", "eee"]

para_corpus_st = st.lists(
    st.lists(st.sampled_from(PARA_VOCAB), min_size=0, max_size=6),
    min_size=1, max_size=5,
)


def _para_model(texts: list[str], sep: str = "\n\n"):
    """First corpus-wide occurrence of each paragraph (ordered by
    (doc id, position)) survives; docs reassemble in original order."""
    winner: dict[str, tuple[int, int]] = {}
    split = [t.split(sep) for t in texts]
    for did, paras in enumerate(split):
        for pos, p in enumerate(paras):
            if p not in winner:
                winner[p] = (did, pos)
    out = {}
    for did, paras in enumerate(split):
        kept = [p for pos, p in enumerate(paras) if winner[p] == (did, pos)]
        out[did] = (sep.join(kept), len(kept), len(paras))
    return out


@PROP
@given(para_corpus_st)
def test_paragraph_dedup_matches_python_model(spark, corpus):
    texts = ["\n\n".join(paras) for paras in corpus]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_total"])
        for r in dedup.paragraph_dedup(df).collect()
    }
    assert got == _para_model(texts)


# ---------------------------------------------------------------------------
# connected_components (min-label propagation)
# ---------------------------------------------------------------------------

edges_st = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1, max_size=12,
)


def _cc_model(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@PROP
@given(edges_st)
def test_connected_components_match_union_find(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["label"]
           for r in dedup.connected_components(df).collect()}
    assert got == _cc_model(edges)


# ---------------------------------------------------------------------------
# canonicalize_url (RFC 3986 §6): idempotence + invariants
# ---------------------------------------------------------------------------

label_st = st.sampled_from(["Example", "www", "CDN", "shop", "x9"])
param_st = st.sampled_from(
    ["b=1", "a=2", "utm_source=x", "gclid=Z", "ref=nav", "z=9&", "q=a b"])

url_st = st.builds(
    lambda scheme, labels, port, segs, slash, params, frag:
        scheme + "://" + ".".join(labels)
        + port
        + ("/" + "/".join(segs) if segs else "")
        + slash
        + ("?" + "&".join(params) if params else "")
        + frag,
    st.sampled_from(["http", "HTTP", "https", "ftp"]),
    st.lists(label_st, min_size=1, max_size=3),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.lists(st.sampled_from(["a", "B", "c%20d"]), min_size=0, max_size=3),
    st.sampled_from(["", "/", "//"]),
    st.lists(param_st, min_size=0, max_size=4),
    st.sampled_from(["", "#frag", "#a#b"]),
)


@PROP
@given(st.lists(url_st, min_size=1, max_size=8))
def test_canonicalize_url_idempotent_and_invariant(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url",
        urlutil.canonicalize_url(F.col("url")).alias("c1"),
    ).select(
        "url", "c1", urlutil.canonicalize_url(F.col("c1")).alias("c2"),
    ).collect()
    for r in out:
        # idempotence: canonical form is a fixed point
        assert r["c2"] == r["c1"], r["url"]
        assert "#" not in r["c1"]
        scheme, rest = r["c1"].split("://", 1)
        hostport = rest.split("/", 1)[0]
        assert hostport == hostport.lower()
        # default ports dropped for their own scheme only (§6.2.3)
        if scheme == "http":
            assert not hostport.endswith(":80")
        if scheme == "https":
            assert not hostport.endswith(":443")
        if "?" in r["c1"]:
            qs = r["c1"].split("?", 1)[1].split("&")
            assert qs == sorted(qs)
            assert all(not p.startswith(("utm_", "gclid=", "fbclid=",
                                         "msclkid=", "ref=")) for p in qs)
        else:
            assert not r["c1"].endswith("?")


# ---------------------------------------------------------------------------
# qsketch (DDSketch, gamma=2, fixed-point buckets)
# ---------------------------------------------------------------------------

vals_st = st.lists(st.integers(1, 1_000_000), min_size=1, max_size=60)


def _bucket_model(v: int, scale: int = 100) -> int:
    s = v * scale
    return -1 if s <= 0 else s.bit_length() - 1


@PROP
@given(vals_st, st.sampled_from([0.5, 0.9, 0.99]))
def test_qsketch_quantile_bucket_is_exact_rank_bucket(spark, vals, q):
    # integer-valued doubles make round(v*scale) exact in both engines
    df = spark.createDataFrame(
        [("k", float(v)) for v in vals], "key string, value double")
    sk = qsketch.sketch_build(df, ["key"], "value")
    row = qsketch.sketch_quantile(sk, ["key"], q).collect()[0]
    rank = max(1, math.ceil(q * len(vals)))
    true_val = sorted(vals)[rank - 1]
    assert row["n"] == len(vals)
    assert row["bucket"] == _bucket_model(true_val)
    # relative-error guarantee of the midpoint estimate at gamma=2
    assert row["quantile_est"] <= 2.0 * true_val
    assert row["quantile_est"] >= true_val / 2.0


@PROP
@given(vals_st)
def test_qsketch_merge_identity(spark, vals):
    """sketch(parts) merged == sketch(whole), row-exact (DDSketch merge)."""
    half = len(vals) // 2
    whole = spark.createDataFrame(
        [("k", float(v)) for v in vals], "key string, value double")
    parts = spark.createDataFrame(
        [("k", "a" if i < half else "b", float(v))
         for i, v in enumerate(vals)],
        "key string, part string, value double")
    direct = {(r["bucket"], r["bucket_count"])
              for r in qsketch.sketch_build(whole, ["key"], "value").collect()}
    merged = {(r["bucket"], r["bucket_count"])
              for r in qsketch.sketch_merge(
                  qsketch.sketch_build(parts, ["key", "part"], "value"),
                  ["key"]).collect()}
    assert merged == direct


# ---------------------------------------------------------------------------
# minhash LSH: exact-duplicate recall + verified jaccard correctness
# ---------------------------------------------------------------------------

N_GRAM = 2
doc_st = st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=0, max_size=8)


def _gram_set(toks: list[str]) -> frozenset:
    if len(toks) < N_GRAM:
        return frozenset()
    return frozenset(
        " ".join(toks[i:i + N_GRAM]) for i in range(len(toks) - N_GRAM + 1))


@PROP
@given(st.lists(doc_st, min_size=2, max_size=6))
def test_minhash_lsh_recall_and_verified_jaccard(spark, corpus):
    texts = [" ".join(t) for t in corpus]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=N_GRAM, threshold=0.5).collect()
    }
    grams = [_gram_set(t) for t in corpus]
    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            if grams[i] and texts[i] == texts[j]:
                # identical docs share every band -> guaranteed candidate
                assert pairs.get((i, j)) == 1.0
    for (a, b), jac in pairs.items():
        inter = len(grams[a] & grams[b])
        union = len(grams[a] | grams[b])
        assert union > 0
        # the operator rounds to 6 decimals, as its DuckDB twin's ROUND(, 6);
        # unions of at most 16 bigrams put no ratio on a rounding tie
        assert jac == round(inter / union, 6)
        assert jac >= 0.5


# ---------------------------------------------------------------------------
# simhash: per-doc value model + pigeonhole banding equivalence
# ---------------------------------------------------------------------------

import hashlib

SIM_BITS = 8


def _md5_int_model(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _simhash_model(text: str) -> int:
    toks = list(dict.fromkeys(text.split(" ")))  # distinct, order-free sum
    out = 0
    for i in range(SIM_BITS):
        vote = sum(
            1 if (_md5_int_model(t) >> i) & 1 else -1 for t in toks)
        if vote > 0:
            out |= 1 << i
    return out


@PROP
@given(st.lists(doc_st, min_size=2, max_size=6))
def test_simhash_value_model_and_banded_equivalence(spark, corpus):
    texts = [" ".join(t) for t in corpus]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc"]: r["simhash"]
           for r in dedup.simhash(df, "doc_id", "text", bits=SIM_BITS).collect()}
    assert got == {i: _simhash_model(t) for i, t in enumerate(texts)}
    exact = {(r["doc_a"], r["doc_b"], r["hamming"])
             for r in dedup.simhash_pairs(
                 df, "doc_id", "text", bits=SIM_BITS, max_hamming=2).collect()}
    banded = {(r["doc_a"], r["doc_b"], r["hamming"])
              for r in dedup.simhash_pairs_banded(
                  df, "doc_id", "text", bits=SIM_BITS, max_hamming=2).collect()}
    assert banded == exact


# ---------------------------------------------------------------------------
# contamination screen (GPT-3 appendix C)
# ---------------------------------------------------------------------------

@PROP
@given(st.lists(doc_st, min_size=1, max_size=5),
       st.lists(doc_st, min_size=1, max_size=3))
def test_contamination_matches_python_model(spark, corpus, bench):
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(corpus)],
        "doc_id long, text string")
    bench_df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(bench)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
           for r in dedup.contamination_flags(
               docs, bench_df, n=N_GRAM).collect()}
    bench_grams = frozenset().union(*[_gram_set(t) for t in bench])
    expect = {}
    for i, toks in enumerate(corpus):
        n_hit = len(_gram_set(toks) & bench_grams)
        expect[i] = (n_hit, n_hit > 0)
    assert got == expect


# ---------------------------------------------------------------------------
# statsd line grammar (statsd_parser.go): split-based model, no regex
# ---------------------------------------------------------------------------

from opentelemetry_collector_contrib_spark.operators import statsd

_NUM = set("0123456789.")


def _num_ok(s: str) -> bool:
    return len(s) > 0 and set(s) <= _NUM


def _try_float(s):
    try:
        return float(s)
    except ValueError:
        return None


def _statsd_model(line: str):
    """From-the-definition parse: name ':' value '|' type ['|@'rate]
    ['|#'tags] — implemented by splitting, not by the shared regex."""
    invalid = ("", None, "", None, None)
    if ":" not in line:
        return invalid
    name, rest = line.split(":", 1)
    if not name:
        return invalid
    parts = rest.split("|")
    if len(parts) < 2:
        return invalid
    value = parts[0]
    sign_stripped = value[1:] if value[:1] in "+-" else value
    if not _num_ok(sign_stripped):
        return invalid
    mtype = parts[1]
    if mtype not in ("c", "g", "ms", "h"):
        return invalid
    rate = None
    tags = None
    i = 2
    if i < len(parts) and parts[i].startswith("@"):
        if not _num_ok(parts[i][1:]):
            return invalid
        rate = _try_float(parts[i][1:])
        i += 1
    if i < len(parts):
        trailer = "|".join(parts[i:])
        if not trailer.startswith("#"):
            return invalid
        tags = trailer[1:] or None
        i = len(parts)
    return (name, _try_float(value), mtype, rate, tags)


_charset = st.sampled_from(list("ab01:|@#.-+"))
garbage_st = st.text(alphabet="ab01:|@#.-+", min_size=0, max_size=18)
valid_st = st.builds(
    lambda n, v, t, r, g: f"{n}:{v}|{t}" + (f"|@{r}" if r else "")
    + (f"|#{g}" if g is not None else ""),
    st.sampled_from(["m", "a.b", "x|y", "c@d"]),
    st.sampled_from(["1", "-2.5", "+0.1", "3.", "1.2.3"]),
    st.sampled_from(["c", "g", "ms", "h", "s", "MS"]),
    st.sampled_from([None, "1", "0.5", "2."]),
    st.sampled_from([None, "", "k:v", "k:v,l:w", "odd|bar"]),
)


@PROP
@given(st.lists(st.one_of(garbage_st, valid_st), min_size=1, max_size=15))
def test_statsd_parse_matches_split_model(spark, lines):
    df = spark.createDataFrame([(i, ln) for i, ln in enumerate(lines)],
                               "i long, line string")
    got = {
        r["i"]: (r["metric_name"], r["metric_value"], r["metric_type"],
                 r["sample_rate"], r["tags"])
        for r in statsd.parse_statsd_lines(df).collect()
    }
    assert got == {i: _statsd_model(ln) for i, ln in enumerate(lines)}
