"""Deterministic stratified sampling (operators/sampling.py)."""

from __future__ import annotations

import pytest

from opentelemetry_collector_contrib_spark.operators import sampling

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pool(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(3000)]
    return spark.createDataFrame(rows, "doc_id long, lang string").cache()


def test_sample_is_deterministic_and_partitioning_invariant(spark, pool):
    out1 = sampling.stratified_sample(pool, "lang", {"en": 0.4, "de": 0.8})
    ids1 = {r["doc_id"] for r in out1.collect()}
    # same decision regardless of physical layout (pure hash of the id)
    out2 = sampling.stratified_sample(
        pool.repartition(17, "lang"), "lang", {"en": 0.4, "de": 0.8})
    assert {r["doc_id"] for r in out2.collect()} == ids1
    # a different salt draws an independent sample
    out3 = sampling.stratified_sample(
        pool, "lang", {"en": 0.4, "de": 0.8}, salt="other")
    assert {r["doc_id"] for r in out3.collect()} != ids1


def test_rates_hit_within_hash_noise(spark, pool):
    out = sampling.stratified_sample(
        pool, "lang", {"en": 0.4}, default_rate=0.9)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(got["en"] / 2000 - 0.4) < 0.05
    assert abs(got["de"] / 1000 - 0.9) < 0.05


def test_zero_and_full_rates_are_exact(spark, pool):
    out = sampling.stratified_sample(pool, "lang", {"en": 1.0, "de": 0.0})
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"en": 2000}


def test_hash_bucket_column_matches_admission(spark, pool):
    thr = {"en": 400000, "de": 800000}
    out = sampling.stratified_sample(
        pool, "lang", {"en": 0.4, "de": 0.8}).collect()
    assert all(r["hash_bucket"] < thr[r["lang"]] for r in out)


def test_mixture_rates_math():
    counts = {"en": 1000, "de": 100, "fr": 400}
    targets = {"en": 0.6, "de": 0.1, "fr": 0.3}
    rates = sampling.mixture_rates(counts, targets)
    # de is binding (least data relative to its share) -> rate exactly 1
    assert rates["de"] == pytest.approx(1.0)
    sampled = {k: counts[k] * rates[k] for k in counts}
    total = sum(sampled.values())
    for k in targets:
        assert sampled[k] / total == pytest.approx(targets[k])
    assert all(0.0 <= r <= 1.0 for r in rates.values())


def test_mixture_rates_zero_target_drops_stratum():
    rates = sampling.mixture_rates(
        {"en": 10, "junk": 999}, {"en": 1.0, "junk": 0.0})
    assert rates == {"en": pytest.approx(1.0), "junk": 0.0}


def test_sample_plan_is_map_only_and_pruned(spark):
    """The mixture sampler must compose with the scan: no Exchange
    anywhere (pure map stage) and the parquet read pruned to the
    referenced columns."""
    import contextlib
    import io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sampling.stratified_sample(
        docs.select("doc_id", "lang"), "lang", {"en": 0.5}, default_rate=0.1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_mixture_rates_infeasible_stratum_collapses_to_zero():
    # a positive-target stratum with no data makes the mixture
    # unachievable at any corpus size, and empty or all-zero targets have
    # no mass to share out; every rate is 0, no exception
    for targets in ({"en": 0.5, "missing": 0.5}, {},
                    {"en": 0.0, "missing": 0.0}):
        rates = sampling.mixture_rates({"en": 1000}, targets)
        assert rates == {k: 0.0 for k in targets}


# ---------------------------------------------------------------------------
# property: admission decisions vs an independent hashlib model
# ---------------------------------------------------------------------------

import hashlib

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

ids_st = st.lists(st.integers(0, 10**9), min_size=1, max_size=30,
                  unique=True)
# 0.000249 * 1e6 is 248.99999999999997 in binary floating point
rate_st = st.sampled_from([0.0, 0.000249, 0.1, 0.317, 0.5, 0.999, 1.0])


def _admit_model(doc_id: int, rate: float, salt: str) -> bool:
    h = int(hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:15], 16)
    return h % 1_000_000 < round(rate * 1_000_000)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(ids_st, rate_st, rate_st)
# doc 2485945 hashes (salt "p") to bucket 248: admitted at rate 0.000249
# only if the threshold is the rate's exact millionths
@example(ids=[2485945], rate_en=0.000249, rate_default=0.0)
def test_admission_matches_hashlib_model(spark, ids, rate_en, rate_default):
    # the stratum key carries a quote, which the SQL twin must escape
    rows = [(i, "e'n" if i % 2 else "de") for i in ids]
    rates = {"e'n": rate_en}
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {r["doc_id"] for r in sampling.stratified_sample(
        df, "lang", rates, default_rate=rate_default, salt="p").collect()}
    expect = {i for i, lang in rows
              if _admit_model(i, rate_en if lang == "e'n" else rate_default,
                              "p")}
    assert got == expect
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, lang VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    sql = sampling.stratified_sample_sql(
        "docs", "lang", rates, default_rate=rate_default, salt="p")
    assert {r[0] for r in con.execute(sql).fetchall()} == expect
