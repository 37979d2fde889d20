"""Deterministic stratified sampling for training-data mixture curation.

Every LLM corpus pipeline ends with a MIXTURE step: given per-stratum
document pools (language, source, quality bucket), sample each stratum at
its own rate so the final corpus hits target proportions (GPT-3 §2.2
weights Common Crawl vs books vs wikipedia; The Pile, ROOTS and FineWeb
publish per-source sampling weights the same way).  At 10^12 rows the
sampler must be

- **deterministic and reproducible**: re-running the job — or resuming a
  failed partition — must admit exactly the same documents.  ``rand()``
  is neither (per-task seeds change with partitioning), so the decision
  is a pure hash of the document id: ``md5(salt || id) mod 1e6 <
  round(rate * 1e6)``.  Changing ``salt`` draws an independent sample;
  keeping it fixes the sample forever.
- **a map-only stage**: no shuffle, no state — the filter composes with
  the parquet scan and pushes the rate decision to every executor
  independently.  Rates ride in as a literal CASE over the (tiny,
  driver-known) stratum set, never a join.
- **engine-exact**: the hash/threshold arithmetic is integer-only and
  shared with the DuckDB twin (dedup.md5_int / md5_int_sql), so the
  oracle admits byte-identical document sets.

Reference framing: the collector's sampling policies
(processor/tailsamplingprocessor/sampling/policy.go) decide admission
per trace from its attributes; OpenTelemetry's standard probabilistic
sampler (not in this reference snapshot) hashes the trace id against a
scaled threshold for exactly this reproducibility reason.  This module
is the corpus-curation generalization: per-stratum rates, document ids
as the hash key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_int, md5_int_sql

#: hash-space denominator; rates are exact in millionths
DENOM = 1_000_000


def _thresholds(rates: dict[str, float], default_rate: float) -> tuple[dict[str, int], int]:
    """Integer admission thresholds (rate in millionths, rounded so a
    decimal rate such as 0.000249 is not truncated to 248 by binary float
    error) — computed once driver-side so Spark and any oracle share the
    exact literal."""
    return (
        {k: int(round(v * DENOM)) for k, v in rates.items()},
        int(round(default_rate * DENOM)),
    )


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Admit each row iff hash(salt || id) mod 1e6 < round(rate[stratum]
    * 1e6).  Adds ``hash_bucket`` (the row's position in the hash space)
    so downstream audits can verify the decision without re-hashing."""
    thr, dflt = _thresholds(rates, default_rate)
    threshold = F.lit(dflt)
    for k, t in sorted(thr.items()):
        threshold = F.when(F.col(stratum_col) == k, F.lit(t)).otherwise(threshold)
    bucket = F.pmod(md5_int(F.col(id_col).cast("string"), salt=salt), F.lit(DENOM))
    return (
        docs.withColumn("hash_bucket", bucket)
        .filter(F.col("hash_bucket") < threshold)
    )


def stratified_sample_sql(
    relation: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> str:
    """DuckDB twin admitting the byte-identical document set."""
    thr, dflt = _thresholds(rates, default_rate)
    keys = {k: k.replace("'", "''") for k in thr}
    cases = " ".join(
        f"WHEN {stratum_col} = '{keys[k]}' THEN {t}"
        for k, t in sorted(thr.items())
    )
    h = md5_int_sql(f"CAST({id_col} AS VARCHAR)", salt=salt)
    return (
        f"SELECT *, {h} % {DENOM} AS hash_bucket FROM {relation} "
        f"WHERE {h} % {DENOM} < (CASE {cases} ELSE {dflt} END)"
    )


def mixture_rates(
    counts: dict[str, int], targets: dict[str, float]
) -> dict[str, float]:
    """Per-stratum sampling rates that hit target mixture proportions
    while retaining the maximum amount of data.

    The binding stratum is the one with the least data relative to its
    target share: feasible corpus size T = min_s(count_s / target_s)
    (sampling only discards — no stratum can be upweighted past rate 1.0).
    Every stratum then contributes T * target_s docs, i.e. rate_s =
    T * target_s / count_s; the binding stratum gets rate 1.0 exactly.
    Driver-side math over the per-stratum count aggregate (|strata| rows),
    feeding :func:`stratified_sample` — the 10^12-row table is touched
    only by the map-only sampler itself.
    """
    total_target = sum(targets.values())
    if total_target <= 0:
        # no target mass (empty or all-zero targets): nothing to sample
        return {k: 0.0 for k in targets}
    shares = {k: v / total_target for k, v in targets.items()}
    # a positive-target stratum with no data makes the mixture infeasible
    # at any size — every rate collapses to 0 rather than KeyError/div0
    feasible = min(
        counts.get(k, 0) / shares[k] for k in shares if shares[k] > 0
    )
    return {
        k: (feasible * shares[k] / counts[k]
            if shares[k] > 0 and counts.get(k, 0) > 0 else 0.0)
        for k in shares
    }
