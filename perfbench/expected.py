"""Engine-independent expected-output model for the benchmark workloads.

Nothing here touches Spark or the package: every expected count is plain
Python arithmetic over document ids, following the page derivation that
``synth.page_derivation_sql`` documents:

- ``doc_id % 23 == 0`` is a corrupt body, so the parse refuses it;
- ``doc_id % 17 == 0`` (HTTP 404) or ``doc_id % 13 == 0`` (HTTP 500) is
  quarantined;
- the rest route by language: ``en`` and ``de`` have their own sink,
  every other language goes to the default sink;
- the event day is ``2024-01-01 + doc_id % 7``.

Lane order follows the pipeline's routing config: refused, then
quarantine, then the language table, then the default.
"""

from __future__ import annotations

from collections import Counter

ROUTES = ("sink_refused", "sink_quarantine", "sink_en", "sink_de", "sink_other")
LANG_SINKS = {"en": "sink_en", "de": "sink_de"}
DAYS = tuple(f"2024-01-0{d + 1}" for d in range(7))


def synth_lang(doc_id: int) -> str:
    """Language of a generated document (``synth.synth_documents``)."""
    r = doc_id % 20
    if r < 8:
        return "en"
    if r < 12:
        return "de"
    if r < 15:
        return "fr"
    if r < 18:
        return "zh"
    return "es"


def route_of(doc_id: int, lang: str) -> str:
    if doc_id % 23 == 0:
        return "sink_refused"
    if doc_id % 17 == 0 or doc_id % 13 == 0:
        return "sink_quarantine"
    return LANG_SINKS.get(lang, "sink_other")


def day_of(doc_id: int) -> str:
    return DAYS[doc_id % 7]


def route_day_counts(docs) -> Counter:
    """Expected sink rows per ``(route, day)`` for ``(doc_id, lang)`` pairs."""
    return Counter((route_of(d, lang), day_of(d)) for d, lang in docs)


def route_counts(docs) -> dict[str, int]:
    """Expected rows per route; routes with no rows are left out, as the
    pipeline's own route counts leave them out."""
    c = Counter(route_of(d, lang) for d, lang in docs)
    return {r: n for r, n in c.items() if n}


def synth_docs(lo: int, n: int) -> list[tuple[int, str]]:
    """``(doc_id, lang)`` of the generated documents ``lo .. lo + n - 1``."""
    return [(d, synth_lang(d)) for d in range(lo, lo + n)]


def check_batch(docs, route_counts_seen: dict[str, int],
                sink_counts: dict[tuple[str, str], int],
                calls_by_route: dict[str, int], timer_count: int) -> list[str]:
    """Problems with one batch run; empty when the run is correct.

    ``calls_by_route`` is ``sum(calls_total)`` of the span metrics per route
    and ``timer_count`` is ``sum(timer_count)`` of the window aggregate: both
    must conserve every parsed (not refused) row.
    """
    problems = []
    want = route_counts(docs)
    if route_counts_seen != want:
        problems.append(f"route counts {route_counts_seen} != {want}")
    want_sinks = route_day_counts(docs)
    if dict(sink_counts) != dict(want_sinks):
        problems.append("sink rows per (route, day) differ from the model")
    parsed = {r: n for r, n in want.items() if r != "sink_refused"}
    if calls_by_route != parsed:
        problems.append(f"span calls_total {calls_by_route} != {parsed}")
    if timer_count != sum(parsed.values()):
        problems.append(f"window timer_count {timer_count} != {sum(parsed.values())}")
    return problems


def check_resume(docs, crashed: list[str], resumed: list[str],
                 manifest_done: set[str], fail_after: int,
                 sink_counts: dict[tuple[str, str], int]) -> list[str]:
    """Problems with one crash + resume pair; empty when it is correct:
    the crash commits the first ``fail_after`` days, the resume the rest,
    no day twice, every day in the manifest, and the sinks hold every row
    exactly once."""
    problems = []
    days = sorted({day_of(d) for d, _ in docs})
    if crashed != days[:fail_after]:
        problems.append(f"crashed run wrote {crashed}, want {days[:fail_after]}")
    if resumed != days[fail_after:]:
        problems.append(f"resume wrote {resumed}, want {days[fail_after:]}")
    if manifest_done != set(days):
        problems.append(f"manifest holds {sorted(manifest_done)}, want {days}")
    if dict(sink_counts) != dict(route_day_counts(docs)):
        problems.append("sink rows per (route, day) differ from the model")
    return problems

