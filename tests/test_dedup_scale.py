"""Scale-path guarantees for the dedup / similarity operators.

These tests pin the round-2 fixes:
  - MinHash LSH verification must be restricted to candidate pairs (no
    stage may aggregate the full all-pairs gram join);
  - the anchor-pruned embedding near-dup must be result-identical to the
    exact all-pairs join (its prune is a no-false-negative triangle-
    inequality filter, not probabilistic LSH);
  - the stop-gram knob must actually change the gram join input;
  - the gram-set plans of minhash and contamination tokenize once, push
    no gram filter below the round-robin spread, and share the band
    exchange; minhash signatures equal a hashlib model.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import re

from opentelemetry_collector_contrib_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_minhash_verify_has_no_full_gram_selfjoin(spark):
    """The quadratic shape of the unrestricted verify stage is an exchange
    hash-partitioned on the gram column alone (the all-pairs gram
    self-join). The candidate-restricted verify keys its joins by doc /
    (doc, gram), so a gram-only exchange must not appear — checked with
    broadcast disabled so every join materializes its shuffle keys."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
        )
        plan = _formatted_plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert not re.search(r"hashpartitioning\(gram#\d+, \d+\)", plan), (
        "minhash verify stage still contains a gram-only exchange "
        "(full all-pairs gram self-join)"
    )


def test_minhash_restricted_verify_matches_unrestricted_truth(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
    )
    truth = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5)
    lsh_rows = {tuple(r) for r in lsh.collect()}
    truth_rows = {tuple(r) for r in truth.collect()}
    # LSH output must be a subset of the exact truth with identical values
    assert lsh_rows <= truth_rows
    # and at these parameters it recalls every true pair on this data
    assert lsh_rows == truth_rows


def test_neardup_banded_identical_to_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {tuple(r) for r in similarity.neardup_pairs(emb, threshold=0.45).collect()}
    for n_anchors in (4, 8, 16):
        pruned = {
            tuple(r)
            for r in similarity.neardup_pairs_banded(
                emb, threshold=0.45, n_anchors=n_anchors
            ).collect()
        }
        assert pruned == exact, f"n_anchors={n_anchors} changed the result set"


def test_neardup_banded_prunes_cell_pairs(spark):
    """With clustered data the anchor prune must drop at least some cell
    pairs — otherwise it degenerates to the cross join."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.neardup_pairs_banded(emb, threshold=0.45, n_anchors=8)
    plan = _formatted_plan(out)
    # the pruned path goes through the broadcast cell-pair table
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_stopgram_filter_changes_join_input(spark):
    """A gram shared by many docs must be dropped from the intersection
    join when max_doc_freq is set (set sizes stay unfiltered)."""
    rows = [
        (1, "hot hot hot a b c"),
        (2, "hot hot hot a b d"),
        (3, "hot hot hot x y z"),
        (4, "hot hot hot x y w"),
        (5, "hot hot hot p q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    # every doc shares the shingle "hot hot hot" (doc freq 5), so every
    # pair has jaccard >= 1/7; with max_doc_freq=2 that gram is dropped
    # from the join and only genuinely-similar pairs survive
    unfiltered = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.1)
    filtered = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.1, max_doc_freq=2
    )
    u = {(r["doc_a"], r["doc_b"]) for r in unfiltered.collect()}
    f = {(r["doc_a"], r["doc_b"]) for r in filtered.collect()}
    assert len(u) == 10
    assert f == {(1, 2), (3, 4)}


def test_ivf_trained_full_probe_identical_to_brute_force(spark):
    """nprobe == n_cells probes every cell, so trained IVF must return
    exactly the brute-force top-k (cell assignment only partitions the
    corpus; full probing reassembles it)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    cents = similarity.train_ivf_centroids(emb, n_cells=4, iters=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    exact = {tuple(r) for r in similarity.brute_force_topk(emb, q, k=3).collect()}
    full = {
        tuple(r)
        for r in similarity.ivf_topk_trained(emb, q, cents, k=3, nprobe=4).collect()
    }
    assert full == exact


def test_ivf_trained_training_is_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    c1 = similarity.train_ivf_centroids(emb, n_cells=4, iters=2)
    c2 = similarity.train_ivf_centroids(emb, n_cells=4, iters=2)
    assert c1 == c2


def test_ivf_trained_multiprobe_recall(spark):
    """On clustered data (the synthetic embeddings are label-clustered),
    probing half the cells must recall most true neighbors — and strictly
    more than probing one cell."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    cents = similarity.train_ivf_centroids(emb, n_cells=8, iters=3)
    exact = {
        (r["q_id"], r["n_id"])
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r["q_id"], r["n_id"])
            for r in similarity.ivf_topk_trained(
                emb, q, cents, k=5, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 >= 0.6, f"recall@nprobe=4 too low: {r4}"


def test_jaccard_for_pairs_restricts_to_given_pairs(spark):
    """Only the given pairs are verified (the 1-3 and 2-3 pairs share a
    gram too), from their gram arrays; a pair sharing no gram is dropped
    even at threshold 0."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "a b c f"), (4, "x y z")],
        "doc_id LONG, text STRING",
    )
    gram_sets = dedup._gram_sets(docs, "doc_id", "text", 3)
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "doc_a LONG, doc_b LONG")
    out = dedup.jaccard_for_pairs(pairs, gram_sets, threshold=0.0).collect()
    # {abc, bcd} vs {abc, bce}: 1 shared of 3
    assert {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out} == {
        (1, 2): round(1 / 3, 6)
    }


def _md5_int_model(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_minhash_signature_matches_hashlib_model(spark):
    """Signature value s of a doc is the minimum 60-bit md5 hash of
    f"{s}:{gram}" over its distinct grams (NULL below n tokens), and two
    separately built plans give the same values: the salt must not come
    from a lambda's per-plan variable name."""
    texts = {
        1: "a b c d e",
        2: "x y",
        3: "a b c a b c a b c",
        4: "",
        5: "the quick brown fox the quick brown fox",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id LONG, text STRING")

    def signatures():
        sets = dedup._gram_sets(docs, "doc_id", "text", 3)
        return {
            r["doc"]: tuple(r[f"mh_{s}"] for s in range(8))
            for r in dedup.minhash_signatures(sets, 8).collect()
        }

    got = signatures()
    assert signatures() == got
    for doc, text in texts.items():
        toks = text.split(" ")
        grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        want = tuple(
            min((_md5_int_model(f"{s}:{g}") for g in grams), default=None)
            for s in range(8)
        )
        assert got[doc] == want, doc


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _filters_below_round_robin(plan: str) -> list[str]:
    """Filter nodes on a gram or token expression in the subtree of a
    round-robin exchange (where Catalyst pushes filters into the scan)."""
    lines = plan.splitlines()
    found = []
    for i, line in enumerate(lines):
        if "RoundRobinPartitioning" not in line:
            continue
        for sub in lines[i + 1:]:
            if _depth(sub) <= _depth(line):
                break
            node = re.sub(r"^\*\(\d+\) ", "", sub.lstrip(" :+-"))
            if node.startswith("Filter") and ("transform(" in node or "split(" in node):
                found.append(node)
    return found


def _lambda_bodies(plan: str) -> list[str]:
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, j = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        bodies.append(plan[m.end():j - 1])
    return bodies


def test_gram_set_plans_tokenize_once_and_reuse_band_exchange(spark, tmp_path):
    """Plan shape of minhash_lsh_pairs and contamination_flags over a
    one-split parquet spread by a round-robin repartition (the driver's
    ``_spread``): no ``split`` inside a lambda, no gram/token filter pushed
    below the round-robin exchange, and both sides of the band self-join
    read one exchange."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, " ".join(f"w{(i * j) % 7}" for j in range(i % 9 + 1))) for i in range(30)],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path).repartition(4)
    mh = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3)
    ct = dedup.contamination_flags(docs, docs.filter("doc_id % 7 = 0"), n=3)
    plans = {}
    for name, df in (("minhash", mh), ("contamination", ct)):
        df.collect()  # the executed plan, after AQE's re-planning
        plans[name] = plan = df._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan, name
        assert not [b for b in _lambda_bodies(plan) if "split(" in b], name
        assert not _filters_below_round_robin(plan), name
    assert re.search(
        r"ReusedExchange .*hashpartitioning\(band#\d+, bucket#\d+", plans["minhash"]
    )


def test_neardup_blocked_identical_and_prune_stats(spark):
    """Block-GEMM path: identical pair set to the exact all-pairs join
    (float64 GEMM vs sequential fold agree at 5 dp), and LAST_PRUNE_STATS
    reports the admitted-cell-pair rate honestly (100% on this
    near-uniform corpus — the adversarial no-prune case)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {tuple(r) for r in similarity.neardup_pairs(emb, threshold=0.45).collect()}
    blocked = {
        tuple(r)
        for r in similarity.neardup_pairs_blocked(
            emb, threshold=0.45, n_anchors=8
        ).collect()
    }
    assert blocked == exact
    st = similarity.LAST_PRUNE_STATS
    assert st["allowed_cell_pairs"] <= st["total_cell_pairs"]
    assert st["est_candidate_ordered_pairs"] <= st["corpus_ordered_pairs"]


def test_neardup_prune_bites_on_clustered_data(spark):
    """On clustered vectors (tight clusters, wide center separation, a
    realistic near-dup corpus) the spherical-triangle prune must reject
    most cell pairs and the result must still equal the exact join."""
    import math

    import numpy as np

    rng = np.random.default_rng(7)
    d, n_clusters, n = 16, 6, 240
    centers = np.linalg.qr(rng.standard_normal((d, n_clusters)))[0].T  # orthogonal
    sigma = math.sqrt(0.05 / d)
    cell = rng.integers(0, n_clusters, n)
    # the deterministic k-means init seeds from the lowest ids — make the
    # first rows span all clusters so no cluster goes uncovered
    cell[:n_clusters] = np.arange(n_clusters)
    g = rng.standard_normal((n, d))
    g = g / np.linalg.norm(g, axis=1, keepdims=True) * math.sqrt(d)
    v = centers[cell] + sigma * g
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    thr = 0.9
    exact = {tuple(r) for r in similarity.neardup_pairs(emb, threshold=thr).collect()}
    blocked = {
        tuple(r)
        for r in similarity.neardup_pairs_blocked(
            emb, threshold=thr, n_anchors=n_clusters, iters=3
        ).collect()
    }
    assert blocked == exact
    st = similarity.LAST_PRUNE_STATS
    # orthogonal centers (90 deg) with ~18 deg radii at theta_t 25.8 deg:
    # cross-cell pairs must be rejected — anything close to all-admitted
    # means the prune is broken
    assert st["allowed_cell_pairs"] < 0.5 * st["total_cell_pairs"], st


def test_connected_components_and_canonical(spark):
    """Multi-hop chains collapse to one cluster (min-id representative);
    untouched docs keep themselves. 1-2-3 chain + 7-9 pair + singleton."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 7)], "doc_a LONG, doc_b LONG"
    )
    comp = {(r["node"], r["label"]) for r in dedup.connected_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 5, 7, 9)], "doc_id LONG, text STRING"
    )
    out = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in dedup.canonical_docs(docs, dedup.connected_components(pairs), "doc_id").collect()
    }
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True), 7: (7, True), 9: (7, False),
    }


def test_connected_components_string_ids(spark):
    """String doc ids (content hashes / urls) must converge correctly:
    sum('label') returns NULL for strings, so the old sum-based witness
    stopped after one propagation round and split multi-hop chains. A
    5-node path needs several rounds to collapse to its min label."""
    pairs = spark.createDataFrame(
        [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a"), ("y", "z")],
        "doc_a STRING, doc_b STRING",
    )
    comp = {(r["node"], r["label"]) for r in dedup.connected_components(pairs).collect()}
    assert comp == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("e", "a"),
        ("y", "y"), ("z", "y"),
    }


def test_connected_components_large_hash_ids(spark):
    """64-bit hash ids near the long extremes: the per-round witness must
    not rely on sum(label), which can overflow/abort under ANSI."""
    big = 2**63 - 1
    pairs = spark.createDataFrame(
        [(big, big - 1), (big - 1, big - 2), (-big, -big + 1)],
        "doc_a LONG, doc_b LONG",
    )
    comp = {(r["node"], r["label"]) for r in dedup.connected_components(pairs).collect()}
    assert comp == {
        (big, big - 2), (big - 1, big - 2), (big - 2, big - 2),
        (-big, -big), (-big + 1, -big),
    }


def test_paragraph_dedup_semantics(spark):
    """CCNet §3.2 semantics: corpus-wide first occurrence wins (ordered by
    (doc, pos)), fully-deduped docs stay present with '' text, and the
    min_chars floor keeps short paragraphs unconditionally."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            ("a", "common\n\nunique-a\n\nx"),
            ("b", "common\n\nunique-b\n\nx"),
            ("c", "common\n\nx"),  # loses everything but ties
        ],
        "doc_id STRING, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(docs, "doc_id", "text").collect()
    }
    assert out["a"]["text"] == "common\n\nunique-a\n\nx"  # first occurrence
    assert out["b"]["text"] == "unique-b"
    assert out["c"]["text"] == ""  # fully deduped, still present
    assert (out["c"]["n_kept"], out["c"]["n_total"]) == (0, 2)
    # length floor: 1-char paragraphs survive everywhere
    out2 = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(
            docs, "doc_id", "text", min_chars=2
        ).collect()
    }
    assert out2["b"]["text"] == "unique-b\n\nx"
    assert out2["c"]["text"] == "x"


def test_contamination_flags_zero_and_hits(spark):
    """Docs sharing no benchmark n-gram report 0/false; overlap counts
    DISTINCT hit grams (shingles are per-doc distinct)."""
    from opentelemetry_collector_contrib_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps"),
            ("d2", "totally different words here now"),
        ],
        "doc_id STRING, text STRING",
    )
    bench = spark.createDataFrame(
        [("e1", "a quick brown fox leaps")], "doc_id STRING, text STRING"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.contamination_flags(
            docs, bench, "doc_id", "text", n=3
        ).collect()
    }
    # shared 3-gram: "quick brown fox" (1 distinct hit)
    assert out["d1"]["n_hit_grams"] == 1 and out["d1"]["contaminated"]
    assert out["d2"]["n_hit_grams"] == 0 and not out["d2"]["contaminated"]
