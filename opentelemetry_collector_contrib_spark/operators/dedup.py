"""Deduplication operators for training-data pipelines.

The reference engine has no dedup (it forwards every record), but a 100 TB
web-page pipeline needs it; these are first-class operators here. Each has
an ANSI-SQL oracle builder so the driver's DuckDB gate can verify it.

Cross-engine hashing: Spark and DuckDB share md5; a 60-bit integer hash is
``bigint(hex15(md5(s)))`` in both (conv(...,16,10) / ('0x'||...)::BIGINT).

Scale design notes (the part that matters at 10^12 docs):
  - exact: one hash-groupBy, map-side combinable, shuffle = distinct hashes.
  - ngram-jaccard: the gram self-join explodes on hot grams; production use
    pairs it with a stop-gram filter (drop grams in > F docs) — exposed via
    ``max_doc_freq``. Shuffle keys are gram hashes (well-spread).
  - minhash LSH and contamination read one gram array per document
    (``_gram_sets``; the token split is its own projection, never inside
    the ``transform`` lambda). Signatures are k ``array_min``s per row —
    no explode, no groupBy(doc); banding turns O(n^2) similarity into an
    equi-join on band keys — the standard scale path. Candidate
    verification intersects the two gram arrays of each pair.
  - never ``explode`` or ``filter`` a gram-set column directly above a
    caller's round-robin repartition (``__spark_entry__._spread``): for
    ``explode`` of an attribute Catalyst infers ``size(grams) > 0``
    (InferFiltersFromGenerate) and pushes it, with the whole gram
    expression inlined, below the exchange into the single-split scan —
    one task then shingles every document. ``explode_outer`` plus the
    inner join on the gram drops empty sets instead.
  - simhash: one agg per doc + a hamming-ball self-join on rotated keys
    (here: plain band on the high byte for the oracle-checkable variant).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import cacheutil


def md5_int(col: Column, salt: str = "") -> Column:
    """60-bit integer hash shared with DuckDB."""
    s = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long")


def md5_int_sql(expr: str, salt: str = "") -> str:
    e = f"'{salt}' || {expr}" if salt else expr
    return f"('0x' || substr(md5({e}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    surviving (min) id and the copy count."""
    return (
        docs.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_sql(relation: str, id_col: str, text_col: str) -> str:
    return (
        f"SELECT md5({text_col}) AS text_hash, MIN({id_col}) AS survivor_id,"
        f" CAST(COUNT(*) AS BIGINT) AS n_copies FROM {relation} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# word n-gram shingles + jaccard
# ---------------------------------------------------------------------------


def word_ngrams_expr(text_col: str, n: int = 3) -> str:
    """Distinct word n-gram shingles (array<string>) as a Spark SQL expr.
    Empty array when the text has fewer than n tokens."""
    return _token_ngrams_expr(f"split({text_col}, ' ')", n)


def _token_ngrams_expr(toks: str, n: int) -> str:
    """:func:`word_ngrams_expr` over an expression that is already a token
    array. Given a column, the ``transform`` lambda reads it instead of
    re-splitting the text at every position."""
    return (
        f"CASE WHEN size({toks}) >= {n} THEN array_distinct("
        f"transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n}))))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _grams_df(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) exploded distinct shingles."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(word_ngrams_expr(text_col, n))).alias("gram"),
    )


def _grams_sql(relation: str, id_col: str, text_col: str, n: int) -> str:
    """DuckDB equivalent of :func:`_grams_df` (1-based list slicing)."""
    idx = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"SELECT {id_col} AS doc, unnest(list_distinct(list_transform("
        f"range(1, greatest(len(toks) - {n - 2}, 1)), i -> {idx}))) AS gram "
        f"FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {relation})"
    )


def _stop_filtered(grams: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Drop grams appearing in more than ``max_doc_freq`` docs (stop-gram /
    boilerplate filter). Doc-frequency comes from a window over gram, NOT a
    groupBy+join: the window's shuffle-by-gram is exactly the partitioning
    a following gram self-join needs, so the filter costs no extra
    exchange (a join against the ~|distinct grams| frequency table would
    broadcast/shuffle it once per join side)."""
    if max_doc_freq is None:
        return grams
    from pyspark.sql import Window

    w = Window.partitionBy("gram")
    return (
        grams.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= max_doc_freq)
        .drop("df")
    )


def _gram_sets(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, grams): each document's distinct shingles as one array. The
    token split is its own projection; Catalyst does not collapse it into
    the gram expression, which reads it more than once."""
    toks = docs.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("toks")
    )
    return toks.select("doc", F.expr(_token_ngrams_expr("toks", n)).alias("grams"))


def jaccard_for_pairs(
    pairs: DataFrame, gram_sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle Jaccard computed ONLY for the given candidate pairs.

    ``pairs`` is (doc_a, doc_b); ``gram_sets`` is (doc, grams) from
    :func:`_gram_sets`. Each pair picks up both gram arrays by two
    equi-joins on the doc id, and the intersection is
    ``array_intersect`` within the row — no join or aggregation on the
    gram key, so the cost is linear in (candidate pairs x grams per doc)
    instead of quadratic in docs. This is what makes LSH candidate
    generation actually pay off at 10^12 docs. Pairs that share no gram
    are dropped, as an intersection join would drop them.
    """
    ga = gram_sets.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga"))
    gb = gram_sets.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    # NULL (dropped by the filter) when nothing is shared, so two empty
    # sets never divide by zero
    jaccard = F.when(inter > 0, inter / (F.size("ga") + F.size("gb") - inter))
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with shingle-set Jaccard >= threshold.

    ``max_doc_freq`` drops grams appearing in more than F docs before the
    self-join (stop-gram filter) — the knob that keeps the join linear-ish
    at web scale. Exact sizes still use the unfiltered sets.
    """
    grams = _grams_df(docs, id_col, text_col, n)
    sizes = grams.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    joinable = _stop_filtered(grams, max_doc_freq)
    b = joinable.select(F.col("doc").alias("doc_b"), "gram")
    inter = (
        joinable.select(F.col("doc").alias("doc_a"), "gram")
        .join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def ngram_jaccard_pairs_sql(
    relation: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> str:
    """DuckDB oracle for :func:`ngram_jaccard_pairs`, mirroring its
    semantics exactly: with ``max_doc_freq`` the stop-gram filter applies
    to the intersection join only — set sizes stay unfiltered."""
    joinable = "g"
    stop_cte = ""
    if max_doc_freq is not None:
        stop_cte = (
            ",\nkeep AS (SELECT gram FROM g GROUP BY gram"
            f" HAVING COUNT(*) <= {max_doc_freq}),\n"
            "gj AS (SELECT g.doc, g.gram FROM g JOIN keep USING (gram))"
        )
        joinable = "gj"
    return f"""
WITH g AS ({_grams_sql(relation, id_col, text_col, n)}),
sz AS (SELECT doc, COUNT(*) AS sz FROM g GROUP BY doc){stop_cte},
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM {joinable} a JOIN {joinable} b ON a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc = doc_a JOIN sz sb ON sb.doc = doc_b
WHERE i / (sa.sz + sb.sz - i) >= {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(gram_sets: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, mh_0 .. mh_{k-1}) from (doc, grams): ``mh_s`` is
    ``min(md5_int(f"{s}:" || gram))`` over the doc's gram set, NULL for an
    empty set. One hex-to-integer conversion per (doc, hash): md5 digests
    are equal-length lowercase hex, so the string minimum is the numeric
    minimum and its 15-hex prefix is the minimum prefix."""

    def mh(s: int) -> Column:
        # ``s`` is bound per call. Not ``lambda g, s=s``: transform() passes
        # the element index as a lambda's second parameter, so ``s`` would
        # become the index variable, whose name changes with every plan.
        hex_min = F.array_min(F.transform(
            "grams", lambda g: F.md5(F.concat(F.lit(f"{s}:"), g).cast("binary"))
        ))
        return F.conv(F.substring(hex_min, 1, 15), 16, 10).cast("long").alias(f"mh_{s}")

    return gram_sets.select("doc", *[mh(s) for s in range(num_hashes)])


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """shingle -> minhash -> band -> bucket-join -> verify (SURVEY/TASK
    minhash+LSH dedup). Candidates share at least one full band of the
    signature; candidates are then verified against exact shingle Jaccard
    computed ONLY over the candidate pairs.

    Every stage reads one gram array per document (:func:`_gram_sets`):
    signature hash ``s`` is one ``array_min`` per (doc, hash) with no
    explode or groupBy(doc), and verification intersects the two arrays of
    each candidate pair. A document with fewer than ``n`` tokens has an
    empty set, NULL signatures and NULL band keys, so it is never a
    candidate.
    """
    rows = num_hashes // bands
    gram_sets = _gram_sets(docs, id_col, text_col, n)
    sig = minhash_signatures(gram_sets, num_hashes)
    # stack() emits all band keys in ONE pass over the signature
    stack_args = []
    for b in range(bands):
        key = ", ':', ".join(f"CAST(mh_{b * rows + r} AS STRING)" for r in range(rows))
        stack_args.append(f"{b}, md5(CAST(concat({key}) AS BINARY))")
    # shuffled once on the join keys: both sides of the self-join then read
    # the same exchange (ReusedExchange) instead of each recomputing every
    # signature
    banded = sig.selectExpr(
        "doc", f"stack({bands}, {', '.join(stack_args)}) AS (band, bucket)"
    ).repartition("band", "bucket")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard restricted to the candidate
    # pairs — never the full-corpus all-pairs truth (that would reintroduce
    # the quadratic cost LSH exists to avoid)
    return jaccard_for_pairs(cand, gram_sets, threshold)


def minhash_lsh_pairs_sql(
    relation: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs`: exploded grams, grouped
    minima, and the all-pairs truth joined to the candidates — the
    independent formulation the array plan is checked against."""
    rows = num_hashes // bands
    mh_cols = ", ".join(
        f"MIN({md5_int_sql('gram', f'{s}:')}) AS mh_{s}" for s in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        key = " || ':' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc, {b} AS band, md5({key}) AS bucket FROM sig"
        )
    banded = " UNION ALL ".join(band_selects)
    return f"""
WITH g AS ({_grams_sql(relation, id_col, text_col, n)}),
sig AS (SELECT doc, {mh_cols} FROM g GROUP BY doc),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc < y.doc
),
sz AS (SELECT doc, COUNT(*) AS sz FROM g GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b, ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
  FROM inter JOIN sz sa ON sa.doc = doc_a JOIN sz sb ON sb.doc = doc_b
  WHERE i / (sa.sz + sb.sz - i) >= {threshold}
)
SELECT c.doc_a, c.doc_b, t.jaccard
FROM cand c JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc simhash over distinct tokens: bit i set iff the sum of
    (+1/-1) contributions of token-hash bit i is positive."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).withColumn("h", md5_int(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{i}")
        for i in range(bits)
    ]
    per_bit = toks.groupBy("doc").agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(0)
    return per_bit.select("doc", sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Pairs within hamming distance (small-scale exact self-join; the scale
    path bands on signature bytes first)."""
    s = simhash(docs, id_col, text_col, bits)
    a = s.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"))
    b = s.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_banded(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Scale path for :func:`simhash_pairs` — identical result set.

    Pigeonhole banding: split the signature into ``max_hamming + 1`` chunks;
    two signatures within hamming distance d must agree exactly on at least
    one chunk, so candidate generation is an equi-join on (chunk_id, chunk
    value) instead of a cross join, then candidates verify with bit_count.
    Same result as the exact join (asserted in tests), shuffle is linear in
    docs x chunks.
    """
    n_chunks = max_hamming + 1
    width = (bits + n_chunks - 1) // n_chunks
    mask = (1 << width) - 1
    s = simhash(docs, id_col, text_col, bits)
    chunks = s.selectExpr(
        "doc",
        "simhash",
        f"explode(transform(sequence(0, {n_chunks - 1}),"
        f" c -> struct(c AS chunk, shiftright(simhash, c * {width}) & {mask} AS v)"
        f")) AS ck",
    ).select("doc", "simhash", "ck.chunk", "ck.v")
    a = chunks.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"), "chunk", "v"
    )
    b = chunks.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"), "chunk", "v"
    )
    return (
        a.join(b, ["chunk", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("h_a"), F.col("h_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_sql(
    relation: str, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 2
) -> str:
    per_bit = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(bits)
    )
    sim = " + ".join(f"CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return f"""
WITH t AS (
  SELECT {id_col} AS doc, {md5_int_sql('tok')} AS h
  FROM (SELECT {id_col}, unnest(list_distinct(string_split({text_col}, ' '))) AS tok
        FROM {relation})
),
pb AS (SELECT doc, {per_bit} FROM t GROUP BY doc),
s AS (SELECT doc, CAST({sim} AS BIGINT) AS simhash FROM pb)
SELECT a.doc AS doc_a, b.doc AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 30,
) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over dup pairs.

    Pair generators (ngram/minhash/simhash/embedding) emit edges; a dedup
    pipeline then needs each document's duplicate cluster so exactly one
    representative survives. Min-label propagation, Pregel-style: every
    node starts labeled with itself; each round a node takes the min of
    its own and its neighbors' labels; converged when no node's label
    changed this round (counted by joining the new label table against
    the old — type-agnostic, so string/hash ids work and there is no
    64-bit-sum overflow; min-labels are monotone under any orderable id
    type, so zero changes is a complete convergence witness).

    Scale shape: one equi-join + one partial-aggregatable groupBy per
    round, O(cluster diameter) rounds — dup clusters are shallow (near-dup
    graphs are dense blobs, not paths), so a handful of rounds at any
    corpus size. Each round's shuffle carries (node, label) pairs only —
    never texts. For adversarial high-diameter graphs swap in the
    large-star/small-star variant (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) — same DataFrame ops, fewer
    rounds. Returns (node, label) for every node appearing in ``pairs``;
    label = smallest node id in the component.
    """
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().persist()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    for _ in range(max_iters):
        nbr = edges.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        # Type-agnostic convergence witness: one equi-join on node (both
        # sides already hash-partitioned on it from the groupBy) counting
        # rows whose label moved this round.  sum(label) would return
        # NULL for string ids and can overflow for 64-bit hash ids.
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    # the returned label table stays persisted for the caller's joins;
    # register it so the NEXT connected_components call (or an explicit
    # cacheutil.release_all) evicts it instead of leaking blocks across
    # repeated invocations in one session
    return cacheutil.register(labels, key="cc_labels")


def canonical_docs(
    docs: DataFrame,
    components: DataFrame,
    id_col: str,
) -> DataFrame:
    """Attach each doc's duplicate-cluster representative (itself when it
    has no duplicates) and flag the survivor: keep = (doc == rep). The
    components side is the (tiny relative to the corpus) pair-graph label
    table — broadcast when it fits, else an equi-join on id."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_rep")
    )
    out = docs.join(comp, id_col, "left").withColumn(
        "cluster_rep", F.coalesce("cluster_rep", F.col(id_col))
    )
    return out.withColumn("keep", F.col(id_col) == F.col("cluster_rep"))


# ---------------------------------------------------------------------------
# paragraph-level dedup (CCNet-style) + benchmark contamination
# ---------------------------------------------------------------------------


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 0,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    §3.2): split every document into paragraphs on ``sep``, keep only the
    corpus-wide FIRST occurrence of each distinct paragraph (ordered by
    (doc id, paragraph position)), and reassemble documents in original
    paragraph order.  Boilerplate (nav bars, cookie banners, footers)
    repeats across millions of pages and dies here; unique prose survives.

    Output: (id, text [deduped, '' when every paragraph lost], n_kept,
    n_total).  Paragraphs shorter than ``min_chars`` are kept
    unconditionally (too short to be meaningful boilerplate evidence —
    CCNet dedups at the paragraph-hash level with a length floor).

    Scale shape: the winner per paragraph is  groupBy(para).min(struct(id,
    pos))  — a PARTIAL (map-side combinable) aggregation, so a paragraph
    repeated 10^9 times collapses to one row per map task before the
    shuffle; the winner table then equi-joins back on the paragraph key
    (AQE skew-join splits any residual hot paragraph's join partition).
    A window over paragraph would shuffle every raw occurrence to one
    reducer per paragraph — the exact skew this avoids.  Reassembly is
    one groupBy(id) with collect_list over (pos, para) structs — null
    entries (lost paragraphs) are skipped by collect_list, keeping every
    input document present in the output even when fully deduped.
    """
    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    eligible = paras.filter(F.length("para") >= min_chars)
    winners = eligible.groupBy("para").agg(
        F.min(F.struct("id", "pos")).alias("w")
    ).select("para", F.col("w.id").alias("w_id"), F.col("w.pos").alias("w_pos"))
    flagged = paras.join(winners, "para", "left").withColumn(
        "is_kept",
        (F.length("para") < min_chars)
        | ((F.col("id") == F.col("w_id")) & (F.col("pos") == F.col("w_pos"))),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_kept"), F.struct("pos", "para"))
                        )
                    ),
                    lambda x: x["para"],
                ),
                sep,
            ).alias("text"),
            F.sum(F.col("is_kept").cast("int")).alias("n_kept"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .withColumnRenamed("id", id_col)
    )


def paragraph_dedup_sql(
    relation: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_sql: str = "chr(10) || chr(10)",
    min_chars: int = 0,
) -> str:
    """DuckDB twin of :func:`paragraph_dedup` (``sep_sql`` is a SQL
    expression for the separator so callers can pass chr() composites)."""
    return f"""
WITH paras AS (
  SELECT {id_col} AS id, u.pos - 1 AS pos, u.para
  FROM (SELECT {id_col}, string_split({text_col}, {sep_sql}) AS parts
        FROM {relation}) d,
  LATERAL (SELECT unnest(parts) AS para,
                  unnest(generate_series(1, len(parts))) AS pos) u
),
winners AS (
  SELECT para, MIN(ROW(id, pos)) AS w
  FROM paras WHERE length(para) >= {min_chars} GROUP BY para
),
flagged AS (
  SELECT p.id, p.pos, p.para,
         length(p.para) < {min_chars}
           OR ROW(p.id, p.pos) = w.w AS is_kept
  FROM paras p LEFT JOIN winners w ON p.para = w.para
)
SELECT id AS {id_col},
       COALESCE(string_agg(para, {sep_sql} ORDER BY pos)
                FILTER (WHERE is_kept), '') AS text,
       CAST(COUNT(*) FILTER (WHERE is_kept) AS BIGINT) AS n_kept,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM flagged GROUP BY id
"""


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination screen (the GPT-3 appendix-C / Dodge et al.
    C4 §4.2 protocol): flag training documents that share any word
    ``n``-gram with an evaluation set, reporting how many distinct
    benchmark n-grams each document hits.

    Scale shape: the benchmark side is tiny (eval sets are thousands of
    documents) — its distinct n-grams BROADCAST, so the corpus side is
    one explode + broadcast-hash semi-join + partial-agg groupBy(doc):
    the 10^12-row corpus never shuffles on the gram key.  Docs with no
    hit keep n_hit_grams = 0 via the left join against the hit table
    (itself keyed by doc id — the natural partitioning).

    Both sides explode their gram sets with ``explode_outer`` (a plain
    ``explode`` would push an inferred filter into the scan; see the
    module docstring); the inner join on ``gram`` drops the NULL rows of
    empty sets.
    """
    bench_text = bench_text_col or text_col

    def grams(df: DataFrame, doc: str, text: str) -> DataFrame:
        sets = _gram_sets(df, doc, text, n)
        return sets.select("doc", F.explode_outer("grams").alias("gram"))

    doc_grams = grams(docs, id_col, text_col)
    # benchmark ids are never read: its text stands in as the (pruned) doc key
    bench_grams = grams(benchmark, bench_text, bench_text).select("gram").distinct()
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_flags_sql(
    relation: str,
    bench_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> str:
    """DuckDB twin of :func:`contamination_flags` where the benchmark is
    the subset of ``relation`` matching ``bench_pred``."""
    doc_grams = _grams_sql(relation, id_col, text_col, n)
    bench_grams = _grams_sql(
        f"(SELECT * FROM {relation} WHERE {bench_pred})", id_col, text_col, n
    )
    return f"""
WITH doc_grams AS ({doc_grams}),
bench_grams AS (SELECT DISTINCT gram FROM ({bench_grams})),
hits AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_hit_grams
  FROM doc_grams JOIN bench_grams USING (gram) GROUP BY doc
)
SELECT d.{id_col}, COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
FROM {relation} d LEFT JOIN hits h ON d.{id_col} = h.doc
"""


def duplicate_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 50,
) -> DataFrame:
    """Cross-corpus exact-substring duplicate spans (the ExactSubstr
    family of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499 §4.1): report every
    maximal token span of length >= ``min_len`` whose every ``k``-gram
    occurs at least twice in the corpus (across docs OR twice within
    one doc — both are duplicated text).

    The paper builds a corpus-wide suffix array; that is a sequential
    construction. The Spark-first equivalent is the k-gram fingerprint
    formulation: a span is duplicated iff each of its k-grams is, so

      1. per doc: rolling k-gram fingerprints at every token position
         (one codegen'd ``transform`` over ``sequence`` — no explode of
         gram STRINGS; only 64-bit ``xxhash64`` fingerprints leave the
         row, which at 10^12 docs is the difference between shuffling
         ~8 bytes/gram and ~60);
      2. gram frequency via ``groupBy(gram).count()`` — MAP-SIDE
         COMBINABLE, then an equi-join back. Deliberately NOT
         ``count over (partition by gram)``: a boilerplate gram shared
         by 20% of a web corpus would shuffle every occurrence to one
         reducer (the same trap paragraph_dedup documents); the
         groupBy partially aggregates before the shuffle and AQE
         handles residual join skew;
      3. per doc: merge overlapping dup-gram intervals [pos, pos+k-1]
         into maximal spans (gaps-and-islands over one window keyed by
         the doc — bounded by doc length, never by corpus size) and
         keep spans >= min_len tokens.

    64-bit fingerprints stand in for gram equality (collision odds
    ~n²/2^65 — at 10^13 grams use two independent hashes). Docs
    shorter than ``k`` tokens have no k-gram and no spans.

    Output: (id_col, span_start, span_end, n_tokens) — token indices,
    0-based inclusive.
    """
    from pyspark.sql import Window

    toks = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("__toks")
    ).filter(F.size("__toks") >= k)
    grams = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - k),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__toks", i + 1, k))),
            )
        ).alias("pos", "gram"),
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("__freq"))
    dup = grams.join(freq.filter(F.col("__freq") >= 2), "gram").select(
        id_col, "pos"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    marked = dup.withColumn(
        "__island",
        F.sum(
            F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = marked.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
    )
    return (
        spans.withColumn(
            "n_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .filter(F.col("n_tokens") >= min_len)
        .select(
            id_col,
            F.col("span_start").cast("int"),
            F.col("span_end").cast("int"),
            F.col("n_tokens").cast("int"),
        )
    )


def duplicate_substring_spans_sql(
    relation: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 50,
) -> str:
    """DuckDB twin of :func:`duplicate_substring_spans` (grams compared
    as strings — the fingerprint-free ground truth)."""
    return f"""
WITH toks AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {relation}
), grams AS (
  SELECT {id_col}, CAST(i AS INTEGER) AS pos,
         array_to_string(t[i + 1 : i + {k}], ' ') AS gram
  FROM toks, UNNEST(range(len(t) - {k} + 1)) AS u(i)
), dup AS (
  SELECT {id_col}, pos FROM grams
  WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2)
), isl AS (
  SELECT {id_col}, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
           OVER (PARTITION BY {id_col} ORDER BY pos) AS island
  FROM (
    SELECT {id_col}, pos,
           LAG(pos) OVER (PARTITION BY {id_col} ORDER BY pos) AS prev
    FROM dup
  )
)
SELECT {id_col},
       CAST(MIN(pos) AS INTEGER) AS span_start,
       CAST(MAX(pos) + {k} - 1 AS INTEGER) AS span_end,
       CAST(MAX(pos) + {k} - MIN(pos) AS INTEGER) AS n_tokens
FROM isl
GROUP BY {id_col}, island
HAVING MAX(pos) + {k} - MIN(pos) >= {min_len}
"""


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Excise the spans found by :func:`duplicate_substring_spans` from
    each doc's text (the paper's removal step). One left join on the id
    + a codegen'd token filter; docs with no spans pass through intact.
    """
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    cleaned = F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
    out_cols = [
        F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(cleaned).alias(c) if c == text_col else F.col(c)
        for c in docs.columns
    ]
    return docs.join(agg, id_col, "left").select(*out_cols)
