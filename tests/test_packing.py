"""Token-block packing (operators/packing.py)."""

from __future__ import annotations

from opentelemetry_collector_contrib_spark.operators import packing

from pyspark.sql import functions as F


def _pack(spark, rows, block_size=10, sep=1):
    df = spark.createDataFrame(
        rows, "doc_id long, shard string, n_toks long")
    out = packing.pack_token_blocks(
        df, "n_toks", block_size, "shard", sep_tokens=sep)
    return {r["id"]: r.asDict() for r in out.collect()}


def test_stream_offsets_and_block_spans(spark):
    # shard a: docs 1(4 toks), 2(12), 3(0), 4(5)  -> stream with sep=1:
    # doc1 [0..3] sep@4, doc2 [5..16] sep@17, doc3 [] sep@18, doc4 [19..23]
    got = _pack(spark, [(1, "a", 4), (2, "a", 12), (3, "a", 0), (4, "a", 5)])
    assert got[1]["stream_start"] == 0
    assert (got[1]["first_block"], got[1]["last_block"]) == (0, 0)
    assert got[2]["stream_start"] == 5
    # doc2 spans tokens 5..16 -> blocks 0 and 1
    assert (got[2]["first_block"], got[2]["last_block"]) == (0, 1)
    assert got[2]["n_blocks_spanned"] == 2
    assert got[2]["offset_in_first_block"] == 5
    # empty doc occupies only its start position
    assert got[3]["stream_start"] == 18
    assert (got[3]["first_block"], got[3]["last_block"]) == (1, 1)
    assert got[4]["stream_start"] == 19
    assert (got[4]["first_block"], got[4]["last_block"]) == (1, 2)


def test_shards_are_independent_streams(spark):
    got = _pack(spark, [(1, "a", 7), (2, "b", 7), (3, "a", 7), (4, "b", 7)])
    # each shard's first doc starts at 0 regardless of interleaving
    assert got[1]["stream_start"] == 0 and got[2]["stream_start"] == 0
    assert got[3]["stream_start"] == 8 and got[4]["stream_start"] == 8


def test_packing_is_partitioning_invariant(spark):
    rows = [(i, f"s{i % 3}", (i * 7) % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, shard string, n_toks long")
    a = packing.pack_token_blocks(df, "n_toks", 16, "shard").collect()
    b = packing.pack_token_blocks(
        df.repartition(13), "n_toks", 16, "shard").collect()
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_stream_is_gapless_and_ordered(spark):
    rows = [(i, "a", (i * 11) % 17) for i in range(50)]
    got = _pack(spark, rows, block_size=32)
    ordered = [got[i] for i in range(50)]
    pos = 0
    for r in ordered:
        assert r["stream_start"] == pos
        pos += r["n_tokens"] + 1  # the EOD sentinel
        assert r["last_block"] >= r["first_block"]
        assert r["offset_in_first_block"] == r["stream_start"] % 32


# ---------------------------------------------------------------------------
# property: packing vs an independent Python model
# ---------------------------------------------------------------------------

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# doc_ids may repeat within a shard: both twins break the tie on n_tokens
rows_st = st.lists(
    st.tuples(st.integers(0, 50), st.sampled_from(["a", "b"]),
              st.integers(0, 40)),
    min_size=1, max_size=20,
)
PACK_COLS = ["id", "shard", "n_tokens", "stream_start", "first_block",
             "last_block", "offset_in_first_block", "n_blocks_spanned"]


def _model(rows, block_size, sep=1):
    out = []
    for shard in {r[1] for r in rows}:
        pos = 0
        for did, _, n in sorted(r for r in rows if r[1] == shard):
            end = pos + max(n, 1) - 1
            out.append((did, shard, n, pos, pos // block_size,
                        end // block_size, pos % block_size,
                        end // block_size - pos // block_size + 1))
            pos += n + sep
    return sorted(out)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows_st, st.sampled_from([4, 16]))
# a duplicate doc_id, and offsets past 2^53 where double division rounds
@example([(1, "a", 5), (1, "a", 3), (2, "a", 2**56), (3, "a", 1)], 3)
def test_packing_matches_python_model(spark, rows, block_size):
    df = spark.createDataFrame(
        list(rows), "doc_id long, shard string, n_toks long")
    got = sorted(
        tuple(r) for r in packing.pack_token_blocks(
            df, "n_toks", block_size, "shard").select(*PACK_COLS).collect()
    )
    assert got == _model(rows, block_size)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id BIGINT, shard VARCHAR, n_toks BIGINT)")
        con.executemany("INSERT INTO docs VALUES (?, ?, ?)", list(rows))
        twin = con.execute(
            f"SELECT {', '.join(PACK_COLS)} FROM ("
            f"{packing.pack_token_blocks_sql('docs', 'n_toks', block_size, 'shard')})"
        ).fetchall()
    finally:
        con.close()
    assert sorted(twin) == got


def test_packing_plan_shuffles_once_on_shard(spark):
    """One hash exchange on the shard key feeds the per-shard window —
    no global sort, no second shuffle."""
    import contextlib
    import io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .selectExpr("doc_id", "pmod(doc_id, 8) AS shard_id",
                    "size(split(text, ' ')) AS n_toks")
    out = packing.pack_token_blocks(docs, "n_toks", 512, "shard_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # formatted explain prints each node twice (tree + detail section);
    # ") Exchange" matches only the detail header, once per exchange node
    assert plan.count(") Exchange") == 1
    assert "hashpartitioning(shard_id" in plan
