"""Token-block packing: chunk a corpus into fixed-length training blocks.

Autoregressive LM training consumes fixed-length token blocks, not
documents: the standard pipeline (GPT-2/GPT-3 §2.3-style, and every
open replication since) concatenates documents — separated by one
end-of-document sentinel token — and slices the stream into blocks of
``block_size`` tokens, letting documents span block boundaries.  The
curation side of that step is pure arithmetic over per-document token
counts: where in the concatenated stream does each document start, and
which blocks does it touch?

Spark design: the stream offset is an exclusive prefix sum of
(token_count + 1 sentinel) over a deterministic document order — one
window per shard, no Python, no iteration.  Block ids are integer
division of the offsets.  Everything downstream (the actual token
materialization) is a map stage keyed by block id.

Scale shape: a single global concatenation order would funnel 10^12
rows through ONE window partition — the classic global-sort trap.  The
shard column breaks the stream into independent substreams (a training
run reads shards in any order anyway, and shard count is chosen so a
shard's rows fit one task comfortably): the window partitions by shard,
so the cumsum is embarrassingly parallel after one hash shuffle on
shard, and block ids are made globally unique as (shard, local block).
Document order within a shard is by document id — deterministic under
any physical partitioning, so reruns and resumes produce byte-identical
packing (same reproducibility contract as operators/sampling.py). Rows
that share an id within a shard are ordered by token count: rows equal on
both produce the same output rows in either order.

Reference framing: the collector's batch processor
(SURVEY §2.7 flush-on-count) regroups a row stream into fixed-size
batches the same way — count-based boundaries over an ordered stream —
but holds them in memory; this is the table-native form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_token_blocks(
    docs: DataFrame,
    tokens_col: str,
    block_size: int,
    shard_col: str,
    id_col: str = "doc_id",
    sep_tokens: int = 1,
) -> DataFrame:
    """Assign every document its position in the packed token stream.

    Output columns: shard, id, n_tokens, ``stream_start`` (offset of the
    doc's first token in the shard's concatenated stream),
    ``first_block`` / ``last_block`` (0-based local block ids the doc's
    tokens touch), ``offset_in_first_block``, and ``n_blocks_spanned``.
    Each document is followed by ``sep_tokens`` sentinel tokens (the EOD
    marker), which belong to the stream but not to the document span.
    Empty documents (0 tokens) occupy only their sentinel; their span is
    defined as the single position of their start offset.
    """
    n = F.col(tokens_col).cast("long")
    w = Window.partitionBy(shard_col).orderBy(id_col, n) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    start = (F.sum(n + F.lit(sep_tokens)).over(w) - (n + F.lit(sep_tokens)))
    # last token position; empty docs collapse to their start position
    end = start + F.greatest(n, F.lit(1)) - F.lit(1)
    first = F.call_function("div", start, F.lit(block_size))
    last = F.call_function("div", end, F.lit(block_size))
    return docs.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("id"),
        n.alias("n_tokens"),
        start.alias("stream_start"),
        first.alias("first_block"),
        last.alias("last_block"),
        (start % block_size).alias("offset_in_first_block"),
        (last - first + F.lit(1)).alias("n_blocks_spanned"),
    )


def pack_token_blocks_sql(
    relation: str,
    tokens_expr: str,
    block_size: int,
    shard_col: str,
    id_col: str = "doc_id",
    sep_tokens: int = 1,
) -> str:
    """DuckDB twin of :func:`pack_token_blocks` (identical arithmetic)."""
    return f"""
WITH t AS (
  SELECT {shard_col} AS shard, {id_col} AS id,
         CAST({tokens_expr} AS BIGINT) AS n_tokens,
         -- DuckDB SUM(BIGINT) widens to HUGEINT; cast back so every
         -- oracle column stays pyarrow-convertible (test_env_robustness)
         CAST(SUM(CAST({tokens_expr} AS BIGINT) + {sep_tokens}) OVER (
             PARTITION BY {shard_col}
             ORDER BY {id_col}, CAST({tokens_expr} AS BIGINT)
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - (CAST({tokens_expr} AS BIGINT) + {sep_tokens}) AS BIGINT)
             AS stream_start
  FROM {relation}
),
s AS (
  SELECT *, stream_start + GREATEST(n_tokens, 1) - 1 AS stream_end FROM t
)
SELECT shard, id, n_tokens, stream_start,
       stream_start // {block_size} AS first_block,
       stream_end // {block_size} AS last_block,
       stream_start % {block_size} AS offset_in_first_block,
       stream_end // {block_size} - stream_start // {block_size} + 1
           AS n_blocks_spanned
FROM s
"""
