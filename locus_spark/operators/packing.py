"""Sequence packing — assign documents to fixed-token-budget training
sequences (the concat-and-chunk step every LLM data pipeline runs last).

Semantics: documents are concatenated into per-shard token streams in a
deterministic order (ascending ``doc_id``), and each document is labeled
with its start offset in the stream and the index of the ``budget``-token
window its first token lands in.  Downstream, window ``seq_id`` of shard
``pack_group`` is materialized by reading that shard's docs in order —
this operator computes the assignment, which is the shuffle-heavy part.

Scale shape (100 TB): packing is order-DEFINED, so some per-stream
serialization is irreducible — the scalable form shards the corpus into
``n_shards`` independent streams (real pipelines pack within shards; shard
count grows with data).  Within a shard the running offset is one window
cumsum: a single hash-partition + sort per shard, each shard independent.
No global sort, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from locus_spark.functions.metrics import sql_tokens

#: default context-window budget (whitespace tokens, the fixture's unit)
PACK_BUDGET = 256
#: default shard count — data-sized in production (streams stay independent)
PACK_SHARDS = 8


def pack_sequences(
    documents: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """(doc_id, pack_group, n_tokens, start_tok, seq_id): concat-and-chunk
    assignment of every document into ``budget``-token training windows,
    packed per ``doc_id % n_shards`` shard in ascending ``doc_id`` order.

    ``start_tok`` is the document's offset in its shard's concatenated
    token stream; ``seq_id = floor(start_tok / budget)`` is the training
    sequence its first token falls into (documents may straddle windows —
    standard concat-then-split semantics, no padding waste)."""
    toks = documents.selectExpr(
        "doc_id",
        f"doc_id % {int(n_shards)} AS pack_group",
        f"size({sql_tokens('text')}) AS n_tokens",
    )
    w = Window.partitionBy("pack_group").orderBy("doc_id")
    return (
        toks.withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn("seq_id", F.floor(F.col("start_tok") / budget))
    )
