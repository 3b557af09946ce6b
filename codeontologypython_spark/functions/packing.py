"""Sequence packing for LLM pre-training: assign every document a position
in a fixed-context-length token stream (bucket, seq_id, offset) so the
training loader can concatenate documents into full sequences with no
padding waste.

Deterministic distributed design: global greedy packing is inherently
sequential, so the corpus is first split into ``n_buckets`` independent
streams by a portable hash of the doc id (same md5-prefix hash as
``sampling`` — bit-reproducible across runs/engines), then packed
greedily WITHIN each bucket in doc_id order via a window cumsum. A
document whose tokens straddle a context boundary simply starts at
``offset`` in ``seq_id`` and spills into the next sequence — standard
stream-packing semantics (the loader splits at token granularity).

Scale-first: one shuffle (partitionBy bucket) + a per-bucket sort; buckets
are sized by the caller so each holds ~(corpus / n_buckets) docs — at
10^12 docs pick n_buckets ~ cluster cores x 4 and the per-bucket sort
stays executor-local. The window is a running SUM (not a rank-over-unique
-key dedup, which CLAUDE.md pitfall 5 bans for dedup); cumsum genuinely
needs the ordered window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from codeontologypython_spark.functions.textops import (
    hash_hex_prefix_to_long,
    token_count,
)


def pack_sequences(df: DataFrame, ctx_len: int,
                   n_buckets: int = 1024) -> DataFrame:
    """Returns (doc_id, bucket, n_tokens, seq_id, offset): the document's
    bucket stream, its whitespace-token count, the index of the ctx_len
    sequence its first token lands in, and the offset within it."""
    did = F.col("doc_id")
    t = df.select(
        did,
        (hash_hex_prefix_to_long(did.cast("string")) % n_buckets)
        .alias("bucket"),
        token_count(F.col("text")).cast("long").alias("n_tokens"))
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    packed = t.select(did, "bucket", "n_tokens", start)
    return packed.select(
        did, "bucket", "n_tokens",
        F.floor(F.col("start") / F.lit(ctx_len)).cast("long").alias("seq_id"),
        (F.col("start") % F.lit(ctx_len)).cast("long").alias("offset"))
