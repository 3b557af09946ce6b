"""Document chunking for a large-scale training-data pipeline: split long
documents into deterministic fixed-size character windows with overlap
(the standard pre-tokenization step for context-window-bounded training
and for embedding-indexing pipelines).

Scale shape: expression-only — ``sequence`` + ``explode`` + ``substr``
inside whole-stage codegen, one narrow pass over the corpus with NO
shuffle and no Python row path; output row count is corpus_chars/stride,
and chunk ids are (doc_id, chunk_idx), so the result is deterministic and
re-runs are bit-identical (the property downstream packing/dedup relies
on). Exact DuckDB oracle in ``__spark_entry__.py`` (q_chunk_docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(docs: DataFrame, chunk_size: int = 1000,
                    overlap: int = 100) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_chunks): window i covers
    characters [i*stride, i*stride + chunk_size) with
    stride = chunk_size - overlap; the last window may be shorter.
    n_chunks = 1 for docs at or under chunk_size (a whole-doc chunk, even
    when empty), else ceil((len - chunk_size)/stride) + 1 — the smallest
    window count that covers every character.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    text = F.col("text")
    ln = F.length(text)
    n = (F.when(ln <= chunk_size, F.lit(1))
         .otherwise(F.ceil((ln - F.lit(chunk_size)).cast("double")
                           / F.lit(stride)) + 1)
         .cast("int"))
    return (docs
            .select("doc_id", text, n.alias("n_chunks"),
                    F.explode(F.sequence(F.lit(0), n - 1)).alias("chunk_idx"))
            .select(
                "doc_id",
                "chunk_idx",
                text.substr(
                    F.col("chunk_idx") * stride + 1,
                    F.lit(chunk_size)).alias("chunk_text"),
                "n_chunks"))
