"""Corpus-level span deduplication: remove every LATER occurrence of a
repeated span (paragraph / fixed-width token chunk) across the whole
corpus, keeping documents otherwise intact — the Spark-expressible form of
exact-substring training-data dedup (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better": their suffix-array pass is
inherently sequential; production pipelines approximate it at paragraph or
fixed-window granularity, which IS expressible as hash-groupBy).

Scale-first:

- spans are keyed by md5 (32-char key, uniform — no skew); the
  first-occurrence pick is a map-side-combining ``min(struct)`` aggregation,
  never a row_number window (CLAUDE.md pitfall 5);
- span TEXT never crosses an exchange (guide-§8 shape: decide on small
  rows, move heavy rows once): the decision pass shuffles only
  ``(md5, doc, pos)`` keys, the survivors collapse to a per-doc
  kept-position list, and each document is rebuilt locally from its OWN
  spans array by position — so the only byte-mass movement is the
  kept-position join back to the corpus (broadcast when the per-doc list
  table is small, one hash join at scale). The round-5 form shuffled the
  exploded span text twice (hash join-back + per-doc reassembly);
- the exploded key stream is deliberately NOT persisted: re-running a
  split+posexplode over the scan is far cheaper than caching it;
- nothing is O(n^2) and nothing collects.

The DuckDB oracle in ``__spark_entry__.py`` reproduces the same pipeline
(md5 keys, min-first-key, ordered string_agg) bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark.functions.textops import tokens_col


def token_chunks_col(text: Column, width: int = 3) -> Column:
    """Non-overlapping ``width``-token chunks (the last chunk may be
    shorter). Guarded like ``textops.shingles_col``: F.sequence descends when
    start > stop, so token-less docs must yield [] explicitly."""
    toks = tokens_col(text)
    n_chunks = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.when(
        F.size(toks) > 0,
        F.transform(idx, lambda i: F.concat_ws(
            " ", F.slice(toks, i * width + 1, width)))
    ).otherwise(F.array().cast("array<string>"))


def paragraphs_col(text: Column) -> Column:
    """Paragraph spans: split on blank lines, blank paragraphs dropped (the
    natural granularity for prose corpora; the synthetic test corpus is
    single-line, so the oracle query exercises token_chunks_col instead)."""
    return F.filter(F.split(text, "\n\n"), lambda p: p != "")


def span_dedup(df: DataFrame, spans: Column,
               join_sep: str = " ") -> DataFrame:
    """Keep only the corpus-wide FIRST occurrence (min (doc_id, pos)) of
    each distinct span; rebuild each document from its surviving spans.

    Returns (doc_id, text_clean, n_kept, n_removed) for EVERY input row —
    a document whose spans were all seen earlier comes back with
    text_clean = '' and n_kept = 0.
    """
    from codeontologypython_spark.operators.relational import fan_out

    did = F.col("doc_id")
    src = fan_out(df)
    # decision pass on keys only: the span column is projected away before
    # the exchange, so the groupBy shuffles ~50 B/span, not the text
    exploded = (src.select(did, F.posexplode(spans).alias("pos", "span"))
                .select(did, "pos", F.md5(F.col("span")).alias("h")))
    first = (exploded.groupBy("h")
             .agg(F.min(F.struct(did.alias("d"), F.col("pos").alias("p")))
                  .alias("first")))
    # per-doc kept positions (sorted = original span order)
    keep = (first.groupBy(F.col("first.d").alias("doc_id"))
            .agg(F.sort_array(F.collect_list("first.p")).alias("keep_pos")))
    # placement pass: rebuild each doc locally from its OWN spans array —
    # the only join that touches span bytes, and the position-list side is
    # broadcastable when small
    base = src.select(did, spans.alias("__spans"))
    n_kept = F.coalesce(F.size("keep_pos").cast("long"),
                        F.lit(0).cast("long"))
    return (base.join(keep, "doc_id", "left")
            .select(did,
                    F.coalesce(
                        F.concat_ws(join_sep, F.transform(
                            F.col("keep_pos"),
                            lambda p: F.element_at(F.col("__spans"), p + 1))),
                        F.lit("")).alias("text_clean"),
                    n_kept.alias("n_kept"),
                    (F.size("__spans").cast("long") - n_kept)
                    .alias("n_removed")))
