"""Unigram language-model quality scoring: the expression-level stand-in
for the KenLM perplexity filter every major curation pipeline runs (CCNet /
RefinedWeb / Dolma) — documents whose average token log-probability under a
corpus-trained model is far below typical are boilerplate/garbage
candidates.

Design:

- the model IS a DataFrame: (word, logp_micro) from one groupBy over the
  exploded corpus — at 10^12 tokens the vocab table shuffles fine and the
  scoring join is a plain hash join on the word key (NOT broadcast — web
  vocabularies don't fit); the corpus token total is ``SUM(c)`` over the
  vocab table AFTER that one shuffle (a vocab-sized aggregate job over the
  persisted counts — the round-4 version paid a second full explode scan
  of the corpus for ``words.count()``), folded in as a literal (a 1-row
  constant-key join would constant-fold into a nested-loop cross, which
  the physical-plan gate rightly bans);
- **integer micro-log-probs**: ln(c/total) is rounded to 1e-8 and stored as
  a BIGINT. Summing doubles across Spark partitions is
  accumulation-order-dependent; summing integers is exact and
  order-independent, so the per-document score is bit-identical between
  Spark and the DuckDB oracle by construction (same trick as the repo's
  DECIMAL(18,4) sums; the only residual risk is a libm ulp landing exactly
  on a 1e-8 rounding boundary);
- self-scoring has no OOV words; scoring a DIFFERENT corpus either drops
  OOV tokens (default — they are excluded from ``n_scored_tokens`` and the
  average) or charges them the KenLM-style fixed penalty via
  ``oov_logp_micro`` (conventionally ``round(ln(1/total) * 1e8)`` of the
  model corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark.functions.textops import tokens_col

MICRO = 100_000_000  # 1e8: micro-log-prob quantization


def unigram_model(docs: DataFrame) -> DataFrame:
    """(word, logp_micro) unigram table: logp_micro =
    round(ln(count/total) * 1e8) as BIGINT.

    One corpus pass total: the exploded word counts are persisted
    (vocab-sized — tiny relative to the corpus), the scalar total is a
    vocab-table aggregate over that cache (one long to the driver), and the
    returned model is a projection of the same cache — consumers never
    re-run the explode/shuffle. Lifetime contract: that vocab cache lives
    until the session ends (or ``spark.catalog.clearCache()``) — it is the
    model's backing store, so dropping it merely recomputes on next use."""
    words = docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("c")).persist()
    total = counts.agg(F.sum("c")).collect()[0][0] or 0
    return counts.select(
        "word",
        F.round(F.log(F.col("c").cast("double") / F.lit(float(total)))
                * MICRO).cast("long").alias("logp_micro"))


def unigram_doc_scores(docs: DataFrame, model: DataFrame | None = None,
                       oov_logp_micro: int | None = None) -> DataFrame:
    """Per-document average token log-probability:
    (doc_id, n_scored_tokens, avg_logprob) with avg_logprob =
    round(sum(logp_micro) / n / 1e8, 4). Docs with zero tokens are kept
    with null avg. ``model`` defaults to self-training on ``docs``.

    ``oov_logp_micro`` (for scoring a corpus the model wasn't trained on):
    None (default) drops out-of-vocabulary tokens — they count toward
    neither ``n_scored_tokens`` nor the average; an integer value charges
    every OOV token that fixed micro-log-prob instead (left join +
    coalesce), so ``n_scored_tokens`` then counts ALL tokens."""
    if model is None:
        model = unigram_model(docs)
    toks = docs.select("doc_id",
                       F.explode(tokens_col(F.col("text"))).alias("word"))
    if oov_logp_micro is None:
        toks = toks.join(model, "word")
    else:
        toks = (toks.join(model, "word", "left")
                .withColumn("logp_micro",
                            F.coalesce("logp_micro",
                                       F.lit(int(oov_logp_micro)))))
    scored = (toks.groupBy("doc_id")
              .agg(F.count("*").alias("n_scored_tokens"),
                   F.sum("logp_micro").alias("s")))
    base = docs.select("doc_id")
    return (base.join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_scored_tokens", F.lit(0).cast("long"))
                    .alias("n_scored_tokens"),
                    F.round(F.col("s").cast("double")
                            / F.col("n_scored_tokens").cast("double")
                            / MICRO, 4).alias("avg_logprob")))
