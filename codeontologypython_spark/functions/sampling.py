"""Deterministic corpus sampling / source mixing for a training-data
pipeline: per-source weighted mixing (RedPajama/Dolma-style source
reweighting) by a reproducible hash of the row key, and sampling a corpus
down to a per-source token budget.

Scale-first:

- the keep/drop decision is a pure column expression on a portable hash of
  the row key — no shuffle, no RNG state, embarrassingly parallel, and
  bit-reproducible across runs/engines (re-running the pipeline keeps the
  SAME rows — the property that makes ablations comparable);
- per-source fractions ride a broadcast join (sources are a tiny dimension
  next to the corpus);
- the token-budget variant needs ONE aggregation over (source, n_tokens)
  — the only shuffle, and it moves one row per source.

Engine portability: the uniform draw is
``conv(substring(md5(key),1,8),16,10) / 2^32`` — the same 32-bit-prefix
integer hash used by MinHash (``textops.hash_hex_prefix_to_long``), exactly
representable in a double, identical in DuckDB via
``('0x'||substr(md5(key),1,8))::bigint / 4294967296.0``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark.functions.textops import (
    hash_hex_prefix_to_long,
    token_count,
)

_TWO_32 = float(2 ** 32)


def uniform_from_key(key: Column) -> Column:
    """Deterministic uniform in [0, 1): md5-based, exact in a double."""
    return hash_hex_prefix_to_long(key.cast("string")) / F.lit(_TWO_32)


def weighted_sample(df: DataFrame, weights: DataFrame) -> DataFrame:
    """Per-source weighted mix: ``weights`` is a small (source, fraction)
    table, broadcast-joined; each row keeps iff u(doc_id) < its source's
    fraction. Sources absent from ``weights`` are dropped (fraction 0)."""
    w = F.broadcast(weights.select("source", "fraction"))
    return (df.join(w, "source")
            .filter(uniform_from_key(F.col("doc_id")) < F.col("fraction"))
            .drop("fraction"))


def token_budget_fractions(df: DataFrame,
                           budget_per_source: Column | float) -> DataFrame:
    """Per-source keep fractions that sample each source down to ~a token
    budget: fraction = least(1, budget / source_total_tokens). One
    single-row-per-source aggregation; the result is the broadcast side of
    ``weighted_sample``."""
    budget = (budget_per_source if isinstance(budget_per_source, Column)
              else F.lit(float(budget_per_source)))
    totals = (df.groupBy("source")
              .agg(F.sum(token_count(F.col("text"))).alias("total_tokens")))
    return totals.select(
        "source",
        F.least(F.lit(1.0),
                budget / F.col("total_tokens").cast("double"))
        .alias("fraction"))


def token_budget_sample(df: DataFrame,
                        budget_per_source: float) -> DataFrame:
    """Sample each source down to ~``budget_per_source`` whitespace tokens
    (expected value under the deterministic uniform): the data-mixing step
    that equalizes source contributions before training."""
    return weighted_sample(df, token_budget_fractions(df, budget_per_source))
