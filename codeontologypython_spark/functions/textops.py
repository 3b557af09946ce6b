"""Text-analysis operators for a large-scale training-data pipeline:
token counting, quality scoring, language-ID heuristic, document
fingerprinting. All pure JVM-side column expressions (whole-stage codegen,
no Python in the hot path); each has an exact DuckDB-SQL oracle in
``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small fixed stopword list shared with the SQL oracles
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization with empty tokens dropped (identical to the
    oracle's list_filter(string_split_regex(...)))."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def stopword_ratio(text: Column) -> Column:
    toks = tokens_col(text)
    hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(STOPWORDS_EN)))
    return hits.cast("double") / F.size(toks).cast("double")


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, "[^.,;:!?]", ""))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic: long enough, not stopword-degenerate,
    punctuation present. Deterministic integer score 0-3."""
    return (
        (token_count(text) >= 20).cast("int")
        + (stopword_ratio(text) < F.lit(0.5)).cast("int")
        + (punct_count(text) > 0).cast("int"))


def lang_id(text: Column) -> Column:
    """N-gram/stopword language-ID heuristic (expression-only stand-in for a
    fastText-style classifier): English stopword density decides en vs other."""
    return F.when(stopword_ratio(text) >= 0.05, F.lit("en")).otherwise(F.lit("other"))


# BPE-ish pre-tokenizer (GPT-2-style, simplified to the subset expressible
# in BOTH Java regex and DuckDB's RE2 — no lookaheads): contraction
# suffixes, letter runs, digit runs capped at 3 (modern BPE convention),
# single punctuation marks. Engine-portable by construction.
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def bpe_tokens_col(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count — the LLM-pipeline cost estimator (whitespace
    counts under-estimate tokenizer load on code/punctuation-heavy text)."""
    return F.size(bpe_tokens_col(text))


def bytes_per_token(text: Column) -> Column:
    """Compression proxy: document bytes per BPE-ish token (low ratio ->
    punctuation/digit-heavy content; both operands integer-exact, so the
    double division is bit-identical across engines)."""
    return (F.length(text).cast("double")
            / bpe_token_count(text).cast("double"))


def shingles_col(text: Column) -> Column:
    """3-token shingles (trigrams joined by a space). Guarded: F.sequence
    descends when start > stop, so docs shorter than 3 tokens must yield an
    empty array explicitly."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - 2)
    return F.when(
        F.size(toks) >= 3,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
    ).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(text: Column) -> Column:
    """Rolling-hash document fingerprint = lexicographic min of the md5 of
    each 3-token shingle (== a 1-permutation MinHash; stable across engines
    because md5 is standardized)."""
    return F.array_min(F.transform(shingles_col(text), F.md5))


def hash_hex_prefix_to_long(c: Column) -> Column:
    """First 8 hex chars of md5 as a bigint — the engine-portable integer
    hash used by MinHash (same value via ('0x'||substr(md5(x),1,8))::bigint
    in DuckDB)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


# C4/CCNet-style normalization patterns — Java-regex/RE2 common subset,
# shared verbatim with the DuckDB oracle (raw strings: the \xNN escapes are
# interpreted by the regex engines, not by Python)
CONTROL_CHARS_RE = r"[\x00-\x08\x0B-\x1F\x7F]"   # keep \n (\x0A) and \t
HSPACE_RUN_RE = r"[ \t]+"
NEWLINE_RUN_RE = r"\n{3,}"


def normalize_text(text: Column) -> Column:
    """Pre-training text normalization (C4/CCNet-style): strip control
    characters (newline/tab survive), collapse horizontal-whitespace runs to
    one space, cap blank-line runs at one, trim. Expression-only — no
    shuffle, no Python."""
    out = F.regexp_replace(text, CONTROL_CHARS_RE, "")
    out = F.regexp_replace(out, HSPACE_RUN_RE, " ")
    out = F.regexp_replace(out, NEWLINE_RUN_RE, "\n\n")
    return F.trim(out)


def repetition_ratio(text: Column) -> Column:
    """Intra-document repetition (Gopher/RefinedWeb-style quality signal):
    1 - distinct/total 3-token shingles. 0 = no repeated n-grams, ->1 =
    degenerate loops. Null for docs shorter than one shingle. Integer-exact
    operands, so the double division is bit-identical across engines."""
    sh = shingles_col(text)
    return F.when(
        F.size(sh) > 0,
        F.lit(1.0) - (F.size(F.array_distinct(sh)).cast("double")
                      / F.size(sh).cast("double")))
