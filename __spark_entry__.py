"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every operator family of SURVEY.md §2 (and the
training-data-pipeline extensions) as a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL. Numeric columns
that aggregate doubles are routed through DECIMAL casts so Spark and DuckDB
produce bit-identical values; cosine similarities are computed with the same
operand order and rounded on both sides.

KG-pipeline queries (prefix ``kg_``) run the full extract->link->canonicalize
pipeline on the deterministic fixture corpus (FIXTURES.md). Their oracles come
in two independence tiers:

- the SMALL queries (library names, project libraries, overrides, inherited
  fields) are checked against hand-derived literal ``VALUES`` lists — rows
  computed by eye from the fixture sources (``corpus/fixtures.py``) under the
  reference's documented rules, NOT from any pipeline output. These prove
  SEMANTICS: a deterministic engine drift still breaks them.
- the AGGREGATE queries (class star, triples-by-predicate), where literal
  row lists are impractical, are SQL over the committed golden triple table
  (``tests/golden/kg_triples.parquet``, regenerated by
  ``tools/make_goldens.py``): the pipeline is deterministic
  (tests/test_golden.py), so these prove regression-freedom.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
_SW_SQL = "('" + "','".join(STOPWORDS) + "')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c, scale=4):
    return F.col(c).cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: local-supplier-volume style multi-join aggregation over
    sf0.001 (broadcast dims + partial aggregation; the relational shape of
    the KG linking stage)."""
    return _q5_local_supplier_volume(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# TPC-H-style relational primitives (SURVEY §2 operator demonstrations)
# --------------------------------------------------------------------------

def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                 F.sum(_dec("l_extendedprice")
                       * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
                 .cast("double").alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def _q3_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey")
            .agg(F.sum(_dec("l_extendedprice")
                       * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
                 .cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


def _q5_local_supplier_volume(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(cust, (orders.o_custkey == cust.c_custkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(F.sum(_dec("l_extendedprice")
                       * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
                 .cast("double").alias("revenue")))


def _q_broadcast_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("total_price")))


def _q_salted_join(spark, sf_dir):
    from codeontologypython_spark.operators.relational import salted_join
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    joined = salted_join(orders, cust, "custkey", salt=8)
    return (joined.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("total_price")))


def _q_window_dedup(spark, sf_dir):
    from codeontologypython_spark.operators.relational import window_dedup
    li = _t(spark, sf_dir, "lineitem")
    return window_dedup(
        li.select("l_orderkey", "l_linenumber", "l_partkey"),
        ["l_orderkey"],
        [F.col("l_linenumber"), F.col("l_partkey")])


def _q_top1_per_group(spark, sf_dir):
    from codeontologypython_spark.operators.relational import top1_per_group
    supp = _t(spark, sf_dir, "supplier")
    return top1_per_group(
        supp.select("s_nationkey", "s_suppkey", "s_acctbal"),
        ["s_nationkey"],
        [F.col("s_acctbal").desc(), F.col("s_suppkey")])


def _q_posexplode(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders.select(
        "o_orderkey",
        F.posexplode(F.split("o_orderpriority", "-")).alias("pos0", "part"))
        .select("o_orderkey", (F.col("pos0") + 1).alias("pos"), "part")
        .groupBy("part", "pos").agg(F.count("*").alias("n")))


def _q_transitive_closure(spark, sf_dir):
    from codeontologypython_spark.operators.relational import transitive_closure
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    edges = (cust.select((F.col("c_custkey") + 100000).cast("long").alias("src"),
                         F.col("c_nationkey").cast("long").alias("dst"))
             .unionByName(nation.select(
                 F.col("n_nationkey").cast("long").alias("src"),
                 (F.col("n_regionkey") + 1000).cast("long").alias("dst"))))
    return transitive_closure(edges)


def _q_sessionize(spark, sf_dir):
    """Sessionization: per-user event stream split at inactivity gaps > 1800s
    (lag + conditional cumsum — the batch form of a session window; the
    streaming form is applyInPandasWithState over the same key)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact integers: DuckDB's epoch() is a rounding DOUBLE
    # while a Spark long cast truncates — epoch_us/unix_micros agree exactly
    tsl = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = tsl - F.lag(tsl).over(w)
    with_flag = ev.select(
        "user_id", "event_id", tsl.alias("tsl"),
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
        .otherwise(0).alias("new_sess"))
    w2 = (Window.partitionBy("user_id").orderBy("tsl", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    sess = with_flag.withColumn("session_id", F.sum("new_sess").over(w2))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 (F.max("tsl") - F.min("tsl")).alias("duration_us")))


def _q_event_chain(spark, sf_dir):
    """P10's statement-chain window as a relational query: per-user event
    sequence position + next-event link (row_number + lead)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("user_id", "event_id",
                      F.row_number().over(w).alias("pos"),
                      F.lead("event_id").over(w).alias("next_event_id")))


# --------------------------------------------------------------------------
# training-data pipeline operators over documents / embeddings
# --------------------------------------------------------------------------

def _q_dedup_exact(spark, sf_dir):
    from codeontologypython_spark.functions.dedup import exact_dedup
    docs = _t(spark, sf_dir, "documents")
    return (exact_dedup(docs)
            .select("doc_id", "content_md5", "dup_count"))


def _q_chunk_docs(spark, sf_dir):
    """Fixed-size overlapping character windows (chunk_size=120,
    overlap=24 -> stride 96) over the documents table — expression-only,
    zero shuffle (functions/chunking.py)."""
    from codeontologypython_spark.functions.chunking import chunk_documents
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=120, overlap=24)


def _q_token_stats(spark, sf_dir):
    from codeontologypython_spark.functions import textops as tx
    from codeontologypython_spark.operators.relational import fan_out
    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = tx.tokens_col(F.col("text"))
    # two-level select: quality_score is DEFINED as
    # (n_tokens>=20)+(stopword_ratio<0.5)+(punct>0) over the same
    # tokenization — computing it from the already-produced columns avoids
    # re-running the split/filter expressions 3x per row (CollapseProject
    # keeps the split because each non-cheap alias is referenced twice)
    # total_token_len == count of non-whitespace characters: tokens are the
    # maximal non-\s runs (split on \s+, empties dropped), so the sum of
    # their lengths is length(text with all \s removed) — one codegen'd
    # regexp instead of an interpreted higher-order fold, bit-identical
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        .cast("long").alias("total_token_len"),
        F.size(F.filter(toks, lambda x: F.lower(x).isin(STOPWORDS)))
        .alias("stopword_hits"),
        tx.punct_count(F.col("text")).alias("punct_chars"))
    return stats.select(
        "doc_id", "n_tokens", "total_token_len", "stopword_hits",
        "punct_chars",
        ((F.col("n_tokens") >= 20).cast("int")
         + ((F.col("stopword_hits").cast("double")
             / F.col("n_tokens").cast("double")) < F.lit(0.5)).cast("int")
         + (F.col("punct_chars") > 0).cast("int")).alias("quality_score"))


def _q_lang_id(spark, sf_dir):
    from codeontologypython_spark.functions.textops import lang_id
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(lang_id(F.col("text")).alias("pred_lang"))
            .groupBy("pred_lang").agg(F.count("*").alias("n_docs")))


def _q_fingerprint(spark, sf_dir):
    from codeontologypython_spark.functions.textops import doc_fingerprint
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       doc_fingerprint(F.col("text")).alias("fingerprint"))


def _q_bpe_token_stats(spark, sf_dir):
    """BPE-ish tokenizer stats (GPT-2-style pre-tokenizer regex, the brief's
    'token counting: whitespace + a BPE-ish regex'); expression-only."""
    from codeontologypython_spark.functions.textops import (
        bpe_token_count, bytes_per_token, token_count)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        bytes_per_token(F.col("text")).alias("bytes_per_token"))


def _q_ngram_jaccard(spark, sf_dir):
    from codeontologypython_spark.functions.dedup import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.2)


def _q_minhash_signature(spark, sf_dir):
    from codeontologypython_spark.functions.dedup import minhash_signature
    docs = _t(spark, sf_dir, "documents")
    return minhash_signature(docs)


def _q_minhash_lsh(spark, sf_dir):
    from codeontologypython_spark.functions.dedup import minhash_lsh_pairs
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.25)


def _q_repetition(spark, sf_dir):
    """Intra-doc repeated-n-gram ratio (quality signal)."""
    from codeontologypython_spark.functions.textops import repetition_ratio
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       repetition_ratio(F.col("text")).alias("rep_ratio"))


def _q_decontaminate(spark, sf_dir):
    """Test-set decontamination: docs < 480 checked against the last 20
    docs standing in as a benchmark suite."""
    from codeontologypython_spark.functions.dedup import decontaminate
    docs = _t(spark, sf_dir, "documents")
    return decontaminate(docs.filter(F.col("doc_id") < 480),
                         docs.filter(F.col("doc_id") >= 480),
                         min_shared=3)


def _q_near_dup_clusters(spark, sf_dir):
    """Connected components over MinHash-LSH near-dup pairs: every document
    gets the min doc id reachable through the pair graph as cluster_id —
    the step that turns pairwise candidates into dedup decisions."""
    from codeontologypython_spark.functions.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.25)
    return near_dup_clusters(docs, pairs)


def _q_knn_cosine(spark, sf_dir):
    from codeontologypython_spark.functions.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5)


def _q_ivf_ann(spark, sf_dir):
    """IVF ANN: deterministic mini-k-means coarse quantizer + nprobe cell
    probing (the inverted-file alternative to sign-LSH; brief: 'an IVF or
    LSH-bucketed variant as the scale path'). The oracle reproduces the SAME
    two Lloyd iterations in SQL (rounded centroid means make the floating-
    point trajectory engine-portable)."""
    from codeontologypython_spark.functions.similarity import ivf_ann_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_ann_topk(emb, queries, k=5, n_cells=8, iters=2, nprobe=2)


def _q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket self-join +
    exact cosine confirm (the 100TB-path shape — never all-pairs)."""
    from codeontologypython_spark.functions.similarity import (
        embedding_near_dup_pairs)
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.2, dim=64, n_planes=4,
                                    seed=7)


def _q_simhash_pairs(spark, sf_dir):
    from codeontologypython_spark.functions.dedup import simhash_near_dup_pairs
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_near_dup_pairs(docs, min_equal_chunks=3)


def _q_lsh_ann(spark, sf_dir):
    from codeontologypython_spark.functions.similarity import lsh_ann_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_ann_topk(emb, queries, k=5, dim=64, n_planes=4)


def _pii_augmented_text():
    """The synthetic corpus contains no PII, so the redaction query plants
    deterministic PII per document (email + IPv4 + phone derived from
    doc_id) on BOTH engines before scrubbing — exercising every pattern on
    every row instead of matching nothing."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.1."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +1415555"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"))


def _q_pii_redact(spark, sf_dir):
    """PII redaction audit: scrubbed text + per-class match counts
    (expression-only; counts taken on the pre-redaction text)."""
    from codeontologypython_spark.functions.redact import (pii_counts,
                                                           redact_pii)
    from codeontologypython_spark.operators.relational import fan_out
    docs = fan_out(_t(spark, sf_dir, "documents"))
    aug = _pii_augmented_text()
    counts = pii_counts(aug)
    return docs.select(
        "doc_id", redact_pii(aug).alias("text_redacted"),
        *[c.alias(n) for n, c in counts.items()])


def _q_weighted_mix(spark, sf_dir):
    """Source-weighted corpus mix: per-source keep fraction derived
    deterministically from md5(source) (stand-in for curated mixing
    weights), rows kept by the portable hash-uniform — fully reproducible
    sampling, no RNG state."""
    from codeontologypython_spark.functions.sampling import weighted_sample
    from codeontologypython_spark.functions.textops import (
        hash_hex_prefix_to_long)
    docs = _t(spark, sf_dir, "documents")
    weights = (docs.select("source").distinct()
               .select("source",
                       ((hash_hex_prefix_to_long(F.col("source")) % 100 + 1)
                        / F.lit(100.0)).alias("fraction")))
    return weighted_sample(docs, weights).select("doc_id", "source")


def _q_token_budget_mix(spark, sf_dir):
    """Token-budget data mixing: every source sampled down to ~400
    whitespace tokens (fraction = least(1, budget/source_total), one
    row-per-source aggregation + broadcast join; the sf0.01 sources carry
    ~1000 tokens each, so every fraction is a real sub-1 rate)."""
    from codeontologypython_spark.functions.sampling import (
        token_budget_sample)
    docs = _t(spark, sf_dir, "documents")
    return (token_budget_sample(docs, 400.0)
            .select("doc_id", "source"))


def _q_normalize_text(spark, sf_dir):
    """Text normalization audit: the corpus is clean ASCII, so the query
    plants leading/trailing whitespace, a tab run and two control chars per
    doc on BOTH engines, then normalizes (C4/CCNet-style)."""
    from codeontologypython_spark.functions.textops import normalize_text
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(F.lit("  "), F.col("text"), F.lit(" \t tail"),
                   F.lit(chr(1) + chr(7)))
    norm = normalize_text(aug)
    return docs.select(
        "doc_id", norm.alias("text_norm"),
        F.length(aug).alias("n_chars_before"),
        F.length(norm).alias("n_chars_after"))


def _q_pack_sequences(spark, sf_dir):
    """Sequence packing: every doc mapped to (bucket, seq_id, offset) in a
    512-token packed training stream, 8 independent hash-bucket streams."""
    from codeontologypython_spark.functions.packing import pack_sequences
    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, ctx_len=512, n_buckets=8)


def _q_curate(spark, sf_dir):
    """The full curation composition END-TO-END (functions/curation.curate):
    quality gate -> exact dedup -> decontaminate (vs docs >= 480 standing in
    as the benchmark suite) -> weighted source mix; the oracle reproduces
    the whole chain relationally, so the composition — not just the pieces —
    is hash-checked."""
    from codeontologypython_spark.functions.curation import curate
    from codeontologypython_spark.functions.textops import (
        hash_hex_prefix_to_long)
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 480)
    benchmark = docs.filter(F.col("doc_id") >= 480)
    weights = (corpus.select("source").distinct()
               .select("source",
                       ((hash_hex_prefix_to_long(F.col("source")) % 100 + 1)
                        / F.lit(100.0)).alias("fraction")))
    out, _audit = curate(corpus, benchmark=benchmark, weights=weights,
                         lang="en", min_quality=2, max_repetition=0.5,
                         min_shared_shingles=3)
    return out.select("doc_id", "source")


def _q_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality score (KenLM-perplexity-filter analog): average
    token log-probability under the corpus-trained unigram model;
    integer micro-log-probs make the distributed sum order-independent and
    bit-identical to the oracle."""
    from codeontologypython_spark.functions.lm import unigram_doc_scores
    docs = _t(spark, sf_dir, "documents")
    return unigram_doc_scores(docs)


def _q_span_dedup(spark, sf_dir):
    """Corpus-level exact span dedup (Lee-et-al-style at fixed 3-token
    granularity): later occurrences of any repeated span are cut, documents
    rebuilt from surviving spans."""
    from codeontologypython_spark.functions.spandedup import (span_dedup,
                                                              token_chunks_col)
    docs = _t(spark, sf_dir, "documents")
    return span_dedup(docs, token_chunks_col(F.col("text"), 3))


# --------------------------------------------------------------------------
# KG pipeline queries (fixture corpus; rows-only driver check)
# --------------------------------------------------------------------------

_KG_CACHE: dict[int, DataFrame] = {}


def _kg_triples(spark: SparkSession) -> DataFrame:
    key = id(spark)
    if key not in _KG_CACHE:
        from codeontologypython_spark.corpus.fixtures import (
            project_manifest_df,
            source_files_df,
        )
        from codeontologypython_spark.operators.extract import extract_stage
        from codeontologypython_spark.plans.pipeline import build_kg
        from codeontologypython_spark.session import cache_scope
        # the eager localCheckpoint materializes every stage cache, which
        # the scope then releases, so the 40+ queries sharing this session
        # don't carry dead cached tables; the checkpoint itself is kept
        with cache_scope(spark) as keep:
            out = extract_stage(source_files_df(spark)).localCheckpoint()
            final = build_kg(out, manifest=project_manifest_df(spark))
            _KG_CACHE[key] = keep(final.localCheckpoint())
    return _KG_CACHE[key]


def _kg_library_names(spark, sf_dir):
    """The reference README's golden query (README.md:56-64): names of all
    woc:Library individuals."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    libs = t.filter((F.col("pred") == woc.RDF_TYPE)
                    & (F.col("obj") == woc.CLS["Library"])).select("subj")
    names = t.filter(F.col("pred") == woc.DPROP["hasName"])
    return (libs.join(names, "subj")
            .select(F.col("obj").alias("library_name")).distinct())


def _kg_sparql_library_names(spark, sf_dir):
    """The README's library-listing query run AS SPARQL TEXT (README.md:
    56-64 verbatim, plus the rdf prefix the reference's tooling provides
    implicitly) through plans.sparql — the reference's published query
    surface made native. Oracle = the same hand-derived VALUES list as
    kg_library_names, so the compiler is held to the literal expected
    answer."""
    from codeontologypython_spark.plans.sparql import sparql_to_df
    t = _kg_triples(spark)
    q = """
    prefix woc: <http://rdf.webofcode.org/woc/>

    SELECT DISTINCT ?n_lib
    WHERE {
        ?lib rdf:type woc:Library .
        ?lib woc:hasName ?n_lib .
    }
    """
    return sparql_to_df(t, q).select(F.col("n_lib").alias("library_name"))


def _kg_sparql_class_star(spark, sf_dir):
    """The README's class-star demo (README.md:95-99) as SPARQL text with
    aggregation: property counts around every Class node, compiled by
    plans.sparql (GROUP BY + COUNT). Oracle = the same golden-table SQL as
    kg_class_star."""
    from codeontologypython_spark.plans.sparql import sparql_to_df
    t = _kg_triples(spark)
    q = """
    prefix woc: <http://rdf.webofcode.org/woc/>

    SELECT ?pred (COUNT(*) AS ?n)
    WHERE {
        ?c rdf:type woc:Class .
        ?c ?pred ?o .
    }
    GROUP BY ?pred
    """
    return sparql_to_df(t, q)


def _kg_sparql_class_star_deep(spark, sf_dir):
    """The README's 2-hop deep star (docs/okgraph_class_star_deep*.html) as
    SPARQL text: isLiteral() pushdown + 3-pattern BGP + GROUP BY. Oracle =
    the same golden-table SQL as kg_class_star_deep."""
    from codeontologypython_spark.plans.sparql import sparql_to_df
    t = _kg_triples(spark)
    q = """
    prefix woc: <http://rdf.webofcode.org/woc/>

    SELECT ?pred1 ?pred2 (COUNT(*) AS ?n)
    WHERE {
        ?c rdf:type woc:Class .
        ?c ?pred1 ?mid .
        FILTER (!isLiteral(?mid))
        ?mid ?pred2 ?o2 .
    }
    GROUP BY ?pred1 ?pred2
    """
    return sparql_to_df(t, q)


def _kg_sparql_superclass_names(spark, sf_dir):
    """SPARQL 1.1 property paths on the live graph: the sequence path
    ``woc:extends/woc:hasName`` (the first thing a SPARQL user writes after
    the README demos — README.md:95-99 is itself a 2-hop pattern) compiled
    by plans.sparql into the same self-join the hand-written deep-star
    queries use. Oracle = hand-derived VALUES from the fixture hierarchy
    (zoo: Dog(Animal), Puppy(Dog) are the only extends edges), so the path
    expansion is held to the literal expected answer."""
    from codeontologypython_spark.plans.sparql import sparql_to_df
    t = _kg_triples(spark)
    q = """
    prefix woc: <http://rdf.webofcode.org/woc/>

    SELECT DISTINCT ?cn ?sn
    WHERE {
        ?c rdf:type woc:Class .
        ?c woc:hasSimpleName ?cn .
        ?c woc:extends/woc:hasSimpleName ?sn .
    }
    """
    return sparql_to_df(t, q).select(
        F.col("cn").alias("class_name"),
        F.col("sn").alias("superclass_name"))


def _kg_sparql_values_libraries(spark, sf_dir):
    """SPARQL 1.1 VALUES inline bindings on the live graph: the README
    library listing restricted to an inline name table — the
    tooling-generated query shape (bind a candidate list, join the graph).
    Oracle = the intersection VALUES list: of the four candidates, 'zoo'
    and 'pkg_a' are fixture libraries, 'nope'/'missing' are not."""
    from codeontologypython_spark.plans.sparql import sparql_to_df
    t = _kg_triples(spark)
    q = """
    prefix woc: <http://rdf.webofcode.org/woc/>

    SELECT DISTINCT ?n
    WHERE {
        ?lib rdf:type woc:Library .
        ?lib woc:hasName ?n .
        VALUES ?n { "zoo" "pkg_a" "nope" "missing" }
    }
    """
    return sparql_to_df(t, q).select(F.col("n").alias("library_name"))


def _kg_sparql_ancestor_names(spark, sf_dir):
    """SPARQL 1.1 one-or-more path on the live graph: ``woc:extends+``
    (compiled by plans.sparql into a bounded localCheckpoint-barriered
    closure) chained with ``/woc:hasSimpleName``. Oracle = hand-derived
    VALUES from the fixture hierarchy: the only extends chain is
    Puppy -> Dog -> Animal, so the transitive (class, ancestor-name) pairs
    are exactly Dog->Animal, Puppy->Dog, Puppy->Animal."""
    from codeontologypython_spark.plans.sparql import sparql_to_df
    t = _kg_triples(spark)
    q = """
    prefix woc: <http://rdf.webofcode.org/woc/>

    SELECT DISTINCT ?cn ?an
    WHERE {
        ?c woc:hasSimpleName ?cn .
        ?c woc:extends+/woc:hasSimpleName ?an .
    }
    """
    return sparql_to_df(t, q).select(
        F.col("cn").alias("class_name"),
        F.col("an").alias("ancestor_name"))


def _kg_class_star(spark, sf_dir):
    """README.md:95-99 class-star: all properties around each Class node."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    classes = t.filter((F.col("pred") == woc.RDF_TYPE)
                       & (F.col("obj") == woc.CLS["Class"])).select("subj")
    return (classes.join(t, "subj")
            .groupBy("pred").agg(F.count("*").alias("n")))


# the 13 class-star predicates whose counts are hand-derivable from the
# fixture sources (justified row-by-row in _KG_CLASS_STAR_CORE_SQL)
_STAR_CORE_PREDICATES = (
    "22-rdf-syntax-ns#type", "hasSimpleName", "hasFullyQualifiedName",
    "hasDocumentation", "hasBody", "hasPackage", "hasModifier",
    "extends", "hasSubClass", "hasConstructor", "hasMethod", "hasField",
    "isImportedBy",
)


def _kg_class_star_core(spark, sf_dir):
    """Class-star restricted to the 13 predicates with hand-derived counts
    — converts the star surface from a golden-table determinism gate into
    a semantic one for the rows a human can read off the fixtures (the
    full 16-predicate star keeps its golden-SQL oracle alongside)."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    classes = t.filter((F.col("pred") == woc.RDF_TYPE)
                       & (F.col("obj") == woc.CLS["Class"])).select("subj")
    wanted = [woc.RDF_TYPE if p.endswith("#type") else
              (woc.PROP.get(p) or woc.DPROP.get(p))
              for p in _STAR_CORE_PREDICATES]
    return (classes.join(t, "subj")
            .filter(F.col("pred").isin(wanted))
            .groupBy("pred").agg(F.count("*").alias("n")))


def _kg_class_star_deep(spark, sf_dir):
    """README.md:95-99 DEEP class star (docs/okgraph_class_star_deep*.html):
    the 2-hop neighborhood — every property of each Class node plus one more
    hop through its non-literal objects — aggregated as path counts per
    (first-hop predicate, second-hop predicate)."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    classes = t.filter((F.col("pred") == woc.RDF_TYPE)
                       & (F.col("obj") == woc.CLS["Class"])).select("subj")
    hop1 = (classes.join(t, "subj")
            .filter(~F.col("obj_is_literal"))
            .select(F.col("pred").alias("pred1"),
                    F.col("obj").alias("mid")))
    hop2 = t.select(F.col("subj").alias("mid"), F.col("pred").alias("pred2"))
    return (hop1.join(hop2, "mid")
            .groupBy("pred1", "pred2").agg(F.count("*").alias("n")))


def _kg_triples_by_predicate(spark, sf_dir):
    t = _kg_triples(spark)
    return t.groupBy("pred").agg(F.count("*").alias("n"))


# the 10 semantically loaded predicates whose fixture counts are hand-
# derivable (VERDICT r4 #6): each count is justified predicate-by-predicate
# in _KG_CORE_PREDICATE_COUNTS_SQL below
_CORE_PREDICATES = (
    "extends", "hasSubClass", "overrides", "isOverriddenBy",
    "hasField", "isFieldOf", "hasMethod", "hasConstructor",
    "hasParameter", "hasDependency",
)


def _kg_core_predicate_counts(spark, sf_dir):
    """Per-predicate counts restricted to the 10 semantically loaded
    predicates, checked against hand-derived VALUES (not the golden table):
    this turns the triples-by-predicate surface from a determinism gate
    into a semantic one for the predicates that carry the reference's core
    meaning (class hierarchy, overrides, fields, methods, parameters,
    project structure — reference tracking.py/individuals.py cites in the
    oracle's derivation comments)."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    wanted = [woc.PROP.get(p) or woc.DPROP.get(p) for p in _CORE_PREDICATES]
    return (t.filter(F.col("pred").isin(wanted))
            .groupBy("pred").agg(F.count("*").alias("n")))


def _kg_overrides(spark, sf_dir):
    """Override pairs in human-derivable form: (owning-class FQN, method
    name) -> (ancestor-class FQN, method name). The raw subj/obj are
    content-hashed IRIs (canonicalize.compute_iris), so the query resolves
    them through isMethodOf + hasFullyQualifiedName/hasName — which lets the
    oracle be a hand-derived VALUES list instead of golden-table SQL
    (first-match-in-MRO semantics, reference transformer/__init__.py:54-84)."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    ov = (t.filter(F.col("pred") == woc.PROP["overrides"])
          .select(F.col("subj").alias("m"), F.col("obj").alias("anc")))
    owner = (t.filter(F.col("pred") == woc.PROP["isMethodOf"])
             .select(F.col("subj").alias("meth"), F.col("obj").alias("cls")))
    cfqn = (t.filter(F.col("pred") == woc.DPROP["hasFullyQualifiedName"])
            .select(F.col("subj").alias("cls"), F.col("obj").alias("fqn")))
    mname = (t.filter(F.col("pred") == woc.DPROP["hasName"])
             .select(F.col("subj").alias("meth"), F.col("obj").alias("nm")))
    left = (ov.join(owner, ov.m == owner.meth).join(cfqn, "cls")
            .join(mname, "meth")
            .select("anc", F.col("fqn").alias("class_fqn"),
                    F.col("nm").alias("method_name")))
    right = (left.join(owner, left.anc == owner.meth).join(cfqn, "cls")
             .join(mname, "meth")
             .select("class_fqn", "method_name",
                     F.col("fqn").alias("overridden_class_fqn"),
                     F.col("nm").alias("overridden_method_name")))
    return right


def _kg_inherited_fields(spark, sf_dir):
    """Inherited fields per class (reference track_fields reverse-MRO +
    super().__init__ chain semantics, tracking.py:785-835): every class
    carries hasField for ancestor-declared fields too — Dog(Animal) lists
    kingdom/limbs/name/_age alongside its own a/b/breed."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    has_field = (t.filter(F.col("pred") == woc.PROP["hasField"])
                 .select(F.col("subj").alias("cls_iri"),
                         F.col("obj").alias("field_iri")))
    names = (t.filter(F.col("pred") == woc.DPROP["hasFullyQualifiedName"])
             .select(F.col("subj").alias("cls_iri"),
                     F.col("obj").alias("class_fqn")))
    fnames = (t.filter(F.col("pred") == woc.DPROP["hasSimpleName"])
              .select(F.col("subj").alias("field_iri"),
                      F.col("obj").alias("field_name")))
    return (has_field.join(names, "cls_iri").join(fnames, "field_iri")
            .select("class_fqn", "field_name").distinct()
            .orderBy("class_fqn", "field_name"))


def _kg_project_libraries(spark, sf_dir):
    """Project-own libraries only (reference is_by_project,
    explore/__init__.py:188-231; init_library links hasProject only for
    project-declared libraries, individuals.py:720-731): the manifest-
    classified graph keeps dependency libraries as named individuals but
    without project links, so filtering on hasProject reproduces the README's
    per-project library listing (README.md:46-93) minus dependencies —
    fixtures/dep_unused's `unused_dep` drops out."""
    from codeontologypython_spark import woc
    t = _kg_triples(spark)
    own = (t.filter(F.col("pred") == woc.PROP["hasProject"])
           .select("subj"))
    names = t.filter(F.col("pred") == woc.DPROP["hasName"])
    return (own.join(names, "subj")
            .select(F.col("obj").alias("library_name")).distinct())


def _kg_sql_library_listing(spark, sf_dir):
    """SURVEY §2.6: the README's SPARQL demo (README.md:54-93) expressed as
    spark.sql over the triple table — rdf:type filter + property self-join."""
    from codeontologypython_spark import woc
    _kg_triples(spark).createOrReplaceTempView("kg_triples")
    return spark.sql(f"""
        SELECT DISTINCT n.obj AS library_name
        FROM kg_triples t
        JOIN kg_triples n ON t.subj = n.subj
        WHERE t.pred = '{woc.RDF_TYPE}'
          AND t.obj = '{woc.CLS["Library"]}'
          AND n.pred = '{woc.DPROP["hasName"]}'
    """)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_shipping_priority": _q3_shipping_priority,
        "q5_local_supplier_volume": _q5_local_supplier_volume,
        "q_broadcast_join": _q_broadcast_join,
        "q_salted_join": _q_salted_join,
        "q_window_dedup": _q_window_dedup,
        "q_top1_per_group": _q_top1_per_group,
        "q_posexplode": _q_posexplode,
        "q_transitive_closure": _q_transitive_closure,
        "q_event_chain": _q_event_chain,
        "q_sessionize": _q_sessionize,
        "q_dedup_exact": _q_dedup_exact,
        "q_chunk_docs": _q_chunk_docs,
        "q_token_stats": _q_token_stats,
        "q_bpe_token_stats": _q_bpe_token_stats,
        "q_lang_id": _q_lang_id,
        "q_fingerprint": _q_fingerprint,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_minhash_signature": _q_minhash_signature,
        "q_minhash_lsh": _q_minhash_lsh,
        "q_near_dup_clusters": _q_near_dup_clusters,
        "q_repetition": _q_repetition,
        "q_decontaminate": _q_decontaminate,
        "q_knn_cosine": _q_knn_cosine,
        "q_simhash_pairs": _q_simhash_pairs,
        "q_embedding_near_dup": _q_embedding_near_dup,
        "q_ivf_ann": _q_ivf_ann,
        "q_lsh_ann": _q_lsh_ann,
        "q_pii_redact": _q_pii_redact,
        "q_weighted_mix": _q_weighted_mix,
        "q_token_budget_mix": _q_token_budget_mix,
        "q_normalize_text": _q_normalize_text,
        "q_pack_sequences": _q_pack_sequences,
        "q_unigram_logprob": _q_unigram_logprob,
        "q_curate": _q_curate,
        "q_span_dedup": _q_span_dedup,
        "kg_library_names": _kg_library_names,
        "kg_project_libraries": _kg_project_libraries,
        "kg_sql_library_listing": _kg_sql_library_listing,
        "kg_sparql_library_names": _kg_sparql_library_names,
        "kg_class_star": _kg_class_star,
        "kg_sparql_class_star": _kg_sparql_class_star,
        "kg_sparql_class_star_deep": _kg_sparql_class_star_deep,
        "kg_sparql_superclass_names": _kg_sparql_superclass_names,
        "kg_sparql_ancestor_names": _kg_sparql_ancestor_names,
        "kg_sparql_values_libraries": _kg_sparql_values_libraries,
        "kg_class_star_deep": _kg_class_star_deep,
        "kg_triples_by_predicate": _kg_triples_by_predicate,
        "kg_core_predicate_counts": _kg_core_predicate_counts,
        "kg_class_star_core": _kg_class_star_core,
        "kg_overrides": _kg_overrides,
        "kg_inherited_fields": _kg_inherited_fields,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_REV = ("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
        "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) "
        "AS DOUBLE)")

_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
_SHINGLES_RAW = ("list_transform(range(1, len({t}) - 1), "
                 "i -> array_to_string({t}[i:i+2], ' '))")
_SHINGLES = "list_distinct(" + _SHINGLES_RAW + ")"


def _mh_expr(k: int) -> str:
    # mirrors dedup.minhash_signature: one md5 base per shingle, affine
    # variants (A_k*base + B_k) mod 2^31-1 (see dedup._MH_A/_MH_B/_MH_P)
    from codeontologypython_spark.functions.dedup import _MH_A, _MH_B, _MH_P
    return (f"list_min(list_transform(bases, "
            f"h -> ({_MH_A[k]} * h + {_MH_B[k]}) % {_MH_P})) AS mh_{k}")


def _simhash_sql() -> str:
    """64-bit majority-vote SimHash (functions/dedup.simhash64) in DuckDB:
    per bit, majority of that bit across the token-md5 halves; word = sum of
    (majority << b). Shifts wrap two's-complement identically in Spark and
    DuckDB, so the 64-bit value (and its 16-bit chunks) are bit-identical."""
    def word(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN 2*list_sum(list_transform({col}, h -> (h >> {b}) & 1))"
            f" > n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
            for b in range(32))

    # the 64-bit pack (hi << 32) overflows DuckDB's checked BIGINT shift, so
    # compare the four 16-bit chunks straight off the 32-bit halves —
    # bit-identical to Spark's (simhash64 >> 16i) & 0xFFFF because the pack
    # is a pure bit concatenation (no carries)
    eq = " + ".join(
        f"(CASE WHEN a.c{i} = b.c{i} THEN 1 ELSE 0 END)" for i in range(4))
    chunk_join = " OR ".join(f"(a.c{i} = b.c{i})" for i in range(4))
    return f"""
        WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks
                   FROM documents WHERE doc_id < 200),
        parts AS (SELECT doc_id,
                    list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs,
                    list_transform(toks, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS ls,
                    len(toks) AS n
                  FROM t),
        w AS (SELECT doc_id, ({word('hs')}) AS hi, ({word('ls')}) AS lo
              FROM parts),
        c AS (SELECT doc_id,
                     lo & 65535 AS c0, (lo >> 16) & 65535 AS c1,
                     hi & 65535 AS c2, (hi >> 16) & 65535 AS c3
              FROM w),
        scored AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          ({eq}) AS equal_chunks
                   FROM c a JOIN c b ON a.doc_id < b.doc_id
                                    AND ({chunk_join}))
        SELECT doc_a, doc_b, equal_chunks
        FROM scored WHERE equal_chunks >= 3"""


# --- hand-derived literal oracles (independent semantics) -------------------
# Each row below is computed BY EYE from corpus/fixtures.py under the
# reference's documented rules — no pipeline output involved, so the hash
# gate proves semantics, not just determinism.

# One woc:Library per import-root across the fixture repos (reference
# explore/__init__.py:404-458: a library is a top-level package, namespace-
# package root, or top-level module):
#   proj_basic   -> pkg_a (regular pkg), ns (namespace-pkg root),
#                   standalone (top-level module)
#   proj_classes -> zoo;  proj_statements -> stmts;  proj_types -> typed
#   proj_hub     -> hub;  dep_unused -> unused_dep (a dependency still gets
#                   its Library individual + hasName, individuals.py:720-731)
#   proj_broken  -> ok (ok.py parses; broken.py is warn-and-skip,
#                   notes.txt is lang='text' and never enters the pipeline)
_KG_LIBRARY_NAMES_SQL = """
    SELECT library_name FROM (VALUES
        ('hub'), ('ns'), ('ok'), ('pkg_a'), ('standalone'),
        ('stmts'), ('typed'), ('unused_dep'), ('zoo')
    ) AS v(library_name)"""

# Project-OWN libraries only (reference is_by_project gating hasProject,
# explore/__init__.py:188-231 + individuals.py:720-731): the fixture manifest
# (fixtures.FIXTURE_MANIFEST_ROWS) marks exactly unused_dep as a dependency
# of its repo, so it alone drops out of the listing above.
_KG_PROJECT_LIBRARIES_SQL = """
    SELECT library_name FROM (VALUES
        ('hub'), ('ns'), ('ok'), ('pkg_a'), ('standalone'),
        ('stmts'), ('typed'), ('zoo')
    ) AS v(library_name)"""

# First-match-in-MRO override pairs (transformer/__init__.py:54-84), read off
# the zoo hierarchy in fixtures._PROJ_CLASSES:
#   Dog(Animal).speak   overrides Animal.speak (only base)
#   Puppy(Dog).speak    overrides Dog.speak    (C3 MRO = [Dog, Animal];
#                        Dog redefines speak, so Dog wins the first match)
# No other method name repeats along any inheritance chain; __init__ pairs
# are Constructors, not Methods, so P4 never considers them.
_KG_OVERRIDES_SQL = """
    SELECT class_fqn, method_name, overridden_class_fqn, overridden_method_name
    FROM (VALUES
        ('zoo.dog.Dog',   'speak', 'zoo.base.Animal', 'speak'),
        ('zoo.pup.Puppy', 'speak', 'zoo.dog.Dog',     'speak')
    ) AS v(class_fqn, method_name, overridden_class_fqn, overridden_method_name)"""

# Sequence-path woc:extends/woc:hasName over the zoo hierarchy
# (fixtures._PROJ_CLASSES): Dog(Animal) and Puppy(Dog) are the corpus's only
# extends edges (Collar/Kennel/HubThing/HubError are base-less), so the
# (class hasName, superclass hasName) pairs are exactly these two rows.
_KG_SUPERCLASS_NAMES_SQL = """
    SELECT class_name, superclass_name FROM (VALUES
        ('Dog', 'Animal'), ('Puppy', 'Dog')
    ) AS v(class_name, superclass_name)"""

# Transitive extends+ ancestors: the zoo chain Puppy -> Dog -> Animal is the
# corpus's only inheritance path, so the closure adds exactly one pair
# (Puppy, Animal) beyond the direct edges.
_KG_ANCESTOR_NAMES_SQL = """
    SELECT class_name, ancestor_name FROM (VALUES
        ('Dog', 'Animal'), ('Puppy', 'Dog'), ('Puppy', 'Animal')
    ) AS v(class_name, ancestor_name)"""

# Hand-derived counts for the 10 semantically loaded predicates
# (VERDICT r4 #6 — converts the last determinism-only kg gate into a
# semantic one). Derivations, read off the fixture sources
# (corpus/fixtures.py) under the reference's cited rules:
# - extends / hasSubClass = 2: Dog(Animal) and Puppy(Dog) are the corpus's
#   only base-class edges (Collar/Kennel/HubThing/HubError are base-less;
#   reference transformer extends + inverse materialization).
# - overrides / isOverriddenBy = 2: Dog.speak->Animal.speak and
#   Puppy.speak->Dog.speak, first-match-in-MRO (transformer/:54-84); no
#   other method name repeats along any chain; __init__ pairs are
#   Constructors, which P4 never considers (same facts as kg_overrides).
# - hasField / isFieldOf = 23: exactly the 23 (class, field) pairs the
#   kg_inherited_fields VALUES oracle enumerates (tracking.py:613-835
#   class-body assigns + __init__ self-assigns + super().__init__
#   inheritance chains over Animal/Dog/Collar/Puppy/Kennel).
# - hasMethod = 6: Animal.{speak,_grow,__secret}, Dog.speak, Puppy.speak,
#   Puppy.litter_size — class-body defs excluding __init__
#   (extractor.py:1125-1144 Constructor split); Collar/HubThing/HubError
#   define none; module-level defs are Functions, not Methods.
# - hasConstructor = 3: Animal.__init__, Dog.__init__, Kennel.__init__.
# - hasParameter = 27: per def, self included, lambdas excluded
#   (individuals.py parameter init over FunctionDef args):
#   basic top/helper 1+1; zoo __init__ 2, speak 1, _grow 1, __secret 1,
#   Dog.__init__ 3, Dog.speak 1, Puppy.speak 1, litter_size 0,
#   make/pick/chained 0, Kennel.__init__ 2; stmts branchy 1, guarded 1,
#   bump/outer/inner 0; typed f 6 (a,b,c,*args,key,**kw), g 1, h 1;
#   hub hub_fn 1, use 2  => 2+13+2+8+2 = 27.
# - hasDependency = 8: one edge per project-own library
#   (individuals.py:720-731 via apply_library_manifest) — the 8 libraries
#   kg_project_libraries enumerates (hub, ns, ok, pkg_a, standalone,
#   stmts, typed, zoo); dep_unused is manifest-marked as a dependency and
#   stands unlinked.
# Hand-derived class-star counts: the fixture corpus has exactly SEVEN
# Class individuals — zoo.{Animal, Dog, Dog.Collar, Puppy, Kennel} and
# hub.{HubThing, HubError} (every other def is a Function/Method; classes
# in dep_unused are pruned). Per-predicate derivations:
# - rdf:type / hasSimpleName / hasFullyQualifiedName / hasDocumentation /
#   hasBody / hasPackage / hasModifier = 7: one per class — every class
#   has a docstring in the sources, a body, exactly one access modifier,
#   and Collar's pure-class nesting chain still yields an FQN
#   (extractor.py:221-230 rule).
# - extends / hasSubClass = 2; hasConstructor = 3; hasMethod = 6;
#   hasField = 23: same derivations as _KG_CORE_PREDICATE_COUNTS_SQL
#   (every one of those edges has a Class subject, so the star sees the
#   identical counts).
# - isImportedBy = 4: the only by-name class imports are Animal <- zoo/dog.py,
#   Dog <- zoo/pup.py AND zoo/factory.py, HubError <- hub/facade.py
#   (HubThing is only ever reached through attribute chains, never
#   imported; wildcard re-exports bind module names, not classes).
_KG_CLASS_STAR_CORE_SQL = """
    SELECT CASE WHEN p = 'type'
                THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                ELSE 'http://rdf.webofcode.org/woc/' || p END AS pred,
           CAST(n AS BIGINT) AS n FROM (VALUES
        ('type', 7), ('hasSimpleName', 7), ('hasFullyQualifiedName', 7),
        ('hasDocumentation', 7), ('hasBody', 7), ('hasPackage', 7),
        ('hasModifier', 7), ('extends', 2), ('hasSubClass', 2),
        ('hasConstructor', 3), ('hasMethod', 6), ('hasField', 23),
        ('isImportedBy', 4)
    ) AS v(p, n)"""

_KG_CORE_PREDICATE_COUNTS_SQL = """
    SELECT 'http://rdf.webofcode.org/woc/' || p AS pred,
           CAST(n AS BIGINT) AS n FROM (VALUES
        ('extends', 2), ('hasSubClass', 2),
        ('overrides', 2), ('isOverriddenBy', 2),
        ('hasField', 23), ('isFieldOf', 23),
        ('hasMethod', 6), ('hasConstructor', 3),
        ('hasParameter', 27), ('hasDependency', 8)
    ) AS v(p, n)"""

# hasField per class incl. inheritance (reference track_fields reverse-MRO +
# super().__init__ chains, tracking.py:613-835), read off fixtures:
#   Animal: kingdom, limbs (class-body assigns) + name, _age (__init__
#           self-assigns) = 4
#   Dog(Animal): a, b (tuple class assign) + breed (self-assign) + the 4
#           Animal fields (super().__init__(name) chains the ctor) = 7
#   Dog.Collar: color = 1 (nested class, own field only)
#   Puppy(Dog): no own assigns; inherits Dog's ctor + class attrs = same 7
#   Kennel: mascot, label, name, backup (__init__ self-assigns) = 4
#   HubThing/HubError: no fields.  Total = 23 rows.
_KG_INHERITED_FIELDS_SQL = """
    SELECT class_fqn, field_name FROM (VALUES
        ('zoo.base.Animal', '_age'), ('zoo.base.Animal', 'kingdom'),
        ('zoo.base.Animal', 'limbs'), ('zoo.base.Animal', 'name'),
        ('zoo.dog.Dog', '_age'), ('zoo.dog.Dog', 'a'),
        ('zoo.dog.Dog', 'b'), ('zoo.dog.Dog', 'breed'),
        ('zoo.dog.Dog', 'kingdom'), ('zoo.dog.Dog', 'limbs'),
        ('zoo.dog.Dog', 'name'),
        ('zoo.dog.Dog.Collar', 'color'),
        ('zoo.factory.Kennel', 'backup'), ('zoo.factory.Kennel', 'label'),
        ('zoo.factory.Kennel', 'mascot'), ('zoo.factory.Kennel', 'name'),
        ('zoo.pup.Puppy', '_age'), ('zoo.pup.Puppy', 'a'),
        ('zoo.pup.Puppy', 'b'), ('zoo.pup.Puppy', 'breed'),
        ('zoo.pup.Puppy', 'kingdom'), ('zoo.pup.Puppy', 'limbs'),
        ('zoo.pup.Puppy', 'name')
    ) AS v(class_fqn, field_name)"""


def _kg_oracles() -> dict[str, str]:
    """DuckDB oracles for the kg_* queries. The small queries use the
    hand-derived literal VALUES above (independent semantics); the aggregate
    queries (class star / star-deep / triples-by-predicate), where literal
    row lists are impractical, read the committed golden triple table
    (``tests/golden/kg_triples.parquet``) — a hash match there proves the
    engine still emits the golden graph (determinism/regression gate)."""
    from codeontologypython_spark import woc
    golden = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "tests", "golden", "kg_triples.parquet")
    t = f"(SELECT * FROM read_parquet('{golden}'))"
    return {
        "kg_library_names": _KG_LIBRARY_NAMES_SQL,
        "kg_sql_library_listing": _KG_LIBRARY_NAMES_SQL,
        "kg_sparql_library_names": _KG_LIBRARY_NAMES_SQL,
        "kg_project_libraries": _KG_PROJECT_LIBRARIES_SQL,
        "kg_overrides": _KG_OVERRIDES_SQL,
        "kg_inherited_fields": _KG_INHERITED_FIELDS_SQL,
        "kg_sparql_superclass_names": _KG_SUPERCLASS_NAMES_SQL,
        "kg_sparql_ancestor_names": _KG_ANCESTOR_NAMES_SQL,
        "kg_sparql_values_libraries": """
            SELECT library_name FROM (VALUES ('pkg_a'), ('zoo'))
            AS v(library_name)""",
        "kg_core_predicate_counts": _KG_CORE_PREDICATE_COUNTS_SQL,
        "kg_class_star_core": _KG_CLASS_STAR_CORE_SQL,
        "kg_class_star": f"""
            SELECT t.pred AS pred, COUNT(*) AS n
            FROM {t} ty JOIN {t} t ON t.subj = ty.subj
            WHERE ty.pred = '{woc.RDF_TYPE}'
              AND ty.obj = '{woc.CLS["Class"]}'
            GROUP BY t.pred""",
        "kg_sparql_class_star": f"""
            SELECT t.pred AS pred, COUNT(*) AS n
            FROM {t} ty JOIN {t} t ON t.subj = ty.subj
            WHERE ty.pred = '{woc.RDF_TYPE}'
              AND ty.obj = '{woc.CLS["Class"]}'
            GROUP BY t.pred""",
        "kg_class_star_deep": f"""
            SELECT t1.pred AS pred1, t2.pred AS pred2, COUNT(*) AS n
            FROM {t} ty
            JOIN {t} t1 ON t1.subj = ty.subj AND NOT t1.obj_is_literal
            JOIN {t} t2 ON t2.subj = t1.obj
            WHERE ty.pred = '{woc.RDF_TYPE}'
              AND ty.obj = '{woc.CLS["Class"]}'
            GROUP BY t1.pred, t2.pred""",
        "kg_sparql_class_star_deep": f"""
            SELECT t1.pred AS pred1, t2.pred AS pred2, COUNT(*) AS n
            FROM {t} ty
            JOIN {t} t1 ON t1.subj = ty.subj AND NOT t1.obj_is_literal
            JOIN {t} t2 ON t2.subj = t1.obj
            WHERE ty.pred = '{woc.RDF_TYPE}'
              AND ty.obj = '{woc.CLS["Class"]}'
            GROUP BY t1.pred, t2.pred""",
        "kg_triples_by_predicate": f"""
            SELECT pred, COUNT(*) AS n FROM {t} GROUP BY pred""",
    }


def oracle_sql() -> dict[str, str]:
    mh_cols = ",\n  ".join(_mh_expr(k) for k in range(8))
    sig_cte = (
        "WITH toks AS (SELECT doc_id AS doc, "
        f"{_TOKS} AS t FROM documents),\n"
        "base AS (SELECT doc, list_transform("
        + _SHINGLES.format(t="t")
        + ", s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS bases\n"
        "  FROM toks WHERE len(t) >= 3),\n"
        "sig AS (SELECT doc,\n  " + mh_cols + "\n"
        "  FROM base)")
    bands = " UNION ALL ".join(
        f"SELECT doc, {b} AS band, mh_{2*b}::VARCHAR || '_' || "
        f"mh_{2*b+1}::VARCHAR AS key FROM sig" for b in range(4))
    est = " + ".join(
        f"CASE WHEN a.mh_{k} = b.mh_{k} THEN 1 ELSE 0 END" for k in range(8))

    cos_expr = (
        "round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i]))"
        " / (sqrt(list_sum(list_transform(qv, x -> x * x)))"
        " * sqrt(list_sum(list_transform(cv, x -> x * x)))), 4)")

    # q_lsh_ann oracle: the hyperplanes are seeded-deterministic literals
    # (similarity._hyperplanes(64, 4, 42)) — embed the SAME constants so the
    # sign-LSH buckets match Spark's bit-for-bit
    from codeontologypython_spark.functions.similarity import _hyperplanes
    _planes = _hyperplanes(64, 4, 42)

    def _plane_dot(vcol: str, plane: list[float]) -> str:
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        return (f"list_sum(list_transform(range(1, 65), "
                f"i -> {vcol}[i] * ({arr}::DOUBLE[])[i]))")

    _bucket = " + ".join(
        f"(CASE WHEN {_plane_dot('v', p)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_planes))

    _raw_cos = (
        "list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i]))"
        " / (sqrt(list_sum(list_transform(qv, x -> x * x)))"
        " * sqrt(list_sum(list_transform(cv, x -> x * x))))")
    def _ivf_sql(n_cells=8, iters=2, nprobe=2, k=5) -> str:
        """Mini k-means (Lloyd) + IVF probe entirely in SQL, mirroring
        similarity.ivf_ann_topk step for step: same init (smallest ids),
        same (dist, cell) tie order, same rounded centroid means."""
        dist = ("list_sum(list_transform(range(1, 65), "
                "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))")
        blocks = [
            "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
            f"c0 AS (SELECT vec_id AS cell, v AS cv FROM e "
            f"WHERE vec_id < {n_cells})",
        ]
        prev = "c0"
        for it in range(1, iters + 1):
            blocks += [
                f"a{it} AS (SELECT vec_id, v, cell FROM ("
                f"  SELECT e.vec_id, e.v, c.cell, row_number() OVER ("
                f"    PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn"
                f"  FROM e, {prev} c) WHERE rn = 1)",
                f"u{it} AS (SELECT cell, i, round(avg(v[i]), 6) AS m"
                f"  FROM a{it}, (SELECT unnest(range(1, 65)) AS i)"
                f"  GROUP BY cell, i)",
                f"n{it} AS (SELECT cell, list(m ORDER BY i) AS cv"
                f"  FROM u{it} GROUP BY cell)",
                f"c{it} AS (SELECT * FROM n{it} UNION ALL"
                f"  SELECT cell, cv FROM {prev}"
                f"  WHERE cell NOT IN (SELECT cell FROM n{it}))",
            ]
            prev = f"c{it}"
        blocks += [
            f"idx AS (SELECT vec_id AS neighbor_id, v AS cv2, cell FROM ("
            f"  SELECT e.vec_id, e.v, c.cell, row_number() OVER ("
            f"    PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn"
            f"  FROM e, {prev} c) WHERE rn = 1)",
            f"qp AS (SELECT query_id, qv, cell FROM ("
            f"  SELECT e.vec_id AS query_id, e.v AS qv, c.cell,"
            f"    row_number() OVER ("
            f"    PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn"
            f"  FROM e, {prev} c WHERE e.vec_id < 10) WHERE rn <= {nprobe})",
            "s AS (SELECT query_id, neighbor_id, qv, cv2 AS cv"
            "  FROM qp JOIN idx USING (cell)"
            "  WHERE neighbor_id <> query_id)",
            f"sc AS (SELECT query_id, neighbor_id, {cos_expr} AS cos FROM s)",
        ]
        return ("WITH " + ",\n".join(blocks) + f"""
            SELECT query_id, neighbor_id, cos, rank FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
                AS rank FROM sc) WHERE rank <= {k}""")

    _nd_planes = _hyperplanes(64, 4, 7)
    _nd_bucket = " + ".join(
        f"(CASE WHEN {_plane_dot('v', p)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_nd_planes))
    embedding_near_dup_sql = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, ({_nd_bucket}) AS bucket FROM e),
        p AS (SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
                     a.v AS qv, b2.v AS cv
              FROM b a JOIN b b2 ON a.bucket = b2.bucket
                                AND a.vec_id < b2.vec_id),
        s AS (SELECT doc_a, doc_b, {_raw_cos} AS rawcos FROM p)
        SELECT doc_a, doc_b, round(rawcos, 4) AS cos
        FROM s WHERE rawcos >= 0.2"""
    lsh_ann_sql = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, ({_bucket}) AS bucket FROM e),
        qs AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
               WHERE vec_id < 10),
        s AS (SELECT query_id, b.vec_id AS neighbor_id,
                     qv, b.v AS cv
              FROM qs JOIN b ON qs.bucket = b.bucket
                            AND b.vec_id <> qs.query_id),
        scored AS (SELECT query_id, neighbor_id, {cos_expr} AS cos FROM s)
        SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5"""

    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   {_REV} AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "q3_shipping_priority": f"""
            SELECT l_orderkey, {_REV} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        "q5_local_supplier_volume": f"""
            SELECT n_name, {_REV} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name""",
        "q_broadcast_join": """
            SELECT r_name, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "q_salted_join": """
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""",
        "q_window_dedup": """
            SELECT l_orderkey, l_linenumber, l_partkey
            FROM lineitem
            QUALIFY row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey) = 1""",
        "q_top1_per_group": """
            SELECT s_nationkey, s_suppkey, s_acctbal
            FROM supplier
            QUALIFY row_number() OVER (
                PARTITION BY s_nationkey
                ORDER BY s_acctbal DESC, s_suppkey) = 1""",
        "q_posexplode": """
            WITH e AS (
              SELECT o_orderkey,
                     unnest(string_split(o_orderpriority, '-')) AS part,
                     generate_subscripts(string_split(o_orderpriority, '-'), 1) AS pos
              FROM orders)
            SELECT part, pos, COUNT(*) AS n FROM e GROUP BY part, pos""",
        "q_transitive_closure": """
            WITH RECURSIVE edges AS (
              SELECT CAST(c_custkey + 100000 AS BIGINT) AS src,
                     CAST(c_nationkey AS BIGINT) AS dst FROM customer
              UNION ALL
              SELECT CAST(n_nationkey AS BIGINT),
                     CAST(n_regionkey + 1000 AS BIGINT) FROM nation),
            paths(src, dst, depth) AS (
              SELECT src, dst, 1 FROM edges
              UNION ALL
              SELECT p.src, e.dst, p.depth + 1
              FROM paths p JOIN edges e ON p.dst = e.src WHERE p.depth < 10)
            SELECT src, dst, MIN(depth) AS depth FROM paths GROUP BY src, dst""",
        "q_event_chain": """
            SELECT user_id, event_id,
                   row_number() OVER w AS pos,
                   lead(event_id) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "q_sessionize": """
            WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tsl,
                              CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                     OR epoch_us(ts)
                                        - lag(epoch_us(ts)) OVER w > 1800000000
                                   THEN 1 ELSE 0 END AS new_sess
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY ts, event_id)),
            s AS (SELECT user_id, event_id, tsl,
                         SUM(new_sess) OVER (
                             PARTITION BY user_id ORDER BY tsl, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
                  FROM g)
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   MAX(tsl) - MIN(tsl) AS duration_us
            FROM s GROUP BY user_id, session_id""",
        "q_dedup_exact": """
            SELECT MIN(doc_id) AS doc_id, md5(text) AS content_md5,
                   COUNT(*) AS dup_count
            FROM documents GROUP BY md5(text)""",
        "q_chunk_docs": """
            WITH d AS (SELECT doc_id, text, length(text) AS ln
                       FROM documents),
            n AS (SELECT doc_id, text,
                         CAST(CASE WHEN ln <= 120 THEN 1
                              ELSE CAST(ceil((ln - 120)::DOUBLE / 96) AS INT)
                                   + 1 END AS INT) AS n_chunks
                  FROM d)
            SELECT doc_id, chunk_idx,
                   substr(text, chunk_idx * 96 + 1, 120) AS chunk_text,
                   n_chunks
            FROM (SELECT doc_id, text, n_chunks,
                         CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
                  FROM n)""",
        "q_token_stats": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks,
                              length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
                       FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
                     AS total_token_len,
                   len(list_filter(toks, x -> lower(x) IN {_SW_SQL}))
                     AS stopword_hits,
                   punct AS punct_chars,
                   (CASE WHEN len(toks) >= 20 THEN 1 ELSE 0 END
                    + CASE WHEN len(list_filter(toks, x -> lower(x) IN {_SW_SQL}))::DOUBLE
                           / len(toks) < 0.5 THEN 1 ELSE 0 END
                    + CASE WHEN punct > 0 THEN 1 ELSE 0 END) AS quality_score
            FROM t""",
        "q_bpe_token_stats": f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
                     AS n_bpe_tokens,
                   length(text)::DOUBLE
                     / len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
                     AS bytes_per_token
            FROM documents""",
        "q_lang_id": f"""
            WITH t AS (SELECT {_TOKS} AS toks FROM documents)
            SELECT CASE WHEN len(list_filter(toks, x -> lower(x) IN {_SW_SQL}))::DOUBLE
                             / len(toks) >= 0.05
                        THEN 'en' ELSE 'other' END AS pred_lang,
                   COUNT(*) AS n_docs
            FROM t GROUP BY 1""",
        "q_fingerprint": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents)
            SELECT doc_id,
                   list_min(list_transform({_SHINGLES.format(t='t')},
                                           s -> md5(s))) AS fingerprint
            FROM t""",
        "q_ngram_jaccard": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            sh_all AS (SELECT doc_id,
                              unnest({_SHINGLES.format(t='t')}) AS shingle
                       FROM toks),
            -- stop-shingle cap mirrors dedup._MAX_SHINGLE_DF
            sh AS (SELECT * FROM sh_all
                   WHERE shingle IN (SELECT shingle FROM sh_all
                                     GROUP BY shingle
                                     HAVING COUNT(*) <= 500)),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             COUNT(*) AS i
                      FROM sh a JOIN sh b ON a.shingle = b.shingle
                                         AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   i::DOUBLE / (sa.n + sb.n - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.2""",
        "q_minhash_signature": sig_cte + "\nSELECT * FROM sig",
        "q_repetition": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            s AS (SELECT doc_id, {_SHINGLES_RAW.format(t='t')} AS sh FROM t)
            SELECT doc_id,
                   CASE WHEN len(sh) > 0
                        THEN 1.0 - len(list_distinct(sh))::DOUBLE
                                   / len(sh)::DOUBLE
                   END AS rep_ratio
            FROM s""",
        "q_decontaminate": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            sh AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS shingle
                   FROM t),
            b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id >= 480),
            d AS (SELECT doc_id, shingle FROM sh WHERE doc_id < 480)
            SELECT doc_id, COUNT(*) AS n_shared_shingles
            FROM d JOIN b USING (shingle)
            GROUP BY doc_id HAVING COUNT(*) >= 3""",
        "q_simhash_pairs": _simhash_sql(),
        "q_lsh_ann": lsh_ann_sql,
        "q_embedding_near_dup": embedding_near_dup_sql,
        "q_ivf_ann": _ivf_sql(),
        "q_minhash_lsh": sig_cte + f""",
            bands AS ({bands}),
            cand AS (SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
                     FROM bands x JOIN bands y
                       ON x.band = y.band AND x.key = y.key AND x.doc < y.doc)
            SELECT doc_a, doc_b, ({est})::DOUBLE / 8 AS est_jaccard
            FROM cand
            JOIN sig a ON a.doc = doc_a
            JOIN sig b ON b.doc = doc_b
            WHERE ({est})::DOUBLE / 8 >= 0.25""",
        # connected components via recursive min-label reachability — the
        # relational mirror of dedup.near_dup_clusters' label propagation
        "q_near_dup_clusters": "WITH RECURSIVE "
        + sig_cte[len("WITH "):] + f""",
            bands AS ({bands}),
            cand AS (SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
                     FROM bands x JOIN bands y
                       ON x.band = y.band AND x.key = y.key AND x.doc < y.doc),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      JOIN sig a ON a.doc = doc_a
                      JOIN sig b ON b.doc = doc_b
                      WHERE ({est})::DOUBLE / 8 >= 0.25),
            nodes AS (SELECT DISTINCT doc_id AS node FROM documents),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach(node, lab) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)
            SELECT CAST(node AS BIGINT) AS doc_id,
                   CAST(MIN(lab) AS BIGINT) AS cluster_id
            FROM reach GROUP BY node""",
        "q_knn_cosine": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 10),
            p AS (SELECT query_id, qv, e.vec_id AS neighbor_id,
                         e.embedding::DOUBLE[] AS cv
                  FROM q, embeddings e WHERE e.vec_id <> query_id),
            s AS (SELECT query_id, neighbor_id, {cos_expr} AS cos FROM p)
            SELECT query_id, neighbor_id, cos, rank FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5""",
        "q_pii_redact": _pii_redact_sql(),
        "q_weighted_mix": """
            WITH w AS (SELECT source,
                              ((('0x' || substr(md5(source), 1, 8))::BIGINT
                                % 100) + 1) / 100.0 AS fraction
                       FROM (SELECT DISTINCT source FROM documents))
            SELECT d.doc_id, d.source
            FROM documents d JOIN w USING (source)
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                  / 4294967296.0 < w.fraction""",
        "q_token_budget_mix": f"""
            WITH tot AS (SELECT source, SUM(len({_TOKS})) AS total
                         FROM documents GROUP BY source),
            fr AS (SELECT source,
                          LEAST(1.0, 400.0 / total::DOUBLE) AS fraction
                   FROM tot)
            SELECT d.doc_id, d.source
            FROM documents d JOIN fr USING (source)
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                  / 4294967296.0 < fr.fraction""",
        "q_normalize_text": _normalize_text_sql(),
        "q_curate": f"""
            WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks
                       FROM documents WHERE doc_id < 480),
            r AS (SELECT *, {_SHINGLES_RAW.format(t='toks')} AS sh FROM t),
            q AS (SELECT doc_id, source, text, toks FROM r WHERE
                    len(list_filter(toks, x -> lower(x) IN {_SW_SQL}))::DOUBLE
                      / len(toks) >= 0.05
                    AND (CASE WHEN len(toks) >= 20 THEN 1 ELSE 0 END
                       + CASE WHEN len(list_filter(toks,
                             x -> lower(x) IN {_SW_SQL}))::DOUBLE
                             / len(toks) < 0.5 THEN 1 ELSE 0 END
                       + CASE WHEN length(regexp_replace(text,
                             '[^.,;:!?]', '', 'g')) > 0 THEN 1 ELSE 0 END)
                      >= 2
                    AND COALESCE(CASE WHEN len(sh) > 0
                                 THEN 1.0 - len(list_distinct(sh))::DOUBLE
                                            / len(sh)::DOUBLE END, 0.0)
                      <= 0.5),
            d AS (SELECT * FROM q WHERE doc_id IN
                    (SELECT MIN(doc_id) FROM q GROUP BY md5(text))),
            bsh AS (SELECT DISTINCT unnest({_SHINGLES.format(t='t')})
                      AS shingle
                    FROM (SELECT {_TOKS} AS t FROM documents
                          WHERE doc_id >= 480)),
            dsh AS (SELECT doc_id, unnest({_SHINGLES.format(t='toks')})
                      AS shingle FROM d),
            cont AS (SELECT doc_id FROM dsh JOIN bsh USING (shingle)
                     GROUP BY doc_id HAVING COUNT(*) >= 3),
            k AS (SELECT * FROM d WHERE doc_id NOT IN
                    (SELECT doc_id FROM cont)),
            w AS (SELECT source,
                         ((('0x' || substr(md5(source), 1, 8))::BIGINT
                           % 100) + 1) / 100.0 AS fraction
                  FROM (SELECT DISTINCT source FROM documents
                        WHERE doc_id < 480))
            SELECT k.doc_id, k.source
            FROM k JOIN w USING (source)
            WHERE ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 8))::BIGINT
                  / 4294967296.0 < w.fraction""",
        "q_unigram_logprob": f"""
            WITH w AS (SELECT doc_id, unnest({_TOKS}) AS word
                       FROM documents),
            c AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
            tot AS (SELECT SUM(c) AS total FROM c),
            m AS (SELECT word,
                         CAST(round(ln(c::DOUBLE / total::DOUBLE)
                                    * 100000000) AS BIGINT) AS lp
                  FROM c, tot),
            s AS (SELECT doc_id, COUNT(*) AS n, SUM(lp) AS s
                  FROM w JOIN m USING (word) GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(s.n, 0) AS n_scored_tokens,
                   round(s.s::DOUBLE / s.n::DOUBLE / 100000000, 4)
                     AS avg_logprob
            FROM (SELECT doc_id FROM documents) d
            LEFT JOIN s USING (doc_id)""",
        "q_pack_sequences": f"""
            WITH t AS (SELECT doc_id,
                              ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
                                ::BIGINT % 8 AS bucket,
                              len({_TOKS}) AS n_tokens
                       FROM documents),
            w AS (SELECT doc_id, bucket, n_tokens,
                         SUM(n_tokens) OVER (PARTITION BY bucket
                                             ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING)
                           - n_tokens AS start
                  FROM t)
            SELECT doc_id, bucket, n_tokens,
                   CAST(floor(start / 512.0) AS BIGINT) AS seq_id,
                   CAST(start % 512 AS BIGINT) AS offset
            FROM w""",
        "q_span_dedup": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            ch AS (SELECT doc_id,
                          unnest(list_transform(
                              range(0, CAST(ceil(len(t) / 3.0) AS BIGINT)),
                              i -> array_to_string(t[i*3+1:i*3+3], ' ')))
                            AS span,
                          unnest(range(0, CAST(ceil(len(t) / 3.0) AS BIGINT)))
                            AS pos
                   FROM t),
            fk AS (SELECT md5(span) AS h,
                          MIN(doc_id * 1000000 + pos) AS first_key
                   FROM ch GROUP BY 1),
            kept AS (SELECT ch.doc_id, ch.pos, ch.span
                     FROM ch JOIN fk ON md5(ch.span) = fk.h
                                    AND ch.doc_id * 1000000 + ch.pos
                                        = fk.first_key),
            reb AS (SELECT doc_id,
                           string_agg(span, ' ' ORDER BY pos) AS text_clean,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY doc_id),
            base AS (SELECT doc_id,
                            CAST(ceil(len(t) / 3.0) AS BIGINT) AS n_spans
                     FROM t)
            SELECT b.doc_id,
                   COALESCE(r.text_clean, '') AS text_clean,
                   COALESCE(r.n_kept, 0) AS n_kept,
                   b.n_spans - COALESCE(r.n_kept, 0) AS n_removed
            FROM base b LEFT JOIN reb r USING (doc_id)""",
        **_kg_oracles(),
    }


def _normalize_text_sql() -> str:
    """Normalization oracle: same shared regex constants, same application
    order, same deterministic augmentation (control chars injected via
    chr() so no raw bytes ride inside the SQL text)."""
    from codeontologypython_spark.functions.textops import (CONTROL_CHARS_RE,
                                                            HSPACE_RUN_RE,
                                                            NEWLINE_RUN_RE)
    aug = ("'  ' || text || ' ' || chr(9) || ' tail' || chr(1) || chr(7)")
    norm = ("trim(regexp_replace(regexp_replace(regexp_replace(t, '"
            + CONTROL_CHARS_RE + "', '', 'g'), '"
            + HSPACE_RUN_RE + "', ' ', 'g'), '"
            + NEWLINE_RUN_RE + "', chr(10) || chr(10), 'g'))")
    return ("WITH aug AS (SELECT doc_id, " + aug + " AS t FROM documents),\n"
            "n AS (SELECT doc_id, t, " + norm + " AS text_norm FROM aug)\n"
            "SELECT doc_id, text_norm, length(t) AS n_chars_before,\n"
            "       length(text_norm) AS n_chars_after FROM n")


def _pii_redact_sql() -> str:
    """Redaction oracle: the SAME Java-regex/RE2-common patterns (imported
    from functions.redact — single source of truth), same application order,
    over the same deterministically-augmented text. Plain string assembly —
    the patterns contain regex braces that f-strings would mangle."""
    from codeontologypython_spark.functions.redact import (EMAIL_RE, IPV4_RE,
                                                           PHONE_RE)
    aug = ("text || ' contact user' || doc_id::VARCHAR"
           " || '@example.com at 10.1.' || (doc_id % 256)::VARCHAR"
           " || '.7 or +1415555' || (1000 + doc_id % 9000)::VARCHAR")
    red = ("regexp_replace(regexp_replace(regexp_replace(t, '"
           + EMAIL_RE + "', '[EMAIL]', 'g'), '"
           + IPV4_RE + "', '[IP]', 'g'), '"
           + PHONE_RE + "', '[PHONE]', 'g')")
    return ("WITH aug AS (SELECT doc_id, " + aug + " AS t FROM documents)\n"
            "SELECT doc_id, " + red + " AS text_redacted,\n"
            "  len(regexp_extract_all(t, '" + EMAIL_RE + "')) AS n_emails,\n"
            "  len(regexp_extract_all(t, '" + IPV4_RE + "')) AS n_ips,\n"
            "  len(regexp_extract_all(t, '" + PHONE_RE + "')) AS n_phones\n"
            "FROM aug")
