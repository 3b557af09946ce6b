"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup. Scale-first designs:

- exact dedup: hash-groupBy, one shuffle on a 32-char key instead of the
  full document;
- Jaccard: shingle-inverted-index join (pairs share >=1 shingle) — never the
  O(n^2) cross join;
- MinHash LSH: signature -> bands -> bucket join; only in-bucket pairs get
  the exact signature comparison;
- SimHash: bit-majority over token hashes, near-dup = same value on k of
  4 16-bit chunks (expression-only);
- embedding near-dup delegates to functions.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark.functions.textops import (
    hash_hex_prefix_to_long,
    shingles_col,
    tokens_col,
)
from codeontologypython_spark.operators.relational import fan_out


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative per exact content hash; adds the group
    size. ONE map-side-combining aggregation on md5(text) produces both the
    representative row (min(struct) keyed by id first — ids are unique, so
    this equals the min-id row) and the group size; the round-5 form paid a
    row_number window shuffle PLUS a size aggregation PLUS a join to stitch
    them (CLAUDE.md pitfall 5)."""
    h = df.withColumn("content_md5", F.md5(F.col("text")))
    others = [c for c in df.columns if c != "doc_id"]
    agg = (h.groupBy("content_md5")
           .agg(F.min(F.struct(F.col("doc_id"),
                               *[F.col(c) for c in others])).alias("w"),
                F.count("*").alias("dup_count")))
    # column order matches the round-5 join output: content_md5, df's
    # columns, dup_count
    return agg.select("content_md5",
                      *[F.col(f"w.{c}").alias(c) for c in df.columns],
                      "dup_count")


def _shingle_table(df: DataFrame) -> DataFrame:
    return (df
            .select(F.col("doc_id").alias("doc"),
                    F.explode(F.array_distinct(
                        shingles_col(F.col("text")))).alias("shingle")))


# stop-shingle cap of ngram_jaccard_pairs (document frequency)
_MAX_SHINGLE_DF = 500


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Candidate pairs via the shingle inverted index (docs sharing >=1
    shingle), exact Jaccard = |∩| / (|A|+|B|-|∩|) over the capped shingle
    universe. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``_MAX_SHINGLE_DF`` drops stop-shingles ("in the", "of the") whose
    document frequency exceeds the cap BEFORE the pair join — without it one
    hot shingle's bucket grows quadratically in its document frequency
    (df=10^6 -> 10^12 pairs from a single shuffle group at corpus scale).
    Sizes and intersections both use the capped universe, so the Jaccard
    stays an exact set similarity (of the informative-shingle sets) and the
    SQL oracle mirrors it bit-for-bit."""
    # feeds the drop-set scan, the doc-size aggregation and the pair
    # generation — materialize once. fan_out first: the shingle explosion is
    # the dominant expression cost and a single-file scan would otherwise
    # evaluate it on one core (no-op at corpus scale, relational.fan_out)
    fanned = fan_out(df)
    sh = _shingle_table(fanned).localCheckpoint(eager=False)
    if fanned is not df:
        # the input was single-file small, so the exploded table is small
        # too: the three downstream jobs (drop-set scan, sizes, posting
        # lists) would pay full-width task scheduling over KB-sized
        # checkpoint partitions — read them through a narrow coalesce
        # (no data movement). Never taken at corpus scale (fan_out no-ops).
        par = df.sparkSession.sparkContext.defaultParallelism
        sh = sh.coalesce(max(2, par // 8))
    # the HOT shingles are few: broadcast the tiny drop set so capping is a
    # map-side anti-join, and every surviving posting list is <= cap — the
    # collect_list below is memory-bounded by construction
    drop = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") > _MAX_SHINGLE_DF).select("shingle"))
    sh = sh.join(F.broadcast(drop), "shingle", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    # pair generation from per-shingle posting lists (collect_list +
    # double-explode): ONE shuffle of the shingle table instead of the
    # a >< b self-join's two — measured 2.5-3.6x faster at sf0.1
    grp = sh.groupBy("shingle").agg(F.collect_list("doc").alias("docs"))
    inter = (grp.select(F.explode("docs").alias("doc_a"), "docs")
             .select("doc_a", F.explode("docs").alias("doc_b"))
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.withColumnRenamed("doc", "doc_a")
                 .withColumnRenamed("n_shingles", "size_a"), "doc_a")
           .join(sizes.withColumnRenamed("doc", "doc_b")
                 .withColumnRenamed("n_shingles", "size_b"), "doc_b")
           .withColumn("jaccard",
                       F.col("inter").cast("double")
                       / (F.col("size_a") + F.col("size_b") - F.col("inter"))))
    return (out.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


# affine universal-hash family over ONE md5 base hash per shingle:
# h_k(s) = (A_k * base(s) + B_k) mod P with base < 2^32, A_k < 2^29, so the
# product stays under 2^61 — overflow-safe in BOTH Java longs and DuckDB's
# checked BIGINT arithmetic. One md5 per shingle instead of K (the md5 was
# ~85% of signature cost at K=8). P must be far below the product range so
# the map WRAPS (a non-wrapping affine map is monotone — every h_k would
# share one argmin shingle and the signature would degenerate).
_MH_P = 2147483647  # 2^31 - 1 (Mersenne)
_MH_A = [268435399, 268435367, 268435361, 268435337,
         268435331, 268435313, 268435291, 268435273]  # primes < 2^29
_MH_B = [1000003, 2000029, 3000073, 4000037,
         5000011, 6000011, 7000003, 8000009]
_MH_K = len(_MH_A)  # hashes per signature
_MH_BANDS = 4       # LSH bands of _MH_K // _MH_BANDS rows each


def minhash_signature(df: DataFrame) -> DataFrame:
    """K-permutation MinHash signature as K columns mh_0..mh_{K-1}.
    base(s) = int(md5(s)[:8], 16); h_k = (A_k*base + B_k) mod (2^31-1) —
    bit-identical in the SQL oracle.

    The whole signature is ONE array-aggregate pass (elementwise min of the
    K affine variants, folded over the shingle base hashes), materialized
    via localCheckpoint BEFORE splitting into columns: Catalyst's
    CollapseProject would otherwise inline the fold into every mh_k column
    and evaluate the md5s K times."""
    sh = F.array_distinct(shingles_col(F.col("text")))
    a_arr = F.array(*[F.lit(a) for a in _MH_A])
    b_arr = F.array(*[F.lit(b) for b in _MH_B])
    init = F.array_repeat(F.lit(_MH_P + 1).cast("long"), _MH_K)

    def step(acc, s):
        base = hash_hex_prefix_to_long(s)
        variants = F.zip_with(
            a_arr, b_arr, lambda a, b: (a * base + b) % F.lit(_MH_P))
        return F.zip_with(acc, variants, lambda x, y: F.least(x, y))

    mins = F.aggregate(sh, init, step)
    # fan_out: the md5-per-shingle fold is the signature's whole cost and a
    # single-file scan would evaluate it on one core (no-op at corpus scale)
    packed = (fan_out(df).select(F.col("doc_id").alias("doc"),
                                 mins.alias("mins"))
              .localCheckpoint(eager=False))
    # a shingle-less doc never updated the fold: its mins are still the
    # (P+1) sentinel — drop it AFTER materialization (a pre-checkpoint
    # filter would get pushed into the projection and re-run the fold)
    return (packed
            .filter(F.element_at("mins", 1) != _MH_P + 1)
            .select("doc", *[
                F.element_at("mins", k + 1).alias(f"mh_{k}")
                for k in range(_MH_K)]))


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH banding: split the signature into ``_MH_BANDS`` bands of r rows;
    docs colliding in any band become candidates; candidates are confirmed
    by estimated Jaccard = fraction of equal signature components."""
    # bucket rows CARRY the signature, so the band self-join confirms
    # est-Jaccard inline — one shuffle of (doc, sig, band, key) instead of a
    # candidate-distinct shuffle plus two signature re-joins; the threshold
    # filter runs before the pair-dedup distinct, shrinking that shuffle too
    sig = minhash_signature(df).localCheckpoint(eager=False)
    r = _MH_K // _MH_BANDS
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("_", *[F.col(f"mh_{b * r + i}")
                                    for i in range(r)]).alias("key"))
        for b in range(_MH_BANDS)]
    mh = [f"mh_{k}" for k in range(_MH_K)]
    buckets = (sig.select("doc", *mh,
                          F.explode(F.array(*band_cols)).alias("bk"))
               .select("doc", *mh, "bk.band", "bk.key"))
    x = buckets.select(F.col("doc").alias("doc_a"), "band", "key",
                       *[F.col(f"mh_{k}").alias(f"a_mh_{k}")
                         for k in range(_MH_K)])
    y = buckets.select(F.col("doc").alias("doc_b"), "band", "key",
                       *[F.col(f"mh_{k}").alias(f"b_mh_{k}")
                         for k in range(_MH_K)])
    est = None
    for k in range(_MH_K):
        term = (F.col(f"a_mh_{k}") == F.col(f"b_mh_{k}")).cast("int")
        est = term if est is None else est + term
    return (x.join(y, ["band", "key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("est_jaccard", est.cast("double") / _MH_K)
            .filter(F.col("est_jaccard") >= threshold)
            .select("doc_a", "doc_b", "est_jaccard")
            .distinct())


def simhash64(text: Column) -> Column:
    """64-bit SimHash from token md5s: bit b of the result is the majority
    vote of bit b across token hashes. Expression-only (binary expansion of
    two 8-hex-char halves)."""
    toks = F.array_distinct(tokens_col(text))
    hi = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))
    lo = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long"))
    n = F.size(toks)

    def bit_count(words: Column, b: int) -> Column:
        # binary lambda only (acc, x) — see the arity note in
        # minhash_signature
        return F.aggregate(
            words, F.lit(0),
            lambda acc, w: acc + F.shiftright(w, b).bitwiseAND(F.lit(1)).cast("int"))

    def majority_word(words: Column) -> Column:
        out = F.lit(0).cast("long")
        for b in range(32):
            ones = bit_count(words, b)
            bit = (ones * 2 > n).cast("long")
            out = out + F.shiftleft(bit, b)
        return out

    return F.shiftleft(majority_word(hi), 32) + majority_word(lo)


def simhash_near_dup_pairs(df: DataFrame,
                           min_equal_chunks: int = 3) -> DataFrame:
    """Near-dup pairs: equal value in >= k of the 4 16-bit chunks (standard
    SimHash block-permutation trick).

    Candidate generation joins on chunk PAIRS (6 C(4,2) combinations, 32-bit
    keys -> ~4e9 buckets) rather than single 16-bit chunks (65,536 buckets,
    whose self-join goes quadratic at 10^10+ docs). Lossless for
    min_equal_chunks >= 2: a pair equal in >= 3 of 4 chunks is equal in
    >= 3 of the 6 chunk pairs, so the candidate set is a superset and the
    final equal-chunks filter yields identical rows."""
    assert min_equal_chunks >= 2, "chunk-pair bucketing needs >=2 equal chunks"
    # fan_out: the 64-bit-majority expression is heavy and a single-file
    # scan would evaluate it on one core (no-op at corpus scale)
    sh = fan_out(df).select(F.col("doc_id").alias("doc"),
                            simhash64(F.col("text")).alias("sh"))
    # materialize ONCE before the 6 chunk-pair self-joins: each join branch
    # re-derives both of its sides, so without the barrier the (very large —
    # 64 bit-majority folds) simhash expression tree is re-evaluated 12x AND
    # shipped in every branch's task binary (~11 MB each, measured as the
    # whole operator's wall time at small scale)
    chunks = sh.select(
        "doc", "sh",
        *[(F.shiftright("sh", 16 * i).bitwiseAND(F.lit(0xFFFF)))
          .alias(f"c{i}") for i in range(4)]).localCheckpoint(eager=False)
    pairs = None
    combos = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    for i, j in combos:
        x = chunks.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"),
                          F.col(f"c{i}").alias("ck_i"),
                          F.col(f"c{j}").alias("ck_j"))
        y = chunks.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"),
                          F.col(f"c{i}").alias("ck_i"),
                          F.col(f"c{j}").alias("ck_j"))
        p = (x.join(y, ["ck_i", "ck_j"]).filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sh_a", "sh_b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    eq = None
    for i in range(4):
        term = ((F.shiftright("sh_a", 16 * i).bitwiseAND(F.lit(0xFFFF)))
                == (F.shiftright("sh_b", 16 * i).bitwiseAND(F.lit(0xFFFF)))).cast("int")
        eq = term if eq is None else eq + term
    return (pairs.withColumn("equal_chunks", eq)
            .filter(F.col("equal_chunks") >= min_equal_chunks)
            .select("doc_a", "doc_b", "equal_chunks"))


# round bound of near_dup_clusters' label propagation
_CC_MAX_ITERS = 20


def near_dup_clusters(docs: DataFrame, pairs: DataFrame,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over near-duplicate candidate pairs — the step
    that turns pairwise LSH/SimHash output into dedup decisions: every doc
    gets a ``cluster_id`` (the MIN doc id reachable through the pair graph;
    singletons get themselves).

    Spark shape: iterative min-label propagation, the standard large-graph
    CC (label rows join the edge list, each round's labels localCheckpointed
    so plans stay flat), converging in O(cluster diameter) rounds — near-dup
    clusters are star-/clique-like, so 2-4 rounds in practice,
    ``_CC_MAX_ITERS`` bounds adversarial chains. Each round is one join +
    one map-side-combined min aggregation; the convergence probe is an
    anti-join emptiness check (at corpus scale, run the probe every few
    rounds instead).
    ``checkpoint_dir`` swaps the per-round localCheckpoint for a reliable
    parquet barrier (relational.reliable_barrier — the cluster-scale mode).
    """
    from codeontologypython_spark.operators.relational import reliable_barrier

    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = reliable_barrier(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(), checkpoint_dir, "cc_edges")
    labels = reliable_barrier(
        docs.select(
            F.col("doc_id").cast("long").alias("node"),
            F.col("doc_id").cast("long").alias("cluster_id")),
        checkpoint_dir, "cc_labels_init")
    for i in range(_CC_MAX_ITERS):
        prop = (edges.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("cluster_id").alias("nbr_min")))
        new = reliable_barrier(
            labels.join(prop, "node", "left")
            .select("node",
                    F.least(F.col("cluster_id"),
                            F.coalesce("nbr_min", "cluster_id"))
                    .alias("cluster_id")),
            checkpoint_dir, f"cc_round_{i}")
        if new.join(labels, ["node", "cluster_id"], "left_anti").isEmpty():
            labels = new
            break
        labels = new
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  min_shared: int = 3) -> DataFrame:
    """Pretraining decontamination: flag corpus documents sharing at least
    ``min_shared`` distinct n-gram shingles with ANY benchmark document —
    the standard guard against test-set leakage into training data.

    Scale shape: the benchmark side (an eval suite) is orders of magnitude
    smaller than the corpus, so its distinct shingle set is BROADCAST and
    the corpus-side count is a map-side-combined aggregation — the corpus
    shuffles only (doc, count) rows, never its shingles. Returns
    (doc_id, n_shared_shingles) for flagged docs."""
    d = _shingle_table(docs)
    b = (benchmark.select(F.explode(F.array_distinct(
            shingles_col(F.col("text")))).alias("shingle"))
         .distinct())
    return (d.join(F.broadcast(b), "shingle")
            .groupBy(F.col("doc").alias("doc_id"))
            .agg(F.count("*").alias("n_shared_shingles"))
            .filter(F.col("n_shared_shingles") >= min_shared))
