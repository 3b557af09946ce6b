"""Tests for the training-data-pipeline operators (dedup, similarity, text
analysis, sampling, packing, curation)."""

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat", "en", "s", 43),  # near dup
        (3, "completely different text with no overlap at all here", "en", "s", 54),
        (4, "zz", "en", "s", 2),  # shorter than one shingle
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]).cache()


def test_exact_dedup(docs):
    from codeontologypython_spark.functions.dedup import exact_dedup
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[3] == 1


def test_ngram_jaccard(docs):
    from codeontologypython_spark.functions.dedup import ngram_jaccard_pairs
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs  # no shared shingles at all


def test_minhash_vs_pure_python(docs):
    """MinHash signature equals an independent pure-Python implementation."""
    from codeontologypython_spark.functions.dedup import minhash_signature

    def py_minhash(text, k):
        from codeontologypython_spark.functions.dedup import (
            _MH_A, _MH_B, _MH_P)
        toks = [t for t in text.split() if t]
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        bases = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                 for s in shingles]
        return min((_MH_A[k] * b + _MH_B[k]) % _MH_P for b in bases)

    rows = {r["doc"]: r for r in minhash_signature(docs).collect()}
    assert 4 not in rows  # too short for a shingle
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc, r in rows.items():
        for k in range(8):
            assert r[f"mh_{k}"] == py_minhash(texts[doc], k)


def test_minhash_lsh_finds_near_dups(docs):
    from codeontologypython_spark.functions.dedup import minhash_lsh_pairs
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) not in pairs


def test_simhash_properties(docs, spark):
    from codeontologypython_spark.functions.dedup import (
        simhash64,
        simhash_near_dup_pairs,
    )
    vals = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("sh")).collect()}
    assert vals[0] == vals[1]           # identical text -> identical simhash
    assert vals[0] != vals[3]
    assert all(0 <= v < 2 ** 64 for v in vals.values())
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             simhash_near_dup_pairs(docs, min_equal_chunks=4).collect()}
    assert (0, 1) in pairs


def test_cosine_topk_exact(spark):
    from codeontologypython_spark.functions.similarity import cosine_topk
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in
           out.orderBy("rank").collect()]
    assert got == [(3, 1), (1, 2)]


def test_lsh_ann_recall_vs_bruteforce(spark, tmp_path):
    from codeontologypython_spark.functions.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_ann_topk(emb, q, k=5, dim=64, n_planes=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.2  # few planes + random vectors: sanity floor
    # every approx hit must be a true neighbor of its bucket (cos computed
    # exactly), and ranks are contiguous
    assert all(r["rank"] >= 1 for r in approx.collect())


def test_text_quality_and_lang(spark, docs):
    from codeontologypython_spark.functions import textops as tx
    out = docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n"),
        tx.stopword_ratio(F.col("text")).alias("sw"),
        tx.lang_id(F.col("text")).alias("lang")).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[0]["n"] == 9
    assert rows[0]["sw"] == pytest.approx(2 / 9)
    assert rows[0]["lang"] == "en"
    assert rows[4]["lang"] == "other"


def test_doc_fingerprint_stability(docs):
    from codeontologypython_spark.functions.textops import doc_fingerprint
    out1 = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert out1[0] == out1[1]
    assert out1[0] != out1[3]
    assert out1[4] is None  # no shingles -> null fingerprint


def test_bpe_ish_tokenizer(spark):
    """GPT-2-style pre-tokenizer subset: contractions split, digit runs
    capped at 3, punctuation separate — counts diverge from whitespace on
    code-like text (the point of the second counter)."""
    from codeontologypython_spark.functions.textops import (
        bpe_token_count, bpe_tokens_col, token_count)
    df = spark.createDataFrame(
        [(1, "it's 12345 f(x)=y!")], ["doc_id", "text"])
    row = df.select(
        bpe_tokens_col(F.col("text")).alias("toks"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws")).collect()[0]
    assert row["toks"] == ["it", "'s", "123", "45",
                           "f", "(", "x", ")", "=", "y", "!"]
    assert row["n_bpe"] == 11
    assert row["n_ws"] == 3


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF: deterministic mini-k-means cells + nprobe probing; recall against
    exact top-k, exact cosine within probed cells, deterministic across
    runs (seeded by smallest-id init)."""
    from codeontologypython_spark.functions.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    approx = ivf_ann_topk(emb, q, k=5, n_cells=8, iters=2, nprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a1 = approx.collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in a1}
    assert len(e & a) / len(e) >= 0.2  # coarse cells, random vectors
    a2 = {(r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
          for r in ivf_ann_topk(emb, q, k=5, n_cells=8, iters=2,
                                nprobe=2).collect()}
    assert a2 == {(r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
                  for r in a1}


def test_near_dup_clusters_and_corpus(spark):
    """Connected components over pair graphs: chains collapse to the min id,
    separate components stay separate, singletons keep themselves."""
    from codeontologypython_spark.functions.dedup import near_dup_clusters
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string")
    # components: {0,1,2,3} via chain 0-1,1-2,2-3; {5,6}; singletons 4,7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    got = {(r["doc_id"], r["cluster_id"])
           for r in near_dup_clusters(docs, pairs).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 4),
                   (5, 5), (6, 5), (7, 7)}


def test_iterative_loops_parquet_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir mode: the iterative-loop helpers swap their per-round
    localCheckpoint (executor-local, non-replicated) for reliable parquet
    barriers — the cluster-scale substitution the loop docstrings promise.
    Results must be identical in both modes, and the barrier files must
    actually land on disk (proving the mode engaged)."""
    import os

    from codeontologypython_spark.functions.dedup import near_dup_clusters
    from codeontologypython_spark.operators.relational import (
        transitive_closure,
    )

    # transitive closure: 0->1->2->3 chain
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long")
    d1 = str(tmp_path / "tc")
    base = {(r["src"], r["dst"], r["depth"])
            for r in transitive_closure(edges).collect()}
    ckpt = {(r["src"], r["dst"], r["depth"])
            for r in transitive_closure(edges, checkpoint_dir=d1).collect()}
    assert base == ckpt and (0, 3, 3) in ckpt
    assert any(n.startswith("tc_round_") for n in os.listdir(d1))

    # connected components: chain + singleton
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(5)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    d2 = str(tmp_path / "cc")
    base = {(r["doc_id"], r["cluster_id"])
            for r in near_dup_clusters(docs, pairs).collect()}
    ckpt = {(r["doc_id"], r["cluster_id"])
            for r in near_dup_clusters(docs, pairs,
                                       checkpoint_dir=d2).collect()}
    assert base == ckpt
    assert any(n.startswith("cc_round_") for n in os.listdir(d2))


def _closure_fixpoint(edges, max_rounds):
    """transitive_closure's loop, run on bounded_fixpoint directly so a test
    can read the round count and the raw (pre-aggregation) rows."""
    from codeontologypython_spark.operators.relational import bounded_fixpoint
    seed = edges.select("src", "dst", F.lit(1).alias("depth"))
    base = edges.select(F.col("src").alias("e_src"),
                        F.col("dst").alias("e_dst"))

    def step(frontier, _acc):
        return (frontier.join(base, frontier["dst"] == base["e_src"])
                .select("src", F.col("e_dst").alias("dst"),
                        (F.col("depth") + 1).alias("depth")))

    return bounded_fixpoint(seed, step, ["src", "dst"], max_rounds, "t_round")


def _bfs_closure(edge_list):
    """(src, dst) -> minimum path length, by breadth-first search."""
    succ = {}
    for a, b in edge_list:
        succ.setdefault(a, []).append(b)
    out = {}
    for s in {a for a, _ in edge_list}:
        depth, frontier = 0, {s}
        seen = set()
        while frontier:
            depth += 1
            frontier = {b for a in frontier for b in succ.get(a, [])} - seen
            seen |= frontier
            for b in frontier:
                out[(s, b)] = depth
    return out


def test_bounded_fixpoint_chain_under_bound_does_not_warn(spark):
    import warnings

    n = 6
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        acc, rounds = _closure_fixpoint(edges, 10)
        got = {(r["src"], r["dst"], r["depth"]) for r in acc.collect()}
    assert rounds == n - 1
    assert got == {(i, j, j - i) for i in range(n + 1)
                   for j in range(i + 1, n + 1)}
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


def test_bounded_fixpoint_warns_at_bound_and_truncates(spark):
    """A 13-edge chain at the closure's 10-round bound: the loop says so,
    and the result is the truncated closure (paths of at most 11 edges)."""
    from codeontologypython_spark.operators.relational import (
        transitive_closure,
    )
    n = 13
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long")
    with pytest.warns(RuntimeWarning, match="tc_round.*bound of 10"):
        out = transitive_closure(edges)
    got = {(r["src"], r["dst"], r["depth"]) for r in out.collect()}
    assert got == {(i, j, j - i) for i in range(n + 1)
                   for j in range(i + 1, n + 1) if j - i <= 11}


def test_bounded_fixpoint_dedups_converging_paths(spark):
    """Layered DAG, 4 wide x 7 deep, every node linked to the whole next
    layer (96 edges, 336 reachable pairs): paths converge on every pair, so
    without the per-round dedup the rounds add 320, 1024, 3072, ... rows
    for 240 new pairs. Each new pair must enter exactly once, and
    transitive_closure must equal breadth-first search."""
    from codeontologypython_spark.operators.relational import (
        transitive_closure,
    )
    width, depth = 4, 7
    edge_list = [(layer * width + a, (layer + 1) * width + b)
                 for layer in range(depth - 1)
                 for a in range(width) for b in range(width)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    acc, rounds = _closure_fixpoint(edges, 10)
    assert rounds == depth - 2
    assert acc.count() - len(edge_list) == 240
    expected = _bfs_closure(edge_list)
    assert len(expected) == 336
    got = {(r["src"], r["dst"]): r["depth"]
           for r in transitive_closure(edges).collect()}
    assert got == expected


def test_repetition_ratio(spark):
    from codeontologypython_spark.functions.textops import repetition_ratio
    rows = [(0, "a b c a b c a b c"),      # "a b c" style repeats
            (1, "w x y z q r s t"),        # all shingles distinct
            (2, "zz")]                     # too short -> null
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["rr"] for r in df.select(
        "doc_id", repetition_ratio(F.col("text")).alias("rr")).collect()}
    # doc 0: 7 shingles, 3 distinct -> 1 - 3/7
    assert got[0] == pytest.approx(1 - 3 / 7)
    assert got[1] == 0.0
    assert got[2] is None


def test_decontaminate(spark):
    from codeontologypython_spark.functions.dedup import decontaminate
    corpus = spark.createDataFrame(
        [(0, "the exam question about spark shuffles appears here today"),
         (1, "totally unrelated text with zero overlap whatsoever present"),
         (2, "the exam question about nothing")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "the exam question about spark shuffles")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_shared_shingles"]
           for r in decontaminate(corpus, bench, min_shared=3).collect()}
    assert got[0] == 4          # 4 shared 3-gram shingles
    assert 1 not in got         # clean doc untouched
    assert 2 not in got         # 2 shared shingles < min_shared=3


def test_redact_pii(spark):
    from codeontologypython_spark.functions.redact import pii_counts, redact_pii
    rows = [(0, "mail bob.smith+x@corp.example.org or call +14155551234 now"),
            (1, "server at 192.168.0.1 and 10.0.255.7 port 8080"),
            (2, "fax 415-555-0199 reaches the office"),
            (3, "no pii here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = pii_counts(F.col("text"))
    got = {r["doc_id"]: r for r in df.select(
        "doc_id", redact_pii(F.col("text")).alias("red"),
        *[c.alias(n) for n, c in cols.items()]).collect()}
    assert got[0]["red"] == "mail [EMAIL] or call [PHONE] now"
    assert (got[0]["n_emails"], got[0]["n_phones"]) == (1, 1)
    assert got[1]["red"] == "server at [IP] and [IP] port 8080"
    assert got[1]["n_ips"] == 2
    assert got[2]["red"] == "fax [PHONE] reaches the office"
    assert got[3]["red"] == "no pii here at all"
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_phones"]) == (0, 0, 0)


def test_weighted_and_token_budget_sample(spark):
    from codeontologypython_spark.functions.sampling import (
        token_budget_fractions, token_budget_sample, weighted_sample)
    rows = [(i, "w " * (10 if i % 2 == 0 else 40) + "end",
             "small" if i % 2 == 0 else "big") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w = spark.createDataFrame([("small", 1.0), ("big", 0.0)],
                              "source string, fraction double")
    kept = weighted_sample(df, w).collect()
    assert kept and all(r["source"] == "small" for r in kept)
    # token budget: "small" docs are 11 tokens, "big" 41; 200 docs each
    fr = {r["source"]: r["fraction"]
          for r in token_budget_fractions(df, 1100.0).collect()}
    assert fr["small"] == pytest.approx(1100 / (200 * 11))
    assert fr["big"] == pytest.approx(1100 / (200 * 41))
    out = token_budget_sample(df, 1100.0)
    tok = (out.groupBy("source")
           .agg(F.sum(F.size(F.split("text", r"\s+"))).alias("t")).collect())
    for r in tok:  # expected kept tokens ~ budget per source (loose: n=200)
        assert 300 < r["t"] < 2400


def test_span_dedup_chunks_and_paragraphs(spark):
    from codeontologypython_spark.functions.spandedup import (
        paragraphs_col, span_dedup, token_chunks_col)
    rows = [(0, "a b c d e f"),        # chunks: "a b c", "d e f"
            (1, "a b c x y z"),        # first chunk dup of doc 0
            (2, "a b c d e f"),        # fully duplicated -> empty
            (3, "")]                   # no tokens -> no spans
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_dedup(
        df, token_chunks_col(F.col("text"), 3)).collect()}
    assert got[0]["text_clean"] == "a b c d e f"
    assert (got[1]["text_clean"], got[1]["n_removed"]) == ("x y z", 1)
    assert (got[2]["text_clean"], got[2]["n_kept"], got[2]["n_removed"]) \
        == ("", 0, 2)
    assert (got[3]["text_clean"], got[3]["n_removed"]) == ("", 0)

    pdf = spark.createDataFrame(
        [(0, "intro\n\nbody text\n\noutro"), (1, "body text\n\nfresh end")],
        "doc_id long, text string")
    pg = {r["doc_id"]: r for r in span_dedup(
        pdf, paragraphs_col(F.col("text")), join_sep="\n\n").collect()}
    assert pg[0]["text_clean"] == "intro\n\nbody text\n\noutro"
    assert pg[1]["text_clean"] == "fresh end"
    assert pg[1]["n_removed"] == 1


def test_pack_sequences(spark):
    from codeontologypython_spark.functions.packing import pack_sequences
    rows = [(i, "w " * (i % 7 + 4)) for i in range(60)]  # 4..10 tokens + tail
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, ctx_len=16, n_buckets=2).collect()
    assert len(out) == 60
    by_bucket = {}
    for r in sorted(out, key=lambda r: (r["bucket"], r["doc_id"])):
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) == {0, 1}
    for rows_b in by_bucket.values():
        start = 0
        for r in rows_b:  # greedy stream semantics within each bucket
            assert r["seq_id"] == start // 16
            assert r["offset"] == start % 16
            start += r["n_tokens"]
    # deterministic: same assignment on re-run
    again = pack_sequences(df, ctx_len=16, n_buckets=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_curate_end_to_end(spark):
    from codeontologypython_spark.functions.curation import curate
    good = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away to find a quiet place to rest.")
    good2 = ("a small red bird sits on the high branch and sings a soft "
             "song in the morning light for everyone.")
    leaked = ("we review the exam question about spark shuffles and then we "
              "talk for a long while about the answer key.")
    docs = spark.createDataFrame(
        [(0, good, "s"), (1, good, "s"), (2, good2, "s"),
         (3, "x y z", "s"), (4, leaked, "s")],
        "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(100, "the exam question about spark shuffles")],
        "doc_id long, text string")
    weights = spark.createDataFrame([("s", 1.0)],
                                    "source string, fraction double")
    out, audit = curate(docs, benchmark=bench, weights=weights)
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2]
    assert audit.counts() == {"input": 5, "quality_gate": 4,
                              "exact_dedup": 3, "decontaminated": 2,
                              "mixed": 2}


def test_curate_counts_single_action(spark):
    """The survivorship audit must ride the ONE materializing action:
    counts() after the action launches zero additional Spark jobs, and the
    observed stages count each row ONCE even though exact dedup and
    decontamination duplicate their input subtree in the physical plan."""
    from codeontologypython_spark.functions.curation import curate
    long_doc = ("the quick brown fox jumps over the lazy dog and then "
                "runs far away to find a quiet place to rest today.")
    docs = spark.createDataFrame(
        [(i, long_doc + f" tail {i % 7}", "s") for i in range(40)],
        "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(100, "no such phrase anywhere at all here")],
        "doc_id long, text string")
    out, audit = curate(docs, benchmark=bench)
    n = out.count()
    st = spark.sparkContext.statusTracker()
    jobs_before = len(st.getJobIdsForGroup(None) or [])
    counts = audit.counts()
    assert len(st.getJobIdsForGroup(None) or []) == jobs_before
    # 40 inputs, all pass quality, 7 distinct texts survive dedup, none
    # contaminated — double-fire through the duplicated dedup/decontaminate
    # subtrees would report 80/14 here
    assert counts == {"input": 40, "quality_gate": 40,
                      "exact_dedup": 7, "decontaminated": 7}
    assert n == 7


def test_normalize_text(spark):
    from codeontologypython_spark.functions.textops import normalize_text
    rows = [(0, "  a\x01b\t\tc   d \x7f "),
            (1, "one\n\n\n\n\ntwo"),
            (2, "clean text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", normalize_text(F.col("text")).alias("n")).collect()}
    assert got[0] == "ab c d"           # ctrl stripped, runs collapsed, trim
    assert got[1] == "one\n\ntwo"       # blank-line run capped
    assert got[2] == "clean text"


def test_span_dedup_randomized_vs_pure_python(spark):
    """200 seeded random word-soup docs: Spark span_dedup must agree with a
    direct pure-Python first-occurrence fold on every field."""
    import random

    from codeontologypython_spark.functions.spandedup import (span_dedup,
                                                              token_chunks_col)
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(0, 25))))
            for i in range(200)]

    def chunks(text, w=3):
        toks = [t for t in text.split() if t]
        return [" ".join(toks[i:i + w]) for i in range(0, len(toks), w)]

    seen, expected = set(), {}
    for did, text in docs:                      # doc_id order == first-seen
        kept = []
        n_spans = 0
        for sp in chunks(text):
            n_spans += 1
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        expected[did] = (" ".join(kept), len(kept), n_spans - len(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = span_dedup(df, token_chunks_col(F.col("text"), 3)).collect()
    assert len(out) == 200
    for r in out:
        assert (r["text_clean"], r["n_kept"], r["n_removed"]) \
            == expected[r["doc_id"]], r["doc_id"]


def test_unigram_logprob(spark):
    import math

    from codeontologypython_spark.functions.lm import (unigram_doc_scores,
                                                       unigram_model)
    # corpus: 4x "a", 2x "b", 2x "c" -> p(a)=1/2, p(b)=p(c)=1/4
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a a b c"), (2, "c"), (3, "")],
        "doc_id long, text string")
    model = {r["word"]: r["logp_micro"]
             for r in unigram_model(df).collect()}
    assert model["a"] == round(math.log(0.5) * 1e8)
    assert model["b"] == model["c"] == round(math.log(0.25) * 1e8)
    got = {r["doc_id"]: r for r in unigram_doc_scores(df).collect()}
    exp0 = round((2 * model["a"] + model["b"]) / 3 / 1e8, 4)
    assert got[0]["avg_logprob"] == exp0
    assert got[2]["avg_logprob"] == round(model["c"] / 1e8, 4)
    assert got[3]["n_scored_tokens"] == 0
    assert got[3]["avg_logprob"] is None
    # scoring a different corpus against this model: joins drop OOV words
    other = spark.createDataFrame([(9, "a zzz")], "doc_id long, text string")
    [r] = unigram_doc_scores(other, model=unigram_model(df)).collect()
    assert r["n_scored_tokens"] == 1           # zzz is OOV, not scored
    assert r["avg_logprob"] == round(model["a"] / 1e8, 4)
    # ... or charge OOV tokens the KenLM-style fixed penalty (ln(1/total))
    oov = round(math.log(1 / 8) * 1e8)
    [r2] = unigram_doc_scores(other, model=unigram_model(df),
                              oov_logp_micro=oov).collect()
    assert r2["n_scored_tokens"] == 2          # zzz now counted
    assert r2["avg_logprob"] == round((model["a"] + oov) / 2 / 1e8, 4)


def _live_plan(df):
    """Physical-plan tree with cached-relation INTERNALS stripped: an
    InMemoryRelation node prints the plan that originally built the cache,
    which never re-executes — only operators outside it do. Dropping the
    deeper-indented lines under each InMemoryRelation leaves exactly the
    live operators."""
    full = df._jdf.queryExecution().executedPlan().toString()
    out, skip_indent = [], None
    for line in full.splitlines():
        indent = len(line) - len(line.lstrip(" +-*:"))
        if skip_indent is not None:
            if indent > skip_indent or not line.strip():
                continue
            skip_indent = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_indent = indent
    return "\n".join(out)


def test_unigram_model_single_corpus_pass(spark):
    """VERDICT r4 #3: the token total folds into the vocab aggregation —
    the model's consumers read the persisted vocab cache instead of
    re-running the corpus explode/shuffle."""
    from codeontologypython_spark.functions.lm import (unigram_doc_scores,
                                                       unigram_model)
    df = spark.createDataFrame(
        [(i, "alpha beta gamma " * 3) for i in range(20)],
        "doc_id long, text string")
    model = unigram_model(df)
    plan = _live_plan(model)
    assert "InMemoryTableScan" in plan      # projection over the cache
    assert "Generate" not in plan           # no corpus re-scan (explode)
    # the scoring plan scans the corpus exactly once (the token explode)
    scores = unigram_doc_scores(df, model=model)
    splan = _live_plan(scores)
    assert splan.count("Generate") == 1
    assert "InMemoryTableScan" in splan
    scores.collect()


def test_chunk_documents(spark):
    from codeontologypython_spark.functions.chunking import chunk_documents
    docs = spark.createDataFrame(
        [(1, "a" * 10), (2, "b" * 25), (3, ""), (4, "c" * 11)],
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_size=10, overlap=2).collect()
    rows = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunks"])
            for r in out}
    # exactly chunk_size -> one whole-doc chunk
    assert rows[(1, 0)] == ("a" * 10, 1)
    # 25 chars, stride 8: windows at 0,8,16 cover it -> 3 chunks
    assert rows[(2, 0)] == ("b" * 10, 3)
    assert rows[(2, 1)] == ("b" * 10, 3)
    assert rows[(2, 2)] == ("b" * 9, 3)   # last window shorter
    # empty doc keeps one empty chunk
    assert rows[(3, 0)] == ("", 1)
    # one char over -> second window overlaps but covers the tail
    assert rows[(4, 0)] == ("c" * 10, 2) and rows[(4, 1)] == ("c" * 3, 2)
    assert len(rows) == 7
    # every character is covered: reassembly equals the source
    import pytest
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=10, overlap=10)
