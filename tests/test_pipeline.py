"""End-to-end pipeline tests (SURVEY §5.1 golden E2E, §5.4 invariants):
IRI stability/uniqueness, dedup, inverse completeness, NT serialization,
checkpoint/resume, content-sha256 ingest invariant."""

import os

import pytest
from pyspark.sql import functions as F

from codeontologypython_spark import woc

WOC = woc.WOC


def test_iri_uniqueness_audit(extracted, final_triples):
    from codeontologypython_spark.operators.canonicalize import (
        audit_iri_uniqueness,
        compute_iris,
        dedup_entities,
    )
    iris = compute_iris(dedup_entities(extracted["entities"]),
                        extracted["triples"])
    assert audit_iri_uniqueness(iris).isEmpty()


def test_iri_stability_same_input_same_iris(spark, source_files, extracted):
    """Same input => identical IRIs (individuals.py:60-85 determinism)."""
    from codeontologypython_spark.operators.canonicalize import compute_iris
    from codeontologypython_spark.operators.extract import (
        extract_stage,
        split_extraction,
    )
    e2, t2, _, _ = split_extraction(extract_stage(source_files))
    iris1 = compute_iris(extracted["entities"], extracted["triples"])
    iris2 = compute_iris(e2, t2)
    assert iris1.exceptAll(iris2).isEmpty()
    assert iris2.exceptAll(iris1).isEmpty()


def test_no_duplicate_triples(final_triples):
    n = final_triples.count()
    d = final_triples.select("subj", "pred", "obj").distinct().count()
    assert n == d


def test_inverse_completeness(final_triples):
    """C4: every forward triple with a declared inverse has its inverse."""
    inv_map = woc.INVERSE
    rows = final_triples.filter(~F.col("obj_is_literal")).collect()
    have = {(r["subj"], r["pred"], r["obj"]) for r in rows}
    missing = [
        (s, p, o) for (s, p, o) in have
        if p in inv_map and (o, inv_map[p], s) not in have
    ]
    assert missing == []


def test_no_invokes_in_output(final_triples):
    assert final_triples.filter(
        F.col("pred") == WOC + "invokes").isEmpty()


def test_all_iris_resolved(final_triples):
    """After Stage 3 no local entity ids may survive — every non-literal term
    is an absolute IRI."""
    bad = final_triples.filter(
        ~F.col("subj").startswith("http")
        | (~F.col("obj_is_literal") & ~F.col("obj").startswith("http")))
    assert bad.isEmpty()


def test_ntriples_format(spark, final_triples):
    from codeontologypython_spark.sources.ntriples import to_ntriples
    lines = [r["value"] for r in to_ntriples(final_triples.limit(500)).collect()]
    assert lines == sorted(lines)
    for ln in lines:
        assert ln.startswith("<http") and ln.endswith(" .")
    ints = [ln for ln in lines if "hasLine" in ln]
    assert ints and all("^^<http://www.w3.org/2001/XMLSchema#integer>" in ln
                        for ln in ints)


def test_flagship_library_listing(final_triples):
    """The README's golden SPARQL (README.md:56-64): names of all Libraries.
    Hand-computed expected answer from the fixture corpus."""
    libs = (final_triples.alias("t1")
            .filter((F.col("t1.pred") == woc.RDF_TYPE)
                    & (F.col("t1.obj") == woc.CLS["Library"]))
            .join(final_triples.alias("t2"),
                  (F.col("t1.subj") == F.col("t2.subj"))
                  & (F.col("t2.pred") == woc.DPROP["hasName"]))
            .select(F.col("t2.obj").alias("name")).distinct())
    got = sorted(r["name"] for r in libs.collect())
    assert got == ["hub", "ns", "ok", "pkg_a", "standalone", "stmts",
                   "typed", "unused_dep", "zoo"]


def test_apply_iris_shuffle_path_equivalence(spark, extracted, final_triples,
                                             monkeypatch):
    """The corpus-scale shuffle path of the IRI rewrite (taken beyond
    _IRI_BROADCAST_MAX_ROWS entities, never by the small fixture corpus)
    must serialize the exact same graph as the broadcast path."""
    from codeontologypython_spark import session
    from codeontologypython_spark.corpus.fixtures import project_manifest_df
    from codeontologypython_spark.operators import canonicalize as C
    from codeontologypython_spark.operators.linking import link_stage
    from codeontologypython_spark.sources.ntriples import to_ntriples
    monkeypatch.setattr(session, "_IRI_BROADCAST_MAX_ROWS", 0)
    e = extracted
    resolved, xe, base = link_stage(e["entities"], e["triples"],
                                    e["mentions"])
    shuffled = C.canonicalize_stage(e["entities"].unionByName(xe),
                                    base.unionByName(resolved),
                                    manifest=project_manifest_df(spark))
    a = [r["value"] for r in to_ntriples(shuffled).collect()]
    b = [r["value"] for r in to_ntriples(final_triples).collect()]
    assert a == b


def test_literal_triple_dedup(spark):
    """dedup_triples over literal rows, on every duplicate shape: the
    min-commit row wins among multi-commit duplicates, exact duplicate rows
    collapse, and same-(subj,pred) rows with different objects are both
    kept."""
    from codeontologypython_spark.operators.canonicalize import dedup_triples
    rows = [
        # unique row
        ("r", "c2", "e1", "p:name", "alpha", True),
        # same (s,p,o) at two commits -> min-commit wins
        ("r", "c5", "e2", "p:src", "def f(): pass", True),
        ("r", "c1", "e2", "p:src", "def f(): pass", True),
        # exact duplicate rows (same commit) -> collapse to one
        ("r", "c3", "e3", "p:doc", "Doc.", True),
        ("r", "c3", "e3", "p:doc", "Doc.", True),
        # same (s,p), different obj -> BOTH kept
        ("r", "c4", "e4", "p:name", "x", True),
        ("r", "c4", "e4", "p:name", "y", True),
    ]
    schema = ("repo string, commit string, subj string, pred string, "
              "obj string, obj_is_literal boolean")
    got = dedup_triples(spark.createDataFrame(rows, schema)).collect()
    assert sorted(tuple(r) for r in got) == sorted(set(rows) - {
        ("r", "c5", "e2", "p:src", "def f(): pass", True)})
    assert len(got) == 5


def test_library_manifest_classification(final_triples):
    """S3 remnant (reference is_by_project, explore/__init__.py:188-231;
    init_library, individuals.py:720-731): dependency libraries stay named
    Library individuals but carry NO project links; project-own libraries
    keep hasProject/hasDependency and their inverses. The fixture manifest
    marks fixtures/dep_unused's `unused_dep` as a dependency."""
    names = final_triples.filter(F.col("pred") == woc.DPROP["hasName"])
    dep_iris = [r["subj"] for r in
                names.filter(F.col("obj") == "unused_dep").collect()]
    assert dep_iris  # the Library individual itself survives
    link_preds = [woc.PROP["hasProject"], woc.PROP["hasDependency"],
                  woc.INVERSE[woc.PROP["hasProject"]],
                  woc.INVERSE[woc.PROP["hasDependency"]]]
    dep_links = final_triples.filter(
        F.col("pred").isin(link_preds)
        & (F.col("subj").isin(dep_iris) | F.col("obj").isin(dep_iris)))
    assert dep_links.isEmpty()
    # project-own libraries keep the links (e.g. zoo)
    zoo_iris = [r["subj"] for r in
                names.filter(F.col("obj") == "zoo").collect()]
    own_links = final_triples.filter(
        (F.col("pred") == woc.PROP["hasProject"])
        & F.col("subj").isin(zoo_iris))
    assert not own_links.isEmpty()


def test_broken_repo_still_succeeds(extracted):
    errs = extracted["errors"].collect()
    assert any(e["path"] == "broken.py" and e["stage"] == "parse" for e in errs)
    # the good file of the broken repo still extracted
    ok = extracted["entities"].filter(
        (F.col("repo") == "fixtures/proj_broken") & (F.col("path") == "ok.py"))
    assert ok.count() > 0


def test_ingest_sha256_invariant(spark, source_files):
    """BASELINE.json input_hint: per-row content sha256 equality vs the
    reference ingest (hashlib)."""
    from codeontologypython_spark.sources.tables import (
        ingest_invariant,
        reference_sha256,
    )
    rows = ingest_invariant(source_files).collect()
    for r in rows:
        assert r["content_sha256"] == reference_sha256(r["content"])


def test_pipeline_resume(spark, source_files, tmp_path):
    """Kill-and-resume: run on a subset, then resume over the full corpus —
    only missing repos are re-extracted; final output equals a fresh run."""
    from codeontologypython_spark.plans.pipeline import run_pipeline

    wd = str(tmp_path / "wd")
    part = source_files.filter(F.col("repo") == "fixtures/proj_basic")
    r1 = run_pipeline(spark, part, wd, write_nt=False)
    s1 = spark.read.parquet(os.path.join(wd, "stage1_extract"))
    basic_rows = s1.count()

    r2 = run_pipeline(spark, source_files, wd, resume=True, write_nt=False)
    s1b = spark.read.parquet(os.path.join(wd, "stage1_extract"))
    # proj_basic rows were NOT re-extracted (append kept them identical)
    assert s1b.filter(F.col("repo") == "fixtures/proj_basic").count() == basic_rows
    repos = {r["repo"] for r in s1b.select("repo").distinct().collect()}
    assert "fixtures/proj_hub" in repos
    assert r2.n_triples > r1.n_triples

    lineage = spark.read.parquet(r2.lineage_path)
    assert lineage.filter(F.col("stage") == "extract").count() > 0


def test_pipeline_resume_reuses_stage_checkpoints(spark, source_files,
                                                  tmp_path):
    """A resume whose stage 1 adds nothing reuses the landed stage-2/3
    checkpoints: neither stage runs again (no new lineage rows), and the
    triple table equals the first run's. Stage 3 lands only as the triple
    table (no ``stage3_triples`` copy), and the reuse run leaves its data
    files as they are (same names, same mtimes)."""
    from codeontologypython_spark.plans.pipeline import run_pipeline
    from codeontologypython_spark.sources.tables import read_triple_table

    def stage_rows(res):
        lineage = spark.read.parquet(res.lineage_path)
        return {s: lineage.filter(F.col("stage") == s).count()
                for s in ("link", "canonicalize")}

    def table(res):
        return sorted(tuple(r) for r in read_triple_table(
            spark, res.triples_path).select(
                "subj", "pred", "obj", "obj_is_literal").collect())

    def data_files(res):
        return {os.path.relpath(os.path.join(d, f), res.triples_path):
                os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, fs in os.walk(res.triples_path)
                for f in fs if f.startswith("part-")}

    wd = str(tmp_path / "wd")
    r1 = run_pipeline(spark, source_files, wd, write_nt=False)
    rows1, table1 = stage_rows(r1), table(r1)
    assert rows1["link"] > 0 and rows1["canonicalize"] > 0
    assert not os.path.exists(os.path.join(wd, "stage3_triples"))
    files1 = data_files(r1)
    assert files1

    r2 = run_pipeline(spark, source_files, wd, resume=True, write_nt=False)
    assert stage_rows(r2) == rows1
    assert r2.n_triples == r1.n_triples
    assert table(r2) == table1
    assert data_files(r2) == files1


def test_warm_build_compiles_nothing(spark, extracted):
    """A repeated build in one session compiles no generated class: the
    session's codegen cache (``session._CODEGEN_CACHE_ENTRIES``) holds a
    whole build, which Spark's 100-entry default does not (~400 classes
    recompiled per fixture build). A plan that differs between identical
    builds (a name or literal made per call, a join strategy AQE picks by
    stage timing) shows up here too. The first build is not asserted on:
    earlier tests may have compiled its classes."""
    from codeontologypython_spark.corpus.fixtures import project_manifest_df
    from codeontologypython_spark.plans.pipeline import build_kg
    from codeontologypython_spark.session import cache_scope

    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())

    def build():
        with cache_scope(spark):
            final = build_kg(extracted["raw"],
                             manifest=project_manifest_df(spark))
            return tuple(final.select(
                F.count("*"),
                F.sum(F.xxhash64("subj", "pred", "obj", "obj_is_literal")
                      .cast("decimal(38,0)"))).first())

    first = build()
    before = compiles.getCount()
    second = build()
    assert compiles.getCount() == before
    assert second == first


def test_pipeline_releases_stage_caches(spark, source_files, tmp_path):
    """ADVICE r4: every persist() a pipeline run creates (split views,
    canonicalize entity/deduped-triple/iri_map tables) must be
    swept once stage 3 lands — long-lived sessions (resume loops, query
    servers) must not accumulate one set of dead cached tables per run.
    Caller-owned caches from before the run stay untouched."""
    from codeontologypython_spark.plans.pipeline import run_pipeline

    jsc = spark.sparkContext._jsc
    # source_files is the conftest's own .cache() — a caller-owned cache
    source_files.count()
    before = {r.id() for r in jsc.getPersistentRDDs().values()}
    res = run_pipeline(spark, source_files, str(tmp_path / "wd"),
                       write_nt=False)
    assert res.n_triples > 0
    after = {r.id() for r in jsc.getPersistentRDDs().values()}
    # no NEW ids may survive (the leak the sweep exists to prevent). The
    # inverse check (every pre-existing id survives) is NOT asserted:
    # Spark's async ContextCleaner may unpersist earlier tests' GC'd
    # caches between the two snapshots in a full-suite run — the sweep
    # itself can only touch ids created during this call by construction
    # (it filters on `not in _pre_cache_ids`).
    assert after - before == set(), "pipeline leaked stage caches"
    # the caller-owned fixture cache is still alive and usable
    assert source_files.storageLevel.useMemory
    assert source_files.count() > 0


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod
    df = entry_mod.entry(spark)
    assert df.count() >= 0


def test_kg_triples_releases_stage_caches(spark):
    """ADVICE r5: the _kg_triples sweep must release every stage cache the
    pipeline materialized — including InMemoryRelation buffers whose RDD
    ids only register lazily during the final localCheckpoint — while
    keeping exactly the checkpoint RDD itself alive (mirrors
    test_pipeline_releases_stage_caches)."""
    import __spark_entry__ as entry_mod

    jsc = spark.sparkContext._jsc
    entry_mod._KG_CACHE.pop(id(spark), None)
    before = {r.id() for r in jsc.getPersistentRDDs().values()}
    t = entry_mod._kg_triples(spark)
    after = {r.id() for r in jsc.getPersistentRDDs().values()}
    ck_id = t._jdf.queryExecution().analyzed().rdd().id()
    # exactly ONE new persisted RDD survives the call: the checkpoint
    assert after - before == {ck_id}, "kg cache sweep leaked stage caches"
    assert t.count() > 0  # the surviving checkpoint is the usable cache


def test_argless_ptype_degrades_to_generic(spark):
    """Box[T] with Box corpus-local and T unresolvable: the reference links
    the bare generic class when no type argument resolves (is_all_none rule,
    extractor.py:955-961)."""
    from pyspark.sql import functions as F
    from codeontologypython_spark.operators.extract import extract_stage
    from codeontologypython_spark.plans.pipeline import build_kg
    src = spark.createDataFrame(
        [("r", "g.py", "c0", "python",
          "class Box:\n    pass\n\n"
          "class Known:\n    pass\n\n"
          "def f(a: Box[T], b: Box[Known]):\n    pass\n")],
        ["repo", "path", "commit", "lang", "content"])
    final = build_kg(extract_stage(src).localCheckpoint())
    woc = "http://rdf.webofcode.org/woc/"
    # param a: hasType must point at a CLASS iri (Box directly), and no
    # ParameterizedType may survive with zero resolved arguments
    types = final.filter(F.col("pred") == woc + "hasType").select("obj")
    ptype_subjects = {r["subj"] for r in final.filter(
        F.col("pred") == woc + "hasGenericType").collect()}
    class_iris = {r["subj"] for r in final.filter(
        (F.col("pred") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
        & (F.col("obj") == woc + "Class")).collect()}
    targets = {r["obj"] for r in types.collect()}
    # both a plain class target (degraded Box[T] -> Box) and one surviving
    # parameterized target (Box[Known]) must exist
    assert targets & class_iris
    assert targets & ptype_subjects
    # the surviving ptype has a resolved argument
    surviving = final.filter((F.col("pred") == woc + "hasArgumentType")
                             & F.col("obj").isin(list(class_iris)))
    assert not surviving.isEmpty()


def test_ptype_survivors_hand_derived(spark):
    """Which ParameterizedTypes survive Stage 3, derived by hand:

    - ``f(p: Unknown[Known])``: the generic never resolves, so the ptype and
      its TypeArgument drop (generic-individual-None, extractor.py:952-961);
    - ``f(q: Unknown[Box[Box[Known]]])``: the drop cascades 3 deep, each
      nested ptype losing its only inbound hasArgumentType;
    - ``Fact.y``: the class-body ``Box[Known]`` loses the field fold to the
      constructor's ``Box[Other]``, so its subtree drops;
    - ``Base.x: Box[Known]`` in a.py is inherited by ``Sub`` in b.py: Sub's
      Field points into a.py's ptype, which survives, shared by both.
    """
    from collections import defaultdict

    from codeontologypython_spark.operators.extract import extract_stage
    from codeontologypython_spark.plans.pipeline import build_kg
    a = ("class Box:\n    pass\n\n"
         "class Known:\n    pass\n\n"
         "class Other:\n    pass\n\n"
         "class Base:\n    x: Box[Known]\n\n"
         "class Fact:\n    y: Box[Known]\n\n"
         "    def __init__(self):\n        self.y: Box[Other] = None\n\n"
         "def f(p: Unknown[Known], q: Unknown[Box[Box[Known]]]):\n"
         "    pass\n")
    b = "from a import Base\n\nclass Sub(Base):\n    pass\n"
    src = spark.createDataFrame(
        [("r", "a.py", "c0", "python", a), ("r", "b.py", "c0", "python", b)],
        ["repo", "path", "commit", "lang", "content"])
    final = build_kg(extract_stage(src).localCheckpoint()).collect()

    edges, lits = defaultdict(list), {}
    for r in final:
        if r["obj_is_literal"]:
            lits[(r["subj"], r["pred"])] = r["obj"]
        else:
            edges[r["subj"]].append((r["pred"], r["obj"]))
    typed = {kind: {s for s, es in edges.items()
                    if (woc.RDF_TYPE, WOC + kind) in es}
             for kind in ("ParameterizedType", "TypeArgument")}

    def render(t):
        if t not in typed["ParameterizedType"]:
            return lits.get((t, WOC + "hasSimpleName"))
        out = edges[t]
        (gen,) = [o for p, o in out if p == WOC + "hasGenericType"]
        args = sorted(
            (int(lits[(ta, WOC + "hasTypeArgumentPosition")]),
             [render(o) for p, o in edges[ta]
              if p == WOC + "hasArgumentType"])
            for p, ta in out if p == WOC + "hasActualTypeArgument")
        return f"{render(gen)}[{', '.join(','.join(a) for _, a in args)}]"

    annotated = {(lits.get((s, WOC + "hasFullyQualifiedName"), s), render(o))
                 for s, es in edges.items() for p, o in es
                 if p == WOC + "hasType" and o in typed["ParameterizedType"]}
    assert annotated == {("a.Base.x", "Box[Known]"),
                         ("b.Sub.x", "Box[Known]"),
                         ("a.Fact.y", "Box[Other]")}
    assert len(typed["ParameterizedType"]) == 2
    assert len(typed["TypeArgument"]) == 2


def test_vocabulary_conformance(final_triples):
    """SURVEY §1.3: the output graph conforms to the fixed OWL vocabulary —
    every predicate and every rdf:type object is a declared woc/rdf/owl
    term (the relational form of the reference's fixed-ontology guarantee)."""
    from pyspark.sql import functions as F
    from codeontologypython_spark import woc
    allowed_preds = (set(woc.PROP.values()) | set(woc.DPROP.values())
                     | set(woc.INVERSE.values())
                     | {woc.RDF_TYPE, woc.OWL_SAME_AS})
    preds = {r["pred"] for r in
             final_triples.select("pred").distinct().collect()}
    assert preds <= allowed_preds, preds - allowed_preds

    allowed_types = set(woc.CLS.values())
    types = {r["obj"] for r in final_triples
             .filter(F.col("pred") == woc.RDF_TYPE)
             .select("obj").distinct().collect()}
    assert types <= allowed_types, types - allowed_types
