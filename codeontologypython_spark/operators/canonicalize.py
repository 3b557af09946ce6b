"""Stage 3 — canonicalization (SURVEY.md §2.4).

- C1 window dedup with min-commit tiebreak (the north_star's stated form of
  the reference's idempotent-init guards, individuals.py:104 etc.)
- C3 content-hashed IRI assignment: sha256 over the entity's own literal
  attribute values plus the names of its related individuals, sorted
  (individuals.py:54-85) — computed as a collect_list/array_sort aggregation
  over the *final* linked triples, because the reference hashes post-linking
  attribute sets (SURVEY §2.4 C3 note)
- C4 inverse-property materialization: one map-expression projection + union
  replacing owlready2's automatic inverses (extractor.py:35-38)
- dangling ParameterizedType pruning: a parameterized type whose generic
  could not be resolved is dropped, matching the reference's
  generic-individual-None rule (extractor.py:952-961)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import session, woc
from codeontologypython_spark.operators.relational import (
    bounded_fixpoint,
    reliable_barrier,
)

WOC = woc.WOC


def dedup_triples(triples: DataFrame) -> DataFrame:
    """C1: one winner per (subj, pred, obj), min-commit tiebreak.

    Implemented as groupBy + min(struct) rather than a row_number window,
    and the stream is explicitly ``repartition("subj")`` first: hash
    partitioning by subj alone SATISFIES the (subj, pred, obj) clustering
    requirement (equal subj ⟹ same partition ⟹ equal triple ⟹ same
    partition), so Catalyst inserts no second exchange — and, because the
    aggregation preserves its child's partitioning, every downstream
    subj-keyed operation (both IRI-hash aggregations, the subj-side IRI
    rewrite join) reuses this ONE exchange when the result is persisted.
    This trades the map-side partial combine for exchange reuse: duplicate
    triples (per-file re-emissions of shared Project/Library/Package rows,
    <0.1% of the stream) travel through the shuffle before collapsing, while
    later full-stream shuffles disappear entirely. canonicalize_stage runs
    it once, over literal and non-literal rows together."""
    return (triples
            .repartition("subj")
            .groupBy("subj", "pred", "obj")
            .agg(F.min(F.struct("commit", "repo", "obj_is_literal"))
                 .alias("w"))
            .select(F.col("w.repo").alias("repo"),
                    F.col("w.commit").alias("commit"),
                    "subj", "pred", "obj",
                    F.col("w.obj_is_literal").alias("obj_is_literal")))


def apply_library_manifest(triples: DataFrame,
                           manifest: DataFrame) -> DataFrame:
    """S3 remnant — project-own vs dependency library classification.

    The reference's ``Library.is_by_project`` (explore/__init__.py:188-231)
    gates ``init_library``'s project links (individuals.py:720-731): ONLY
    libraries declared inside the project get ``hasProject`` /
    ``isDependencyOf``; dependency libraries keep their Library individual
    and ``hasName`` but stand unlinked. SURVEY §2.1 maps the classification
    to a column joined from a tiny project-manifest table:
    ``manifest(repo, library, is_by_project)``, absent rows defaulting to
    project-own (True).

    Spark shape: the manifest is tiny (one row per repo x top-level library
    marked as a dependency), so the drop-set is a broadcast ANTI join keyed
    on the library eid — the full triple stream is never shuffled. The
    library eid sits in ``subj`` for ``hasProject`` and in ``obj`` for
    ``hasDependency``; inverses don't exist yet at this stage (they are
    materialized from forwards later, so dropping the forwards drops them
    too)."""
    deps = (manifest.filter(~F.col("is_by_project"))
            .select(F.concat(F.col("repo"), F.lit("|Library|"),
                             F.col("library")).alias("dep_eid")))
    lib_key = (F.when(F.col("pred") == woc.PROP["hasProject"], F.col("subj"))
               .when(F.col("pred") == woc.PROP["hasDependency"],
                     F.col("obj")))
    return (triples.withColumn("_libkey", lib_key)
            .join(F.broadcast(deps), F.col("_libkey") == F.col("dep_eid"),
                  "left_anti")
            .drop("_libkey"))


def dedup_entities(entities: DataFrame) -> DataFrame:
    """C1 for entity rows: shared entities (Project/Library/Package) are
    idempotently emitted by every file of their repo (the reference's
    hasattr-guarded init_*, individuals.py:104); keep the min-commit row."""
    return (entities
            .groupBy("eid")
            .agg(F.min(F.struct("commit", "path", "repo", "kind", "name",
                                "fqn", "line")).alias("w"))
            .select("eid", F.col("w.repo").alias("repo"),
                    F.col("w.path").alias("path"),
                    F.col("w.commit").alias("commit"),
                    F.col("w.kind").alias("kind"),
                    F.col("w.name").alias("name"),
                    F.col("w.fqn").alias("fqn"),
                    F.col("w.line").alias("line")))


def compute_iris(entities: DataFrame, triples: DataFrame,
                 broadcast_entities: bool = False) -> DataFrame:
    """C3 -> (eid, iri).

    ``triples`` is the deduplicated stream (canonicalize_stage passes its
    one dedup_triples table): its literal rows supply the own-literal
    values, its non-literal rows the neighbor names, each counted once per
    distinct triple (duplicate emissions would perturb the hash input).

    ``broadcast_entities``: hint the (eid, name) side of the neighbor-name
    join as a broadcast — the non-literal stream then keeps its subj
    partitioning through that join and the following groupBy(subj) reuses
    it (zero extra exchanges). Gated by the caller on the entity count
    (canonicalize_stage ties it to the same threshold as the IRI rewrite);
    False at corpus scale.

    Hash input per entity: sorted own literal values + sorted neighbor
    names + kind + eid. The eid (repo|path|ordinal) is included as a
    uniqueness guard: the reference asserts hash uniqueness over attrs +
    neighbor names alone (individuals.py:83-85), which collides for
    e.g. two identical `pass` statements on the same line of different
    files; at 10^12-file scale that assert would fail, so the eid term makes
    IRIs collision-free while staying deterministic in the input content.
    """
    # each literal is pre-hashed map-side so the aggregation collects 64-char
    # digests instead of multi-KB hasSourceCode strings; the outer sha256
    # over the sorted digest list keeps determinism (the reference
    # concatenates raw values, individuals.py:60-85 — same IRI-stability
    # contract, different bytes, which is fine because IRI parity is
    # engine-internal)
    own_lits = (triples.filter(F.col("obj_is_literal"))
                .groupBy("subj")
                .agg(F.collect_list(F.sha2("obj", 256)).alias("lits")))
    name_map = entities.select(F.col("eid").alias("obj"),
                               F.col("name").alias("nname"))
    if broadcast_entities:
        name_map = F.broadcast(name_map)
    neighbor_names = (
        triples.filter(~F.col("obj_is_literal"))
        .join(name_map, "obj")
        .filter(F.col("nname").isNotNull())
        .groupBy("subj").agg(F.collect_list("nname").alias("nnames")))
    return (entities
            .join(own_lits.withColumnRenamed("subj", "eid"), "eid", "left")
            .join(neighbor_names.withColumnRenamed("subj", "eid"), "eid", "left")
            .select(
                "eid",
                F.concat(
                    F.lit(WOC),
                    F.sha2(F.concat_ws(
                        "|",
                        F.col("kind"),
                        F.col("eid"),
                        F.concat_ws(",", F.array_sort(
                            F.coalesce(F.col("lits"), F.array()))),
                        F.concat_ws(",", F.array_sort(
                            F.coalesce(F.col("nnames"), F.array()))),
                    ), 256)).alias("iri")))


def apply_iris(triples: DataFrame, iri_map: DataFrame,
               broadcast_maps: bool = False) -> DataFrame:
    """Rewrite local entity ids to hashed IRIs: subj side on every row, obj
    side on non-literals only, so literal bytes never enter the obj-keyed
    join. Objects already holding absolute IRIs (rdf:type classes,
    access-modifier singletons, owl terms) pass through via coalesce.

    Shuffle shape: with ``broadcast_maps`` (auto-gated by canonicalize_stage
    on iri_map size) all lookups are map-side broadcast-hash joins. On the
    shuffle path the subj join reuses the dedup output's subj partitioning
    and only the non-literal rows are shuffled again, by obj; the
    sort-merge sorts of a unified 11M-row stream were measured 10x slower
    than the broadcast probe, hence the auto gate."""
    s_map = iri_map.select(F.col("eid").alias("subj"), F.col("iri").alias("s_iri"))
    o_map = iri_map.select(F.col("eid").alias("obj"), F.col("iri").alias("o_iri"))
    if broadcast_maps:
        # the exchanges canonicalize to the same subtree (aliases are
        # normalized away), so ReuseExchange ships one hash relation
        s_map, o_map = F.broadcast(s_map), F.broadcast(o_map)
    subj_done = (triples
                 .join(s_map, "subj", "left")
                 .select("repo", "commit",
                         F.coalesce("s_iri", "subj").alias("subj"),
                         "pred", "obj", "obj_is_literal"))
    nonlits = (subj_done.filter(~F.col("obj_is_literal"))
               .join(o_map, "obj", "left")
               .select("repo", "commit", "subj", "pred",
                       F.coalesce("o_iri", "obj").alias("obj"),
                       "obj_is_literal"))
    return subj_done.filter(F.col("obj_is_literal")).unionByName(nonlits)


def materialize_inverses(triples: DataFrame) -> DataFrame:
    """C4: forward-only emission + relational inverse generation.

    Single pass: each row explodes into [forward] or [forward, inverse] —
    NOT a union of the input plan with a derived-inverses plan, which would
    execute the whole upstream rewrite pipeline twice (once per union
    branch)."""
    inv_map = F.create_map(*[F.lit(x) for pair in woc.INVERSE.items() for x in pair])
    inv_pred = inv_map[F.col("pred")]
    fwd = F.struct(F.col("subj"), F.col("pred"), F.col("obj"),
                   F.col("obj_is_literal"))
    inv = F.struct(F.col("obj").alias("subj"), inv_pred.alias("pred"),
                   F.col("subj").alias("obj"),
                   F.lit(False).alias("obj_is_literal"))
    rows = (F.when(F.col("obj_is_literal") | inv_pred.isNull(),
                   F.array(fwd))
            .otherwise(F.array(fwd, inv)))
    return (triples
            .select("repo", "commit", F.explode(rows).alias("t"))
            .select("repo", "commit", "t.subj", "t.pred", "t.obj",
                    "t.obj_is_literal"))


def _without(df: DataFrame, drop: DataFrame) -> DataFrame:
    """``df`` minus every row whose subj or obj is in ``drop`` (eid). The
    drop set is tiny (a subset of the type-annotation entities): broadcast
    it so the anti-joins are map-side."""
    return (df
            .join(F.broadcast(drop.withColumnRenamed("eid", "subj")),
                  "subj", "left_anti")
            .join(F.broadcast(drop.withColumnRenamed("eid", "obj")),
                  "obj", "left_anti"))


def degrade_argless_ptypes(entities: DataFrame,
                           triples: DataFrame) -> DataFrame:
    """A ParameterizedType whose generic resolved but NONE of whose type
    arguments did degrades to the plain generic class — the reference links
    the bare generic when ``is_all_none(parameterized_individuals)``
    (extractor.py:955-961). Common shape: ``Box[T]`` where ``Box`` is
    corpus-local but ``T`` is an unresolvable TypeVar.

    Single pass suffices for nesting: an inner ParameterizedType is itself a
    non-literal hasArgumentType object, so its enclosing TypeArgument counts
    as resolved regardless of the inner one's later rewrite.

    Callers skip it when ``entities`` holds no ParameterizedType
    (canonicalize_stage reads that from its entity aggregate): its three
    candidate scans run over the full triple stream."""
    ptypes = entities.filter(F.col("kind") == "ParameterizedType").select("eid")
    generic = (triples.filter(F.col("pred") == WOC + "hasGenericType")
               .select(F.col("subj").alias("eid"), F.col("obj").alias("gen")))
    targs = (triples.filter(F.col("pred") == WOC + "hasActualTypeArgument")
             .select(F.col("subj").alias("eid"), F.col("obj").alias("targ")))
    resolved_args = (triples.filter((F.col("pred") == WOC + "hasArgumentType")
                                    & ~F.col("obj_is_literal"))
                     .select(F.col("subj").alias("targ")).distinct())
    has_resolved_arg = (targs.join(resolved_args, "targ", "left_semi")
                        .select("eid").distinct())
    degenerate = (ptypes.join(generic, "eid")
                  .join(has_resolved_arg, "eid", "left_anti")
                  .localCheckpoint(eager=False))
    if degenerate.isEmpty():
        return triples
    # rewrite inbound type links to the generic class (tiny map, broadcast)
    rmap = degenerate.select(F.col("eid").alias("obj"),
                             F.col("gen").alias("new_obj"))
    rewritten = (triples
                 .join(F.broadcast(rmap), "obj", "left")
                 .withColumn("obj", F.when(
                     F.col("new_obj").isNotNull()
                     & F.col("pred").isin(WOC + "hasType",
                                          WOC + "hasArgumentType"),
                     F.col("new_obj")).otherwise(F.col("obj")))
                 .drop("new_obj"))
    # drop the degenerate subtree (its own triples + its TypeArguments')
    drop = (degenerate.select("eid")
            .unionByName(targs.join(degenerate.select("eid"), "eid",
                                    "left_semi")
                         .select(F.col("targ").alias("eid")))
            .distinct())
    return _without(rewritten, drop)


_PTYPE_PRUNE_MAX_ROUNDS = 6


def prune_dangling_ptypes(entities: DataFrame, triples: DataFrame,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Drop ParameterizedType entities that (a) never resolved a generic
    (reference generic-individual-None rule, extractor.py:952-961) or
    (b) have no inbound hasType/hasArgumentType reference left — e.g. the
    annotation subtree of a LOSING field fact after the Stage-2 fold — plus
    their TypeArgument subtrees. Dropping a parent generic orphans its
    nested generics, so the drop set grows by
    :func:`relational.bounded_fixpoint` to the (shallow) nesting depth
    (``_PTYPE_PRUNE_MAX_ROUNDS``; barrier tags ``ptypes_drop_<i>``).

    Callers skip it when ``entities`` holds no ParameterizedType
    (canonicalize_stage reads that from its entity aggregate); called
    anyway, its first round finds nothing to drop and it returns
    ``triples`` unchanged.
    """
    ptypes = reliable_barrier(
        entities.filter(F.col("kind") == "ParameterizedType").select("eid"),
        checkpoint_dir, "ptypes_init")
    # rounds read only the 4-predicate subgraph (restricted once); the full
    # triple stream is anti-joined exactly ONCE at the end (pitfall 12)
    type_preds = (WOC + "hasGenericType", WOC + "hasActualTypeArgument",
                  WOC + "hasType", WOC + "hasArgumentType")
    tp = reliable_barrier(
        triples.filter(F.col("pred").isin(*type_preds))
        .select("subj", "pred", "obj", "obj_is_literal"),
        checkpoint_dir, "ptypes_subgraph")

    def step(_delta, dropped):
        live_tp = _without(tp, dropped)
        live = ptypes.join(F.broadcast(dropped), "eid", "left_anti")
        resolved_generic = (live_tp
                            .filter(F.col("pred") == WOC + "hasGenericType")
                            .select(F.col("subj").alias("eid")))
        inbound = (live_tp
                   .filter(F.col("pred").isin(WOC + "hasType",
                                              WOC + "hasArgumentType")
                           & ~F.col("obj_is_literal"))
                   .select(F.col("obj").alias("eid")))
        arg_of = (live_tp
                  .filter(F.col("pred") == WOC + "hasActualTypeArgument")
                  .select(F.col("subj").alias("eid"),
                          F.col("obj").alias("targ")))
        bad = (live.join(resolved_generic, "eid", "left_anti")
               .unionByName(live.join(inbound, "eid", "left_anti")))
        # a bad ptype drops together with its TypeArguments
        return (bad.join(arg_of, "eid", "left")
                .select(F.explode(F.array("eid", "targ")).alias("eid"))
                .filter(F.col("eid").isNotNull()))

    # the empty seed (limit 0) folds the round-0 anti-joins away at planning
    dropped, rounds = bounded_fixpoint(
        ptypes.limit(0), step, ["eid"], _PTYPE_PRUNE_MAX_ROUNDS,
        "ptypes_drop", checkpoint_dir)
    return _without(triples, dropped) if rounds else triples


def audit_iri_uniqueness(iri_map: DataFrame) -> DataFrame:
    """The reference asserts global IRI uniqueness (individuals.py:83-85);
    relational analog: return colliding IRIs (must be empty)."""
    return (iri_map.groupBy("iri").agg(F.count("*").alias("n"),
                                       F.collect_list("eid").alias("eids"))
            .filter(F.col("n") > 1))


def canonicalize_stage(entities: DataFrame, all_triples: DataFrame,
                       manifest: DataFrame | None = None,
                       broadcast_iris: bool | None = None) -> DataFrame:
    """Full Stage 3: prune -> dedup -> IRI hash -> rewrite -> inverses.

    ``manifest`` (optional, tiny ``(repo, library, is_by_project)`` table)
    drops the project links of dependency libraries first — see
    :func:`apply_library_manifest`.

    ``broadcast_iris``: None (default) auto-gates the IRI rewrite on the
    iri_map row count against ``session._IRI_BROADCAST_MAX_ROWS``; an
    explicit True/False pins the plan — benchmarks pin False so every corpus
    size takes the same (corpus-scale) physical plan instead of flipping
    strategies across the broadcast threshold mid-measurement.

    This is the stage's one place for plan decisions: one entity aggregate
    decides whether the ParameterizedType degrade/prune helpers run at all
    and which IRI-rewrite strategy applies; the helpers never probe their
    inputs.

    ``entities``, the deduplicated triple table and ``iri_map`` each feed
    2-4 downstream consumers, so they are persist()ed — a materialization
    barrier like the localCheckpoints elsewhere, but one that PRESERVES
    outputPartitioning (localCheckpoint's LogicalRDD drops it under AQE):
    the single ``repartition("subj")`` inside :func:`dedup_triples` then
    also serves both IRI-hash aggregations and the subj-side rewrite join
    with no further full-stream exchange, and the eid-partitioned entity
    dedup serves every eid-keyed join in compute_iris. On a cluster these
    persists are the Stage-3 parquet/Iceberg checkpoints (which preserve
    bucketing the same way).
    """
    if manifest is not None:
        all_triples = apply_library_manifest(all_triples, manifest)
    entities = dedup_entities(entities).persist()
    # ONE aggregate job (which also warms the entity persist) answers both
    # serial gates: whether any ParameterizedType exists (degrade/prune run
    # only then) AND the entity count that drives the broadcast decision —
    # iri_map has exactly one row per entity
    row = entities.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("kind") == "ParameterizedType", True))
        .alias("np")).collect()[0]
    n_entities, n_ptypes = row["n"], row["np"]
    if n_ptypes:
        degraded = degrade_argless_ptypes(entities, all_triples)
        pruned = prune_dangling_ptypes(entities, degraded)
    else:
        pruned = all_triples
    if broadcast_iris is None:
        broadcast_iris = n_entities <= session._IRI_BROADCAST_MAX_ROWS
    # dedup BEFORE IRI hashing: (a) the IRI aggregation then sees each
    # neighbor name / literal value once (duplicate emissions would perturb
    # the hash input), (b) the IRI-rewrite joins and the inverse union
    # process one row per distinct triple. Inverses of distinct forward
    # triples are distinct — only forward predicates are emitted upstream —
    # so no second dedup.
    deduped = dedup_triples(pruned).persist()
    iri_map = compute_iris(entities, deduped,
                           broadcast_entities=broadcast_iris).persist()
    return materialize_inverses(
        apply_iris(deduped, iri_map, broadcast_maps=broadcast_iris))
