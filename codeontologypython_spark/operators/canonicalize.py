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
- ParameterizedType settlement, one grouped pass per file: a parameterized
  type whose generic could not be resolved is dropped, matching the
  reference's generic-individual-None rule (extractor.py:952-961), and one
  with no resolved type argument degrades to its bare generic
  (``is_all_none``, extractor.py:955-961)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import session, woc

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


_SETTLED_SCHEMA = "eid string, gen string"
_TYPE_LINKS = (WOC + "hasType", WOC + "hasArgumentType")


def _settle_file(pdf: pd.DataFrame) -> pd.DataFrame:
    """One file's ParameterizedType forest -> ``(eid, gen)`` rows (see
    :func:`settle_ptypes`). Entity rows carry a null ``pred``."""
    ptypes, gens, targs, resolved, links = set(), {}, {}, set(), []
    for r in pdf.itertuples(index=False):
        if r.pred is None:
            ptypes.add(r.subj)
        elif r.pred == WOC + "hasGenericType":
            gens.setdefault(r.subj, []).append(r.obj)
        elif r.pred == WOC + "hasActualTypeArgument":
            targs.setdefault(r.subj, []).append(r.obj)
        elif not r.lit:  # a resolved hasType / hasArgumentType
            links.append((r.subj, r.obj))
            if r.pred == WOC + "hasArgumentType":
                resolved.add(r.subj)
    # degrade: a generic but no resolved type argument -> the bare generic
    degraded = {p: gens[p] for p in ptypes
                if p in gens and not resolved.intersection(targs.get(p, ()))}
    dropped = set(degraded).union(*(targs.get(p, ()) for p in degraded))
    # prune to the fixpoint: no generic, or no inbound type link left
    while True:
        inbound = {o for s, o in links if s not in dropped}
        bad = {p for p in ptypes - dropped
               if p not in gens or p not in inbound}
        if not bad:
            break
        dropped |= bad.union(*(targs.get(p, ()) for p in bad))
    rows = [(p, g) for p, gs in degraded.items() for g in gs]
    rows += [(e, None) for e in dropped - set(degraded)]
    return pd.DataFrame(rows, columns=["eid", "gen"])


def settle_ptypes(entities: DataFrame, triples: DataFrame) -> DataFrame:
    """Settle every ParameterizedType the way the reference decides it,
    locally per annotation (extractor.py:952-961):

    - degrade: a ParameterizedType whose generic resolved but NONE of whose
      type arguments did is replaced by the bare generic class — the
      reference links the generic when ``is_all_none(...)``
      (extractor.py:955-961). Common shape: ``Box[T]`` with ``Box``
      corpus-local and ``T`` an unresolvable TypeVar. Its TypeArguments go
      with it;
    - prune: a ParameterizedType that never resolved a generic
      (generic-individual-None) or has no inbound hasType/hasArgumentType
      left — e.g. the annotation subtree of a LOSING field fact after the
      Stage-2 fold — is dropped with its TypeArguments, repeated until
      nothing changes (dropping a parent orphans its nested generics).

    Every such forest comes from one file's annotations, so the rules run
    in ONE ``groupBy(file).applyInPandas`` pass over the type subgraph, the
    file being the eid prefix before its last ``|`` (eids are
    ``repo|path|n``). hasGenericType/hasActualTypeArgument/hasArgumentType
    rows are keyed by their subject's file; hasType rows into a
    ParameterizedType by their OBJECT's file, since an inherited Field in
    another file points into its base class's annotation.

    The result, ``(eid, gen)`` — gen set: rewrite hasType/hasArgumentType
    objects to gen; gen null: drop — is applied to the full stream with one
    broadcast obj lookup and one broadcast subj anti-join."""
    ptypes = entities.filter(F.col("kind") == "ParameterizedType")

    def keyed(df, key):
        return df.select(F.regexp_extract(key, r"^(.*)\|", 1).alias("file"),
                         "subj", "pred", "obj",
                         F.col("obj_is_literal").alias("lit"))

    subgraph = (
        keyed(ptypes.select(F.col("eid").alias("subj"),
                            F.lit(None).cast("string").alias("pred"),
                            F.lit(None).cast("string").alias("obj"),
                            F.lit(None).cast("boolean")
                            .alias("obj_is_literal")), "subj")
        .unionByName(keyed(triples.filter(F.col("pred").isin(
            WOC + "hasGenericType", WOC + "hasActualTypeArgument",
            WOC + "hasArgumentType")), "subj"))
        # broadcast by hint, as the settled tables are below: the entity
        # cache under ptypes is first filled inside this query, so the
        # planner cannot size it, and AQE turned the planned shuffle join
        # into a broadcast one before or after the hasType side's stage
        # started, whichever stage finished first: two plans (and two sets
        # of generated classes) for one build
        .unionByName(keyed(triples.filter(F.col("pred") == WOC + "hasType")
                           .join(F.broadcast(ptypes.select(
                               F.col("eid").alias("obj"))),
                               "obj", "left_semi"), "obj")))
    # eager, not lazy: CLAUDE.md pitfall 10
    settled = (subgraph.groupBy("file")
               .applyInPandas(_settle_file, schema=_SETTLED_SCHEMA)
               .localCheckpoint())
    lookup = settled.select(F.col("eid").alias("obj"), "gen",
                            F.lit(True).alias("hit"))
    return (triples
            .join(F.broadcast(lookup), "obj", "left")
            .filter(F.col("hit").isNull()
                    | (F.col("gen").isNotNull()
                       & F.col("pred").isin(*_TYPE_LINKS)))
            .withColumn("obj", F.coalesce("gen", "obj"))
            .join(F.broadcast(settled.select(F.col("eid").alias("subj"))),
                  "subj", "left_anti")
            .select(*triples.columns))


def audit_iri_uniqueness(iri_map: DataFrame) -> DataFrame:
    """The reference asserts global IRI uniqueness (individuals.py:83-85);
    relational analog: return colliding IRIs (must be empty)."""
    return (iri_map.groupBy("iri").agg(F.count("*").alias("n"),
                                       F.collect_list("eid").alias("eids"))
            .filter(F.col("n") > 1))


def canonicalize_stage(entities: DataFrame, all_triples: DataFrame,
                       manifest: DataFrame | None = None,
                       broadcast_iris: bool | None = None) -> DataFrame:
    """Full Stage 3: settle ptypes -> dedup -> IRI hash -> rewrite ->
    inverses.

    ``manifest`` (optional, tiny ``(repo, library, is_by_project)`` table)
    drops the project links of dependency libraries first — see
    :func:`apply_library_manifest`.

    ``broadcast_iris``: None (default) auto-gates the IRI rewrite on the
    iri_map row count against ``session._IRI_BROADCAST_MAX_ROWS``; an
    explicit True/False pins the plan — benchmarks pin False so every corpus
    size takes the same (corpus-scale) physical plan instead of flipping
    strategies across the broadcast threshold mid-measurement.

    This is the stage's one place for plan decisions: the entity count
    decides the IRI-rewrite strategy; the helpers never probe their inputs.

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
    settled = settle_ptypes(entities, all_triples)
    if broadcast_iris is None:
        # iri_map has exactly one row per entity
        broadcast_iris = entities.count() <= session._IRI_BROADCAST_MAX_ROWS
    # dedup BEFORE IRI hashing: (a) the IRI aggregation then sees each
    # neighbor name / literal value once (duplicate emissions would perturb
    # the hash input), (b) the IRI-rewrite joins and the inverse union
    # process one row per distinct triple. Inverses of distinct forward
    # triples are distinct — only forward predicates are emitted upstream —
    # so no second dedup.
    deduped = dedup_triples(settled).persist()
    iri_map = compute_iris(entities, deduped,
                           broadcast_entities=broadcast_iris).persist()
    return materialize_inverses(
        apply_iris(deduped, iri_map, broadcast_maps=broadcast_iris))
