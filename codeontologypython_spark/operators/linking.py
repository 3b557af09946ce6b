"""Stage 2 — cross-file entity linking (SURVEY.md §2.3, L1-L7).

The reference resolves names by recursive pointer-chasing over live ASTs
(``tracking.py``); here every resolution is a join against a symbol table
derived from the Stage-1 entities:

- L1 import resolution        -> candidate-explode + hash join + top-1 window
- L2 scope-chain lookup       -> the per-file half ran inside the UDF; only
                                 names escaping the file arrive here; module
                                 import bindings land as alias symtab rows
- L3 attribute-chain suffixes -> best-first candidate list per mention, plus
                                 a miss-round rewriting alias/binding
                                 prefixes to canonical fqns (the relational
                                 form of tracking.py:297-327's shrinking
                                 per-step lookups)
- L4 class hierarchy          -> exact C3 MRO per class over relationally
                                 assembled subgraphs (operators/fields.py)
- L5 alias chasing            -> bounded alias-resolution loop augmenting the
                                 symbol table (max 10 rounds, tracking.py:343)
- wildcard imports            -> symbol-table exports join with a bounded
                                 re-export fixpoint (tracking.py:234-255)
- P4 overrides                -> methods ⋈ MRO ⋈ methods with a min-MRO-rank
                                 pick (first-match-in-MRO)
- P6 fields                   -> fact fold + materialization in
                                 operators/fields.py (inherited fields)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import session
from codeontologypython_spark.operators.relational import (
    bounded_fixpoint,
    reliable_barrier,
    salted_join,
)

WOC = "http://rdf.webofcode.org/woc/"

# resolution priority across entity kinds when one FQN names several
# (a package beats a class beats a function beats a variable)
_KIND_RANK = {
    "Package": 0, "Class": 1, "Function": 2, "GlobalVariable": 3,
    "Field": 4, "Method": 5, "Constructor": 6,
}


def _kind_rank_col():
    expr = F.lit(99)
    for k, r in _KIND_RANK.items():
        expr = F.when(F.col("kind") == k, F.lit(r)).otherwise(expr)
    return expr


def module_fqn_col(path):
    """Relational FQN-from-path (explore/__init__.py:439-458), usable in
    pure-DataFrame pipelines without the UDF."""
    stripped = F.regexp_replace(path, "\\.py$", "")
    dotted = F.regexp_replace(stripped, "/", ".")
    return F.regexp_replace(dotted, "(\\.|^)__init__$", "")


def build_symbol_table(entities: DataFrame) -> DataFrame:
    """(fqn, eid, kind, repo, via_alias=false) for every FQN-addressable
    entity — the project-level symbol table the north_star broadcasts."""
    return (entities
            .filter(F.col("fqn").isNotNull() & (F.col("fqn") != ""))
            .select("fqn", "eid", "kind", "repo",
                    F.lit(False).alias("via_alias")))


# alias-of-alias chain bound, as the reference's tracking.py:343
_ALIAS_MAX_ROUNDS = 10
_WILDCARD_MAX_ROUNDS = 5


def chase_aliases(symbol_table: DataFrame, mentions: DataFrame,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """L5: module-level ``Alias = Target`` assignments and import BINDINGS
    (``from X import y``, ``import x.y as z``) add symbol-table rows mapping
    the bound FQN to the target's entity, flagged ``via_alias``. A module-
    level alias assignment also creates a GlobalVariable entity under the
    SAME fqn — both rows are kept: imports prefer the variable (the reference
    references the AssignName node, transformer/__init__.py:288-343), type
    mentions chase through to the target (track_type_name_from_scope,
    tracking.py:330-380). Alias-of-alias chains are flattened by
    :func:`relational.bounded_fixpoint` over the alias rows
    (``_ALIAS_MAX_ROUNDS``; barrier tags ``alias_round_<i>``).

    Precondition: ``symbol_table`` is already materialized (a checkpoint or
    a persisted table) — every round reads it twice (the entity rows for
    the hit, its alias rows in the result so far), so an unmaterialized
    base would re-run its derivation per round per read.
    Callers skip the chase when there are no alias mentions (link_stage
    reads that from its kind counts); called anyway, it returns the table
    unchanged after one empty round."""
    cands = mentions.filter(F.col("kind") == "alias").select(
        F.col("subj").alias("alias_fqn"),
        F.posexplode("candidates").alias("priority", "cand_fqn"))
    cands = reliable_barrier(cands, checkpoint_dir, "alias_cands")
    entity_rows = symbol_table.filter(~F.col("via_alias"))

    def step(_delta, alias_rows):
        # best candidate per alias via map-side-combining min(struct)
        # (pitfall 5): ordering (priority, kind rank, via_alias, eid) is all-
        # ascending and eid-unique, so the winner equals the old row_number
        # window's — without the per-round window sort+full-row shuffle
        symtab = entity_rows.unionByName(alias_rows)
        return (cands.join(symtab.withColumnRenamed("fqn", "cand_fqn"),
                           "cand_fqn")
                .groupBy("alias_fqn")
                .agg(F.min(F.struct(
                    F.col("priority"), _kind_rank_col().alias("kr"),
                    F.col("via_alias"), F.col("eid"), F.col("kind"),
                    F.col("repo"))).alias("w"))
                .select(F.col("alias_fqn").alias("fqn"),
                        F.col("w.eid").alias("eid"),
                        F.col("w.kind").alias("kind"),
                        F.col("w.repo").alias("repo"),
                        F.lit(True).alias("via_alias")))

    # keyed on fqn over the ALIAS rows only: an entity row under the same
    # fqn does not satisfy the alias — the chased target must land too, or
    # chains through shadowing variables dead-end
    alias_rows, _ = bounded_fixpoint(
        symbol_table.filter(F.col("via_alias")), step, ["fqn"],
        _ALIAS_MAX_ROUNDS, "alias_round", checkpoint_dir)
    return entity_rows.unionByName(alias_rows)


def resolve_mentions(mentions: DataFrame, symbol_table: DataFrame,
                     broadcast_symtab: bool = True,
                     salt: int = 0,
                     alias_map: DataFrame | None = None) -> DataFrame:
    """L1/L2/L3: resolve candidate FQN lists to entity ids -> triples.

    Candidates are best-first; the join keeps the best hit per mention via a
    min(struct) aggregate keyed by the mention's own columns. The symbol table is broadcast when small (north_star); for
    huge symbol tables set ``broadcast_symtab=False`` and a ``salt`` to defuse
    hub-symbol skew with :func:`salted_join`.

    ``alias_map`` (alias_fqn -> canon_fqn) enables the L3 suffix-shrinking
    second round (tracking.py:297-327): a dotted candidate that missed is
    split at every dot; prefixes that are known aliases/bindings (a locally
    bound module object, a re-exported name) are rewritten to their canonical
    FQN and the tail re-joined — the relational form of the reference's
    per-step ``c``, ``b.c``, ``a.b.c`` scope lookups. One rewrite round
    suffices because the alias chase already flattened alias-of-alias chains.
    """
    # a mention is keyed by its own content, so every evaluation of `m` (the
    # miss anti-join below, a task retry, an AQE re-plan) agrees on it; two
    # mentions with equal keys are the same text at the same site and
    # resolve alike
    key = ["repo", "path", "commit", "subj", "pred", "mkind", "raw"]
    m = (mentions.filter(F.col("kind").isin("import", "type", "base"))
         .select("repo", "path", "commit", "subj", "pred", "raw",
                 F.col("kind").alias("mkind"),
                 F.posexplode("candidates").alias("priority", "fqn")))
    st = symbol_table.select("fqn", "eid", "kind", "via_alias")

    def join_st(probe):
        if broadcast_symtab:
            return probe.join(F.broadcast(st), "fqn")
        if salt > 1:
            return salted_join(probe, st, "fqn", salt=salt)
        return probe.join(st, "fqn")

    joined = join_st(m)
    if alias_map is not None:
        # misses only: most mentions resolve in round 1 or are external
        joined = joined.localCheckpoint(eager=False)
        hit = joined.select(*[F.col(c).alias("hit_" + c) for c in key])
        # null-safe: a mention's raw text may be null
        miss = (m.join(hit.distinct(),
                       [F.col(c).eqNullSafe(F.col("hit_" + c)) for c in key],
                       "left_anti")
                .filter(F.col("fqn").contains(".")))
        parts = F.split("fqn", "\\.")
        sp = (miss.withColumn("parts", parts)
              .withColumn("k", F.explode(
                  F.sequence(F.lit(1), F.size("parts") - 1)))
              .withColumn("prefix",
                          F.array_join(F.slice("parts", F.lit(1), F.col("k")),
                                       "."))
              .withColumn("suffix", F.array_join(
                  F.slice("parts", F.col("k") + 1,
                          F.size("parts") - F.col("k")), ".")))
        # alias prefixes are a small fraction of the corpus symbol table;
        # broadcast keeps the rewrite map-side (salted variant would mirror
        # the main join's strategy at extreme scale)
        am = alias_map.select(F.col("alias_fqn").alias("prefix"), "canon_fqn")
        rewritten = (sp.join(F.broadcast(am) if broadcast_symtab else am,
                             "prefix")
                     .select(*key,
                             # suffix hits rank after all direct hits; longer
                             # prefixes (more-specific bindings) win ties
                             (F.lit(100) + F.col("priority") * 10
                              - F.col("k")).alias("priority"),
                             F.concat("canon_fqn", F.lit("."),
                                      "suffix").alias("fqn")))
        joined = joined.unionByName(join_st(rewritten))
    # best candidate per mention via min(struct): lexicographic on
    # (priority, kind_rank, eid). Unlike a row_number window over the
    # mention key, this aggregates map-side before the shuffle —
    # the shuffle carries one row per mention, not one per candidate hit.
    # type and base mentions may only resolve to CLASSES — the reference's
    # track_type_name_from_scope raises unless the match is a ClassDef
    # (tracking.py:330-380 tail: `type(matched) is not astroid.ClassDef ->
    # NoMatchesException`), so an annotation naming a function or module
    # must fail, not link hasType to a non-type entity
    joined = joined.filter(~F.col("mkind").isin("type", "base")
                           | (F.col("kind") == "Class"))
    # import mentions reference the binding entity itself when one exists
    # (the reference links the AssignName node, transformer:288-343); type/
    # base mentions chase through aliases (kind rank already prefers the
    # chased Class/Package over the shadowing GlobalVariable)
    import_via_penalty = (F.when((F.col("mkind") == "import")
                                 & F.col("via_alias"), F.lit(1))
                          .otherwise(F.lit(0)))
    best = (joined
            .groupBy(*key)
            .agg(F.min(F.struct(
                F.col("priority"), import_via_penalty.alias("vp"),
                _kind_rank_col().alias("kr"), F.col("eid"))).alias("best")))
    # `raw` is carried so extends edges keep their base position
    # ("<pos>:<name>", pyfile.py extends mentions) for exact MRO ordering
    return best.select("repo", "commit", "subj", "pred",
                       F.col("best.eid").alias("obj"),
                       F.lit(False).alias("obj_is_literal"), "raw")


def expand_wildcards(mentions: DataFrame, symbol_table: DataFrame) -> DataFrame:
    """``from m import *`` -> imports edges to every public top-level name
    of m — own definitions AND names m itself imported (astroid's
    wildcard_import_names includes import bindings), following wildcard
    re-export chains with :func:`relational.bounded_fixpoint`
    (``_WILDCARD_MAX_ROUNDS``; tracking.py:234-255 + L2 fixpoint). Exports
    derive from the (chased) symbol table so alias and from-import binding
    rows export too.

    Callers skip it when there are no wildcard mentions (link_stage reads
    that from its kind counts); called anyway, it returns no rows."""
    wild = mentions.filter(F.col("kind") == "wildcard").select(
        "repo", "commit", "subj", "pred",
        F.element_at("candidates", 1).alias("module_fqn"))
    # (module_fqn, name) from the fqn's last dot split; only rows whose
    # prefix IS a wildcard-imported module survive the join below, so
    # non-module prefixes (nested classes) are harmless
    module_level = (symbol_table
                    .filter(F.col("fqn").contains("."))
                    .select(
                        F.regexp_extract("fqn", r"^(.*)\.[^.]+$", 1)
                        .alias("module_fqn"),
                        F.regexp_extract("fqn", r"([^.]+)$", 1)
                        .alias("name"),
                        "eid", "fqn"))
    module_level = module_level.join(
        F.broadcast(wild.select("module_fqn").distinct()
                    .unionByName(
                        mentions.filter(F.col("kind") == "wildcard")
                        .withColumn("w", module_fqn_col(F.col("path")))
                        .select(F.col("w").alias("module_fqn")).distinct())
                    .distinct()),
        "module_fqn", "left_semi")
    # __all__ restricts (and can expose underscore names): modules that
    # declared exports use exactly that list; others default to public names
    # (wildcard_import_names semantics, tracking.py:234-255)
    declared = (mentions.filter(F.col("kind") == "export")
                .select(F.col("subj").alias("module_fqn"),
                        F.element_at("candidates", 1).alias("fqn"))
                .distinct())
    has_all = declared.select("module_fqn").distinct()
    restricted = module_level.join(declared, ["module_fqn", "fqn"], "left_semi")
    default = (module_level
               .join(has_all, "module_fqn", "left_anti")
               .filter(~F.col("name").startswith("_")))
    top_level = (restricted.unionByName(default)
                 .select("module_fqn", "eid"))

    # wildcard re-export edges: module w -> module m when w does
    # `from m import *`; derived from the wildcard mentions of w's own file
    imp_stmt_modules = (mentions.filter(F.col("kind") == "wildcard")
                        .withColumn("w_module", module_fqn_col(F.col("path")))
                        .select(F.col("w_module"),
                                F.element_at("candidates", 1).alias("src_module"))
                        .localCheckpoint(eager=False))

    def step(_delta, exports):
        return (imp_stmt_modules
                .join(exports.withColumnRenamed("module_fqn", "src_module"),
                      "src_module")
                .select(F.col("w_module").alias("module_fqn"), "eid"))

    exports, _ = bounded_fixpoint(
        top_level.localCheckpoint(eager=False), step, ["module_fqn", "eid"],
        _WILDCARD_MAX_ROUNDS, "wildcard_round")

    return (wild.join(exports, "module_fqn")
            .select("repo", "commit", "subj", "pred",
                    F.col("eid").alias("obj"),
                    F.lit(False).alias("obj_is_literal")))


def extends_edges(resolved_triples: DataFrame) -> DataFrame:
    """L4 input: (src, dst, pos) direct extends edges; pos is the base's
    position in the class statement (carried through resolve_mentions in
    ``raw`` as ``"<pos>:<name>"``), the exact C3 base order."""
    return (resolved_triples
            .filter(F.col("pred") == WOC + "extends")
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"),
                    F.split(F.col("raw"), ":", 2).getItem(0)
                    .cast("int").alias("pos")))


def resolve_overrides(entities: DataFrame, triples: DataFrame,
                      mro: DataFrame) -> DataFrame:
    """P4 cross-file: method overrides via joins. A method m of class C
    overrides the FIRST same-name method along C's exact C3 MRO
    (transformer/__init__.py:54-84 first-match-in-MRO), realized as a
    min-MRO-rank pick over the (root, anc, rank) MRO table.

    Shape (round-6): only methods of classes that participate in some
    hierarchy (MRO roots or ancestors) can produce or receive an override,
    so the hasMethod/Method-name join is semi-join-restricted to that class
    set FIRST and materialized ONCE (the round-5 form executed the full
    methods join twice — once per side — over the whole cached triple/entity
    streams; measured as the dominant link-stage cost). The final pick is a
    map-side-combining min(struct) instead of a row_number window
    (pitfall 5; (rank, anc_method) is unique per candidate row, so the
    winner is identical)."""
    hier_classes = (mro.select(F.col("root").alias("class_eid"))
                    .unionByName(mro.select(F.col("cls").alias("class_eid")))
                    .distinct())
    has_method = (triples.filter(F.col("pred") == WOC + "hasMethod")
                  .select(F.col("subj").alias("class_eid"),
                          F.col("obj").alias("method_eid"))
                  .join(hier_classes, "class_eid", "left_semi"))
    named = entities.filter(F.col("kind") == "Method").select(
        F.col("eid").alias("method_eid"), F.col("name").alias("mname"),
        "repo", "commit")
    methods = (has_method.join(named, "method_eid")
               .localCheckpoint(eager=False))

    anc_methods = (methods
                   .select(F.col("class_eid").alias("anc_class"),
                           F.col("method_eid").alias("anc_method"),
                           F.col("mname").alias("anc_mname")))
    cand = (methods
            .join(mro.select(F.col("root").alias("class_eid"),
                             F.col("cls").alias("mro_anc"),
                             F.col("rank")), "class_eid")
            .join(anc_methods,
                  (F.col("mro_anc") == F.col("anc_class"))
                  & (F.col("mname") == F.col("anc_mname")))
            .select("repo", "commit", "method_eid", "anc_method", "rank"))
    best = (cand.groupBy("method_eid")
            .agg(F.min(F.struct("rank", "anc_method", "repo", "commit"))
                 .alias("w")))
    return best.select(
        F.col("w.repo").alias("repo"), F.col("w.commit").alias("commit"),
        F.col("method_eid").alias("subj"),
        F.lit(WOC + "overrides").alias("pred"),
        F.col("w.anc_method").alias("obj"),
        F.lit(False).alias("obj_is_literal"))


def link_stage(entities: DataFrame, triples: DataFrame, mentions: DataFrame,
               broadcast_symtab: bool | str = "auto", salt: int = 0):
    """Full Stage 2.

    ``broadcast_symtab="auto"`` (default) broadcasts the symbol table when it
    is small and falls back to the salted shuffle join beyond
    ``session._AUTO_BROADCAST_MAX_ROWS`` (every broadcast size gate lives in
    ``session.py``) — at corpus scale (10^8+ fqns) the salted path IS the
    default; the sandbox fixture corpora always broadcast (north_star:
    "broadcast of the project-level symbol table AND salted hash joins to
    defuse skew").

    This is the stage's one place for plan decisions: a single kind-count
    job over the mentions decides which helpers run at all (the alias chase,
    the wildcard expansion, the MRO subgraph path), and one symbol-table
    aggregate decides broadcast vs salted and whether an alias map can
    exist. The helpers themselves never probe their inputs.

    Returns ``(resolved, extra_entities, base_triples)``:
    - ``resolved``: mention-resolution + override + wildcard + Field triples
      (to union with ``base_triples``),
    - ``extra_entities``: Stage-2-materialized individuals (Field,
      FieldDeclarationStatement) to union with the Stage-1 entities,
    - ``base_triples``: :func:`base_triples` of the input triples.
    """
    from codeontologypython_spark.operators.fields import (
        materialize_fields,
        mro_and_contributions,
    )

    # ONE batched probe job answers every emptiness question of the stage
    # (a per-helper probe is a separate full mention-stream job — a fixed
    # serial cost that dominates small-corpus link walls)
    kind_counts = {r["kind"]: r["count"]
                   for r in mentions.groupBy("kind").count().collect()}
    # the symbol table feeds EVERY downstream consumer (the via-alias count,
    # the alias map, the resolution join, wildcard exports); without a
    # materialization each of those re-executes its whole derivation —
    # entity-table scans plus all chase rounds — once per use (measured as
    # the dominant Stage-2 cost on dense corpora)
    symtab = build_symbol_table(entities).localCheckpoint(eager=False)
    if kind_counts.get("alias", 0):
        symtab = chase_aliases(symtab, mentions)
    # one aggregate answers BOTH serial gates: total rows (broadcast-vs-salted
    # auto) and via-alias rows (whether an alias map can exist at all)
    via_counts = {bool(r["via_alias"]): r["count"]
                  for r in symtab.groupBy("via_alias").count().collect()}
    if broadcast_symtab == "auto":
        n_sym = sum(via_counts.values())
        if n_sym > session._AUTO_BROADCAST_MAX_ROWS:
            broadcast_symtab, salt = False, (salt or session._AUTO_SALT)
        else:
            broadcast_symtab = True
    # alias map for the L3 suffix round: the chased alias/binding rows,
    # mapped to their target entity's canonical fqn. The miss-round costs a
    # materialization of the candidate join, so skip it entirely when no
    # alias resolved (common for corpora whose imports are all external)
    alias_map = None
    if via_counts.get(True, 0):
        canon = (entities.filter(F.col("fqn").isNotNull())
                 .select("eid", F.col("fqn").alias("canon_fqn")))
        alias_map = (symtab.filter(F.col("via_alias")).join(canon, "eid")
                     .filter(F.col("fqn") != F.col("canon_fqn"))
                     .select(F.col("fqn").alias("alias_fqn"), "canon_fqn")
                     .localCheckpoint(eager=False))  # consumed by isEmpty + miss round
        if alias_map.isEmpty():
            alias_map = None
    # resolved feeds several consumers (edges, overrides, fields, output):
    # materialize once so the candidate-join isn't re-executed per consumer
    resolved = resolve_mentions(mentions, symtab,
                                broadcast_symtab=broadcast_symtab,
                                salt=salt,
                                alias_map=alias_map).localCheckpoint(eager=False)

    classes = entities.filter(F.col("kind") == "Class")
    contrib = mro_and_contributions(
        classes, extends_edges(resolved),
        mentions.filter(F.col("kind") == "ctorinfo"),
        # extends edges only arise from resolved 'base' mentions: zero base
        # mentions proves the edge set empty without probing it
        no_edges=not kind_counts.get("base", 0)).localCheckpoint(eager=False)
    mro = contrib.filter(F.col("out") == "mro")
    overrides = resolve_overrides(entities, triples, mro)

    is_fact = _is_field_fact()
    ffid_types = (resolved.filter(is_fact).drop("raw")
                  .unionByName(triples.filter(is_fact)))
    f_entities, f_triples = materialize_fields(
        classes, mentions.filter(F.col("kind") == "fieldfact"),
        contrib, ffid_types)

    out = resolved.filter(~is_fact).drop("raw")
    if kind_counts.get("wildcard", 0):
        out = out.unionByName(expand_wildcards(mentions, symtab))
    out = out.unionByName(overrides).unionByName(f_triples)
    return out, f_entities, base_triples(triples)


def _is_field_fact():
    """Internal field-fact rows: Stage 1 subjects them ``<cls>\\x02<order>``
    (operators/fields.py); Stage 2 re-subjects their winners onto Field
    individuals, so they never reach the canonical graph."""
    return F.col("subj").contains("\x02")


def base_triples(triples: DataFrame) -> DataFrame:
    """The Stage-1 triple stream without its internal field-fact rows — the
    triples Stage 3 takes alongside :func:`link_stage`'s resolved ones."""
    return triples.filter(~_is_field_fact())
