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
- L4 class hierarchy + P4     -> one grouped pass: exact C3 MRO, field
  overrides                      contributions and first-match-in-MRO
                                 overrides (operators/fields.py)
- L5 alias chasing            -> candidate ⋈ entity rows, then one grouped
                                 pass of synchronous rounds (max 10,
                                 tracking.py:343)
- wildcard imports            -> exports + one grouped re-export BFS (max 5
                                 hops, tracking.py:234-255)
- P6 fields                   -> fact fold + materialization in
                                 operators/fields.py (inherited fields)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import session, woc
from codeontologypython_spark.operators.relational import (
    one_group,
    salted_join,
)

WOC = woc.WOC

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
# link_stage's probe key for the symbol-table entity rows
_SYMBOLS = "<symbol table>"


def _alias_rounds(pdf: pd.DataFrame) -> list[tuple]:
    """Rows: (alias, candidate, entity hit or null). In round r an
    unresolved alias sees the entity rows and the aliases resolved in
    rounds < r, and takes its least (priority, kind rank, via_alias, eid)
    hit."""
    cands: dict[str, set] = {}
    hits: dict[str, tuple] = {}   # candidate fqn -> its least entity hit
    for r in pdf.itertuples(index=False):
        cands.setdefault(r.alias_fqn, set()).add((r.priority, r.cand_fqn))
        if pd.notna(r.eid):
            h = (_KIND_RANK.get(r.kind, 99), bool(r.via_alias), r.eid,
                 r.kind, r.repo)
            hits[r.cand_fqn] = min(hits.get(r.cand_fqn, h), h)
    resolved: dict[str, tuple] = {}
    rows = []
    for rnd in range(1, _ALIAS_MAX_ROUNDS + 1):
        new = {}
        for fqn in cands.keys() - resolved.keys():
            seen = [(p, *h) for p, c in cands[fqn]
                    for h in (hits.get(c), resolved.get(c)) if h]
            if seen:
                # an alias row: its target's kind rank, eid, kind and repo
                _p, kr, _via, eid, kind, repo = min(seen)
                new[fqn] = (kr, True, eid, kind, repo)
        if not new:
            break
        resolved.update(new)
        rows += [(f, eid, kind, repo, True, rnd)
                 for f, (_kr, _via, eid, kind, repo) in new.items()]
    return rows


def chase_aliases(symbol_table: DataFrame, mentions: DataFrame) -> DataFrame:
    """L5: module-level ``Alias = Target`` assignments and import BINDINGS
    (``from X import y``, ``import x.y as z``) add symbol-table rows mapping
    the bound FQN to the target's entity, flagged ``via_alias``. A module-
    level alias assignment also creates a GlobalVariable entity under the
    SAME fqn — both rows are kept: imports prefer the variable (the reference
    references the AssignName node, transformer/__init__.py:288-343), type
    mentions chase through to the target (track_type_name_from_scope,
    tracking.py:330-380).

    ``symbol_table`` holds entity rows (:func:`build_symbol_table`); one
    join attaches them to the alias candidates, and one grouped pass
    (:func:`_alias_rounds`) flattens alias-of-alias chains, one link per
    round up to ``_ALIAS_MAX_ROUNDS``. Callers skip the chase when there are no alias mentions (link_stage
    reads that from its kind counts); called anyway, it returns the table
    unchanged."""
    cands = mentions.filter(F.col("kind") == "alias").select(
        F.col("subj").alias("alias_fqn"),
        F.posexplode("candidates").alias("priority", "cand_fqn"))
    hits = cands.join(symbol_table.withColumnRenamed("fqn", "cand_fqn"),
                      "cand_fqn", "left")
    alias_rows = one_group(
        hits, _alias_rounds, "fqn string, eid string, kind string, "
        "repo string, via_alias boolean, round int", _ALIAS_MAX_ROUNDS,
        "alias chase")
    return symbol_table.unionByName(alias_rows)


def resolve_mentions(mentions: DataFrame, symbol_table: DataFrame,
                     broadcast_symtab: bool = True,
                     salt: int = 0,
                     alias_map: DataFrame | None = None) -> DataFrame:
    """L1/L2/L3: resolve candidate FQN lists to entity ids -> triples.

    Candidates are best-first; the join keeps the best hit per mention via a
    min(struct) aggregate keyed by the mention's own columns. The symbol
    table is broadcast when small (north_star); with
    ``broadcast_symtab=False`` the join shuffles, salted by ``salt`` (0 or
    1: unsalted) with :func:`salted_join` to defuse hub-symbol skew.

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
        # salt 1 is the plain shuffle join
        return salted_join(probe, st, "fqn", salt=max(salt, 1))

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
    re-export chains up to ``_WILDCARD_MAX_ROUNDS`` hops in one grouped
    pass (tracking.py:234-255 + L2 fixpoint). Exports derive from the
    (chased) symbol table so alias and from-import binding rows export too.

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
    reexports = (mentions.filter(F.col("kind") == "wildcard")
                 .select(F.lit("w").alias("kind"),
                         module_fqn_col(F.col("path")).alias("a"),
                         F.element_at("candidates", 1).alias("b")))
    exports = one_group(
        top_level.select(F.lit("x").alias("kind"),
                         F.col("module_fqn").alias("a"),
                         F.col("eid").alias("b")).unionByName(reexports),
        _reexport_rounds, "module_fqn string, eid string, round int",
        _WILDCARD_MAX_ROUNDS, "wildcard re-export closure")

    return (wild.join(exports, "module_fqn")
            .select("repo", "commit", "subj", "pred",
                    F.col("eid").alias("obj"),
                    F.lit(False).alias("obj_is_literal")))


def _reexport_rounds(pdf: pd.DataFrame) -> list[tuple]:
    """Rows: 'x' a module's own export (a: module, b: eid), 'w' a re-export
    (a does ``from b import *``). Round r adds the pairs r hops away."""
    importers: dict[str, set] = {}
    known: set[tuple[str, str]] = set()
    for r in pdf.itertuples(index=False):
        if r.kind == "w":
            importers.setdefault(r.b, set()).add(r.a)
        else:
            known.add((r.a, r.b))
    rows = [(m, e, 0) for m, e in known]
    frontier = known
    for rnd in range(1, _WILDCARD_MAX_ROUNDS + 1):
        frontier = {(w, e) for m, e in frontier
                    for w in importers.get(m, ())} - known
        if not frontier:
            break
        known |= frontier
        rows += [(m, e, rnd) for m, e in frontier]
    return rows


def extends_edges(resolved_triples: DataFrame) -> DataFrame:
    """L4 input: (src, dst, pos) direct extends edges; pos is the base's
    position in the class statement (carried through resolve_mentions in
    ``raw`` as ``"<pos>:<name>"``), the exact C3 base order."""
    return (resolved_triples
            .filter(F.col("pred") == WOC + "extends")
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"),
                    F.split(F.col("raw"), ":", 2).getItem(0)
                    .cast("int").alias("pos")))


def class_methods(entities: DataFrame, triples: DataFrame) -> DataFrame:
    """(class_eid, method_eid, mname, repo, commit) of every Method (a
    constructor never overrides)."""
    has_method = (triples.filter(F.col("pred") == WOC + "hasMethod")
                  .select(F.col("subj").alias("class_eid"),
                          F.col("obj").alias("method_eid")))
    named = entities.filter(F.col("kind") == "Method").select(
        F.col("eid").alias("method_eid"), F.col("name").alias("mname"),
        "repo", "commit")
    return has_method.join(named, "method_eid")


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

    This is the stage's one place for plan decisions, all taken from ONE
    probe job: its mention kind counts decide which helpers run at all (the
    alias chase, the wildcard expansion, the hierarchy pass), and its
    symbol-table entity rows plus the alias mentions bound the chased symbol
    table for broadcast vs salted. The helpers themselves never probe their
    inputs.

    Returns ``(resolved, extra_entities, base_triples)``:
    - ``resolved``: mention-resolution + override + wildcard + Field triples
      (to union with ``base_triples``),
    - ``extra_entities``: Stage-2-materialized individuals (Field,
      FieldDeclarationStatement) to union with the Stage-1 entities,
    - ``base_triples``: :func:`base_triples` of the input triples.
    """
    from codeontologypython_spark.operators.fields import (
        hierarchy_pass,
        materialize_fields,
    )

    # the symbol table feeds every downstream consumer (the alias chase,
    # the resolution join, the alias map, wildcard exports); materialized
    # once, by the probe job below, so none re-derives it from the entities
    symtab = build_symbol_table(entities).localCheckpoint(eager=False)
    # ONE probe job answers every plan question of the stage (a probe per
    # question is a separate job, a fixed serial cost that dominates
    # small-corpus link walls): the mention kind counts, and the symbol-table
    # entity rows under a key no mention kind uses
    counts = {r["kind"]: r["count"] for r in
              mentions.select("kind")
              .unionByName(symtab.select(F.lit(_SYMBOLS).alias("kind")))
              .groupBy("kind").count().collect()}
    n_alias = counts.get("alias", 0)
    # a bound on the chased table: the chase adds at most one row per alias
    n_sym_max = counts.get(_SYMBOLS, 0) + n_alias
    if broadcast_symtab == "auto":
        if n_sym_max > session._AUTO_BROADCAST_MAX_ROWS:
            broadcast_symtab, salt = False, (salt or session._AUTO_SALT)
        else:
            broadcast_symtab = True
    # alias map for the L3 suffix round: the chased alias/binding rows,
    # mapped to their target entity's canonical fqn. Built whenever the
    # chase ran; when every alias names an external module it is empty and
    # rewrites nothing
    alias_map = None
    if n_alias:
        symtab = chase_aliases(symtab, mentions)
        canon = (entities.filter(F.col("fqn").isNotNull())
                 .select("eid", F.col("fqn").alias("canon_fqn")))
        alias_map = (symtab.filter(F.col("via_alias")).join(canon, "eid")
                     .filter(F.col("fqn") != F.col("canon_fqn"))
                     .select(F.col("fqn").alias("alias_fqn"), "canon_fqn"))
    # resolved feeds several consumers (edges, overrides, fields, output):
    # materialize once so the candidate-join isn't re-executed per consumer
    resolved = resolve_mentions(mentions, symtab,
                                broadcast_symtab=broadcast_symtab,
                                salt=salt,
                                alias_map=alias_map).localCheckpoint(eager=False)

    classes = entities.filter(F.col("kind") == "Class")
    hier = hierarchy_pass(
        classes, extends_edges(resolved),
        mentions.filter(F.col("kind") == "ctorinfo"),
        class_methods(entities, triples),
        # extends edges only arise from resolved 'base' mentions: zero base
        # mentions proves the edge set empty without probing it
        no_edges=not counts.get("base", 0))
    overrides = (hier.filter(F.col("out") == "overrides")
                 .select("repo", "commit", F.col("root").alias("subj"),
                         F.lit(WOC + "overrides").alias("pred"),
                         F.col("cls").alias("obj"),
                         F.lit(False).alias("obj_is_literal")))

    is_fact = _is_field_fact()
    ffid_types = (resolved.filter(is_fact).drop("raw")
                  .unionByName(triples.filter(is_fact)))
    f_entities, f_triples = materialize_fields(
        classes, mentions.filter(F.col("kind") == "fieldfact"),
        hier, ffid_types)

    out = resolved.filter(~is_fact).drop("raw")
    if counts.get("wildcard", 0):
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
