"""Stage-2 linking tests (SURVEY §2.3): import resolution, alias chase,
wildcard expansion, extends closure, overrides, skew-salted join equivalence,
lazy corpus pruning."""

import sys

import pytest
from pyspark.sql import functions as F

from codeontologypython_spark.operators import linking
from codeontologypython_spark.operators.closure import select_import_closure
from codeontologypython_spark.operators.relational import salted_join

WOC = "http://rdf.webofcode.org/woc/"


@pytest.fixture(scope="module")
def linked(extracted):
    e = extracted
    resolved, _, _ = linking.link_stage(e["entities"], e["triples"],
                                        e["mentions"])
    return resolved.cache()


def _objs(linked, entities, pred, subj_kind=None):
    out = linked.filter(F.col("pred") == WOC + pred)
    return out


def test_import_resolves_to_module_entity(linked, extracted):
    ents = extracted["entities"]
    # pkg_a/mod1.py imports pkg_a.mod2 (module) and helper (function)
    imports = linked.filter(F.col("pred") == WOC + "imports")
    tgt = (imports.join(ents.select(F.col("eid").alias("obj"), "kind", "fqn"), "obj")
           .select("kind", "fqn").distinct().collect())
    pairs = {(r["kind"], r["fqn"]) for r in tgt}
    assert ("Package", "pkg_a.mod2") in pairs
    assert ("Function", "pkg_a.mod2.helper") in pairs
    # cross-file class import in proj_classes
    assert ("Class", "zoo.base.Animal") in pairs


def test_unreferenced_names_do_not_resolve(linked, extracted):
    # `import os` style stdlib imports have no symbol-table hit -> no triple
    imports = linked.filter(F.col("pred") == WOC + "imports")
    ents = extracted["entities"].select(F.col("eid").alias("obj"))
    dangling = imports.join(ents, "obj", "left_anti")
    assert dangling.count() == 0  # resolved edges only point at real entities


def test_extends_closure_and_overrides(linked, extracted):
    ents = extracted["entities"]
    cls = {r["fqn"]: r["eid"] for r in
           ents.filter(F.col("kind") == "Class").collect() if r["fqn"]}
    ext = {(r["subj"], r["obj"]) for r in
           linked.filter(F.col("pred") == WOC + "extends").collect()}
    assert (cls["zoo.dog.Dog"], cls["zoo.base.Animal"]) in ext
    assert (cls["zoo.pup.Puppy"], cls["zoo.dog.Dog"]) in ext

    # Puppy.speak overrides Dog.speak (nearest ancestor), not Animal.speak
    methods = {(r["eid"]): r for r in
               ents.filter(F.col("kind") == "Method").collect()}
    ov = [(methods[r["subj"]], methods[r["obj"]]) for r in
          linked.filter(F.col("pred") == WOC + "overrides").collect()
          if r["subj"] in methods and r["obj"] in methods]
    by_name = {(a["path"], a["name"]): b["path"] for a, b in ov}
    assert by_name[("zoo/pup.py", "speak")] == "zoo/dog.py"
    assert by_name[("zoo/dog.py", "speak")] == "zoo/base.py"


def test_inherited_fields_on_subclasses(linked, extracted):
    """Reference track_fields walks reverse-MRO ancestor bodies AND
    super().__init__ chains (tracking.py:785-835), so Dog(Animal) carries
    Field individuals for name/_age (ctor chain) and kingdom/limbs (ancestor
    body) in addition to its own a/b/breed; Puppy (no own __init__) inherits
    the whole set through Dog's constructor."""
    ents = extracted["entities"]
    cls = {r["fqn"]: r["eid"] for r in
           ents.filter(F.col("kind") == "Class").collect() if r["fqn"]}
    has_field = linked.filter(F.col("pred") == WOC + "hasField")
    by_class = {}
    for r in has_field.collect():
        by_class.setdefault(r["subj"], set()).add(r["obj"].rsplit("|", 1)[-1])
    assert by_class[cls["zoo.base.Animal"]] == {"kingdom", "limbs",
                                                "name", "_age"}
    assert by_class[cls["zoo.dog.Dog"]] == {"kingdom", "limbs", "name",
                                            "_age", "a", "b", "breed"}
    assert by_class[cls["zoo.pup.Puppy"]] == {"kingdom", "limbs", "name",
                                              "_age", "a", "b", "breed"}
    # newest annotation wins: limbs keeps its int annotation on Dog too;
    # the hasType mention resolves only if `int` is a corpus entity (it is
    # not), so assert the declaration fold instead: Dog's `limbs` decl
    # source is Animal's (oldest node wins, transformer/__init__.py:133-157)
    decl_src = {(r["subj"], r["obj"]) for r in
                linked.filter(F.col("pred") == WOC + "hasSourceCode").collect()}
    dog_limbs_decl = f'{cls["zoo.dog.Dog"]}|FieldDecl|limbs'
    assert (dog_limbs_decl, "limbs: int = 4") in decl_src


def test_exact_mro_rank(linked, extracted):
    """C3 MRO rows: Puppy -> [Dog(1), Animal(2)]."""
    from codeontologypython_spark.operators import fields as flds
    from codeontologypython_spark.operators.linking import (
        build_symbol_table, chase_aliases, class_methods, extends_edges,
        resolve_mentions)
    e = extracted
    symtab = chase_aliases(build_symbol_table(e["entities"]), e["mentions"])
    resolved = resolve_mentions(e["mentions"], symtab)
    classes = e["entities"].filter(F.col("kind") == "Class")
    contrib = flds.hierarchy_pass(
        classes, extends_edges(resolved),
        e["mentions"].filter(F.col("kind") == "ctorinfo"),
        class_methods(e["entities"], e["triples"]), no_edges=False)
    cls = {r["fqn"]: r["eid"] for r in classes.collect() if r["fqn"]}
    mro = {(r["root"], r["cls"]): r["rank"] for r in
           contrib.filter(F.col("out") == "mro").collect()}
    assert mro[(cls["zoo.pup.Puppy"], cls["zoo.dog.Dog"])] == 1.0
    assert mro[(cls["zoo.pup.Puppy"], cls["zoo.base.Animal"])] == 2.0
    assert mro[(cls["zoo.dog.Dog"], cls["zoo.base.Animal"])] == 1.0


def test_diamond_mro_override_winner(spark):
    """Diamond D(B, C) <- B(A), C(A): C3 = [D, B, C, A]; D.m overrides B.m
    (first in MRO), and C3 puts C BEFORE A (min-depth would tie B/C and a
    naive DFS would visit A before C)."""
    from codeontologypython_spark.operators.extract import (
        extract_stage, split_extraction)
    from codeontologypython_spark.operators import linking
    src = spark.createDataFrame(
        [("r", "d.py", "c0", "python",
          "class A:\n"
          "    def m(self): pass\n"
          "class B(A):\n"
          "    def m(self): pass\n"
          "class C(A):\n"
          "    def m(self): pass\n"
          "class D(B, C):\n"
          "    def m(self): pass\n")],
        ["repo", "path", "commit", "lang", "content"])
    e, t, m, _ = split_extraction(extract_stage(src).localCheckpoint())
    resolved, _, _ = linking.link_stage(e, t, m)
    ents = {r["eid"]: r for r in e.collect()}
    cls_of = {}
    for r in t.filter(F.col("pred") == WOC + "hasMethod").collect():
        cls_of[r["obj"]] = ents[r["subj"]]["name"]
    ov = {cls_of[r["subj"]]: cls_of[r["obj"]] for r in
          resolved.filter(F.col("pred") == WOC + "overrides").collect()}
    assert ov["D"] == "B"   # first match in C3 MRO
    assert ov["B"] == "A"
    assert ov["C"] == "A"


def test_suffix_shrinking_attribute_chains(linked, extracted):
    """L3 (tracking.py:297-327): attribute chains through (a) a re-exported
    name (`facade.HubError` where facade does `from hub.core import ...`)
    and (b) a locally bound module object (`HC = hub.core; HC.HubThing`)
    both resolve to the canonical CLASS entities. Non-class targets must
    NOT type-link (track_type_name_from_scope ClassDef requirement)."""
    ents = extracted["entities"]
    types = linked.filter(F.col("pred") == WOC + "hasType")
    tgt = (types.join(ents.select(F.col("eid").alias("obj"), "fqn", "kind"),
                      "obj"))
    got = {r["fqn"] for r in tgt.select("fqn").distinct().collect()}
    assert "hub.core.HubThing" in got   # via alias-prefix rewrite round
    assert "hub.core.HubError" in got   # via from-import binding row
    # every resolved hasType object is a Class — never a Function/Package
    kinds = {r["kind"] for r in tgt.select("kind").distinct().collect()}
    assert kinds <= {"Class"}


def test_wildcard_reexport_chain(linked, extracted):
    # hub/user_NN.py does `from hub.re_exports import *` where re_exports
    # wildcard-imports base_exports -> BASE_NAME must be imported
    ents = extracted["entities"]
    imports = linked.filter(F.col("pred") == WOC + "imports")
    tgt = (imports.join(
        ents.select(F.col("eid").alias("obj"), "fqn"), "obj")
        .filter(F.col("fqn") == "hub.base_exports.BASE_NAME"))
    assert tgt.count() >= 1


def test_alias_chase(spark, extracted):
    # typed/api.py: Alias = List; Alias2 = Alias. With List unresolvable
    # (no stdlib in corpus) the chain resolves to nothing — matching the
    # reference's give-up semantics. Use a local symbol table to verify the
    # chase itself.
    from codeontologypython_spark.schemas import MENTIONS
    st = spark.createDataFrame(
        [("mod.Target", "E1", "Class", "r", False)],
        ["fqn", "eid", "kind", "repo", "via_alias"])
    mentions = spark.createDataFrame(
        [("r", "mod.py", "c0", "mod.A1", "", "alias", ["mod.Target"], "Target"),
         ("r", "mod.py", "c0", "mod.A2", "", "alias", ["mod.A1"], "A1")],
        schema=MENTIONS)
    out = linking.chase_aliases(st, mentions)
    rows = {r["fqn"]: r["eid"] for r in out.collect()}
    assert rows["mod.A1"] == "E1"
    assert rows["mod.A2"] == "E1"  # chained alias flattened


_GT_FILES = {
    "gtpkg/__init__.py": "",
    # diamond across two files: C3 puts C before A
    "gtpkg/shapes.py": (
        "class A:\n"
        "    def m(self): pass\n"
        "    def n(self): pass\n"
        "class B(A):\n"
        "    def m(self): pass\n"),
    "gtpkg/diamond.py": (
        "from gtpkg.shapes import A, B\n"
        "class C(A):\n"
        "    def m(self): pass\n"
        "    def n(self): pass\n"
        "class D(B, C):\n"
        "    def m(self): pass\n"
        "    def n(self): pass\n"),
    # named Base.__init__ delegation
    "gtpkg/ctor.py": (
        "CALLS = []\n"
        "class Base:\n"
        "    def __init__(self):\n"
        "        self.x = 1\n"
        "        CALLS.append('Base')\n"
        "    def close(self): pass\n"
        "class Child(Base):\n"
        "    def __init__(self):\n"
        "        Base.__init__(self)\n"
        "        self.y = 2\n"
        "        CALLS.append('Child')\n"
        "    def close(self): pass\n"),
    # a 14-class single-inheritance chain, split across two files
    "gtpkg/chain_a.py": "class C0:\n    def m(self): pass\n" + "".join(
        f"class C{i}(C{i - 1}):\n    pass\n" for i in range(1, 7)),
    "gtpkg/chain_b.py": "from gtpkg.chain_a import C6\n" + "".join(
        f"class C{i}(C{i - 1}):\n    pass\n" for i in range(7, 13))
        + "class C13(C12):\n    def m(self): pass\n",
}


def test_hierarchy_matches_cpython(spark, tmp_path, monkeypatch):
    """Ground truth from the interpreter: the MRO rows of every class equal
    its ``__mro__`` (without ``object``), every overrides row names the
    first same-name method along ``__mro__``, and Child's constructor chain
    is the order its ``__init__`` bodies finish in. The 14-class chain puts
    C0 13 bases above C13."""
    import importlib

    from codeontologypython_spark.operators import fields as flds
    from codeontologypython_spark.operators.extract import (
        extract_stage, split_extraction)
    from codeontologypython_spark.schemas import SOURCE_FILES

    for rel, text in _GT_FILES.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    monkeypatch.syspath_prepend(str(tmp_path))
    classes_py = {}
    for rel in _GT_FILES:
        mod = importlib.import_module(
            rel[:-3].replace("/", ".").removesuffix(".__init__"))
        classes_py.update({f"{c.__module__}.{c.__qualname__}": c
                           for c in vars(mod).values()
                           if isinstance(c, type)
                           and c.__module__ == mod.__name__})
    ctor = importlib.import_module("gtpkg.ctor")
    ctor.Child()
    for name in [m for m in sys.modules if m.split(".")[0] == "gtpkg"]:
        monkeypatch.delitem(sys.modules, name)

    src = spark.createDataFrame(
        [("r", rel, "c0", "python", text) for rel, text in _GT_FILES.items()],
        schema=SOURCE_FILES)
    e, t, m, _ = split_extraction(extract_stage(src).localCheckpoint())
    resolved, _, _ = linking.link_stage(e, t, m)
    ents = {r["eid"]: r for r in e.collect()}
    fqn = {eid: r["fqn"] for eid, r in ents.items()}
    symtab = linking.chase_aliases(linking.build_symbol_table(e), m)
    classes = e.filter(F.col("kind") == "Class")
    hier = flds.hierarchy_pass(
        classes, linking.extends_edges(linking.resolve_mentions(m, symtab)),
        m.filter(F.col("kind") == "ctorinfo"), linking.class_methods(e, t),
        no_edges=False).collect()

    def ranked(out):
        by_root = {}
        for r in sorted((r for r in hier if r["out"] == out),
                        key=lambda r: r["rank"]):
            by_root.setdefault(fqn[r["root"]], []).append(fqn[r["cls"]])
        return by_root

    mro = ranked("mro")
    assert {c: mro.get(c, []) for c in classes_py} == {
        c: [f"{a.__module__}.{a.__qualname__}" for a in k.__mro__[1:-1]]
        for c, k in classes_py.items()}
    assert len(mro["gtpkg.chain_b.C13"]) == 13

    expected = {}
    for c, k in classes_py.items():
        for name, v in vars(k).items():
            if callable(v) and name != "__init__":
                anc = next((a for a in k.__mro__[1:-1] if name in vars(a)),
                           None)
                if anc is not None:
                    expected[f"{c}.{name}"] = (
                        f"{anc.__module__}.{anc.__qualname__}.{name}")
    method = {r["obj"]: f'{fqn[r["subj"]]}.{ents[r["obj"]]["name"]}'
              for r in t.filter(F.col("pred") == WOC + "hasMethod").collect()}
    got = {method[r["subj"]]: method[r["obj"]] for r in
           resolved.filter(F.col("pred") == WOC + "overrides").collect()}
    assert got == expected
    assert got["gtpkg.chain_b.C13.m"] == "gtpkg.chain_a.C0.m"

    assert [c.rsplit(".", 1)[-1] for c in ranked("c")["gtpkg.ctor.Child"]
            ] == ctor.CALLS


def _alias_mentions(spark, aliases):
    from codeontologypython_spark.schemas import MENTIONS
    return spark.createDataFrame(
        [("r", "m.py", "c0", fqn, "", "alias", cands, cands[0])
         for fqn, cands in aliases], schema=MENTIONS)


def _entity_symtab(spark, fqns):
    return spark.createDataFrame(
        [(fqn, fqn.rsplit(".", 1)[-1], "Class", "r", False) for fqn in fqns],
        ["fqn", "eid", "kind", "repo", "via_alias"])


def test_alias_rounds_see_only_earlier_rounds(spark):
    """X's candidates are [A1 (priority 0), E (priority 1)], and A1 is an
    alias that resolves in the first round. A round sees the aliases of
    EARLIER rounds only, so X resolves to E in that same first round; an
    in-place update would pick A1's target T."""
    st = _entity_symtab(spark, ["m.T", "m.E"])
    mentions = _alias_mentions(spark, [("m.A1", ["m.T"]),
                                       ("m.X", ["m.A1", "m.E"])])
    rows = {r["fqn"]: r["eid"] for r in
            linking.chase_aliases(st, mentions)
            .filter(F.col("via_alias")).collect()}
    assert rows == {"m.A1": "T", "m.X": "E"}


def test_alias_chain_stops_at_bound_and_warns(spark):
    """A chain of 11 aliases (A1 -> T, A<i> -> A<i-1>) needs 11 rounds: the
    chase resolves A1..A10 in its 10 rounds, leaves A11 out and warns."""
    st = _entity_symtab(spark, ["m.T"])
    mentions = _alias_mentions(
        spark, [("m.A1", ["m.T"])]
        + [(f"m.A{i}", [f"m.A{i - 1}"]) for i in range(2, 12)])
    with pytest.warns(RuntimeWarning, match="bound of 10"):
        rows = {r["fqn"]: r["eid"] for r in
                linking.chase_aliases(st, mentions)
                .filter(F.col("via_alias")).collect()}
    assert rows == {f"m.A{i}": "T" for i in range(1, 11)}


def test_wildcard_reexport_chain_stops_at_bound_and_warns(spark):
    """m0 defines X and m<i> does ``from m<i-1> import *`` for i = 1..7.
    X is 6 hops from m6, one more than the 5 re-export hops allowed: the
    statements of m1..m6 (importing m0..m5) import X, the one of m7
    (importing m6) does not, and the pass warns."""
    from codeontologypython_spark.schemas import MENTIONS
    st = _entity_symtab(spark, ["m0.X"])
    mentions = spark.createDataFrame(
        [("r", f"m{i}.py", "c0", f"stmt{i}", WOC + "imports", "wildcard",
          [f"m{i - 1}"], f"m{i - 1}") for i in range(1, 8)], schema=MENTIONS)
    with pytest.warns(RuntimeWarning, match="bound of 5"):
        got = {(r["subj"], r["obj"]) for r in
               linking.expand_wildcards(mentions, st).collect()}
    assert got == {(f"stmt{i}", "X") for i in range(1, 7)}


def test_salted_join_equals_plain_join(spark):
    probe = spark.range(0, 1000).select(
        (F.col("id") % 5).cast("string").alias("k"), "id")
    build = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(7)], ["k", "v"])
    plain = probe.join(build, "k").select("id", "v")
    salted = salted_join(probe, build, "k", salt=8).select("id", "v")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_import_closure_prunes_unreferenced_dep(spark, source_files):
    roots = [r for r in
             [x["repo"] for x in source_files.select("repo").distinct().collect()]
             if r != "fixtures/dep_unused"]
    pruned = select_import_closure(source_files, roots)
    repos = {r["repo"] for r in pruned.select("repo").distinct().collect()}
    assert "fixtures/dep_unused" not in repos
    assert "fixtures/proj_basic" in repos


def test_import_closure_follows_imports(spark, source_files):
    # rooting only at proj_basic pulls in nothing else; rooting at a repo
    # importing zoo would pull zoo files in (fixture repos are self-contained,
    # so closure == root repos' files here)
    pruned = select_import_closure(source_files, ["fixtures/proj_basic"])
    paths = {(r["repo"], r["path"]) for r in pruned.select("repo", "path").collect()}
    assert all(r == "fixtures/proj_basic" for r, _ in paths)
    assert ("fixtures/proj_basic", "pkg_a/mod2.py") in paths


def test_invokes_behind_flag(spark, source_files):
    """Off by default (reference parity); on, call mentions resolve to
    local function entities (SURVEY §7 hard-part 3)."""
    from pyspark.sql import functions as F
    from codeontologypython_spark.operators.extract import (
        extract_stage, split_extraction)
    basic = source_files.filter(F.col("repo") == "fixtures/proj_basic")
    _, _, m_off, _ = split_extraction(extract_stage(basic))
    assert m_off.filter(F.col("pred").endswith("invokes")).isEmpty()

    out = extract_stage(basic, emit_invokes=True).localCheckpoint()
    e, t, m_on, _ = split_extraction(out)
    inv = m_on.filter(F.col("pred").endswith("invokes"))
    assert not inv.isEmpty()
    resolved, _, _ = linking.link_stage(e, t, m_on)
    hits = (resolved.filter(F.col("pred").endswith("invokes"))
            .join(e.select(F.col("eid").alias("obj"), "fqn"), "obj"))
    assert "pkg_a.mod2.helper" in {r["fqn"] for r in hits.collect()}


def test_wildcard_respects_dunder_all(linked, extracted):
    """__all__ restricts wildcard exports and may expose underscore names
    (wildcard_import_names semantics, tracking.py:234-255)."""
    ents = extracted["entities"]
    imports = linked.filter(F.col("pred") == WOC + "imports")
    tgt = (imports.join(ents.select(F.col("eid").alias("obj"), "fqn"), "obj")
           .filter(F.col("fqn").startswith("hub.all_exports.")))
    got = {r["fqn"] for r in tgt.collect()}
    assert "hub.all_exports.VISIBLE" in got
    assert "hub.all_exports._EXPOSED_PRIVATE" in got
    assert "hub.all_exports.HIDDEN" not in got


def test_extension_stub_resolves_import(spark):
    """S7 (reference parser.py:125-166): a corpus importing `math` resolves
    against the ingest-time interface stub rows."""
    from codeontologypython_spark.operators.extract import (
        extract_stage, split_extraction)
    from codeontologypython_spark.operators import linking
    from codeontologypython_spark.sources.stubs import extension_stubs_df
    user = spark.createDataFrame(
        [("r", "use.py", "c0", "python",
          "import math\n\ndef area(r: float) -> float:\n"
          "    return math.pi * r * r\n")],
        ["repo", "path", "commit", "lang", "content"])
    src = user.unionByName(extension_stubs_df(spark, ["math", "not_a_module"]))
    e, t, m, _ = split_extraction(extract_stage(src).localCheckpoint())
    resolved, _, _ = linking.link_stage(e, t, m)
    hits = (resolved.filter(F.col("pred") == WOC + "imports")
            .join(e.select(F.col("eid").alias("obj"), "fqn", "kind"), "obj"))
    got = {(r["kind"], r["fqn"]) for r in hits.collect()}
    assert ("Package", "math") in got
    # the stub's members are real entities (sqrt is a module-level function)
    assert not e.filter((F.col("fqn") == "math.sqrt")
                        & (F.col("kind") == "Function")).isEmpty()


def test_salted_link_stage_equals_broadcast(extracted, monkeypatch):
    """The corpus-scale salted shuffle join must produce EXACTLY the triples
    of the broadcast path (salting is a physical strategy, not a semantic
    one) — end-to-end over the full fixture corpus, fields and overrides
    included. Both ways to reach it are checked: pinned flags, and
    ``broadcast_symtab="auto"`` above the symbol-table row gate (lowered to
    0 here), which must flip to the salted join with ``_AUTO_SALT``."""
    from codeontologypython_spark import session
    e = extracted
    b_res, b_ents, b_base = linking.link_stage(
        e["entities"], e["triples"], e["mentions"], broadcast_symtab=True)
    salts = []
    real_salted_join = linking.salted_join

    def spy(*args, **kwargs):
        salts.append(kwargs["salt"])
        return real_salted_join(*args, **kwargs)

    monkeypatch.setattr(linking, "salted_join", spy)
    monkeypatch.setattr(session, "_AUTO_BROADCAST_MAX_ROWS", 0)
    cols = ["subj", "pred", "obj", "obj_is_literal"]
    for flags, want_salt in ((dict(broadcast_symtab=False, salt=8), 8),
                             (dict(broadcast_symtab="auto"),
                              session._AUTO_SALT)):
        salts.clear()
        s_res, s_ents, s_base = linking.link_stage(
            e["entities"], e["triples"], e["mentions"], **flags)
        assert salts and set(salts) == {want_salt}, flags
        diff = (b_res.select(cols).exceptAll(s_res.select(cols)).count()
                + s_res.select(cols).exceptAll(b_res.select(cols)).count())
        assert diff == 0, flags
        ediff = (b_ents.select("eid").exceptAll(s_ents.select("eid")).count()
                 + s_ents.select("eid").exceptAll(b_ents.select("eid"))
                 .count())
        assert ediff == 0, flags


def test_link_stage_without_alias_wildcard_or_base_mentions(spark):
    """A corpus with no alias, wildcard or base mentions: link_stage skips
    the alias chase, the wildcard expansion and the hierarchy pass on its
    kind counts alone. It must still link, emit no extends/overrides, and
    materialize the class's own-body Field individuals."""
    from codeontologypython_spark.operators.extract import (
        extract_stage, split_extraction)
    src = spark.createDataFrame(
        [("r", "plain.py", "c0", "python",
          "class Box:\n"
          "    size = 3\n"
          "    def grow(self, n):\n"
          "        return n + self.size\n"
          "def helper(x):\n"
          "    return Box().grow(x)\n")],
        ["repo", "path", "commit", "lang", "content"])
    e, t, m, _ = split_extraction(extract_stage(src).localCheckpoint())
    kinds = {r["kind"] for r in m.select("kind").distinct().collect()}
    assert not kinds & {"alias", "wildcard", "base"}
    resolved, f_ents, _ = linking.link_stage(e, t, m)
    preds = {r["pred"] for r in resolved.select("pred").distinct().collect()}
    assert WOC + "extends" not in preds
    assert WOC + "overrides" not in preds
    box = e.filter(F.col("fqn") == "plain.Box").collect()[0]["eid"]
    fields = {(r["name"], r["fqn"]) for r in
              f_ents.filter(F.col("kind") == "Field").collect()}
    assert fields == {("size", "plain.Box.size")}
    has_field = resolved.filter((F.col("pred") == WOC + "hasField")
                                & (F.col("subj") == box))
    assert has_field.count() == 1


def test_link_stage_with_only_external_aliases(spark):
    """Every alias mention names an external module (``import os``,
    ``import numpy as np``, ``from collections import OrderedDict``): the
    chase adds no symbol rows, so the alias map for the suffix round is
    empty and rewrites nothing (``np.ndarray`` stays unresolved). The
    resolved rows are exactly the two hand-derived ones: ``make`` returns
    ``Box``, and use.py's function-level import names ``make``. Both the
    broadcast and the shuffled symbol-table join give them."""
    from codeontologypython_spark.operators.extract import (
        extract_stage, split_extraction)
    src = spark.createDataFrame(
        [("r", "app.py", "c0", "python",
          "import os\n"
          "import numpy as np\n"
          "from collections import OrderedDict\n"
          "class Box:\n"
          "    pass\n"
          "def make(n: np.ndarray) -> Box:\n"
          "    return Box()\n"),
         ("r", "use.py", "c0", "python",
          "def run():\n"
          "    from app import make\n"
          "    return make(None)\n")],
        ["repo", "path", "commit", "lang", "content"])
    e, t, m, _ = split_extraction(extract_stage(src).localCheckpoint())
    aliases = {r["subj"]: list(r["candidates"]) for r in
               m.filter(F.col("kind") == "alias").collect()}
    assert aliases == {"app.os": ["os"], "app.np": ["numpy"],
                       "app.OrderedDict": ["collections.OrderedDict"]}
    chased = linking.chase_aliases(linking.build_symbol_table(e), m)
    assert chased.filter(F.col("via_alias")).count() == 0

    eid = {r["fqn"]: r["eid"] for r in e.collect() if r["fqn"]}
    (stmt,) = [r["eid"] for r in e.collect()
               if r["kind"] == "ImportStatement" and r["path"] == "use.py"]
    want = {(eid["app.make"], WOC + "hasType", eid["app.Box"]),
            (stmt, WOC + "imports", eid["app.make"])}
    for flags in (dict(), dict(broadcast_symtab=False)):
        resolved, f_ents, _ = linking.link_stage(e, t, m, **flags)
        got = {(r["subj"], r["pred"], r["obj"]) for r in resolved.collect()}
        assert got == want, flags
        assert f_ents.count() == 0, flags


def test_resolve_mentions_stable_under_repartition(extracted):
    """Regression (ADVICE r2 / VERDICT r2 #2): the L3 miss anti-join and the
    best-candidate pick key a mention by its own columns, so `m` and
    `joined` agree on it however often either is evaluated. An upstream
    repartition perturbs partition order; a key that depended on it would
    silently drop or double-resolve mentions. The resolved triple set must
    be invariant."""
    e = extracted
    base, _, _ = linking.link_stage(e["entities"], e["triples"],
                                    e["mentions"])
    got, _, _ = linking.link_stage(e["entities"], e["triples"],
                                   e["mentions"].repartition(7))
    cols = ["subj", "pred", "obj", "obj_is_literal"]
    diff = (base.select(cols).exceptAll(got.select(cols)).count()
            + got.select(cols).exceptAll(base.select(cols)).count())
    assert diff == 0
