"""Unit tests for the per-file extraction core (SURVEY §5.2 test strategy:
per-operator-family unit tests against the reference's rules)."""

import ast

from codeontologypython_spark.operators.pyfile import (
    FileExtractor,
    clean_description,
    dotted_name,
    extract_file,
    library_of_path,
    literal_type_name,
    module_fqn_of_path,
    parse_docstring,
    structure_annotation,
)

# pyfile emits SHORT predicate codes; full-IRI expansion is JVM-side
WOC = ""


def _run(src, repo="r", path="m.py"):
    e, t, m, err = extract_file(repo, path, "c0", src)
    assert err is None, err
    return e, t, m


def _preds(triples, pred):
    return [x for x in triples if x[1] == WOC + pred]


def _entity(entities, kind, name=None):
    for e in entities:
        if e["kind"] == kind and (name is None or e["name"] == name):
            return e
    return None


# ---- FQN rules (explore/__init__.py:404-458) ------------------------------

def test_module_fqn_rules():
    assert module_fqn_of_path("pkg/__init__.py") == "pkg"
    assert module_fqn_of_path("pkg/mod.py") == "pkg.mod"
    assert module_fqn_of_path("ns/sub/mod.py") == "ns.sub.mod"
    assert module_fqn_of_path("standalone.py") == "standalone"
    assert library_of_path("pkg/sub/mod.py") == "pkg"
    assert library_of_path("standalone.py") == "standalone"


# ---- docstring cleaning (parser.py:234-265) -------------------------------

def test_clean_description_midline_newlines_and_periods():
    assert clean_description("a line\nbroken here") == "a line broken here."
    # single \n is consumed by the mid-sentence rule first; the add-period
    # rule fires only across blank lines (regex order, parser.py:252-257)
    assert clean_description("Sentence one\nNext sentence") == \
        "Sentence one Next sentence."
    assert clean_description("Para one\n\nNext para") == "Para one. Next para."
    assert clean_description("ends without period") == "ends without period."
    assert clean_description("already ends.") == "already ends."
    assert clean_description("  lots   of\n\n  space  ") == "lots of space."


def test_parse_docstring_sphinx_fields():
    desc, params, rt, rdesc = parse_docstring(
        "Do f.\n\n:param a: the a value\n:param int y: an int\n"
        ":return: nothing\n:rtype: str\n")
    assert desc == "Do f."
    assert params["a"] == (None, "the a value.")
    assert params["y"][0] == "int"
    assert rt == "str"
    assert rdesc == "nothing."


def test_docstring_short_long_join():
    desc, *_ = parse_docstring("Short part.\n\nLong part\nover lines\n")
    assert desc == "Short part. Long part over lines."


def test_parse_docstring_google_style():
    # auto style detection per docstring_parser (reference parser.py:180)
    desc, params, rt, rdesc = parse_docstring(
        "Compute a thing.\n\nLonger text.\n\n"
        "Args:\n    x (int): the first value\n        wrapped line\n"
        "    y: unannotated value\n"
        "    rate (float, optional): learning rate\n\n"
        "Returns:\n    bool: whether it worked\n")
    assert desc == "Compute a thing. Longer text."
    assert params["x"] == ("int", "the first value wrapped line.")
    assert params["y"] == (None, "unannotated value.")
    assert params["rate"][0] == "float"
    assert rt == "bool"
    assert rdesc == "whether it worked."


def test_parse_docstring_numpy_style():
    desc, params, rt, rdesc = parse_docstring(
        "Summary line.\n\n"
        "Parameters\n----------\n"
        "x : int\n    The first value\n    wrapped.\n"
        "y\n    Unannotated value.\n"
        "a, b : float\n    Shared description.\n\n"
        "Returns\n-------\nbool\n    Whether it worked.\n")
    assert desc == "Summary line."
    assert params["x"] == ("int", "The first value wrapped.")
    assert params["y"] == (None, "Unannotated value.")
    assert params["a"] == ("float", "Shared description.")
    assert params["b"] == ("float", "Shared description.")
    assert rt == "bool"
    assert rdesc == "Whether it worked."


def test_parse_docstring_epydoc_style():
    desc, params, rt, rdesc = parse_docstring(
        "Do things.\n\n@param x: the first value\n@type x: int\n"
        "@return: whether it worked\n@rtype: bool\n")
    assert desc == "Do things."
    assert params["x"] == ("int", "the first value.")
    assert rt == "bool"
    assert rdesc == "whether it worked."


def test_return_documentation_prefix():
    # "Returns: " literal prefix (transformer/__init__.py:94-95)
    src = 'def f():\n    """Do f.\n\n    :return: the result\n    """\n'
    e, t, m = _run(src)
    fn = _entity(e, "Function", "f")
    docs = [o for s, p, o, _ in t
            if s == fn["eid"] and p == WOC + "hasDocumentation"]
    assert "Returns: the result." in docs


# ---- annotation structuring (tracking.py:431-610) -------------------------

def _ann(src):
    return structure_annotation(ast.parse(src, mode="eval").body)


def test_structure_annotation_worked_example():
    # tracking.py:482-487 worked example
    got = _ann("Tuple[List[str], Tuple[int, int] | float | Exception] | List")
    assert got == [("Tuple", ("List", "str"),
                    [("Tuple", "int", "int"), "float", "Exception"]), "List"]


def test_structure_annotation_basics():
    assert _ann("int") == "int"
    assert _ann("a.b.C") == "a.b.C"
    assert _ann("int | float") == ["int", "float"]
    assert _ann("int | float | str") == ["int", "float", "str"]  # flattened
    assert _ann("None") == "NoneType"
    assert _ann("...") == "Any"
    assert _ann("'Quoted'") == "Quoted"
    assert _ann("List[int]") == ("List", "int")


def test_dotted_name_gives_up_on_calls_and_subscripts():
    # tracking.py:283-291 failure semantics preserved
    assert dotted_name(ast.parse("a.b().c", mode="eval").body) is None
    assert dotted_name(ast.parse("a[0].c", mode="eval").body) is None
    assert dotted_name(ast.parse("a.b.c", mode="eval").body) == "a.b.c"


def test_literal_type_inference():
    assert literal_type_name(ast.parse("1", mode="eval").body) == "int"
    assert literal_type_name(ast.parse("'x'", mode="eval").body) == "str"
    assert literal_type_name(ast.parse("True", mode="eval").body) == "bool"
    assert literal_type_name(ast.parse("[1]", mode="eval").body) == "list"
    assert literal_type_name(ast.parse("None", mode="eval").body) == "NoneType"


# ---- access modifiers (extractor.py:1136-1144) ----------------------------

def test_access_modifiers_on_methods():
    src = ("class C:\n"
           "    def pub(self): pass\n"
           "    def _prot(self): pass\n"
           "    def __priv(self): pass\n"
           "    def __dunder__(self): pass\n")
    e, t, m = _run(src)
    mods = {}
    by_eid = {x["eid"]: x for x in e}
    for s, p, o, _ in _preds(t, "hasModifier"):
        if s in by_eid and by_eid[s]["kind"] == "Method":
            mods[by_eid[s]["name"]] = o.rsplit("/", 1)[-1]
    assert mods["pub"] == "PythonPublicAccessModifier"
    assert mods["_prot"] == "PythonProtectedAccessModifier"
    assert mods["__priv"] == "PythonPrivateAccessModifier"
    assert mods["__dunder__"] == "PythonPublicAccessModifier"


# ---- executables (extractor.py:280-343, individuals.py:100-144) -----------

def test_constructor_method_function_distinction():
    src = ("def top(): pass\n"
           "class C:\n"
           "    def __init__(self): pass\n"
           "    def meth(self): pass\n"
           "    @staticmethod\n"
           "    def stat(): pass\n")
    e, t, m = _run(src)
    assert _entity(e, "Function", "top") is not None
    assert _entity(e, "Constructor", "__init__") is not None
    assert _entity(e, "Method", "meth") is not None
    # staticmethod IS a method: astroid is_method() is true for any function
    # whose frame is a ClassDef (extractor.py:280-310 emits Method + modifier
    # + hasMethod); it only loses self-reference typing
    stat = _entity(e, "Method", "stat")
    assert stat is not None
    cls0 = _entity(e, "Class", "C")
    assert (cls0["eid"], WOC + "hasMethod", stat["eid"], False) in t
    # no self-typing for the (absent) first param of a staticmethod
    assert not any(s == stat["eid"] and p == WOC + "hasType" for s, p, o, _ in t)
    # module-level function gets FQN + package; method gets hasName only
    fn = _entity(e, "Function", "top")
    fqns = {s: o for s, p, o, _ in _preds(t, "hasFullyQualifiedName")}
    assert fqns.get(fn["eid"]) == "m.top"
    ctor = _entity(e, "Constructor", "__init__")
    cls = _entity(e, "Class", "C")
    assert (cls["eid"], WOC + "hasConstructor", ctor["eid"], False) in t


def test_self_param_typed_as_class():
    src = "class C:\n    def meth(self): pass\n"
    e, t, m = _run(src)
    cls = _entity(e, "Class", "C")
    self_p = _entity(e, "Parameter", "self")
    assert (self_p["eid"], WOC + "hasType", cls["eid"], False) in t


def test_parameter_positions_and_flags():
    src = "def f(a, b, /, c, *args, k=1, **kw): pass\n"
    e, t, m = _run(src)
    by_name = {x["name"]: x for x in e if x["kind"] == "Parameter"}
    lits = {(s, p): o for s, p, o, lit in t if lit}
    P = lambda n, prop: lits.get((by_name[n]["eid"], WOC + prop))
    assert P("a", "hasParameterPosition") == "1"
    assert P("c", "hasParameterPosition") == "3"
    assert P("args", "hasParameterPosition") is None
    assert P("a", "isPositionalOnly") == "true"
    assert P("c", "isPositionalOnly") == "false"
    assert P("args", "isVarArgs") == "true"
    assert P("k", "isKeywordOnly") == "true"
    assert P("kw", "isKeywordOnly") == "true"


# ---- statement positions & try weights (extractor.py:1147-1161) -----------

def test_statement_positions_with_try_except_weights():
    src = ("def g(x):\n"
           "    a = 1\n"
           "    try:\n"
           "        b = 2\n"
           "    except ValueError:\n"
           "        c = 3\n"
           "    except KeyError:\n"
           "        d = 4\n"
           "    e = 5\n")
    e, t, m = _run(src)
    kinds = {x["eid"]: x["kind"] for x in e}
    lines = {x["eid"]: x["line"] for x in e}
    pos = {s: int(o) for s, p, o, lit in t
           if lit and p == WOC + "hasStatementPosition"}
    # chain inside g by source line:
    # a=1(l2)->1, try(l3)->2, catch(l5)->3, catch(l7)->4, e=5(l9)->5
    want = {2: ("Statement", 1), 3: ("TryStatement", 2),
            5: ("CatchStatement", 3), 7: ("CatchStatement", 4),
            9: ("Statement", 5)}
    got = {lines[s]: (kinds[s], v) for s, v in pos.items()
           if kinds.get(s) in ("Statement", "TryStatement", "CatchStatement")
           and lines.get(s) in want}
    assert got == want


def test_try_finally_occupies_two_positions():
    src = ("def g(x):\n"
           "    try:\n"
           "        a = 1\n"
           "    finally:\n"
           "        b = 2\n"
           "    c = 3\n")
    e, t, m = _run(src)
    kinds = {x["eid"]: x["kind"] for x in e}
    pos = {s: int(o) for s, p, o, lit in t
           if lit and p == WOC + "hasStatementPosition"}
    lines = {x["eid"]: x["line"] for x in e}
    chain = sorted(
        (v, kinds[s]) for s, v in pos.items()
        if kinds.get(s) in ("TryStatement", "FinallyStatement")
        or (kinds.get(s) == "Statement" and lines.get(s) == 6))
    assert chain == [(1, "TryStatement"), (2, "FinallyStatement"), (3, "Statement")]
    # try has hasFinallyClause + hasNextStatement -> finally
    tr = next(s for s, v in pos.items() if kinds[s] == "TryStatement")
    fin = next(s for s, v in pos.items() if kinds[s] == "FinallyStatement")
    assert (tr, WOC + "hasFinallyClause", fin, False) in t
    assert (tr, WOC + "hasNextStatement", fin, False) in t


def test_chained_assign_equivalence_group():
    # a = b = 0 -> one Statement + two sameAs-linked declaration statements
    src = "a = b = 0\n"
    e, t, m = _run(src)
    same = [x for x in t if x[1] == "="]
    assert len(same) == 2
    decls = [x for x in e if x["kind"] == "GlobalVariableDeclarationStatement"]
    assert len(decls) == 2
    gvars = [x for x in e if x["kind"] == "GlobalVariable"]
    assert sorted(v["name"] for v in gvars) == ["a", "b"]


def test_if_elif_else_structure():
    src = ("if a > 0:\n    x = 1\n"
           "elif a == 0:\n    x = 0\n"
           "else:\n    x = -1\n")
    e, t, m = _run("a = 5\n" + src)
    ifs = [x for x in e if x["kind"] == "IfThenElseStatement"]
    assert len(ifs) == 2
    # outer if's else branch is the elif's IfThenElseStatement
    else_edges = _preds(t, "hasElseBranch")
    if_eids = {x["eid"] for x in ifs}
    assert any(o in if_eids for s, p, o, _ in else_edges)
    # the elif's else branch is a BlockStatement
    blocks = {x["eid"] for x in e if x["kind"] == "BlockStatement"}
    assert any(o in blocks for s, p, o, _ in else_edges)


def test_break_continue_target_loop():
    src = ("for i in (1, 2):\n"
           "    if i == 1:\n"
           "        continue\n"
           "    break\n")
    e, t, m = _run(src)
    loop = _entity(e, "ForEachStatement")
    targets = _preds(t, "hasTargetedBlock")
    assert len(targets) == 2
    assert all(o == loop["eid"] for s, p, o, _ in targets)


def test_imports_emit_mentions_not_triples():
    src = "import os\nfrom pkg.mod import name\nfrom pkg import *\n"
    e, t, m = _run(src)
    kinds = {x["kind"] for x in m}
    assert "import" in kinds and "wildcard" in kinds
    cands = {tuple(x["candidates"]) for x in m if x["kind"] == "import"}
    assert ("os",) in cands
    assert ("pkg.mod.name",) in cands


def test_relative_import_resolution():
    src = "from . import sibling\nfrom .mod2 import helper\n"
    e, t, m = _run(src, repo="r", path="pkg_a/mod1.py")
    cands = {x["candidates"][0] for x in m if x["kind"] == "import"}
    assert "pkg_a.sibling" in cands
    assert "pkg_a.mod2.helper" in cands


def test_relative_import_deep_and_init():
    # level-2 from a nested module: a/b/c.py 'from ..x import y' -> a.x.y
    _, _, m = _run("from ..x import y\n", repo="r", path="a/b/c.py")
    cands = {x["candidates"][0] for x in m if x["kind"] == "import"}
    assert "a.x.y" in cands
    # __init__ counts as the package itself: pkg/__init__.py
    # 'from . import mod' -> pkg.mod; 'from .sub import f' -> pkg.sub.f
    _, _, m2 = _run("from . import mod\nfrom .sub import f\n",
                    repo="r", path="pkg/__init__.py")
    cands2 = {x["candidates"][0] for x in m2 if x["kind"] == "import"}
    assert "pkg.mod" in cands2
    assert "pkg.sub.f" in cands2


def test_relative_import_above_top_level_package():
    """The extractor and the import-closure scan share one resolver. A
    relative import that climbs above the top-level package (CPython raises
    ImportError) names no module: neither caller emits anything for it, and
    the ImportStatement entity stays. An in-range one resolves alike in
    both."""
    import pandas as pd

    from codeontologypython_spark.operators.closure import _imports_only

    cases = [
        # a top-level module has no parent package
        ("standalone.py", "from .foo import x\nfrom . import y\n"
                          "from .bar import *\n"),
        # a/b/c.py sits in package a.b: four dots climb two levels too far
        ("a/b/c.py", "from ....z import w\nfrom ... import v\n"),
    ]
    for path, src in cases:
        e, _, m = _run(src, path=path)
        assert m == [], path
        stmts = [x for x in e if x["kind"] == "ImportStatement"]
        assert len(stmts) == src.count("\n"), path
        pdf = pd.DataFrame({"repo": ["r"], "path": [path], "content": [src]})
        (out,) = _imports_only(iter([pdf]))
        assert out.empty, path

    src = "from ..x import y\n"
    _, _, m = _run(src, path="a/b/c.py")
    assert {x["candidates"][0] for x in m} == {"a.x.y"}
    pdf = pd.DataFrame({"repo": ["r"], "path": ["a/b/c.py"], "content": [src]})
    (out,) = _imports_only(iter([pdf]))
    assert set(out["target_fqn"]) == {"a.x", "a.x.y"}


def test_field_facts_discovery():
    """Stage-1 half of track_fields (tracking.py:613-835): ordered per-class
    facts; Field individuals are materialized in Stage 2 (operators/fields)."""
    src = ("class C:\n"
           '    """Doc.\n\n    :param int x: the x\n    """\n'
           "    x = 1\n"
           "    y: int = 2\n"
           "    a, b = 1, 2\n"
           "    glob = 3\n"
           "    def __init__(me):\n"
           "        me.z = Thing()\n"
           "        other.w = 9\n")
    # note: `glob` IS a field here (no global decl); self-ref name is `me`
    e, t, m = _run(src)
    facts = [x for x in m if x["kind"] == "fieldfact"]
    parsed = {}
    for f in facts:
        name = f["candidates"][0]
        order, seg, has_ann, has_value, line, desc, fsrc = f["raw"].split(
            "\x1f", 6)
        parsed[name] = (seg, has_ann == "1", has_value == "1")
    assert set(parsed) == {"x", "y", "a", "b", "glob", "z"}
    assert parsed["x"] == ("b", True, True)    # ann from class docstring
    assert parsed["y"] == ("b", True, True)
    assert parsed["a"] == ("b", False, False)  # tuple assign: no value
    assert parsed["z"] == ("c", False, True)   # ctor self-assign via `me`
    # constructor value inference: z = Thing() emits a type mention on the
    # value fact id (L7 resolve_value, tracking.py:383-428)
    zfact = next(f for f in facts if f["candidates"][0] == "z")
    vms = [x for x in m if x["kind"] == "type" and "\x02" in x["subj"]
           and x["subj"].endswith("v")]
    assert any("Thing" in (x["raw"] or "") for x in vms)
    # ctorinfo emitted with no delegations
    ci = [x for x in m if x["kind"] == "ctorinfo"]
    assert len(ci) == 1 and ci[0]["raw"] == "1\x1f"


def test_field_facts_ctor_delegations():
    src = ("class D(B, C):\n"
           "    def __init__(self):\n"
           "        super().__init__()\n"
           "        self.x = 1\n"
           "        C.__init__(self)\n")
    e, t, m = _run(src)
    ci = next(x for x in m if x["kind"] == "ctorinfo")
    has_init, delegs = ci["raw"].split("\x1f")
    assert has_init == "1"
    assert delegs == "0:super;2:named:C"


def test_nested_class_fqn_pure_chain_only():
    # extractor.py:221-230: FQN only when nesting chain is pure ClassDefs
    src = ("class A:\n"
           "    class B: pass\n"
           "def f():\n"
           "    class Hidden: pass\n")
    e, t, m = _run(src)
    assert _entity(e, "Class", "B")["fqn"] == "m.A.B"
    assert _entity(e, "Class", "Hidden")["fqn"] is None


def test_no_invokes_ever_emitted():
    # precision guard (FIXTURES.md §4; extractor.py:531-532)
    src = "def f():\n    g()\n    h(1)(2)\n"
    e, t, m = _run(src)
    assert not _preds(t, "invokes")
    assert _entity(e, "ExecutableInvocationExpression") is not None


def test_stmt_handler_resolves_on_subclass():
    """An extractor subclass that overrides one _stmt_* handler gets its
    override, even after the base class has dispatched that node type, and
    the base class keeps its own handler afterwards."""
    src = "import os\nx = 1\n"

    class PlainImports(FileExtractor):
        def _stmt_Import(self, stmt, block_eid):
            return [self._stmt_base(stmt, "Statement", "Stmt", block_eid)]

    def run(cls):
        fx = cls("r", "m.py", "c0", src)
        fx.run()
        return fx.entities

    before = run(FileExtractor)
    sub = run(PlainImports)
    assert _entity(before, "ImportStatement") is not None
    assert _entity(sub, "ImportStatement") is None
    assert _entity(sub, "Statement") is not None
    assert run(FileExtractor) == before


def test_broken_file_warn_and_skip():
    e, t, m, err = extract_file("r", "b.py", "c0", "def oops(:\n")
    assert err is not None and err.startswith("parse:")
    assert e == [] and t == []


def test_docstring_not_a_statement():
    src = '"""Doc."""\nx = 1\n'
    e, t, m = _run(src)
    assert _entity(e, "ExpressionStatement") is None


def test_global_redirection():
    src = ("COUNT = 0\n"
           "def bump():\n"
           "    global COUNT\n"
           "    COUNT = 1\n")
    e, t, m = _run(src)
    gvars = [x for x in e if x["kind"] == "GlobalVariable" and x["name"] == "COUNT"]
    assert len(gvars) == 1  # the function assign resolves to the module var
    assert not [x for x in e if x["kind"] == "LocalVariable"]


# ---- L7 general value inference (resolve_value, tracking.py:383-428) ------

def test_l7_general_value_inference():
    """Calls of module-level functions with inferable returns, call chains
    (<= 3 deep), module constants, class-object references, and the give-up
    cases: shadowed names, generators, uninferable chains."""
    src = (
        "CONST = 3\n"
        "NAME = 'x'\n"
        "NAME = 7\n"                       # astroid: first inference wins
        "class Dog:\n"
        "    pass\n"
        "ALIASED = Dog\n"
        "def make_dog():\n"
        "    return Dog()\n"
        "def pick() -> Dog:\n"
        "    return make_dog()\n"
        "def chain():\n"
        "    return pick()\n"
        "def noret(x):\n"
        "    x += 1\n"
        "def gen():\n"
        "    yield 1\n"
        "class Holder:\n"
        "    def __init__(self, name=make_dog(), k=CONST, g=gen()):\n"
        "        self.a = make_dog()\n"    # local factory      -> Dog
        "        self.b = chain()\n"       # 2-deep call chain  -> Dog
        "        self.c = CONST\n"         # module constant    -> int
        "        self.d = name\n"          # shadowed param     -> give up
        "        self.e = noret(1)\n"      # no return stmt     -> NoneType
        "        self.f = ALIASED\n"       # class object       -> Dog
        "        self.n = NAME\n"          # first assign wins  -> str
        "        local = 5\n"
        "        self.h = local\n"         # shadowed local     -> give up
        "        self.i = gen()\n"         # generator          -> give up
    )
    e, _, m = _run(src)
    v_mentions = [x for x in m
                  if x["kind"] == "type" and "\x02" in x["subj"]
                  and x["subj"].split("\x02")[1].endswith("v")]
    assert sorted(x["raw"] for x in v_mentions) == \
        ["Dog", "Dog", "Dog", "NoneType", "int", "str"]

    # param defaults: make_dog() -> Dog, CONST -> int, gen() -> no mention
    param_eids = {x["eid"] for x in e if x["kind"] == "Parameter"}
    param_raws = sorted(x["raw"] for x in m
                        if x["kind"] == "type" and x["subj"] in param_eids)
    assert param_raws == ["Dog", "int"]
