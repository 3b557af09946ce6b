"""Deterministic synthetic source-code corpus (FIXTURES.md §3).

Builds the engine's only external input: a `source_files` table with the exact
shape from BASELINE.json input_hint — (repo, path, commit, lang, content).
Fixture projects are designed (not copied) to exercise every operator family
in SURVEY.md §2; commits are deterministic fake shas derived from content so
the min-commit dedup tiebreak (SURVEY §2.4 C1) is reproducible.

No timestamps, no randomness: same call -> byte-identical table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from codeontologypython_spark.schemas import SOURCE_FILES

# --------------------------------------------------------------------------
# proj_basic — package typing & FQN rules (explore/__init__.py:404-458),
# module docstrings, aliased / from / plain imports
# (transformer/__init__.py:263-343).
# --------------------------------------------------------------------------
_PROJ_BASIC = {
    "pkg_a/__init__.py": '"""Package A: a regular package."""\n\nVERSION = "1.0"\n',
    "pkg_a/mod1.py": (
        '"""Module one of package A."""\n'
        "import pkg_a.mod2\n"
        "import pkg_a.mod2 as m2\n"
        "from pkg_a.mod2 import helper\n"
        "\n\n"
        "def top(x):\n"
        '    """Return helper applied to x."""\n'
        "    return helper(x)\n"
    ),
    "pkg_a/mod2.py": (
        '"""Module two of package A."""\n'
        "\n\n"
        "def helper(x):\n"
        '    """Identity helper."""\n'
        "    return x\n"
        "\n\n"
        "GLOBAL_SEED = 42\n"
    ),
    "ns/sub/mod3.py": (
        '"""Module in a namespace package (no __init__.py anywhere above)."""\n'
        "from pkg_a.mod2 import GLOBAL_SEED\n"
        "\n"
        "OFFSET = GLOBAL_SEED + 1\n"
    ),
    "standalone.py": '"""A top-level single-module library."""\n\nX = 1\n',
}

# --------------------------------------------------------------------------
# proj_classes — class hierarchy across files, nested classes (FQN rule
# extractor.py:221-230), fields from class body / annotated / tuple assigns /
# __init__ self-assigns / inheritance (tracking.py:613-835), access modifiers
# (extractor.py:1136-1144), constructors, overrides (transformer/:54-84).
# --------------------------------------------------------------------------
_PROJ_CLASSES = {
    "zoo/__init__.py": '"""Zoo package."""\n',
    "zoo/base.py": (
        '"""Base animal classes."""\n'
        "\n\n"
        "class Animal:\n"
        '    """An animal."""\n'
        "\n"
        "    kingdom = \"Animalia\"\n"
        "    limbs: int = 4\n"
        "\n"
        "    def __init__(self, name):\n"
        '        """Make an animal called name."""\n'
        "        self.name = name\n"
        "        self._age = 0\n"
        "\n"
        "    def speak(self):\n"
        '        """Generic sound."""\n'
        "        return \"...\"\n"
        "\n"
        "    def _grow(self):\n"
        "        self._age = self._age + 1\n"
        "\n"
        "    def __secret(self):\n"
        "        return self.name\n"
    ),
    "zoo/dog.py": (
        '"""Dog module."""\n'
        "from zoo.base import Animal\n"
        "\n\n"
        "class Dog(Animal):\n"
        '    """A dog."""\n'
        "\n"
        "    a, b = 1, 2\n"
        "\n"
        "    def __init__(self, name, breed):\n"
        "        super().__init__(name)\n"
        "        self.breed = breed\n"
        "\n"
        "    def speak(self):\n"
        '        """Bark."""\n'
        "        return \"woof\"\n"
        "\n"
        "    class Collar:\n"
        '        """Nested class: FQN only when nesting chain is pure classes."""\n'
        "\n"
        "        color = \"red\"\n"
    ),
    "zoo/pup.py": (
        '"""Puppy module: two-level inheritance."""\n'
        "from zoo.dog import Dog\n"
        "\n\n"
        "class Puppy(Dog):\n"
        '    """A puppy."""\n'
        "\n"
        "    def speak(self):\n"
        "        return \"yip\"\n"
        "\n"
        "    @staticmethod\n"
        "    def litter_size():\n"
        "        return 6\n"
    ),
    # L7 general value inference (reference resolve_value via astroid
    # infer(), tracking.py:383-428): factory calls, call chains, module
    # constants, and shadowing give-ups
    "zoo/factory.py": (
        '"""Factory module: L7 value-inference shapes."""\n'
        "from zoo.dog import Dog\n"
        "\n"
        "DEFAULT_NAME = \"rex\"\n"
        "\n\n"
        "def make_dog():\n"
        "    return Dog(DEFAULT_NAME, \"lab\")\n"
        "\n\n"
        "def pick_dog() -> Dog:\n"
        "    return make_dog()\n"
        "\n\n"
        "def chained():\n"
        "    return pick_dog()\n"
        "\n\n"
        "class Kennel:\n"
        '    """Holds a dog."""\n'
        "\n"
        "    def __init__(self, name=\"spot\"):\n"
        "        self.mascot = make_dog()\n"
        "        self.label = DEFAULT_NAME\n"
        "        self.name = name\n"
        "        self.backup = chained()\n"
    ),
}

# --------------------------------------------------------------------------
# proj_statements — every statement kind with known line numbers
# (extractor.py statement extract_* set; try/except adjacency rewrite
# extract/utils.py:71-98; position weights extractor.py:1147-1161;
# chained-assign equivalence groups individuals.py:244-272).
# --------------------------------------------------------------------------
_PROJ_STATEMENTS = {
    "stmts/__init__.py": "",
    "stmts/flow.py": (
        '"""Control-flow statements."""\n'
        "\n\n"
        "def branchy(n):\n"
        "    if n > 0:\n"
        "        r = 1\n"
        "    elif n == 0:\n"
        "        r = 0\n"
        "    else:\n"
        "        r = -1\n"
        "    for i in (1, 2, 3):\n"
        "        if i == 2:\n"
        "            continue\n"
        "        if i == 3:\n"
        "            break\n"
        "    while n > 0:\n"
        "        n = n - 1\n"
        "    return r\n"
    ),
    "stmts/excepts.py": (
        '"""Exception-handling statements."""\n'
        "\n\n"
        "def guarded(x):\n"
        "    try:\n"
        "        y = 1 / x\n"
        "    except ZeroDivisionError:\n"
        "        y = 0\n"
        "    except ValueError as e:\n"
        "        y = -1\n"
        "    finally:\n"
        "        z = 99\n"
        "    assert y is not None, \"y must be set\"\n"
        "    if x < 0:\n"
        "        raise ValueError(\"negative\")\n"
        "    return y\n"
    ),
    "stmts/misc.py": (
        '"""Misc statements."""\n'
        "\n"
        "COUNT = 0\n"
        "a = b = 0\n"
        "c, d = 1, 2\n"
        "e: int = 3\n"
        "\n\n"
        "def bump():\n"
        "    global COUNT\n"
        "    COUNT += 1\n"
        "    local_v = COUNT\n"
        "    del local_v\n"
        "    with open(\"f\") as fh:\n"
        "        pass\n"
        "    f = lambda q: q + 1\n"
        "    return f(COUNT)\n"
        "\n\n"
        "def outer():\n"
        "    slot = 0\n"
        "\n"
        "    def inner():\n"
        "        nonlocal slot\n"
        "        slot = 1\n"
        "    inner()\n"
        "    return slot\n"
    ),
}

# --------------------------------------------------------------------------
# proj_types — annotation structuring grammar (tracking.py:431-610 incl. the
# worked example at :482-487), typing aliases (alias chase <=10,
# tracking.py:330-380), docstring param/return types (parser.py:195-232).
# --------------------------------------------------------------------------
_PROJ_TYPES = {
    "typed/__init__.py": "",
    "typed/api.py": (
        '"""Typed API module."""\n'
        "from typing import List, Tuple\n"
        "\n"
        "Alias = List\n"
        "Alias2 = Alias\n"
        "\n\n"
        "def f(a: int, b: \"str\", c: int | float = 1, *args, key: bool = True, **kw) -> None:\n"
        '    """Do f.\n'
        "\n"
        "    :param a: the a value\n"
        "    :param b: the b value\n"
        "    :return: nothing\n"
        '    """\n'
        "    return None\n"
        "\n\n"
        "def g(x: Tuple[List[str], Tuple[int, int] | float | Exception] | List):\n"
        "    return x\n"
        "\n\n"
        "def h(y=...):\n"
        '    """Docstring-typed.\n'
        "\n"
        "    :param int y: an int per docs\n"
        "    :rtype: str\n"
        '    """\n'
        "    return str(y)\n"
    ),
}

# --------------------------------------------------------------------------
# proj_hub + deps — 20 files importing one hub module (skew for the salted
# join), wildcard re-export chain (tracking.py:234-255), plus an unreferenced
# dependency repo that must yield zero triples (lazy pruning, parser.py:33-41).
# --------------------------------------------------------------------------
_PROJ_HUB = {"hub/__init__.py": '"""Hub package."""\n'}
_PROJ_HUB["hub/core.py"] = (
    '"""The hub everyone imports."""\n'
    "\n"
    "HUB_CONST = 7\n"
    "\n\n"
    "def hub_fn(v):\n"
    "    return v * HUB_CONST\n"
    "\n\n"
    "class HubThing:\n"
    '    """A thing reachable through attribute chains."""\n'
    "\n"
    "    pass\n"
    "\n\n"
    "class HubError:\n"
    '    """Re-exported through the facade module."""\n'
    "\n"
    "    pass\n"
)
_PROJ_HUB["hub/facade.py"] = (
    '"""Facade module: re-exports names (binding row fixture)."""\n'
    "from hub.core import hub_fn, HubError\n"
)
_PROJ_HUB["hub/chains.py"] = (
    '"""Attribute chains through bound modules (tracking.py:297-327\n'
    'suffix-shrinking lookups)."""\n'
    "import hub.core\n"
    "from hub import facade\n"
    "\n"
    "HC = hub.core\n"
    "\n\n"
    "def use(x: HC.HubThing, e: facade.HubError):\n"
    "    return x\n"
)
_PROJ_HUB["hub/base_exports.py"] = '"""Re-export base."""\nBASE_NAME = "base"\n'
_PROJ_HUB["hub/re_exports.py"] = (
    '"""Wildcard re-export chain."""\nfrom hub.base_exports import *\n'
)
_PROJ_HUB["hub/all_exports.py"] = (
    '"""__all__ restricts wildcard exports (tracking.py:234-255)."""\n'
    '__all__ = ["VISIBLE", "_EXPOSED_PRIVATE"]\n'
    "VISIBLE = 1\n"
    "_EXPOSED_PRIVATE = 2\n"
    "HIDDEN = 3\n"
)
_PROJ_HUB["hub/all_user.py"] = (
    '"""Imports through an __all__-restricted module."""\n'
    "from hub.all_exports import *\n"
)
for _i in range(20):
    _PROJ_HUB[f"hub/user_{_i:02d}.py"] = (
        f'"""Hub user {_i:02d}."""\n'
        "from hub.core import hub_fn\n"
        "from hub.re_exports import *\n"
        "\n"
        f"R_{_i:02d} = hub_fn({_i})\n"
    )

_DEP_UNUSED = {
    "unused_dep/__init__.py": '"""Never imported by any project file."""\n',
    "unused_dep/mod.py": "def never_called():\n    return 0\n",
}

# --------------------------------------------------------------------------
# proj_broken — syntax error + non-python rows: warn-and-skip semantics
# (parser.py:67-89); the job must still succeed.
# --------------------------------------------------------------------------
_PROJ_BROKEN = {
    "ok.py": "GOOD = 1\n",
    "broken.py": "def oops(:\n    return\n",
    "notes.txt": "not python at all",
}

FIXTURE_REPOS: dict[str, dict[str, str]] = {
    "fixtures/proj_basic": _PROJ_BASIC,
    "fixtures/proj_classes": _PROJ_CLASSES,
    "fixtures/proj_statements": _PROJ_STATEMENTS,
    "fixtures/proj_types": _PROJ_TYPES,
    "fixtures/proj_hub": _PROJ_HUB,
    "fixtures/dep_unused": _DEP_UNUSED,
    "fixtures/proj_broken": _PROJ_BROKEN,
}


def _fake_commit(repo: str, path: str, content: str) -> str:
    """Deterministic fake sha (FIXTURES.md §1: e.g. c000…01)."""
    return "c" + hashlib.sha256(f"{repo}\n{path}\n{content}".encode()).hexdigest()[:39]


def source_files_rows() -> list[tuple]:
    """Rows for the source_files table: every fixture file, each repo's
    files in path order."""
    rows = []
    for repo, files in FIXTURE_REPOS.items():
        for path, content in sorted(files.items()):
            lang = "python" if path.endswith(".py") else "text"
            rows.append((repo, path, _fake_commit(repo, path, content), lang,
                         content))
    return rows


def source_files_df(spark: SparkSession) -> DataFrame:
    """Build the source_files DataFrame (input_hint shape)."""
    return spark.createDataFrame(source_files_rows(), schema=SOURCE_FILES)


# the fixture corpus's project manifest (S3 remnant — reference
# is_by_project, explore/__init__.py:188-231): dep_unused ships a library
# that is a DEPENDENCY of its repo, not project-declared; every other
# fixture library is project-own (absent rows default to True)
FIXTURE_MANIFEST_ROWS = [
    ("fixtures/dep_unused", "unused_dep", False),
]


def project_manifest_df(spark: SparkSession) -> DataFrame:
    """Tiny (repo, library, is_by_project) manifest for
    canonicalize.apply_library_manifest (broadcast side)."""
    return spark.createDataFrame(
        FIXTURE_MANIFEST_ROWS, "repo string, library string, is_by_project boolean")


# template of one generated "unit": globals, a function with control flow,
# a class with a field and a method — ~15 statements per unit
_UNIT_FMT = (
    "V_%1$d = %1$d * 3\n"
    "def f_%1$d(a_%1$d, b_%1$d=2):\n"
    "    \"\"\"Doc for f_%1$d.\"\"\"\n"
    "    c = a_%1$d + b_%1$d\n"
    "    if c > %1$d:\n"
    "        c = c - 1\n"
    "    else:\n"
    "        c = c + 1\n"
    "    for j in (1, 2, 3):\n"
    "        c = c + j\n"
    "    return c\n"
    "class K_%1$d:\n"
    "    \"\"\"Doc for K_%1$d.\"\"\"\n"
    "    x_%1$d = %1$d\n"
    "    def m_%1$d(self):\n"
    "        return self.x_%1$d\n")


def synthetic_module_text(i: int, units: int = 40) -> str:
    """Pure-Python twin of synthetic_corpus_df's per-file content (same
    bytes), for no-Spark baselines like bench.workload_ceiling."""
    unit_py = _UNIT_FMT.replace("%1$d", "%(i)d")
    body = "\n".join(unit_py % {"i": k} for k in range(1, units + 1))
    return '"""Synthetic module %d."""\nimport synth.hub\n%s' % (i, body)


def synthetic_corpus_df(spark: SparkSession, n_files: int, units: int = 40,
                        partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic corpus generated ENTIRELY executor-side
    (spark.range + string expressions) — no driver->executor data transfer,
    so throughput/scaling benchmarks measure the pipeline, not
    createDataFrame. ~`units` * 15 statements per file (~`units` * 0.3 KB).
    """
    from pyspark.sql import functions as F

    df = spark.range(0, n_files)
    if partitions:
        df = df.repartition(partitions)
    unit = F.transform(
        F.sequence(F.lit(1), F.lit(units)),
        lambda i: F.format_string(_UNIT_FMT, i))
    content = F.concat(
        F.format_string('"""Synthetic module %d."""\nimport synth.hub\n',
                        F.col("id")),
        F.array_join(unit, "\n"))
    return df.select(
        F.format_string("synthetic/repo_%03d", (F.col("id") % 100)).alias("repo"),
        F.format_string("synth/mod_%06d.py", F.col("id")).alias("path"),
        F.sha2(F.format_string("commit-%d", F.col("id")), 256).alias("commit"),
        F.lit("python").alias("lang"),
        content.alias("content"))
