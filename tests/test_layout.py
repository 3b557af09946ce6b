"""Layout rules for the package, checked from source text alone (no Spark).

(a) Every top-level function, class and constant of the package has a
    caller outside its own definition: the package itself, the driver entry
    (``__spark_entry__.py``), ``bench*.py``, ``jobs/``, ``tools/`` or
    ``perfbench/``. Tests do not count as callers; the few names kept only
    for tests are listed in ``TEST_ONLY`` with the reason they stay.
(b) No package module has an unused import, and ``woc.py`` is the only
    module that spells the vocabulary namespaces.
"""

from __future__ import annotations

import ast
import functools
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "codeontologypython_spark"

TEST_ONLY = {
    "audit_iri_uniqueness": "IRI-collision check the pipeline tests run",
    "ingest_invariant": "streaming ingest check the streaming tests run",
    "reference_sha256": "reference IRI digest the canonicalize tests "
                        "compare against",
    "extension_stubs_df": "the reference's stdlib-extension stubs (S7), "
                          "linked against in the linking tests",
    "compact": "streaming table compaction, fault-recovery maintenance",
    "extract_file": "row-wise reference of the columnar extractor",
    "MENTIONS": "mention schema the linking tests build Stage-2 inputs "
                "with",
    "paragraphs_col": "paragraph splitter span_dedup's tests compare with",
}

NAMESPACES = ("rdf.webofcode.org/woc/", "w3.org")


def _modules() -> list[Path]:
    return sorted(PKG.rglob("*.py"))


def _callers() -> list[Path]:
    files = _modules() + [ROOT / "__spark_entry__.py"]
    files += sorted(ROOT.glob("bench*.py"))
    for d in ("jobs", "tools", "perfbench"):
        files += sorted(p for p in (ROOT / d).rglob("*.py")
                        if "tests" not in p.relative_to(ROOT).parts)
    return files


def _names(tree: ast.AST) -> Counter:
    """How often `tree` reads, imports or reaches by attribute each
    identifier."""
    out: Counter = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _definitions(tree: ast.Module):
    """Top-level functions, classes and constants; dunders such as
    ``__version__`` are metadata, not API."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                            ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if not name.startswith("__"):
                yield name, node


@functools.cache
def _uncalled() -> dict[str, str]:
    """Top-level package name -> its module, for every name that no caller
    references outside the name's own definition."""
    counts = {p: _names(ast.parse(p.read_text())) for p in _callers()}
    files_of: dict[str, set] = {}
    for p, c in counts.items():
        for name in c:
            files_of.setdefault(name, set()).add(p)
    out = {}
    for path in _modules():
        for name, node in _definitions(ast.parse(path.read_text())):
            if files_of.get(name, set()) - {path}:
                continue
            if counts[path][name] > _names(node)[name]:
                continue
            out[name] = str(path.relative_to(ROOT))
    return out


def test_every_definition_has_a_caller():
    unused = [f"{mod}: {name}" for name, mod in _uncalled().items()
              if name not in TEST_ONLY]
    assert not unused, "defined but never used outside tests:\n" + \
        "\n".join(unused)


def test_test_only_list_is_current():
    assert set(TEST_ONLY) <= set(_uncalled()), \
        "TEST_ONLY names that are gone or have callers: " + \
        ", ".join(sorted(set(TEST_ONLY) - set(_uncalled())))


def _imported(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.asname or a.name.split(".")[0], node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                yield a.asname or a.name, node.lineno


def test_no_unused_imports():
    unused = []
    for path in _modules():
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        exported = set()
        if path.name == "__init__.py":
            exported = {name for name, _ in _imported(tree)}
        for name, line in _imported(tree):
            if name not in used and name not in exported:
                unused.append(f"{path.relative_to(ROOT)}:{line}: {name}")
    assert not unused, "unused imports:\n" + "\n".join(unused)


def test_vocabulary_namespaces_only_in_woc():
    spelled = [f"{p.relative_to(ROOT)}: {ns}" for p in _modules()
               if p.name != "woc.py" or p.parent != PKG
               for ns in NAMESPACES if ns in p.read_text()]
    assert not spelled, "namespace IRIs outside woc.py:\n" + \
        "\n".join(spelled)
