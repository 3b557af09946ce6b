"""S7 — C-extension module interface stubs (SURVEY §2.1).

The reference reconstructs a synthetic ``__init__.py`` for stdlib modules
that ship no Python source (``math``, ``sys``, …) by un-parsing astroid's
built-in interface AST and registering it as a package
(parser.py:125-166), so imports of extension modules resolve to real
entities. The Spark engine keeps the extraction UDF pure (SURVEY S7:
"precomputed at ingest"): this one-time ingest utility introspects the
extension module in the DRIVER (stdlib extension modules are side-effect
free to import) and emits a deterministic stub source row in the
source_files shape. Downstream, the stub behaves like any other module —
its functions/classes/constants become symbol-table entries and import
mentions link against them.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame, SparkSession

from codeontologypython_spark.schemas import SOURCE_FILES

_SAFE_CONST_TYPES = (int, float, complex, bool, str, bytes)


def stub_source_for(module_name: str) -> str | None:
    """Deterministic Python stub for an importable extension module, or None
    when the module cannot be imported. Functions keep their docstrings
    (so P3 emits hasDocumentation), classes keep method names, simple
    constants keep their literal values (so L7 types them)."""
    import importlib

    try:
        mod = importlib.import_module(module_name)
    except Exception:
        return None
    lines = [f'"""Interface stub for C-extension module {module_name}.\n'
             f'\nGenerated at ingest (SURVEY S7; reference parser.py:125-166).\n'
             f'"""']

    def doc_of(obj) -> list[str]:
        doc = inspect.getdoc(obj)
        if not doc:
            return []
        body = doc.replace("\\", "\\\\").replace('"""', r"\"\"\"")
        return ['    """' + body + '"""']

    for name in sorted(dir(mod)):
        if name.startswith("_"):
            continue
        try:
            obj = getattr(mod, name)
        except Exception:
            continue
        if inspect.isroutine(obj):
            lines.append(f"def {name}(*args, **kwargs):")
            lines.extend(doc_of(obj))
            lines.append("    pass")
        elif inspect.isclass(obj):
            lines.append(f"class {name}:")
            lines.extend(doc_of(obj))
            methods = sorted(
                k for k, v in vars(obj).items()
                if not k.startswith("_") and callable(v))
            for m in methods:
                lines.append(f"    def {m}(self, *args, **kwargs):")
                lines.append("        pass")
            if not methods:
                lines.append("    pass")
        elif isinstance(obj, _SAFE_CONST_TYPES):
            lines.append(f"{name} = {obj!r}")
        else:
            lines.append(f"{name} = None")
    return "\n".join(lines) + "\n"


def extension_stub_rows(module_names: list[str]) -> list[tuple]:
    """(repo, path, commit, lang, content) rows for the given modules, all
    in repo ``python-stdlib-ext`` at commit ``stub-0``; un-importable names
    are skipped (warn-and-skip, parser.py:67-89)."""
    rows = []
    for name in module_names:
        src = stub_source_for(name)
        if src is None:
            continue
        path = name.replace(".", "/") + ".py"
        rows.append(("python-stdlib-ext", path, "stub-0", "python", src))
    return rows


def extension_stubs_df(spark: SparkSession,
                       module_names: list[str]) -> DataFrame:
    """Stub rows as a source_files DataFrame, ready to union with a corpus
    before extraction (the stub set is tiny — driver-side createDataFrame is
    appropriate here; real corpora land via the bulk ingest path)."""
    return spark.createDataFrame(extension_stub_rows(module_names),
                                 schema=SOURCE_FILES)
