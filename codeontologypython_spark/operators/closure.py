"""P2 — lazy corpus pruning by import-closure expansion (SURVEY §2.2 P2,
§4 "the single biggest cost lever at 10^12-file scale").

The reference recursively parses only modules actually imported from the
project (parser.py:91-123, policy extractor.py:24-33). Relational analog: an
iterative frontier join — a cheap imports-only parse of the frontier files,
joined against the path-derived module catalog, anti-joined against the
already-selected set, looped to fixpoint. Unreferenced dependency repos are
never parsed by the expensive Stage-1 extractor.
"""

from __future__ import annotations

import ast
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codeontologypython_spark.operators.linking import module_fqn_col
from codeontologypython_spark.operators.relational import bounded_fixpoint

_IMPORTS_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("target_fqn", T.StringType(), False),
])


def _imports_only(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Cheap per-file scan: just the import targets (absolute FQNs)."""
    from codeontologypython_spark.operators.pyfile import import_from_module

    for pdf in batches:
        rows = []
        for repo, path, content in zip(pdf["repo"], pdf["path"], pdf["content"]):
            try:
                tree = ast.parse(content)
            except (SyntaxError, ValueError, RecursionError):
                continue
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        rows.append((repo, path, a.name))
                elif isinstance(node, ast.ImportFrom):
                    base = import_from_module(path, node.level, node.module)
                    if base:
                        rows.append((repo, path, base))
                        for a in node.names:
                            if a.name != "*":
                                rows.append((repo, path, f"{base}.{a.name}"))
        yield pd.DataFrame(rows, columns=["repo", "path", "target_fqn"])


_IMPORT_MAX_ROUNDS = 20


def select_import_closure(src_df: DataFrame, root_repos: list[str]) -> DataFrame:
    """Return the subset of ``src_df`` in the import closure of the root
    repos' files: a :func:`relational.bounded_fixpoint` over (repo, path)
    (``_IMPORT_MAX_ROUNDS``) whose round is imports-of-frontier ⋈ module
    catalog (parser.py:91-123 as a DataFrame loop; 3-5 rounds in
    practice)."""
    files = src_df.filter(F.col("lang") == "python")
    catalog = (files.select("repo", "path")
               .withColumn("module_fqn", module_fqn_col(F.col("path"))))

    def step(frontier, _selected):
        frontier_files = files.join(frontier, ["repo", "path"], "left_semi")
        imports = frontier_files.mapInPandas(_imports_only, schema=_IMPORTS_SCHEMA)
        targets = (imports
                   .select(F.col("target_fqn"))
                   .union(imports.select(
                       F.regexp_replace("target_fqn", "\\.[^.]+$", "")))
                   .distinct())
        return (catalog.join(targets,
                             catalog["module_fqn"] == targets["target_fqn"])
                .select("repo", "path"))

    selected, _ = bounded_fixpoint(
        files.filter(F.col("repo").isin(root_repos)).select("repo", "path"),
        step, ["repo", "path"], _IMPORT_MAX_ROUNDS, "import_round")
    return src_df.join(selected, ["repo", "path"], "left_semi")
