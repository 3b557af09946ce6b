"""N-Triples text sink — reference-parity serialization
(``ontology.save(file, format='ntriples')``, python3/__init__.py:62-64).

The line format is composed with JVM-side expressions (concat / regexp
chains) so serialization stays inside whole-stage codegen — no Python in the
write path. Literal datatypes follow the reference's owlready2 output: plain
strings, xsd:integer for the integer datatype properties, xsd:boolean for the
boolean ones (SURVEY §1.2: strings, ints, booleans only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import woc

XSD_INT = woc.XSD + "integer"
XSD_BOOL = woc.XSD + "boolean"


def _escape_literal(col: Column) -> Column:
    """N-Triples string escaping: backslash first, then quote, newline, CR,
    tab."""
    c = F.regexp_replace(col, "\\\\", "\\\\\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")
    c = F.regexp_replace(c, "\t", "\\\\t")
    return c


def nt_line() -> Column:
    """Column expression turning (subj, pred, obj, obj_is_literal) into one
    N-Triples line."""
    int_preds = F.array(*[F.lit(p) for p in sorted(woc.INT_DPROPS)])
    bool_preds = F.array(*[F.lit(p) for p in sorted(woc.BOOL_DPROPS)])
    literal = F.concat(
        F.lit('"'), _escape_literal(F.col("obj")), F.lit('"'),
        F.when(F.array_contains(int_preds, F.col("pred")),
               F.lit(f"^^<{XSD_INT}>"))
         .when(F.array_contains(bool_preds, F.col("pred")),
               F.lit(f"^^<{XSD_BOOL}>"))
         .otherwise(F.lit("")))
    obj_term = F.when(F.col("obj_is_literal"), literal).otherwise(
        F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    return F.concat(
        F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
        obj_term, F.lit(" ."))


def to_ntriples(triples: DataFrame) -> DataFrame:
    """Triples -> single-column DataFrame of N-Triples lines, ordered
    deterministically for byte-comparable fixtures."""
    return triples.select(nt_line().alias("value")).orderBy("value")


def write_ntriples(triples: DataFrame, path: str):
    to_ntriples(triples).write.mode("overwrite").text(path)
