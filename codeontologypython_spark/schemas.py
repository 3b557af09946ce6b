"""Fixed StructType schemas: the source-file input table, the Stage-1
extractor output, and the mention rows Stage 2 resolves.

The reference's output model is schema-fixed (the OWL ontology); the Spark
engine mirrors that with static StructTypes — no inference (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table — exact shape mandated by BASELINE.json input_hint:
# (repo:string, path:string, commit:string, lang:string, content:string)
SOURCE_FILES = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("content", T.StringType(), True),
])

# Stage-1 extractor output: one unified FLAT row stream, discriminated by
# `rec`, split into entities / triples / mentions / errors by filter+select.
# One mapInArrow pass means each file is parsed exactly once (the relational
# analog of the reference's parse cache, parser.py:65-82). The schema is flat
# (not nested structs) deliberately: the extractor emits ~10^4 rows per input
# file, and building flat columnar frames from tuples is ~10x cheaper than
# dict-per-row struct columns through Arrow.
EXTRACT_OUTPUT = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("rec", T.StringType(), False),  # ent | trp | men | err
    # rec == 'ent'
    # every column is a plain string: mixed-type object columns (int/bool
    # with None) route PySpark's pandas->Arrow serializer through per-value
    # Python converters, which at ~10^4 output rows per input file dominates
    # the whole job; strings hit the zero-copy fast path. Casts happen
    # JVM-side in split_extraction.
    T.StructField("e_eid", T.StringType(), True),   # deterministic global id
    T.StructField("e_kind", T.StringType(), True),  # woc class simple name
    T.StructField("e_name", T.StringType(), True),
    T.StructField("e_fqn", T.StringType(), True),   # null if no FQN rule applies
    T.StructField("e_line", T.StringType(), True),
    # rec == 'trp'  (fully resolved per-file triple; obj is eid or literal)
    T.StructField("t_subj", T.StringType(), True),
    T.StructField("t_pred", T.StringType(), True),
    T.StructField("t_obj", T.StringType(), True),
    T.StructField("t_lit", T.StringType(), True),   # '1'/'0'
    # rec == 'men'  (cross-file reference to resolve in Stage 2)
    T.StructField("m_subj", T.StringType(), True),
    T.StructField("m_pred", T.StringType(), True),
    T.StructField("m_kind", T.StringType(), True),  # import|wildcard|type|base|alias
    # candidates joined with \x1f: a nested ArrayType here would push every
    # row of every record family through PySpark's per-value Python array
    # converter — the single hottest cost in the whole pipeline when present
    T.StructField("m_cands", T.StringType(), True),
    T.StructField("m_raw", T.StringType(), True),
    # rec == 'err'  (warn-and-skip semantics, parser.py:67-89)
    T.StructField("err_stage", T.StringType(), True),
    T.StructField("err_msg", T.StringType(), True),
])

MENTIONS = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("candidates", T.ArrayType(T.StringType()), False),
    T.StructField("raw", T.StringType(), True),
])
