"""Stage 1 — distributed per-file extraction (SURVEY.md §2.2, north_star:
"vectorized pandas/Arrow UDFs parse each Python file's AST per partition").

One ``mapInArrow`` pass over the source_files table runs
:func:`codeontologypython_spark.operators.pyfile.extract_file_columnar` per
row and emits a unified flat record stream (entities / per-file triples /
mentions / errors), split afterwards by cheap filter+select. Each file is
parsed exactly once — the relational replacement for the reference's astroid
FQN parse cache (parser.py:65-82, serializer.py:96-100).

Throughput notes (measured, see BASELINE.md):
- each input file emits ~10^3-10^4 output rows, so the OUTPUT path dominates:
  record batches are built straight from per-family Python lists with
  ``pa.array`` (C-speed conversion) — no pandas detour, no per-row tuples.
  Switching the frame layer from pandas to Arrow batches cut the per-file
  Python cost ~35% at 32 cores (round-2 measurement);
- absent family columns are ``pa.nulls`` (O(1) per batch, vs pandas
  None-fill materializing a full object column);
- output batches are yielded in bounded chunks so a batch of large files
  cannot blow worker memory (SURVEY §7 hard-part 7);
- per-row failures degrade to error records, never fail the job
  (parser.py:67-89 warn-and-skip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import woc
from codeontologypython_spark.schemas import EXTRACT_OUTPUT

_COLS = [f.name for f in EXTRACT_OUTPUT.fields]
# rows per yielded output batch (~100 MB of strings at typical row sizes)
_CHUNK_ROWS = 1_000_000


class _FamilyBuffer:
    """Columnar accumulator for ONE record family. Only the family's own
    columns are Python lists; the other families' columns become pa.nulls at
    batch time — so the per-triple cost is exactly 8 list appends."""

    def __init__(self, rec: str, cols: list[str]):
        self.rec = rec
        self.names = cols
        self.key_cols: list[list] = [[], [], []]  # repo, path, commit
        self.cols: list[list] = [[] for _ in cols]
        self.n = 0

    def grow(self, key, n: int, values: list[list]):
        if n == 0:
            return
        for lst, v in zip(self.key_cols, key):
            lst.extend([v] * n)
        for lst, src in zip(self.cols, values):
            lst.extend(src)
        self.n += n

    def batch(self):
        import pyarrow as pa
        n = self.n
        own = dict(zip(self.names, self.cols))
        arrays = []
        for c in _COLS:
            if c == "repo":
                arrays.append(pa.array(self.key_cols[0], pa.string()))
            elif c == "path":
                arrays.append(pa.array(self.key_cols[1], pa.string()))
            elif c == "commit":
                arrays.append(pa.array(self.key_cols[2], pa.string()))
            elif c == "rec":
                arrays.append(pa.array([self.rec] * n, pa.string()))
            elif c in own:
                arrays.append(pa.array(own[c], pa.string()))
            else:
                arrays.append(pa.nulls(n, pa.string()))
        return pa.record_batch(arrays, names=_COLS)


def _extract_record_batches(batches, emit_invokes: bool = False):
    """Arrow-in/Arrow-out extraction core (shared by extract_stage and the
    bench's udf-only consumer)."""
    # import inside the worker so the UDF ships cleanly via --py-files
    import gc

    from codeontologypython_spark.operators.pyfile import extract_file_columnar

    # the extractor allocates ~10^4-10^5 objects per file while the buffer
    # holds ~10^6 — cyclic GC passes over the buffer dominate runtime if left
    # on (ast trees and the buffers are acyclic; refcounting frees them)
    gc_was_enabled = gc.isenabled()
    gc.disable()

    def new_bufs():
        return (
            _FamilyBuffer("ent", ["e_eid", "e_kind", "e_name", "e_fqn", "e_line"]),
            _FamilyBuffer("trp", ["t_subj", "t_pred", "t_obj", "t_lit"]),
            _FamilyBuffer("men", ["m_subj", "m_pred", "m_kind", "m_cands", "m_raw"]),
            _FamilyBuffer("err", ["err_stage", "err_msg"]),
        )

    try:
        for rb in batches:
            ent_b, trp_b, men_b, err_b = new_bufs()
            for repo, path, commit, lang, content in zip(
                    rb.column("repo").to_pylist(),
                    rb.column("path").to_pylist(),
                    rb.column("commit").to_pylist(),
                    rb.column("lang").to_pylist(),
                    rb.column("content").to_pylist()):
                if lang != "python" or content is None:
                    continue  # non-python rows ignored (FIXTURES.md §1)
                fx, error = extract_file_columnar(repo, path, commit, content,
                                                  emit_invokes=emit_invokes)
                key = (repo, path, commit)
                if error is not None:
                    stage, _, message = error.partition(":")
                    err_b.grow(key, 1, [[stage], [message]])
                    continue
                ents = fx.entities
                ent_b.grow(key, len(ents), [
                    [e["eid"] for e in ents],
                    [e["kind"] for e in ents],
                    [e["name"] for e in ents],
                    [e["fqn"] for e in ents],
                    [None if e["line"] is None else str(e["line"])
                     for e in ents],
                ])
                trp_b.grow(key, len(fx.t_subj), [
                    fx.t_subj, fx.t_pred, fx.t_obj,
                    ["1" if x else "0" for x in fx.t_lit],
                ])
                mens = fx.mentions
                men_b.grow(key, len(mens), [
                    [m["subj"] for m in mens],
                    [m["pred"] for m in mens],
                    [m["kind"] for m in mens],
                    ["\x1f".join(m["candidates"]) for m in mens],
                    [m["raw"] for m in mens],
                ])
                if ent_b.n + trp_b.n >= _CHUNK_ROWS:
                    for b in (ent_b, trp_b, men_b, err_b):
                        if b.n:
                            yield b.batch()
                    ent_b, trp_b, men_b, err_b = new_bufs()
                    gc.collect()
            for b in (ent_b, trp_b, men_b, err_b):
                if b.n:
                    yield b.batch()
    finally:
        if gc_was_enabled:
            gc.enable()


def extract_stage(src_df: DataFrame, emit_invokes: bool = False) -> DataFrame:
    """source_files -> unified extraction record stream.

    Filters non-python rows *before* the UDF so Catalyst pushes the predicate
    into the parquet scan. ``emit_invokes`` opts into call-edge mentions
    (off = reference parity, SURVEY §7 hard-part 3).
    """
    pythonic = src_df.filter(F.col("lang") == "python")

    def run(batches):
        return _extract_record_batches(batches, emit_invokes=emit_invokes)

    return pythonic.mapInArrow(run, schema=EXTRACT_OUTPUT)


def split_extraction(out_df: DataFrame):
    """Split the unified stream into (entities, triples, mentions, errors).

    Call ``out_df.persist()`` (or checkpoint to parquet) first so the parse
    runs once, not four times.
    """
    entities = (out_df.filter(F.col("rec") == "ent")
                .select("repo", "path", "commit",
                        F.col("e_eid").alias("eid"),
                        F.col("e_kind").alias("kind"),
                        F.col("e_name").alias("name"),
                        F.col("e_fqn").alias("fqn"),
                        F.col("e_line").cast("int").alias("line")))
    # the UDF emits short predicate/object codes (see pyfile.py note);
    # expansion to full IRIs happens here, JVM-side, inside codegen
    pred_full = (F.when(F.col("t_pred") == "a", F.lit(woc.RDF_TYPE))
                 .when(F.col("t_pred") == "=", F.lit(woc.OWL_SAME_AS))
                 .otherwise(F.concat(F.lit(woc.WOC), F.col("t_pred"))))
    obj_full = (F.when((F.col("t_lit") == "0")
                       & F.col("t_pred").isin("a", "hasModifier"),
                       F.concat(F.lit(woc.WOC), F.col("t_obj")))
                .otherwise(F.col("t_obj")))
    triples = (out_df.filter(F.col("rec") == "trp")
               .select("repo", "commit",
                       F.col("t_subj").alias("subj"),
                       pred_full.alias("pred"),
                       obj_full.alias("obj"),
                       (F.col("t_lit") == "1").alias("obj_is_literal")))
    m_pred_full = (F.when(F.col("m_pred") == "", F.lit(""))
                   .otherwise(F.concat(F.lit(woc.WOC), F.col("m_pred"))))
    mentions = (out_df.filter(F.col("rec") == "men")
                .select("repo", "path", "commit",
                        F.col("m_subj").alias("subj"),
                        m_pred_full.alias("pred"),
                        F.col("m_kind").alias("kind"),
                        F.split("m_cands", "\x1f").alias("candidates"),
                        F.col("m_raw").alias("raw")))
    errors = (out_df.filter(F.col("rec") == "err")
              .select("repo", "path", "commit",
                      F.col("err_stage").alias("stage"),
                      F.col("err_msg").alias("message")))
    return entities, triples, mentions, errors
