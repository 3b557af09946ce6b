"""Incremental re-extraction over newly-landed commits (SURVEY §2.9: the
reference is batch-only; incremental processing is the one extension the new
engine adds, expressed as Structured Streaming + an anti-join against
processed lineage).

Source: a directory of parquet files in the source_files shape — each new
file dropped there is a new batch of (repo, path, commit) rows. foreachBatch:
1. anti-join the batch against the processed-lineage table, so re-delivered
   or unchanged rows (same repo/path/commit) cost nothing — the streaming
   form of the reference's parse-once cache (parser.py:65-82);
2. run the Stage-1 extractor on the remainder;
3. append extraction records and the new lineage rows.

Stages 2-3 (linking, canonicalization) run as periodic batch compactions over
the accumulated extraction table — linking is corpus-global (the symbol table
spans files), so it belongs in the batch layer, not per-microbatch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codeontologypython_spark.operators.extract import extract_stage
from codeontologypython_spark.schemas import SOURCE_FILES
from codeontologypython_spark.sources.tables import path_exists


def start_incremental_extract(spark: SparkSession, source_dir: str,
                              workdir: str):
    """Start the incremental extraction stream (an availableNow trigger:
    drains every landed file, then stops); returns the StreamingQuery."""
    extract_path = os.path.join(workdir, "stream_extract")
    lineage_path = os.path.join(workdir, "stream_lineage")
    checkpoint = os.path.join(workdir, "stream_checkpoint")

    stream = (spark.readStream
              .schema(SOURCE_FILES)
              .option("maxFilesPerTrigger", "16")
              .parquet(source_dir))

    def process_batch(batch_df: DataFrame, batch_id: int):
        s = batch_df.sparkSession
        # only a missing lineage table means "first batch": an unreadable
        # one must fail the batch, or every row would be re-extracted and
        # re-appended (breaking exactly-once)
        if path_exists(s, lineage_path):
            processed = s.read.parquet(lineage_path)
            todo = batch_df.join(processed, ["repo", "path", "commit"],
                                 "left_anti")
        else:
            todo = batch_df
        if todo.isEmpty():
            return
        out = extract_stage(todo)
        out.write.mode("append").parquet(extract_path)
        (todo.select("repo", "path", "commit")
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(lineage_path))

    return (stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def compact(spark: SparkSession, workdir: str) -> DataFrame:
    """Batch compaction: link + canonicalize everything extracted so far.

    Entity ids are ``repo|path|ordinal`` (no commit component), so when a
    changed file is re-extracted under a new commit, the old and new versions
    of the file would collide on the same subject ids and dedup would keep a
    mixed-version graph. Supersede step: keep only the LATEST extraction per
    (repo, path), where recency is the stream lineage's ``batch_id`` (arrival
    order — commit hashes are not ordered), before splitting.

    Considered and rejected: commit-scoped entity ids (``repo|commit|path|
    ordinal``). They would prevent cross-version triple MIXING under one
    subject, but not staleness — the old commit's rows become a disjoint
    subgraph with its own eids, so BOTH versions would survive dedup and the
    winner join here would still be required to exclude them; meanwhile every
    subj/obj string in every Stage-2/3 shuffle grows by a commit token
    (subjects and objects dominate shuffle bytes at corpus scale). The
    winner semi-join costs one broadcast of a tiny (repo, path, commit) set
    and achieves exclusion outright.

    The build's stage caches stay persisted: release them with
    ``session.cache_scope`` around the action that consumes the result.
    """
    from codeontologypython_spark.plans.pipeline import build_kg

    extracted = spark.read.parquet(os.path.join(workdir, "stream_extract"))
    lineage = spark.read.parquet(os.path.join(workdir, "stream_lineage"))
    latest = (lineage
              .groupBy("repo", "path")
              .agg(F.max(F.struct("batch_id", "commit")).alias("w"))
              .select("repo", "path", F.col("w.commit").alias("commit")))
    # broadcast semi-join: the (repo,path,commit) winner set is tiny relative
    # to the extraction record stream, so no shuffle of the big side
    extracted = extracted.join(F.broadcast(latest),
                               ["repo", "path", "commit"], "left_semi")
    return build_kg(extracted)
