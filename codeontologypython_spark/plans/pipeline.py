"""End-to-end staged pipeline with per-stage checkpoints, lineage metrics and
resume-from-failure (SURVEY §2.8 O2, §4 checkpoint/resume; north_star: "Every
stage checkpoints per-partition lineage and triple-count metrics to enable
resume-from-failure").

Stages (serializer.py:86-117 reordered for dataflow purity):
  1. extract  — mapInArrow per-file extraction       (P1, P3-P11)
  2. link     — symbol-table joins                   (L1-L7, P4)
  3. canonical— IRI hashing + dedup + inverses       (C1, C3, C4)
  4. materialize — NT sink over the landed triple table (S6)

Stages 2-3 are :func:`build_kg`, the one whole-KG build path; run_pipeline
only adds checkpoints, lineage and resume around it. Stages 1-2 land in
``<workdir>/stageN_*`` parquet; Stage 3 lands once, as the repo-bucketed
``<workdir>/triple_table`` that the N-Triples sink then reads. Resume is
repo-granular: completed repos are read from the stage-1 checkpoint and
anti-joined out of the input, so a killed run redoes only unfinished repos.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codeontologypython_spark.operators.canonicalize import canonicalize_stage
from codeontologypython_spark.operators.closure import select_import_closure
from codeontologypython_spark.operators.extract import (
    extract_stage,
    split_extraction,
)
from codeontologypython_spark.operators.linking import base_triples, link_stage
from codeontologypython_spark.session import cache_scope
from codeontologypython_spark.sources.ntriples import write_ntriples
from codeontologypython_spark.sources.tables import (
    path_exists,
    write_triple_table,
)


@dataclass
class PipelineResult:
    triples_path: str
    nt_path: str | None
    lineage_path: str
    n_triples: int
    seconds: float


def _append_lineage(spark: SparkSession, lineage_path: str, stage: str,
                    per_repo: DataFrame):
    if "partition_id" not in per_repo.columns:
        per_repo = per_repo.withColumn("partition_id", F.lit(None).cast("int"))
    (per_repo
     .withColumn("stage", F.lit(stage))
     .select("stage", "repo",
             F.col("partition_id").cast("int"),
             F.col("rows_in").cast("long"),
             F.col("rows_out").cast("long"),
             F.lit("ok").alias("status"))
     .write.mode("append").parquet(lineage_path))


def build_kg(
    extracted: DataFrame,
    manifest: DataFrame | None = None,
    land=None,
) -> DataFrame:
    """Stages 2-3: the Stage-1 record stream -> canonical triples. The one
    whole-KG build path (run_pipeline, the driver queries, golden
    regeneration, streaming compaction and the tests all go through here).

    The split views are persisted — many downstream joins reuse them — and
    so are several link/canonicalize tables; release them with
    ``session.cache_scope`` once the result has materialized.

    ``land(stage, build)`` wraps Stage 2 (``"link"``) and Stage 3
    (``"canonicalize"``): ``build()`` computes the stage's frames as a tuple
    (``(resolved, extra_entities)``, then ``(triples,)``), and ``land``
    returns the frames the build continues with; the frame ``land`` returns
    for Stage 3 is the result. The default returns the link frames as
    ``localCheckpoint`` leaves and the final frame as built; run_pipeline
    lands Stage 2 as parquet checkpoints and Stage 3 as the triple table,
    or, on resume, reuses the ones a previous run landed.
    """
    entities, triples, mentions, _ = split_extraction(extracted)
    entities = entities.persist()
    triples = triples.persist()
    mentions = mentions.persist()
    if land is None:
        def land(stage, build):
            # leaves, not the link plan: canonicalize reads each link table
            # once, and its plans stay shallow enough for the optimizer to
            # converge within its iteration cap (eager: CLAUDE.md pitfall 10)
            if stage == "link":
                return tuple(df.localCheckpoint() for df in build())
            return build()
    resolved, extra_entities = land("link", lambda: link_stage(
        entities, triples, mentions)[:2])
    (final,) = land("canonicalize", lambda: (canonicalize_stage(
        entities.unionByName(extra_entities),
        base_triples(triples).unionByName(resolved),
        manifest=manifest),))
    return final


def run_pipeline(
    spark: SparkSession,
    src_df: DataFrame,
    workdir: str,
    resume: bool = False,
    root_repos: list[str] | None = None,
    write_nt: bool = True,
    manifest: DataFrame | None = None,
) -> PipelineResult:
    t0 = time.time()
    # every stage cache (split views, link barriers, canonicalize tables) is
    # dead once stage 3 lands as the triple table: the scope releases exactly
    # the caches this run created, leaving caller-owned ones alone
    with cache_scope(spark):
        s1_path = os.path.join(workdir, "stage1_extract")
        triples_path = os.path.join(workdir, "triple_table")
        nt_path = os.path.join(workdir, "triples_nt")
        lineage_path = os.path.join(workdir, "lineage")

        if root_repos:
            # P2 lazy pruning: only the import closure of the root repos is
            # extracted; unreferenced dependency repos cost nothing
            # downstream
            src_df = select_import_closure(src_df, root_repos)

        # ---- Stage 1: extract (resumable at repo granularity) -------------
        # the done-set comes from LINEAGE, not from the stage-1 parquet dir:
        # append-mode tasks commit individually, so a killed run leaves
        # partial repo data in the dir — lineage rows are written only after
        # the whole stage write succeeded, making them the safe resume marker
        done = None
        stage1_fresh = True
        if (resume and path_exists(spark, lineage_path)
                and path_exists(spark, s1_path)):
            done = (spark.read.parquet(lineage_path)
                    .filter((F.col("stage") == "extract")
                            & (F.col("status") == "ok"))
                    .select("repo").distinct())
            todo = src_df.join(done, "repo", "left_anti")
            # drop any partial output of repos that never reached lineage
            stale = (spark.read.parquet(s1_path).select("repo").distinct()
                     .join(done, "repo", "left_anti"))
            if not stale.isEmpty():
                kept = (spark.read.parquet(s1_path)
                        .join(done, "repo", "left_semi").localCheckpoint())
                kept.write.mode("overwrite").parquet(s1_path)
            # only against an earlier run's lineage can there be nothing
            # left to extract
            stage1_fresh = not todo.isEmpty()
        else:
            todo = src_df
        if stage1_fresh:
            out = extract_stage(todo)
            out.write.mode("append" if done is not None
                           else "overwrite").parquet(s1_path)
        extracted = spark.read.parquet(s1_path)

        rows_in = src_df.groupBy("repo").agg(F.count("*").alias("rows_in"))
        # per-partition triple-count metrics (north_star: "checkpoints
        # per-partition lineage and triple-count metrics")
        rows_out = (extracted
                    .groupBy("repo",
                             F.spark_partition_id().alias("partition_id"))
                    .agg(F.count("*").alias("rows_out")))
        _append_lineage(spark, lineage_path, "extract",
                        rows_out.join(rows_in, "repo", "left"))

        # ---- Stages 2-3 around the one build path: Stage 2 lands as
        # parquet checkpoints (resume + plan isolation), Stage 3 as the
        # triple table itself, each written once
        stage_paths = {
            "link": (os.path.join(workdir, "stage2_resolved"),
                     os.path.join(workdir, "stage2_entities")),
            "canonicalize": (triples_path,),
        }
        n_triples = None

        def land(stage, build):
            nonlocal n_triples
            paths = stage_paths[stage]
            # a landed stage is reusable on resume only when stage 1 added
            # nothing new (its inputs are then byte-identical to the prior
            # run)
            if (resume and not stage1_fresh
                    and all(path_exists(spark, p) for p in paths)
                    and not (spark.read.parquet(lineage_path)
                             .filter((F.col("stage") == stage)
                                     & (F.col("status") == "ok")).isEmpty())):
                return tuple(spark.read.parquet(p) for p in paths)
            for df, p in zip(build(), paths):
                if p == triples_path:
                    n_triples = write_triple_table(df, p)
                else:
                    df.write.mode("overwrite").parquet(p)
            frames = tuple(spark.read.parquet(p) for p in paths)
            _append_lineage(
                spark, lineage_path, stage,
                frames[0].groupBy("repo").agg(F.count("*").alias("rows_out"))
                .withColumn("rows_in", F.lit(None).cast("long")))
            return frames

        final = build_kg(extracted, manifest=manifest, land=land)

        # ---- Stage 4: the N-Triples sink over the landed table ------------
        if write_nt:
            write_ntriples(final, nt_path)
        if n_triples is None:
            # a resume reused the landed triple table: count what it holds
            n_triples = final.count()
    return PipelineResult(triples_path, nt_path if write_nt else None,
                          lineage_path, n_triples, time.time() - t0)
