"""End-to-end corpus curation: the composition every training-data
pipeline actually runs, built from this package's oracle-backed pieces —

    quality gate  ->  exact dedup  ->  decontamination  ->  source mixing

Each stage is independently verified (q_token_stats / q_dedup_exact /
q_decontaminate / q_weighted_mix oracles); this module wires them in the
conventional order (cheap row-local filters first, corpus-wide shuffles
last, so every shuffle sees an already-shrunk stream) and reports
per-stage row counts — the survivorship audit curation reports track.

Scale notes: the quality gate is expression-only (no shuffle); exact dedup
shuffles 32-char md5 keys; decontamination broadcasts the benchmark
shingle set and shuffles only (doc, count) rows; mixing is a broadcast
join + expression filter. Nothing here adds a shuffle beyond the
documented per-stage ones. The survivorship counts are collected with
``DataFrame.observe`` accumulators, so they ride the ONE action that
materializes the curated result — zero extra corpus passes (the round-3
version ran a separate ``.count()`` job per stage, 4-5 full pipeline
re-executions at scale). Observed nodes whose subtree appears twice in
the final plan (exact dedup's rep/size branches, decontamination's
probe/anti-join branches) still accumulate once per row — Spark
deduplicates CollectMetrics accumulation per query execution;
``test_curate_counts_single_action`` pins that behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from codeontologypython_spark.functions.dedup import decontaminate, exact_dedup
from codeontologypython_spark.functions.sampling import weighted_sample
from codeontologypython_spark.functions.textops import (
    lang_id,
    quality_score,
    repetition_ratio,
)


class CurationAudit:
    """Per-stage survivorship counts, observation-backed.

    ``counts()`` is valid once the curated DataFrame has been materialized
    by any action (write/collect/count); it returns instantly from the
    accumulated metrics and launches no Spark jobs. Calling it before any
    action blocks until one runs (pyspark ``Observation.get`` semantics).
    """

    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}

    def _attach(self, name: str, df: DataFrame) -> DataFrame:
        ob = Observation(f"curate_{name}")
        self._obs[name] = ob
        return df.observe(ob, F.count(F.lit(1)).alias("rows"))

    def counts(self) -> dict[str, int]:
        return {name: ob.get["rows"] for name, ob in self._obs.items()}


def curate(docs: DataFrame, benchmark: DataFrame | None = None,
           weights: DataFrame | None = None, *, lang: str = "en",
           min_quality: int = 2, max_repetition: float = 0.5,
           min_shared_shingles: int = 3) -> tuple[DataFrame, CurationAudit]:
    """Returns (curated_docs, audit). ``benchmark`` (optional) is the
    eval-set table to decontaminate against; ``weights`` (optional) is the
    (source, fraction) mixing table for ``weighted_sample``. The audit's
    stage counts accumulate inside the single action that materializes
    ``curated_docs`` — read them with ``audit.counts()`` afterwards."""
    text = F.col("text")
    audit = CurationAudit()
    docs = audit._attach("input", docs)

    gated = docs.filter(
        (lang_id(text) == lang)
        & (quality_score(text) >= min_quality)
        & (F.coalesce(repetition_ratio(text), F.lit(0.0)) <= max_repetition))
    gated = audit._attach("quality_gate", gated)

    deduped = exact_dedup(gated).drop("content_md5", "dup_count")
    deduped = audit._attach("exact_dedup", deduped)

    if benchmark is not None:
        contaminated = decontaminate(deduped, benchmark,
                                     min_shared=min_shared_shingles)
        deduped = deduped.join(contaminated.select("doc_id"), "doc_id",
                               "left_anti")
        deduped = audit._attach("decontaminated", deduped)

    if weights is not None:
        deduped = weighted_sample(deduped, weights)
        deduped = audit._attach("mixed", deduped)

    return deduped, audit
