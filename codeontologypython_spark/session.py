"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; every setting here is one
that would carry over to a real cluster (AQE, skew join handling, Arrow
batching sized for large ``content`` blobs).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# The three broadcast-vs-shuffle size gates, the only place they are set: the
# byte threshold Spark applies on its own and the two row gates below size
# the same broadcast budget — a side under them is shipped whole to every
# task.
_BROADCAST_JOIN_THRESHOLD_BYTES = 64 * 1024 * 1024
# symbol-table rows (~100 B/row ≈ the byte threshold): above this the
# resolution join in linking.link_stage switches from broadcast to a salted
# shuffle join with _AUTO_SALT buckets, which also defuses hub-symbol skew
_AUTO_BROADCAST_MAX_ROWS = 2_000_000
_AUTO_SALT = 16
# iri_map rows (~130 B/row -> ~500 MB hash relation): above this
# canonicalize.canonicalize_stage rewrites IRIs with shuffle joins
_IRI_BROADCAST_MAX_ROWS = 4_000_000


def _default_driver_memory() -> str:
    """About 40% of physical memory (MemTotal), in whole GiB: the local-mode
    JVM hosts the driver AND every executor, and the Python workers and page
    cache need the rest. A heap sized past physical memory is never
    collected before the kernel kills the JVM."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(total * 0.4) >> 30)}g"


def get_spark(
    cpus: int | None = None,
    app_name: str = "codeontologypython_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the core count — at cluster scale this would be set to
    2-3x total executor cores instead.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # several per core: the KG shuffles (dedup, IRI aggregation) move
        # multi-GB string payloads, and undersized shuffle partitions spill;
        # AQE coalesces small shuffles back down automatically
        shuffle_partitions = max(cpus * 4, 16)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # source rows carry whole files in `content`; keep Arrow batches small
        # enough that a batch of large files fits in worker memory
        # (SURVEY.md §7 hard-part 7)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # local mode: driver heap is the only memory knob; the extraction
        # stage keeps ~cpus concurrent ~100MB Arrow batches in flight, and an
        # undersized heap turns into kernel-side reclaim storms (measured
        # 31% system time at 16g / 32 cores)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(_BROADCAST_JOIN_THRESHOLD_BYTES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def cache_scope(spark: SparkSession):
    """Release every RDD persisted inside the block when it exits.

    Stage caches (the split views, canonicalize's entity / iri_map /
    literal-digest tables, loop barriers) are dead once the stage output has
    materialized; without a release, long-lived sessions (resume loops,
    query servers) accumulate one set of cached tables per build. RDDs
    persisted before the block (caller-owned caches) are left alone.

    The release set is read at exit: SQL InMemoryRelation buffers register
    their RDD ids lazily at first materialization, so the block's result
    must have materialized before it exits. ``keep(df)``, the context value,
    exempts a checkpointed DataFrame's own RDD (its lineage is truncated, so
    releasing it breaks every later use) and returns ``df``.
    """
    jsc = spark.sparkContext._jsc
    before = {r.id() for r in jsc.getPersistentRDDs().values()}
    kept: set[int] = set()

    def keep(df: DataFrame) -> DataFrame:
        kept.add(df._jdf.queryExecution().analyzed().rdd().id())
        return df

    try:
        yield keep
    finally:
        for r in jsc.getPersistentRDDs().values():
            if r.id() not in before and r.id() not in kept:
                r.unpersist(False)
