"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; every setting here is one
that would carry over to a real cluster (AQE, skew join handling, Arrow
batching sized for large ``content`` blobs). Every session-level size
decision sits here: the three broadcast gates and the codegen cache, which
holds one whole build's generated classes so that a long-lived session
(test suite, resume loop, query runner) compiles a repeated build only once.
So does the Python worker daemon (:mod:`.worker_daemon`), which stops every
Python task from re-reading the zip archives on the workers' PYTHONPATH.
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

# Whole-stage codegen classes the session keeps compiled
# (spark.sql.codegen.cache.maxEntries, an LRU keyed by the generated source).
# One KG build compiles ~290-380 classes; Spark's default of 100 evicted each
# of them before the next build could reuse it, so every repeated build in a
# session recompiled ~335 classes (~3-4 s of a warm `tools/job_sites.py
# --corpus ml` build on a 4-vCPU box). At 2000 a repeated build compiles 0,
# with room for the SPARQL templates and the other plans of a test session.
# Static: it only takes effect when get_spark creates the SparkContext.
# Spark also names each whole-stage class after its codegen stage id, which
# AQE hands out in the order query stages finish, so the same stage could
# get a new id, and so a new class, in every build (14-60 per repeated
# fixture build). get_spark takes the id out of the class name
# (spark.sql.codegen.useIdInClassName; plans and explain output keep it),
# and identical stages of one build then share a class too (a first fixture
# build compiles 309 classes instead of 381).
_CODEGEN_CACHE_ENTRIES = 2000


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
    default to four per core (at least 16); AQE coalesces small shuffles.

    Static confs (heap, codegen cache size, worker daemon) apply only when
    this call creates the SparkContext. The tests, tools/, perfbench and
    bench.py start their sessions here; the spark-submit scripts in jobs/
    take the cluster's session, run one build per process and so never
    repeat a plan. A session built elsewhere keeps Spark's 100-entry codegen
    cache and recompiles every repeated build, and its Python workers
    re-read their zip archives in every task.

    The worker daemon is imported by module name, so the Python workers
    must find this package where they already find its UDF modules: the
    working directory the session started in, or PYTHONPATH.
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
        .config("spark.sql.codegen.cache.maxEntries",
                str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # fork the Python workers from worker_daemon: PySpark's own daemon
        # behind a zipimporter cache check (~150 ms less per Python task).
        # Named, not imported: imported here, it would load with the
        # package, before `python -m` runs it, which draws a RuntimeWarning
        .config("spark.python.daemon.module",
                "codeontologypython_spark.worker_daemon")
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
