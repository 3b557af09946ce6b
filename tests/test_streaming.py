"""Incremental (Structured Streaming) extraction tests: two waves of files,
exactly-once per (repo, path, commit), re-delivery is a no-op."""

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from codeontologypython_spark.corpus.fixtures import FIXTURE_REPOS
from codeontologypython_spark.schemas import SOURCE_FILES
from codeontologypython_spark.streaming.incremental import (
    compact,
    start_incremental_extract,
)


def _rows(repo):
    import hashlib
    out = []
    for path, content in sorted(FIXTURE_REPOS[repo].items()):
        commit = "c" + hashlib.sha256(content.encode()).hexdigest()[:10]
        lang = "python" if path.endswith(".py") else "text"
        out.append((repo, path, commit, lang, content))
    return out


def test_incremental_two_waves(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    workdir = str(tmp_path / "wd")
    os.makedirs(src_dir)

    # wave 1
    spark.createDataFrame(_rows("fixtures/proj_basic"), SOURCE_FILES) \
        .write.mode("append").parquet(src_dir)
    q = start_incremental_extract(spark, src_dir, workdir)
    q.awaitTermination(120)

    ex1 = spark.read.parquet(os.path.join(workdir, "stream_extract"))
    n1 = ex1.count()
    assert n1 > 0
    repos1 = {r["repo"] for r in ex1.select("repo").distinct().collect()}
    assert repos1 == {"fixtures/proj_basic"}

    # wave 2: a new repo + a re-delivery of wave 1 (must be anti-joined away)
    spark.createDataFrame(
        _rows("fixtures/proj_classes") + _rows("fixtures/proj_basic"),
        SOURCE_FILES).write.mode("append").parquet(src_dir)
    q = start_incremental_extract(spark, src_dir, workdir)
    q.awaitTermination(120)

    ex2 = spark.read.parquet(os.path.join(workdir, "stream_extract"))
    repos2 = {r["repo"] for r in ex2.select("repo").distinct().collect()}
    assert repos2 == {"fixtures/proj_basic", "fixtures/proj_classes"}
    # proj_basic extracted exactly once despite re-delivery
    assert ex2.filter(F.col("repo") == "fixtures/proj_basic").count() == n1

    lineage = spark.read.parquet(os.path.join(workdir, "stream_lineage"))
    assert lineage.groupBy("repo", "path", "commit").count() \
        .filter(F.col("count") > 1).isEmpty()

    # compaction produces canonical triples incl. cross-file links
    final = compact(spark, workdir)
    ext = final.filter(
        F.col("pred") == "http://rdf.webofcode.org/woc/extends")
    assert ext.count() >= 2  # Dog->Animal, Puppy->Dog


def test_incremental_supersede_changed_file(spark, tmp_path):
    """A re-extracted CHANGED file (same repo/path, new commit) supersedes
    the old version at compaction: entity ids are repo|path|ordinal, so
    without the latest-per-(repo,path) restriction both versions' literals
    would survive dedup as a mixed-version graph."""
    src_dir = str(tmp_path / "incoming")
    workdir = str(tmp_path / "wd")
    os.makedirs(src_dir)

    v1 = [("r1", "m.py", "commit-aaa", "python", "X = 1\n")]
    spark.createDataFrame(v1, SOURCE_FILES).write.mode("append").parquet(src_dir)
    q = start_incremental_extract(spark, src_dir, workdir)
    q.awaitTermination(120)

    v2 = [("r1", "m.py", "commit-bbb", "python", "X = 2\nY = 3\n")]
    spark.createDataFrame(v2, SOURCE_FILES).write.mode("append").parquet(src_dir)
    q = start_incremental_extract(spark, src_dir, workdir)
    q.awaitTermination(120)

    final = compact(spark, workdir)
    src_lits = {r["obj"] for r in final.filter(
        (F.col("pred") == "http://rdf.webofcode.org/woc/hasSourceCode")
    ).collect()}
    assert "X = 2" in src_lits           # new version present
    assert "X = 1" not in src_lits       # stale version superseded
    assert "Y = 3" in src_lits
    # exactly one commit survives
    commits = {r["commit"] for r in final.select("commit").distinct().collect()}
    assert commits == {"commit-bbb"}


def test_unreadable_lineage_fails_the_drain(spark, tmp_path):
    """Only a MISSING lineage table means "first batch". A lineage table
    that exists but cannot be read must fail the drain: treating it as
    first-batch would re-extract and re-append every row (breaking
    exactly-once)."""
    src_dir = str(tmp_path / "incoming")
    workdir = str(tmp_path / "wd")
    os.makedirs(src_dir)
    spark.createDataFrame(_rows("fixtures/proj_basic"), SOURCE_FILES) \
        .write.mode("append").parquet(src_dir)
    lineage = os.path.join(workdir, "stream_lineage")
    os.makedirs(lineage)
    with open(os.path.join(lineage, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")

    q = start_incremental_extract(spark, src_dir, workdir)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert q.exception() is not None
    assert not os.path.exists(os.path.join(workdir, "stream_extract"))
