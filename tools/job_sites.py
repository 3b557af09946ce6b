"""Spark jobs and job wall per program call site, for one warm KG build.

    python tools/job_sites.py [--corpus fixtures|ml] [--sites N]

Runs ``plans.pipeline.run_pipeline`` twice over the chosen corpus in one
local session; the first build warms the JVM and the Python workers, the
second is measured. ``fixtures`` is the fixture corpus
(``corpus.fixtures``); ``ml`` is six files of the installed ``pyspark.ml``
(the Params/pipeline framework and the tree-model mixins).

Every Python -> JVM call of the measured build is timed and tagged with its
innermost frame in the program (``codeontologypython_spark/...:line``). The
session writes a Spark event log; after it stops, each job is attributed to
the call that was in progress when the job was submitted (jobs of AQE stages
and broadcasts are submitted inside the call that planned them), and its
wall is its completion minus its submission time. Prints one line per call
site, most jobs first, then the total, then jobs and job wall per program
module: the file of a site's innermost frame (a job submitted inside a
``relational.py`` primitive counts for ``relational.py``), with the
``sources/`` sinks taken together.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PKG = os.path.join(REPO, "codeontologypython_spark") + os.sep

ML_FILES = ("base.py", "common.py", "param/__init__.py", "pipeline.py",
            "tree.py", "wrapper.py")


def ml_rows() -> list[tuple]:
    import pyspark
    root = os.path.join(os.path.dirname(pyspark.__file__), "ml")
    rows = []
    for rel in ML_FILES:
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            content = fh.read()
        commit = hashlib.sha1(content.encode()).hexdigest()
        rows.append(("apache/spark", "pyspark/ml/" + rel, commit, "python",
                     content))
    return rows


class CallLog:
    """(start, end, site) of every Python -> JVM call while ``on``."""

    def __init__(self):
        self.calls: list[tuple[float, float, str]] = []
        self.on = False

    def install(self):
        from py4j.java_gateway import JavaMember
        inner = JavaMember.__call__
        log = self

        def call(member, *args):
            if not log.on:
                return inner(member, *args)
            t0 = time.time()
            try:
                return inner(member, *args)
            finally:
                log.calls.append((t0, time.time(), _site()))

        JavaMember.__call__ = call


def _site() -> str:
    """The innermost program frame; a frame in the generic primitives
    (``operators/relational.py``) is followed by its callers up to the
    first operator frame, so loop barriers name their loop."""
    parts = []
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename.startswith(PKG):
            rel = os.path.relpath(f.f_code.co_filename, PKG)
            parts.append(f"{rel}:{f.f_lineno} {f.f_code.co_name}")
            if rel != os.path.join("operators", "relational.py"):
                return " < ".join(parts)
        f = f.f_back
    return " < ".join(parts) or "(outside the program)"


def read_jobs(log_dir: str) -> list[tuple[float, float]]:
    """(submission, completion) epoch seconds of every job in the log."""
    (name,) = os.listdir(log_dir)
    start, end = {}, {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                e = json.loads(line)
                start[e["Job ID"]] = e["Submission Time"] / 1e3
            elif line.startswith('{"Event":"SparkListenerJobEnd"'):
                e = json.loads(line)
                end[e["Job ID"]] = e["Completion Time"] / 1e3
    return [(start[j], end.get(j, start[j])) for j in sorted(start)]


def attribute(jobs, calls, t0, t1) -> dict[str, list[float]]:
    """site -> [jobs, job wall s] for the jobs submitted in [t0, t1]; a job
    goes to the longest call whose window holds its submission (the event
    log's millisecond clock can put it on a neighbouring short call)."""
    out: dict[str, list[float]] = {}
    for sub, done in jobs:
        if not t0 <= sub <= t1:
            continue
        hits = [c for c in calls if c[0] - 1e-3 <= sub <= c[1] + 1e-3]
        site = (max(hits, key=lambda c: c[1] - c[0])[2] if hits
                else "(no call in progress)")
        agg = out.setdefault(site, [0, 0.0])
        agg[0] += 1
        agg[1] += done - sub
    return out


def by_module(sites: dict[str, list[float]]) -> dict[str, list[float]]:
    """module -> [jobs, job wall s], from the per-site totals."""
    out: dict[str, list[float]] = {}
    for site, (n, wall) in sites.items():
        mod = site.split(":", 1)[0]
        if mod.startswith("sources" + os.sep):
            mod = "sources" + os.sep
        agg = out.setdefault(mod, [0, 0.0])
        agg[0] += n
        agg[1] += wall
    return out


def _print_rows(totals: dict[str, list[float]], limit: int = 0) -> None:
    """One line per name, most jobs first; ``limit`` > 0 keeps the first."""
    rows = sorted(totals.items(), key=lambda kv: (-kv[1][0], kv[0]))
    for name, (n, wall) in rows[:limit or None]:
        print(f"{n:>5} {wall:>10.2f}  {name}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--corpus", choices=("fixtures", "ml"), default="ml")
    ap.add_argument("--sites", type=int, default=0,
                    help="print only the N sites with most jobs (0: all)")
    args = ap.parse_args(argv)

    from codeontologypython_spark.plans.pipeline import run_pipeline
    from codeontologypython_spark.schemas import SOURCE_FILES
    from codeontologypython_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="job_sites_")
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    try:
        spark = get_spark(app_name="job-sites", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        if args.corpus == "ml":
            src = spark.createDataFrame(ml_rows(), schema=SOURCE_FILES)
        else:
            from codeontologypython_spark.corpus.fixtures import (
                source_files_df,
            )
            src = source_files_df(spark)
        src = src.localCheckpoint()
        run_pipeline(spark, src, os.path.join(work, "warm"))
        calls = CallLog()
        calls.install()
        calls.on = True
        t0 = time.time()
        res = run_pipeline(spark, src, os.path.join(work, "measured"))
        t1 = time.time()
        calls.on = False
        spark.stop()

        sites = attribute(read_jobs(log_dir), calls.calls, t0, t1)
        print(f"{'jobs':>5} {'job wall s':>10}  call site")
        _print_rows(sites, args.sites)
        n_all = sum(v[0] for v in sites.values())
        wall_all = sum(v[1] for v in sites.values())
        print(f"{n_all:>5} {wall_all:>10.2f}  total "
              f"({res.n_triples} triples, build {t1 - t0:.1f} s)")
        print(f"\n{'jobs':>5} {'job wall s':>10}  program module")
        _print_rows(by_module(sites))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
