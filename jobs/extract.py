"""spark-submit entry point: full KG-construction pipeline over a
source_files parquet table (the north_star ships via
``spark-submit --py-files engine.zip jobs/extract.py --src ... --out ...``).

Example:
    python tools/make_pyfiles.py dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/extract.py \
        --src /data/source_files --out /data/kg --nt
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--src", required=True,
                   help="parquet dir with (repo, path, commit, lang, content)")
    p.add_argument("--out", required=True, help="pipeline work/output dir")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--nt", action="store_true", help="also write N-Triples text")
    p.add_argument("--roots", default=None,
                   help="comma-separated root repos for import-closure pruning")
    p.add_argument("--manifest", default=None,
                   help="parquet dir with (repo, library, is_by_project): "
                        "libraries marked is_by_project=false lose their "
                        "hasProject/hasDependency links (reference "
                        "is_by_project classification)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from codeontologypython_spark.plans.pipeline import run_pipeline

    spark = SparkSession.builder.appName("kg-extract").getOrCreate()
    src = spark.read.parquet(args.src)
    res = run_pipeline(
        spark, src, args.out,
        resume=args.resume,
        root_repos=args.roots.split(",") if args.roots else None,
        write_nt=args.nt,
        manifest=(spark.read.parquet(args.manifest)
                  if args.manifest else None))
    print(json.dumps({
        "triples": res.n_triples,
        "seconds": round(res.seconds, 2),
        "triples_path": res.triples_path,
        "nt_path": res.nt_path,
        "lineage_path": res.lineage_path,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
