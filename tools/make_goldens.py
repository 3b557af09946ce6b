"""Regenerate the committed golden artifacts over the deterministic fixture
corpus. Run after any change that legitimately alters emitted triples, then
re-run pytest + tools/check_oracles.py.

Artifacts:

- ``tests/golden/fixtures.nt`` — canonical N-Triples; byte-comparable gate
  for tests/test_golden.py.
- ``tests/golden/kg_triples.parquet`` — the canonical triple TABLE as one
  sorted parquet file. The DuckDB oracles of the six kg_* queries
  (``__spark_entry__.oracle_sql()``) read it via ``read_parquet()``: the
  driver then hash-compares the LIVE Spark pipeline output against SQL over
  this committed golden — the pipeline is deterministic
  (tests/test_golden.py::test_golden_triples_deterministic), so any engine
  drift breaks the hash.

Usage: python tools/make_goldens.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codeontologypython_spark.corpus.fixtures import (
        project_manifest_df,
        source_files_df,
    )
    from codeontologypython_spark.operators.extract import extract_stage
    from codeontologypython_spark.plans.pipeline import build_kg
    from codeontologypython_spark.session import get_spark
    from codeontologypython_spark.sources.ntriples import to_ntriples

    spark = get_spark(app_name="make-goldens")
    out = extract_stage(source_files_df(spark)).localCheckpoint()
    final = build_kg(out, manifest=project_manifest_df(spark)
                     ).localCheckpoint()

    golden_dir = os.path.join(REPO, "tests", "golden")
    os.makedirs(golden_dir, exist_ok=True)

    nt_path = os.path.join(golden_dir, "fixtures.nt")
    lines = [r["value"] for r in to_ntriples(final).collect()]
    with open(nt_path, "w") as f:
        f.write("\n".join(lines) + "\n")

    rows = sorted(
        (r["subj"], r["pred"], r["obj"], bool(r["obj_is_literal"]))
        for r in final.select("subj", "pred", "obj",
                              "obj_is_literal").collect())
    table = pa.table({
        "subj": pa.array([r[0] for r in rows], pa.string()),
        "pred": pa.array([r[1] for r in rows], pa.string()),
        "obj": pa.array([r[2] for r in rows], pa.string()),
        "obj_is_literal": pa.array([r[3] for r in rows], pa.bool_()),
    })
    pq_path = os.path.join(golden_dir, "kg_triples.parquet")
    pq.write_table(table, pq_path)
    print(f"wrote {nt_path}: {len(lines)} lines")
    print(f"wrote {pq_path}: {len(rows)} triples")
    spark.stop()


if __name__ == "__main__":
    main()
