"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash (values stringified with
repr-stable formatting, rows sorted)."""

from __future__ import annotations

import hashlib
import math
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry_mod  # noqa: E402

from codeontologypython_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(rows)} rows, cols={cols} "
                  f"({el:.1f}s)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        ok_count = len(rows) == len(orows)
        ok_cols = sorted(cols) == sorted(ocols)
        ok_hash = (table_hash(rows, cols) == table_hash(orows, ocols)
                   if ok_cols else False)
        status = "OK  " if (ok_count and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status} {name}: rows {len(rows)}/{len(orows)} "
              f"cols={'=' if ok_cols else f'{sorted(cols)} vs {sorted(ocols)}'} "
              f"hash={'=' if ok_hash else '!'} ({el:.1f}s)")
        if status == "FAIL" and ok_cols and len(rows) < 50 and len(orows) < 50:
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            sp = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
            oo = sorted("|".join(norm_val(r[i]) for i in order) for r in orows)
            for a, b in zip(sp[:5], oo[:5]):
                if a != b:
                    print("   spark :", a)
                    print("   oracle:", b)
    print("FAILURES:", failures or "none")


if __name__ == "__main__":
    main()
