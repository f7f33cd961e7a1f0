"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares against
oracle_sql() via DuckDB: row count, schema arity, and an order-insensitive
value hash over columns sorted by name (floats canonicalized).

Besides the console report it writes CORRECTNESS_local.json: per query
{rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}, the
shape of the committed CORRECTNESS_r*.json files. Queries without an
oracle get null match keys and err "no_oracle".
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from data_prepper_spark.session import get_spark

SF_DIR = os.environ.get("DPS_ORACLE_SF_DIR", "/root/testdata/sf0.01")
OUT_JSON = "CORRECTNESS_local.json"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def record(spark_rows=None, oracle_rows=None, ok_cols=None, ok_hash=None, err=None) -> dict:
    """One query's CORRECTNESS_*.json entry; match keys stay null unless
    both sides produced rows."""
    both = spark_rows is not None and oracle_rows is not None
    return {
        "rows_match": spark_rows == oracle_rows if both else None,
        "schema_match": ok_cols,
        "hash_match": ok_hash,
        "spark_rows": spark_rows,
        "oracle_rows": oracle_rows,
        "err": err,
    }


def main() -> int:
    spark = get_spark("check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = sys.argv[1:] or list(qs)
    failed = []
    results: dict[str, dict] = {}
    for name in only:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            results[name] = record(err=f"spark: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows in {dt:.1f}s")
            results[name] = record(spark_rows=len(srows), err="no_oracle")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            results[name] = record(spark_rows=len(srows), err=f"duckdb: {e}")
            continue
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_hash = ok_cols and value_hash(scols, srows) == value_hash(dcols, drows)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        results[name] = record(len(srows), len(drows), ok_cols, ok_hash)
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} cols_match={ok_cols} "
            f"hash_match={ok_hash} ({dt:.1f}s)"
        )
        if status == "FAIL":
            failed.append(name)
            if ok_cols and srows and drows:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {"|".join(canon(r[i]) for i in order) for r in srows}
                dset = {"|".join(canon(r[i]) for i in order) for r in drows}
                print("  cols:", [scols[i] for i in order])
                print("  spark-only:", sorted(sset - dset)[:3])
                print("  duck-only :", sorted(dset - sset)[:3])
            elif not ok_cols:
                print("  spark cols:", sorted(scols), " duck cols:", sorted(dcols))
    spark.stop()
    with open(OUT_JSON, "w") as f:
        json.dump(results, f, indent=2)
        f.write("\n")
    print("FAILED:" if failed else "ALL OK", failed)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
