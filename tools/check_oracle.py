"""Rehearse the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
arity, and an order-insensitive value multiset.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Each line ends with the query's wall (Spark build plus collect), so naming
queries times them at any scale factor; this replaces per-scenario bench
scripts for the queries perfbench does not measure.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def norm_cell(v):
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def dtype_kind(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "O": "obj", "M": "ts", "S": "bytes"}.get(k, k)


def normalize(df_pandas):
    cols = sorted(df_pandas.columns)
    kinds = {c: dtype_kind(df_pandas[c].dtype) for c in cols}
    rows = sorted(tuple(norm_cell(v) for v in row)
                  for row in df_pandas[cols].itertuples(index=False, name=None))
    return cols, kinds, rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .appName("check_oracle")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows "
                  f"({time.time() - t0:.1f}s)")
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        sc, sk, sr = normalize(spark_pdf)
        oc, ok_, orr = normalize(oracle_pdf)
        ok_cols = [c.lower() for c in sc] == [c.lower() for c in oc]
        ok_kinds = all(sk[c] == ok_.get(c2, "?") for c, c2 in zip(sc, oc))
        ok_rows = sr == orr
        status = "OK   " if (ok_cols and ok_rows and ok_kinds) else "FAIL "
        print(f"{status} {name}: spark={len(sr)} oracle={len(orr)} rows, "
              f"cols {'match' if ok_cols else f'{sc} vs {oc}'}"
              f"{'' if ok_kinds else f' KINDS {sk} vs {ok_}'} "
              f"({time.time() - t0:.1f}s)")
        if not (ok_cols and ok_rows and ok_kinds):
            failures.append(name)
            # show first diffs
            sset, oset = set(sr), set(orr)
            for r in list(sset - oset)[:3]:
                print(f"      spark-only: {r}")
            for r in list(oset - sset)[:3]:
                print(f"      oracle-only: {r}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
