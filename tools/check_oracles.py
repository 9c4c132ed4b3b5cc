"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin on DuckDB
at the given sf dir, compares row count + sorted-by-name columns + values
(order-insensitive), prints one line per query.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import importlib
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].astype(str)
        elif str(df[col].dtype).startswith("float"):
            df[col] = df[col].round(9)
    rows = sorted(
        (
            tuple(
                "NULL" if (isinstance(v, float) and math.isnan(v)) or v is None else v
                for v in row
            )
            for row in df.itertuples(index=False, name=None)
        ),
        # mixed NULL-placeholder/float columns are unorderable as raw
        # values; repr gives a deterministic total order on both engines
        key=repr,
    )
    return rows


def main() -> int:
    import json
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    json_path = os.environ.get("CHECK_ORACLES_JSON")

    entry = importlib.import_module("__spark_entry__")
    from graby_spark.session import get_spark

    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failed = []
    results: dict[str, dict] = {}

    def record(name, *, rows_match, schema_match, hash_match, spark_rows, oracle_rows, err):
        results[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got_df = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:28s} spark error: {exc}")
            failed.append(name)
            record(name, rows_match=False, schema_match=False, hash_match=False,
                   spark_rows=None, oracle_rows=None, err=f"spark error: {exc}")
            continue
        elapsed = time.time() - t0
        try:
            exp_df = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:28s} oracle error: {exc}")
            failed.append(name)
            record(name, rows_match=False, schema_match=False, hash_match=False,
                   spark_rows=len(got_df), oracle_rows=None, err=f"oracle error: {exc}")
            continue
        schema_match = sorted(got_df.columns) == sorted(exp_df.columns)
        if len(got_df) != len(exp_df):
            print(f"FAIL  {name:28s} rowcount {len(got_df)} != {len(exp_df)}")
            failed.append(name)
            record(name, rows_match=False, schema_match=schema_match, hash_match=False,
                   spark_rows=len(got_df), oracle_rows=len(exp_df), err="rowcount mismatch")
            continue
        g, e = normalize(got_df), normalize(exp_df)
        if g != e:
            bad = next((i for i, (x, y) in enumerate(zip(g, e)) if x != y), None)
            print(f"FAIL  {name:28s} value mismatch at sorted row {bad}:")
            if bad is not None:
                print(f"      spark : {g[bad]}")
                print(f"      oracle: {e[bad]}")
            failed.append(name)
            record(name, rows_match=True, schema_match=schema_match, hash_match=False,
                   spark_rows=len(got_df), oracle_rows=len(exp_df),
                   err=f"value mismatch at sorted row {bad}")
            continue
        print(f"OK    {name:28s} rows={len(got_df):6d}  ({elapsed:.1f}s)")
        record(name, rows_match=True, schema_match=schema_match, hash_match=True,
               spark_rows=len(got_df), oracle_rows=len(exp_df), err=None)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if json_path:
        with open(json_path, "w", encoding="utf-8") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {json_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
