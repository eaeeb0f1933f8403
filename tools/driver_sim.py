"""Driver simulator: vanilla SparkSession + DuckDB oracle hash-compare,
exactly as the external harness does.  Usage:
    python tools/driver_sim.py [name ...]   # default: all queries

Run it from the repository root: the Python workers of the
mapInPandas stages resolve the package from the driver's cwd.
"""
from __future__ import annotations

import decimal
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", round(v, 9))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in idx) for r in rows),
        key=lambda t: str(t),
    )


def main(only: set[str]):
    from pyspark.sql import SparkSession

    import duckdb

    import __spark_entry__ as E

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    ent = E.entry(spark)
    n = ent.count()
    print(f"entry: {n} rows, schema={[f.name for f in ent.schema.fields]}")
    assert n >= 0

    qs = E.queries()
    oracles = E.oracle_sql()
    fails = []
    for name, build in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = build(spark, SF)
            cols = df.columns
            rows = df.collect()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            fails.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only {len(rows)} ({dt:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {ex}")
            fails.append(name)
            continue
        if sorted(cols) != sorted(ocols):
            print(f"FAIL {name}: schema {sorted(cols)} vs {sorted(ocols)}")
            fails.append(name)
            continue
        a, b = rowset(cols, rows), rowset(ocols, orows)
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            fails.append(name)
        elif a != b:
            bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print(f"  spark : {a[bad]}")
            print(f"  oracle: {b[bad]}")
            fails.append(name)
        else:
            print(f"ok   {name}: {len(a)} rows hash-eq ({dt:.1f}s)")
    print(f"\n{'FAILURES: ' + ', '.join(fails) if fails else 'ALL GREEN'}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(set(sys.argv[1:])))
