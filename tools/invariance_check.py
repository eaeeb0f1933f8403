"""Partition-invariance sweep: every deterministic (oracle-backed)
registry entry must produce the SAME rows under an adversarial
physical configuration — 5 shuffle partitions and 256 KB scan splits
instead of 32 / 128 MB — because different task boundaries change
block order, the classic source of silent order-dependence
(stray first()/any_value, limit-without-order, row_number without a
total order).  This is the local stand-in for "would a 1000-executor
cluster agree with local[32]".

Usage:
    python tools/invariance_check.py [name ...]   # from the repository root

Entries with ``oracle=None`` (probabilistic sketches, streaming
drains with engine-specific values) are skipped: their VALUES are
legitimately config-dependent; their semantics are pinned elsewhere.
Exit 0 = every checked entry invariant.
"""

from __future__ import annotations

import decimal
import math
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

# same convention as tests/test_partition_invariance.py
SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")


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


def rowset(df):
    cols = df.columns
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in idx) for r in df.collect()),
        key=lambda t: str(t),
    )


def main(only: set[str]) -> int:
    from pyspark.sql import SparkSession

    from yc_data_transfer_clickhouse_from_yandex_metrica_spark import session as sess
    import registry

    spark = SparkSession.builder.master("local[8]").getOrCreate()

    names = [
        n
        for n, spec in registry.QUERIES.items()
        if spec.oracle is not None and (not only or n in only)
    ]
    print(f"checking {len(names)} deterministic entries")

    baseline: dict[str, list] = {}
    for n in names:
        t0 = time.time()
        baseline[n] = rowset(registry.QUERIES[n].build(spark, SF))
        print(f"base {n}: {len(baseline[n])} rows ({time.time() - t0:.1f}s)")

    # adversarial conf: wrap tune via the registry's imported binding so
    # every builder's self-configuration lands on the tiny layout
    orig_tune = registry.tune

    def tiny_tune(s, shuffle_partitions=None):
        out = orig_tune(s, shuffle_partitions=5)
        out.conf.set("spark.sql.files.maxPartitionBytes", "262144")
        out.conf.set("spark.sql.files.openCostInBytes", "0")
        # disable partition coalescing so the 5-way shuffles stay 5-way
        out.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # tiny odd Arrow batches: the pandas_udf kernels (similarity's
        # sign-LSH signatures and Arrow IVF form) must be batch-shape
        # independent (they see many small frames instead of one big one)
        out.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        return out

    registry.tune = tiny_tune
    failures = []
    try:
        for n in names:
            t0 = time.time()
            got = rowset(registry.QUERIES[n].build(spark, SF))
            ok = got == baseline[n]
            print(
                f"{'ok  ' if ok else 'DIFF'} {n}: {len(got)} rows "
                f"({time.time() - t0:.1f}s)"
            )
            if not ok:
                failures.append(n)
                b, g = baseline[n], got
                only_b = [r for r in b if r not in g][:3]
                only_g = [r for r in g if r not in b][:3]
                print(f"  baseline-only: {only_b}")
                print(f"  adversarial-only: {only_g}")
    finally:
        registry.tune = orig_tune
        orig_tune(spark)  # restore the tune-owned conf keys
        spark.conf.unset("spark.sql.files.openCostInBytes")
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    if failures:
        print(f"\nNOT INVARIANT: {failures}")
        return 1
    print("\nALL INVARIANT")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(set(sys.argv[1:])))
