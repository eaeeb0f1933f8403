#!/usr/bin/env python
"""Scale probe (r20 verdict task #2): time registry entries at an
arbitrary data dir / core count (noop sink, interleaved passes,
medians).  Not part of the benchmark (perfbench/); this exists to
measure ABOVE the sf0.1
fixture (the 8-core driver run beats 32-core there, so local deltas
under ~0.5 s carry no scale signal).

Usage:
  SPARK_GRAFT_CPUS=32 python tools/probe_sf1.py /root/sf1probe \
      [entry ...]            # default: the verdict's top-8 list
Env: PROBE_RUNS (default 2), PROBE_OUT (json path).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOP8 = [
    "json_funcs",
    "chsql_summap",
    "bigram_lm_score",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_keep_best",
    "streaming_neardup",
]

if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/sf1probe"
    names = sys.argv[2:] or TOP8
    runs = int(os.environ.get("PROBE_RUNS", "2"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from registry import QUERIES
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.session import get_spark

    spark = get_spark(
        app_name=f"probe-sf1-c{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id % 7)").write.mode(
        "overwrite"
    ).format("noop").save()

    def release_storage() -> None:
        try:
            jsc = spark.sparkContext._jsc.sc()
            it = jsc.getPersistentRDDs().values().iterator()
            while it.hasNext():
                it.next().unpersist(False)
        except Exception:
            pass

    rec: dict[str, list[float]] = {n: [] for n in names}
    errs: dict[str, str] = {}
    for p in range(runs):
        for name in names:
            if name in errs:
                continue
            spark.sparkContext.setJobDescription(f"probe:{name}:pass{p}")
            t0 = time.perf_counter()
            try:
                df = QUERIES[name].build(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001 - a probe-data shape
                # mismatch (e.g. single-file layout assumptions) must
                # not void the other entries' measurements
                errs[name] = f"{type(e).__name__}: {e}"[:200]
                print(f"  pass{p} {name}: ERROR {errs[name]}",
                      file=sys.stderr, flush=True)
                release_storage()
                continue
            dt = round(time.perf_counter() - t0, 3)
            rec[name].append(dt)
            release_storage()
            print(f"  pass{p} {name}: {dt:.3f}s", file=sys.stderr, flush=True)
    rec = {n: v for n, v in rec.items() if v}

    med = {n: round(statistics.median(v), 3) for n, v in rec.items()}
    out = {"sf_dir": sf_dir, "cpus": cpus, "runs": runs, "medians": med, "raw": rec, "errors": errs}
    print(json.dumps(out, indent=1))
    path = os.environ.get("PROBE_OUT")
    if path:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
