"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` but every default here
is chosen to also hold on a large multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Explicit shuffle partitioning (never rely on the 200 default).
- UTC session time zone (ClickHouse DateTime is second-precision UTC,
  reference ddl/hits.sql:8).
- ANSI off: the reference dialect (ClickHouse) returns type defaults /
  IEEE specials instead of raising (e.g. arr[0] -> '' default,
  README.md:103); query code additionally never relies on non-ANSI
  behavior for correctness.
- Arrow enabled for the few Pandas-UDF paths: similarity's
  ``pandas_udf`` kernels (sign-LSH signatures, the Arrow IVF form) and
  cdc's ``applyInPandasWithState`` latest-version stream.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session.

    Used both by :func:`get_spark` and by query functions that receive a
    session built elsewhere (the driver harness).
    """
    conf = {
        "spark.sql.session.timeZone": "UTC",
        # the driver's synthetic events.parquet carries TIMESTAMP(NANOS)
        # which Spark's vectorized reader rejects; read as long and let
        # the reader convert it (the test registry's ``t`` does)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # parquet scans: keep splits big enough to amortize task overhead
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build; defaults still sane
    return spark


def get_spark(
    app_name: str = "yc-metrica-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # whole-stage-codegen compile cache (STATIC conf -- only
        # settable at session build).  The default of 100 entries is
        # smaller than one pass over this engine's query registry
        # (~1,350 distinct codegen units for the 105 registry entries),
        # so a workload cycling the registry evicts everything and
        # re-pays janino compile + fresh-class JIT warmup for EVERY
        # query, EVERY pass.  Measured (r19 opt, alternated sessions,
        # 2 full registry cycles each): warm cycle 134.4/144.8 s at
        # the default vs 115.0/116.3 s at 5000 (~1,873 vs ~36
        # compiles/cycle).  Scale-independent: driver-side compiled
        # -code cache keyed by generated source, no data or results
        # cached; sized ~3.5x one registry pass for headroom.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    want = str(
        (extra_conf or {}).get("spark.sql.codegen.cache.maxEntries", "5000")
    )
    spark = builder.getOrCreate()
    # static confs are silently ignored when getOrCreate() returned a
    # pre-existing session; surface the one that matters for perf so a
    # mis-sized codegen cache is visible instead of a mystery slowdown
    # (r19 ADVICE)
    try:
        got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    except Exception:
        got = None
    if got is not None and got != want:
        import warnings

        warnings.warn(
            "get_spark: existing SparkSession kept "
            f"spark.sql.codegen.cache.maxEntries={got} (static conf; "
            f"requested {want}).  Registry-cycling workloads will re-pay "
            "whole-stage-codegen compiles every pass.",
            RuntimeWarning,
            stacklevel=2,
        )
    return tune(spark, shuffle_partitions)
