"""r19 optimization: the codegen compile-cache must outsize the registry.

``spark.sql.codegen.cache.maxEntries`` is a STATIC conf (only settable
at session build).  The Spark default of 100 entries is smaller than
ONE pass over this engine's registry (~1,350 distinct whole-stage
codegen units across the 105 entries it held when measured; 100
now), so any workload that cycles the
registry — the bench, the driver's correctness sweep, a production
dashboard mix — evicts the entire cache every pass and re-pays janino
compile plus fresh-class JIT warmup for every query every time.
Measured (alternated sessions, two full registry cycles each): warm
cycle 134.4/144.8 s at the default vs 115.0/116.3 s at 5000, with
~1,873 vs ~36 compiles per cycle.

This pins the conf at the session factory so the regression cannot
sneak back via a builder refactor.
"""

from __future__ import annotations

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.session import tune


def test_codegen_cache_outsizes_registry(spark):
    # the shared test session is built by get_spark, so the static
    # conf must be visible on it
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 5000


def test_tune_preserves_codegen_cache(spark):
    # tune() is re-applied by every query builder (_prep); it must not
    # try to downgrade the static conf (static confs are not
    # runtime-settable -- a set attempt would raise inside tune's
    # guarded loop and silently no-op, but assert the end state anyway).
    # Restore the session fixture's shuffle partitioning afterwards:
    # tune() without shuffle_partitions resets it to the
    # SPARK_GRAFT_CPUS default, a side effect later tests must not
    # inherit (r19 ADVICE).
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        tune(spark)
        assert (
            int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 5000
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


_FRESH_OVERRIDE = """
import warnings
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.session import get_spark

conf = {"spark.sql.codegen.cache.maxEntries": "200"}
with warnings.catch_warnings(record=True) as fresh:
    warnings.simplefilter("always")
    s = get_spark(master="local[1]", shuffle_partitions=1, extra_conf=conf)
assert s.conf.get("spark.sql.codegen.cache.maxEntries") == "200"
assert not [w for w in fresh if w.category is RuntimeWarning], fresh
# reusing that session while asking for the default must still warn
with warnings.catch_warnings(record=True) as reused:
    warnings.simplefilter("always")
    get_spark(master="local[1]", shuffle_partitions=1)
msgs = [str(w.message) for w in reused if w.category is RuntimeWarning]
assert len(msgs) == 1 and "requested 5000" in msgs[0], msgs
s.stop()
"""


def test_codegen_cache_warning_follows_the_requested_value():
    # a static conf needs a fresh JVM session: the suite's own session
    # already exists, so the check runs in a child interpreter
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m")
    res = subprocess.run(
        [sys.executable, "-c", _FRESH_OVERRIDE],
        cwd=root, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
