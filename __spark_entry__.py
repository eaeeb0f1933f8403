"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash); ``tests/test_driver_parity.py`` runs
the same comparison locally.

Implementation lives in the root-level ``registry`` module, in
declaration order; see SURVEY.md section 2 for the operator inventory
each entry covers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's visits-by-day chart,
    README.md:75-86 analog: sign-ledger count + WITH TOTALS) on
    /root/testdata/sf0.001."""
    return registry.q_visits_by_day(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI oracles — as of round 8 EVERY registry
    entry has one (ann_ivf_topk gained a pinned-centroid closed-form
    oracle, so no rows-only entries remain)."""
    return registry.oracle_sql()
