"""``FROM t FINAL`` and ``SAMPLE k`` compilation (round 10; r8 verdict
tasks 5-6).

With declared ``TableMeta`` the dialect compiles the read-time
clauses CH serves from DDL: FINAL onto operators/collapse.collapsed()
(the VersionedCollapsingMergeTree read collapse,
/root/reference/ddl/visits.sql:229-233) and SAMPLE onto a contiguous
modulo-range filter of the declared SAMPLE BY key
(/root/reference/ddl/hits.sql:119).  Without metadata both clauses
keep their refusals -- including the Spark parse trap where FINAL
would silently become a table alias.
"""

from __future__ import annotations

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.ddl import TABLE_DDL, VISITS_DDL
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql


@pytest.fixture(scope="module")
def ledger(spark):
    # visit 1: updated once (live v2); visit 2: deleted; visit 3: live
    return spark.createDataFrame(
        [
            (1, 1, 1, 10),
            (1, 1, -1, 10),
            (1, 2, 1, 30),
            (2, 1, 1, 5),
            (2, 1, -1, 5),
            (3, 1, 1, 7),
        ],
        "VisitID BIGINT, VisitVersion INT, Sign INT, dur BIGINT",
    )


META = {
    "visits": chsql.TableMeta(
        key=("VisitID",), version="VisitVersion", sign="Sign",
        sample_by="VisitID",
    )
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_final_collapses_to_live_latest(spark, ledger):
    df = chsql.run_sql(
        spark,
        "SELECT VisitID, dur FROM visits FINAL ORDER BY VisitID",
        {"visits": ledger},
        table_meta=META,
    )
    # deleted visit 2 gone; visit 1 at its v2 state
    assert _rows(df) == [(1, 30), (3, 7)]


def test_final_matches_sign_algebra(spark, ledger):
    live = chsql.run_sql(
        spark,
        "SELECT count(1) AS n FROM visits FINAL",
        {"visits": ledger},
        table_meta=META,
    ).collect()[0][0]
    sign = chsql.run_sql(
        spark,
        "SELECT sum(Sign) AS n FROM visits",
        {"visits": ledger},
        table_meta=META,
    ).collect()[0][0]
    assert live == sign == 2


def test_sample_fraction_filters_key_range(spark, ledger):
    df = chsql.run_sql(
        spark,
        "SELECT VisitID FROM visits SAMPLE 0.000002 ORDER BY VisitID",
        {"visits": ledger},
        table_meta=META,
    )
    # pmod(VisitID, 1e6) < 2: keeps only VisitID 1 (3 ledger rows)
    assert [r[0] for r in df.collect()] == [1, 1, 1]


def test_sample_is_monotone(spark, ledger):
    def ids(frac):
        df = chsql.run_sql(
            spark,
            f"SELECT VisitID FROM visits SAMPLE {frac}",
            {"visits": ledger},
            table_meta=META,
        )
        return {r[0] for r in df.collect()}

    small, big = ids("0.000002"), ids("0.000004")
    assert small <= big


def test_final_and_sample_compose(spark, ledger):
    df = chsql.run_sql(
        spark,
        "SELECT count(1) AS n FROM visits FINAL SAMPLE 1/2",
        {"visits": ledger},
        table_meta=META,
    )
    # sample keeps every VisitID (pmod < 5e5 covers 1..3), collapse -> 2
    assert df.collect()[0][0] == 2


def test_final_without_meta_still_refuses(spark, ledger):
    with pytest.raises(ValueError, match="FINAL collapses rows"):
        chsql.run_sql(spark, "SELECT 1 FROM visits FINAL", {"visits": ledger})


def test_sample_without_key_refuses(spark, ledger):
    meta = {"visits": chsql.TableMeta(key=("VisitID",), version="VisitVersion", sign="Sign")}
    with pytest.raises(ValueError, match="SAMPLE"):
        chsql.run_sql(
            spark, "SELECT 1 FROM visits SAMPLE 0.1", {"visits": ledger},
            table_meta=meta,
        )


def test_mixed_bare_and_decorated_reference_refuses(spark, ledger):
    for sql in [
        "SELECT a.VisitID FROM visits a, visits FINAL",
        "SELECT x.VisitID FROM visits x JOIN visits FINAL ON 1=1",
    ]:
        with pytest.raises(ValueError, match="with and without"):
            chsql.run_sql(spark, sql, {"visits": ledger}, table_meta=META)


def test_subquery_final_refuses_not_alias(spark, ledger):
    with pytest.raises(ValueError, match="FINAL"):
        chsql.run_sql(
            spark,
            "SELECT 1 FROM (SELECT * FROM visits) FINAL",
            {"visits": ledger},
            table_meta=META,
        )


def test_integer_sample_refuses(spark, ledger):
    with pytest.raises(ValueError, match="row-count"):
        chsql.run_sql(
            spark, "SELECT 1 FROM visits SAMPLE 10000", {"visits": ledger},
            table_meta=META,
        )


def test_sample_offset_shifts_the_slice(spark, ledger):
    # r12: SAMPLE k OFFSET m compiles to the [m*D, m*D + k*D) range.
    # pmod(VisitID, 1e6) in [2, 4) keeps VisitIDs 2 and 3
    df = chsql.run_sql(
        spark,
        "SELECT DISTINCT VisitID FROM visits "
        "SAMPLE 0.000002 OFFSET 0.000002 ORDER BY VisitID",
        {"visits": ledger},
        table_meta=META,
    )
    assert [r[0] for r in df.collect()] == [2, 3]


def test_sample_offset_partitions_the_space(spark, ledger):
    def ids(deco):
        df = chsql.run_sql(
            spark,
            f"SELECT VisitID FROM visits {deco}",
            {"visits": ledger},
            table_meta=META,
        )
        return sorted(r[0] for r in df.collect())

    lower, upper = ids("SAMPLE 1/2"), ids("SAMPLE 1/2 OFFSET 1/2")
    assert sorted(lower + upper) == ids("SAMPLE 1")
    assert not set(lower) & set(upper)


def test_sample_offset_clips_at_top(spark, ledger):
    # CH clips the slice at the end of the sample space
    df = chsql.run_sql(
        spark,
        "SELECT VisitID FROM visits SAMPLE 1/2 OFFSET 0.999999",
        {"visits": ledger},
        table_meta=META,
    )
    assert df.count() == 0  # [999999, 1e6) misses VisitIDs 1..3


def test_sample_offset_out_of_range_refuses(spark, ledger):
    with pytest.raises(ValueError, match=r"OFFSET.*\[0, 1\)"):
        chsql.run_sql(
            spark,
            "SELECT 1 FROM visits SAMPLE 0.1 OFFSET 1.5",
            {"visits": ledger},
            table_meta=META,
        )


def test_sample_filter_reaches_parquet_scan(spark):
    """The compiled SAMPLE predicate must be a scan-level DataFilter
    (pushdown-able at 100 TB), not a post-scan Filter only."""
    import registry as d

    df = d.q_chsql_sample(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan and "pmod(l_orderkey" in scan[0], scan
    assert plan.count("Exchange") <= 1  # the groupBy only


def test_sample_offset_filter_reaches_parquet_scan(spark):
    """Both conjuncts of the OFFSET slice must reach the scan as
    DataFilters -- the pushdown a shifted 100 TB SAMPLE needs."""
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = chsql.run_sql(
        spark,
        "SELECT count(1) AS n FROM li SAMPLE 1/4 OFFSET 1/2",
        {"li": li},
        table_meta={"li": chsql.TableMeta(sample_by="l_orderkey")},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan, plan
    assert scan[0].count("pmod(l_orderkey") >= 2, scan  # lo AND hi


# ---------------------------------------------------------------------------
# TableMeta from ClickHouse DDL (the declarations CH itself reads)
# ---------------------------------------------------------------------------


def test_table_meta_from_reference_visits_ddl():
    m = chsql.table_meta_from_ddl(VISITS_DDL)
    assert m == chsql.TableMeta(
        key=("CounterID", "StartDate", "CounterUserIDHash", "VisitID"),
        version="VisitVersion",
        sign="Sign",
        sample_by="CounterUserIDHash",
    )


def test_table_meta_from_real_reference_files():
    for name, want_version in (("visits", "VisitVersion"), ("hits", None)):
        m = chsql.table_meta_from_ddl(TABLE_DDL[name])
        assert m.sample_by == "CounterUserIDHash"
        assert m.version == want_version
        assert m.key[0] == "CounterID"


def test_table_meta_engine_without_version_keeps_final_refused(spark, ledger):
    ddl = "CREATE TABLE t (x Int8) ENGINE = ReplicatedMergeTree('/p','{replica}') ORDER BY (VisitID) SAMPLE BY VisitID"
    m = chsql.table_meta_from_ddl(ddl)
    assert m.sign is None and m.sample_by == "VisitID"
    with pytest.raises(ValueError, match="FINAL"):
        chsql.run_sql(
            spark, "SELECT 1 FROM visits FINAL", {"visits": ledger},
            table_meta={"visits": m},
        )
    # SAMPLE still compiles from the same parsed meta
    df = chsql.run_sql(
        spark, "SELECT count(1) AS n FROM visits SAMPLE 1/2",
        {"visits": ledger}, table_meta={"visits": m},
    )
    assert df.collect()[0][0] == 6


def test_table_meta_expression_order_by_clears_key():
    ddl = "CREATE TABLE t (x Int8) ENGINE = VersionedCollapsingMergeTree(Sign, Ver) ORDER BY (a, intHash32(b))"
    m = chsql.table_meta_from_ddl(ddl)
    assert m.key == () and m.sign == "Sign" and m.version == "Ver"


def test_ddl_meta_drives_final_end_to_end(spark, ledger):
    ddl = """CREATE TABLE visits (v UInt64)
    ENGINE = VersionedCollapsingMergeTree(Sign, VisitVersion)
    ORDER BY (VisitID) SAMPLE BY VisitID"""
    df = chsql.run_sql(
        spark,
        "SELECT VisitID, dur FROM visits FINAL ORDER BY VisitID",
        {"visits": ledger},
        table_meta={"visits": chsql.table_meta_from_ddl(ddl)},
    )
    assert _rows(df) == [(1, 30), (3, 7)]
