"""Date bounds on a week-partitioned table become ``_week`` partition
bounds (plans/chsql ``_week_bounds``), and FINAL on such a table
collapses within the week (ClickHouse's VersionedCollapsingMergeTree
collapses only within a partition).

- The rewrite matrix is checked without Spark: the exact text for each
  bound form, and row equivalence of the original and the rewritten
  predicate in DuckDB over every day of six weeks plus NULL dates.
- On ``warehouse.read_table`` frames: the same rows as the unmarked
  read, the plan (``_week`` PartitionFilters, no date ``Filter`` for an
  aligned interval) and the codegen (a second aligned interval compiles
  nothing new).
"""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries import metrica
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import warehouse

MARKED = {"__chsql_t0": "d"}
ONE = "FROM __chsql_t0"

# (WHERE body, the rewritten body); 2024-01-08 and 2024-01-15 are Mondays
REWRITTEN = [
    # week-aligned bounds: replaced by the exact _week bound
    ("d >= DATE '2024-01-08'", "_week >= DATE '2024-01-08'"),
    ("d > DATE '2024-01-07'", "_week >= DATE '2024-01-08'"),
    ("d <= DATE '2024-01-14'", "_week <= DATE '2024-01-08'"),
    ("d < DATE '2024-01-15'", "_week <= DATE '2024-01-08'"),
    ("d BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'",
     "_week BETWEEN DATE '2024-01-08' AND DATE '2024-01-15'"),
    ("DATE '2024-01-08' <= d", "_week >= DATE '2024-01-08'"),
    ("d >= CAST('2024-01-08' AS DATE)", "_week >= DATE '2024-01-08'"),
    ("d >= toDate('2024-01-08')", "_week >= DATE '2024-01-08'"),
    # the visits chart's spelling after alias inlining
    ("(d) >= DATE '2024-01-08' and (d) <= DATE '2024-01-21' ",
     "_week >= DATE '2024-01-08' and _week <= DATE '2024-01-15' "),
    # conjunctions in parentheses are still top-level conjuncts
    ("(d >= DATE '2024-01-08' AND k = 1) AND (d <= DATE '2024-01-14')",
     "(_week >= DATE '2024-01-08' AND k = 1) AND _week <= DATE '2024-01-08'"),
    # other bounds keep the predicate and gain the implied _week bound
    ("d >= DATE '2024-01-10'", "_week >= DATE '2024-01-08' AND d >= DATE '2024-01-10'"),
    ("d > DATE '2024-01-08'", "_week >= DATE '2024-01-08' AND d > DATE '2024-01-08'"),
    ("d <= DATE '2024-01-13'", "_week <= DATE '2024-01-08' AND d <= DATE '2024-01-13'"),
    ("d < DATE '2024-01-14'", "_week <= DATE '2024-01-08' AND d < DATE '2024-01-14'"),
    ("d BETWEEN DATE '2024-01-09' AND DATE '2024-01-21'",
     "_week BETWEEN DATE '2024-01-08' AND DATE '2024-01-15' AND "
     "d BETWEEN DATE '2024-01-09' AND DATE '2024-01-21'"),
    ("d = CAST('2024-01-10' AS DATE)",
     "_week = DATE '2024-01-08' AND d = CAST('2024-01-10' AS DATE)"),
    ("k = 2 AND d == DATE '2024-01-14'",
     "k = 2 AND _week = DATE '2024-01-08' AND d == DATE '2024-01-14'"),
]

UNCHANGED = [
    "d >= DATE '2024-01-08' OR d <= DATE '2024-01-01'",
    "(d >= DATE '2024-01-08' AND k = 1) OR k = 2",
    "NOT d >= DATE '2024-01-08'",
    "d <> DATE '2024-01-08'",
    "d NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'",
    "d >= DATE '2024-01-08' + INTERVAL 1 DAY",
    "d >= TIMESTAMP '2024-01-08 00:00:00'",
    "e >= DATE '2024-01-08'",
    "CASE WHEN k = 1 AND d >= DATE '2024-01-08' THEN 1 END = 1",
]


@pytest.mark.parametrize("body,want", REWRITTEN)
def test_bound_forms_rewrite(body, want):
    assert chsql._week_bounds(body, ONE, MARKED) == want


@pytest.mark.parametrize("body", UNCHANGED)
def test_other_predicates_stay(body):
    assert chsql._week_bounds(body, ONE, MARKED) == body


@pytest.mark.parametrize(
    "frm,body,want",
    [
        # an unmarked frame
        ("FROM __chsql_t1", "d >= DATE '2024-01-08'", None),
        # another table's same-named column (the federated chart's
        # shape), and any column of a join
        ("FROM __chsql_t1 f JOIN __chsql_t0 g ON f.k = g.k",
         "f.d >= DATE '2024-01-08' AND d >= DATE '2024-01-08' AND g.d <= DATE '2024-01-14'",
         None),
        ("FROM __chsql_t0 t", "t.d >= DATE '2024-01-08' AND s.d >= DATE '2024-01-08'",
         "t._week >= DATE '2024-01-08' AND s.d >= DATE '2024-01-08'"),
        ("from __chsql_t0 as `default.visits_all`", "`default.visits_all`.d >= DATE '2024-01-08'",
         "`default.visits_all`._week >= DATE '2024-01-08'"),
        # the ARRAY JOIN hoist passes d and _week through
        ("FROM (SELECT *, explode(a) AS x FROM __chsql_t0)", "d >= DATE '2024-01-08'",
         "_week >= DATE '2024-01-08'"),
        # ... unless it replaces one of them
        ("FROM (SELECT * EXCEPT (d), explode(a) AS d FROM __chsql_t0)",
         "d >= DATE '2024-01-08'", None),
        ("FROM (SELECT k FROM __chsql_t0)", "d >= DATE '2024-01-08'", None),
    ],
)
def test_only_the_marked_tables_date_column_binds(frm, body, want):
    assert chsql._week_bounds(body, frm, MARKED) == (body if want is None else want)


def test_rewrite_keeps_rows_over_six_weeks_and_null_dates():
    """Every rewritten body selects the same rows as the original over
    each day of six weeks (2023-12-25 .. 2024-02-04) plus NULL dates."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT CAST(d AS DATE) AS d, k, "
        "CAST(date_trunc('week', d) AS DATE) AS _week FROM ("
        "SELECT DATE '2023-12-25' + INTERVAL (i) DAY AS d, i % 3 AS k FROM range(42) r(i) "
        "UNION ALL SELECT NULL, k FROM range(3) r(k))"
    )
    for body, want in REWRITTEN:
        if "toDate" in body:
            continue  # a CH spelling DuckDB does not parse; the text is pinned above
        got = con.execute(f"SELECT d, k FROM t WHERE {want} ORDER BY ALL").fetchall()
        ref = con.execute(f"SELECT d, k FROM t WHERE {body} ORDER BY ALL").fetchall()
        assert got == ref, body
        assert ref, body
    con.close()


# ---------------------------------------------------------------------------
# on warehouse frames
# ---------------------------------------------------------------------------
START = dt.date(2024, 1, 1)  # a Monday


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """3 weeks of days, two rows a day, and NULL-date rows."""
    rows = [(i, START + dt.timedelta(days=i // 2), i % 3) for i in range(42)]
    rows += [(100 + i, None, i) for i in range(3)]
    path = str(tmp_path_factory.mktemp("week_bounds") / "t")
    warehouse.write_table(
        spark.createDataFrame(rows, "id BIGINT, d DATE, k INT"), path,
        warehouse.TableLayout("d", ["id"]), cleanup="truncate",
    )
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_table_marks_the_week_column(spark, table):
    df = warehouse.read_table(spark, table)
    assert warehouse.week_of(df.schema) == "d"
    assert warehouse.week_of(spark.read.parquet(table).schema) is None
    # a frame that replaces the date column or _week loses the mark
    assert warehouse.week_of(df.withColumn("d", F.date_add("d", 1)).schema) is None
    assert warehouse.week_of(df.withColumn("_week", F.col("d")).schema) is None


@pytest.mark.parametrize("body", [b for b, _ in REWRITTEN] + UNCHANGED[:3])
def test_marked_read_returns_the_unmarked_rows(spark, table, body):
    sql = f"SELECT id, d, k FROM t WHERE {body}"
    got = chsql.run_sql(spark, sql, {"t": warehouse.read_table(spark, table)})
    ref = chsql.run_sql(spark, sql, {"t": spark.read.parquet(table)})
    assert _rows(got) == _rows(ref)


def _plan(df) -> tuple[list[str], list[str]]:
    """(partition filters of the file scans, conditions of the Filter
    nodes) of the executed plan."""
    scans, filters = [], []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            scans.append(node.partitionFilters().toString())
        elif name == "FilterExec":
            filters.append(node.condition().toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return scans, filters


CHART = """SELECT k, count(1) AS c FROM t
WHERE d >= {{a}} AND d <= {{b}} GROUP BY k ORDER BY k"""


def _chart(spark, path, a, b):
    df = chsql.run_sql(
        spark, CHART, {"t": warehouse.read_table(spark, path)},
        {"a": f"DATE '{a}'", "b": f"DATE '{b}'"},
    )
    df.collect()
    return df


def test_aligned_interval_is_a_partition_filter_only(spark, table):
    scans, filters = _plan(_chart(spark, table, "2024-01-08", "2024-01-14"))
    assert len(scans) == 1 and "_week" in scans[0] and "2024-01-08" in scans[0]
    assert not any(re.search(r"\bd#", f) for f in filters), filters


def test_unaligned_interval_keeps_the_date_filter(spark, table):
    scans, filters = _plan(_chart(spark, table, "2024-01-09", "2024-01-14"))
    assert len(scans) == 1 and "_week" in scans[0]
    assert any(re.search(r"\bd#", f) and "2024-01-09" in f for f in filters), filters


def test_second_aligned_interval_compiles_no_code(spark, table):
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    _chart(spark, table, "2024-01-01", "2024-01-07")
    before = codegen.compileTime()
    _chart(spark, table, "2024-01-08", "2024-01-21")
    assert codegen.compileTime() == before


def test_dotted_view_keeps_the_week_mark(spark, tmp_path):
    path = str(tmp_path / "visits")
    visits = spark.createDataFrame(
        [(1, START, [(2, "google")])],
        "VisitID BIGINT, StartDate DATE, TrafficSource ARRAY<STRUCT<Model: INT, UTMSource: STRING>>",
    )
    warehouse.write_table(visits, path, warehouse.TableLayout("StartDate"), cleanup="truncate")
    view = metrica.dotted_nested_view(warehouse.read_table(spark, path))
    assert view.columns == [
        "VisitID", "StartDate", "_week", "TrafficSource.Model", "TrafficSource.UTMSource",
    ]
    assert warehouse.week_of(view.schema) == "StartDate"


# ---------------------------------------------------------------------------
# FINAL collapses within the week
# ---------------------------------------------------------------------------
# visit 1's v1 state is on Sunday 2024-01-14 and its v2 state on Monday
# 2024-01-15, with v1's cancel row written in v2's week (a cancel that
# reached another partition): ClickHouse collapses each partition on
# its own, so week 2024-01-08 still holds v1 live.  Visit 2 straddles
# the same boundary with its cancel in v1's week and collapses fully.
LEDGER = [
    # VisitID, VisitVersion, Sign, StartDate, PageViews
    (1, 1, 1, dt.date(2024, 1, 14), 3),
    (1, 1, -1, dt.date(2024, 1, 15), 3),
    (1, 2, 1, dt.date(2024, 1, 15), 5),
    (2, 1, 1, dt.date(2024, 1, 14), 2),
    (2, 1, -1, dt.date(2024, 1, 14), 2),
    (2, 2, 1, dt.date(2024, 1, 15), 4),
    (3, 1, 1, dt.date(2024, 1, 9), 1),
    (3, 1, -1, dt.date(2024, 1, 9), 1),
]
FINAL_SQL = """SELECT VisitID, StartDate, PageViews FROM visits FINAL
WHERE StartDate >= {{a}} AND StartDate <= {{b}} ORDER BY VisitID, StartDate"""
META = {"visits": chsql.TableMeta(key=("VisitID",), version="VisitVersion", sign="Sign")}

# per (VisitID, week): the max version's rows, live when their signs net
# positive, its +1 row kept
FINAL_ORACLE = """
WITH w AS (SELECT *, CAST(date_trunc('week', StartDate) AS DATE) AS wk FROM ledger),
m AS (SELECT VisitID, wk, max(VisitVersion) AS mv FROM w GROUP BY 1, 2),
l AS (SELECT w.* FROM w JOIN m USING (VisitID, wk) WHERE w.VisitVersion = m.mv),
n AS (SELECT VisitID, wk, sum(Sign) AS net FROM l GROUP BY 1, 2)
SELECT l.VisitID, l.StartDate, l.PageViews FROM l JOIN n USING (VisitID, wk)
WHERE n.net > 0 AND l.Sign = 1 AND l.StartDate >= DATE '{a}' AND l.StartDate <= DATE '{b}'
ORDER BY 1, 2
"""


@pytest.fixture(scope="module")
def ledger_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("final_weeks") / "visits")
    df = spark.createDataFrame(
        LEDGER, "VisitID BIGINT, VisitVersion INT, Sign INT, StartDate DATE, PageViews INT"
    )
    warehouse.write_table(df, path, warehouse.TableLayout("StartDate", ["VisitID"]),
                          cleanup="truncate")
    return path


@pytest.mark.parametrize(
    "a,b,want",
    [
        ("2024-01-08", "2024-01-21",
         [(1, dt.date(2024, 1, 14), 3), (1, dt.date(2024, 1, 15), 5), (2, dt.date(2024, 1, 15), 4)]),
        ("2024-01-08", "2024-01-14", [(1, dt.date(2024, 1, 14), 3)]),
        ("2024-01-15", "2024-01-21", [(1, dt.date(2024, 1, 15), 5), (2, dt.date(2024, 1, 15), 4)]),
        ("2024-01-10", "2024-01-15", [(1, dt.date(2024, 1, 14), 3), (1, dt.date(2024, 1, 15), 5),
                                      (2, dt.date(2024, 1, 15), 4)]),
    ],
)
def test_final_collapses_within_the_week(spark, ledger_path, a, b, want):
    df = chsql.run_sql(
        spark, FINAL_SQL, {"visits": warehouse.read_table(spark, ledger_path)},
        {"a": f"DATE '{a}'", "b": f"DATE '{b}'"}, table_meta=META,
    )
    got = [tuple(r) for r in df.collect()]
    assert got == want
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ledger (VisitID BIGINT, VisitVersion INT, Sign INT, StartDate DATE, "
        "PageViews INT)"
    )
    con.executemany("INSERT INTO ledger VALUES (?, ?, ?, ?, ?)", LEDGER)
    assert got == con.execute(FINAL_ORACLE.format(a=a, b=b)).fetchall()
    con.close()


def test_final_week_bound_reaches_the_scan(spark, ledger_path):
    df = chsql.run_sql(
        spark, FINAL_SQL, {"visits": warehouse.read_table(spark, ledger_path)},
        {"a": "DATE '2024-01-15'", "b": "DATE '2024-01-21'"}, table_meta=META,
    )
    df.collect()
    scans, filters = _plan(df)
    assert len(scans) == 1 and "2024-01-15" in scans[0], scans
    assert not any("StartDate#" in f for f in filters), filters


def test_unmarked_final_still_collapses_across_weeks(spark, ledger_path):
    df = chsql.run_sql(
        spark, FINAL_SQL, {"visits": spark.read.parquet(ledger_path)},
        {"a": "DATE '2024-01-08'", "b": "DATE '2024-01-21'"}, table_meta=META,
    )
    assert [tuple(r) for r in df.collect()] == [
        (1, dt.date(2024, 1, 15), 5), (2, dt.date(2024, 1, 15), 4),
    ]


def test_s3_copy_of_a_marked_table_is_unmarked(spark, table, tmp_path):
    """run_script's S3 table copies a caller table's schema; its objects'
    ``_week`` is a plain CSV column, so the copy carries no mark."""
    marked = warehouse.read_table(spark, table).schema
    assert warehouse.week_of(chsql._s3_frame(spark, str(tmp_path), marked).schema) is None
