"""Table-name binding in ``run_sql``: a plain table name is rebound to
its registered view only where a table can stand -- the relation after
FROM/JOIN or a comma of a FROM list, and a ``name.`` qualifier.  A
select alias, an ORDER BY/GROUP BY/HAVING name or an ARRAY JOIN operand
that happens to spell a table name keeps its text (a chart's
``count(1) AS hits FROM hits`` must return a column named ``hits``).
"""

from __future__ import annotations

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql


@pytest.fixture(scope="module")
def tables(spark):
    hits = spark.createDataFrame(
        [(1, ["a", "b"]), (1, ["c"]), (2, ["d"]), (1, []), (3, ["e"]), (3, [])],
        "k int, hits array<string>",
    )
    visits = spark.createDataFrame(
        [(1, 5), (2, 7), (2, 1), (3, 2)], "k int, v int"
    )
    return {"hits": hits, "visits": visits}


def test_replace_name_keeps_alias_and_order_by_text():
    got = chsql._replace_name(
        "SELECT count(1) AS hits FROM hits ORDER BY hits DESC",
        "hits",
        "__chsql_t0",
    )
    assert got == "SELECT count(1) AS hits FROM __chsql_t0 ORDER BY hits DESC"


def test_alias_named_like_its_table_keeps_its_name(spark, tables):
    out = chsql.run_sql(
        spark,
        "SELECT k, count(1) AS hits FROM hits GROUP BY k ORDER BY hits DESC, k",
        tables,
    )
    assert out.columns == ["k", "hits"]
    assert [tuple(r) for r in out.collect()] == [(1, 3), (3, 2), (2, 1)]


def test_visits_alias_in_having_and_order_by(spark, tables):
    out = chsql.run_sql(
        spark,
        "SELECT k, sum(v) AS visits FROM visits GROUP BY k "
        "HAVING visits > 2 ORDER BY visits",
        tables,
    )
    assert out.columns == ["k", "visits"]
    assert [tuple(r) for r in out.collect()] == [(1, 5), (2, 8)]


def test_comma_list_join_and_qualifiers_still_rebind(spark, tables):
    out = chsql.run_sql(
        spark,
        "SELECT visits.k AS k, count(1) AS n FROM hits, visits "
        "WHERE hits.k = visits.k GROUP BY visits.k ORDER BY k",
        tables,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 3), (2, 2), (3, 2)]
    out = chsql.run_sql(
        spark,
        "SELECT h.k AS k, visits.v AS v FROM hits AS h JOIN visits "
        "ON h.k = visits.k WHERE visits.v > 4 ORDER BY k, v",
        tables,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 5), (1, 5), (1, 5), (2, 7)]


def test_array_join_operand_is_the_column(spark, tables):
    out = chsql.run_sql(
        spark,
        "SELECT k, tag FROM hits ARRAY JOIN hits AS tag WHERE k = 1 ORDER BY tag",
        tables,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a"), (1, "b"), (1, "c")]
