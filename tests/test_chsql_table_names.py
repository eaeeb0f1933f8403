"""Table-name binding in ``run_sql``: a plain table name is rebound to
its registered view only where a table can stand -- the relation after
FROM/JOIN or a comma of a FROM list, and a ``name.`` qualifier.  A
select alias, an ORDER BY/GROUP BY/HAVING name or an ARRAY JOIN operand
that happens to spell a table name keeps its text (a chart's
``count(1) AS hits FROM hits`` must return a column named ``hits``).
Every spelling of a table name (plain, backticked, dotted) is bound
at these slots only, and FINAL/SAMPLE decorations are found at the
same slots.
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


@pytest.fixture(scope="module")
def ledger(spark):
    # key 1: updated once (live ver 2); key 2: live; key 3: deleted
    return spark.createDataFrame(
        [(1, 10, 1, 1), (1, 10, 1, -1), (1, 12, 2, 1), (2, 5, 1, 1),
         (3, 7, 1, 1), (3, 7, 1, -1)],
        "k int, hits int, ver int, sign int",
    )


_META = {"hits": chsql.TableMeta(key=("k",), version="ver", sign="sign")}


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


@pytest.mark.parametrize(
    "sql, name, want",
    [
        ("SELECT k FROM `hits`", "hits", "SELECT k FROM __chsql_t0"),
        (
            "SELECT `hits`.k FROM `hits` JOIN v ON `hits`.k = v.k",
            "hits",
            "SELECT __chsql_t0.k FROM __chsql_t0 JOIN v ON __chsql_t0.k = v.k",
        ),
        ("SELECT `hits` FROM t", "hits", "SELECT `hits` FROM t"),
        (
            "SELECT k FROM db.hits WHERE s = 'db.hits'",
            "db.hits",
            "SELECT k FROM __chsql_t0 WHERE s = 'db.hits'",
        ),
    ],
    ids=["backticked", "backticked_qualifier", "backticked_column", "dotted"],
)
def test_replace_name_rebinds_table_spellings(sql, name, want):
    assert chsql._replace_name(sql, name, "__chsql_t0") == want


@pytest.mark.parametrize(
    "sql, name, want",
    [
        ("SELECT k, hits FROM hits FINAL", "hits", "SELECT k, hits FROM hits"),
        (
            "SELECT k, hits FROM hits FINAL ORDER BY k, hits",
            "hits",
            "SELECT k, hits FROM hits ORDER BY k, hits",
        ),
        ("SELECT k FROM `hits` FINAL", "hits", "SELECT k FROM `hits`"),
        ("SELECT hits.k FROM hits FINAL", "hits", "SELECT hits.k FROM hits"),
        ("SELECT k FROM db.hits FINAL", "db.hits", "SELECT k FROM db.hits"),
    ],
    ids=["select_column", "order_by_column", "backticked", "qualifier", "dotted"],
)
def test_decoration_scan_reads_table_slots_only(sql, name, want):
    assert chsql._scan_table_decorations(sql, {name: None}) == (
        want, {name: {"final": True}}
    )


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT k, hits FROM hits FINAL",
        "SELECT k, hits FROM hits FINAL ORDER BY k, hits",
        "SELECT k, hits FROM `hits` FINAL ORDER BY k",
    ],
    ids=["select_column", "order_by_column", "backticked"],
)
def test_final_table_named_like_a_column(spark, ledger, sql):
    out = chsql.run_sql(spark, sql, {"hits": ledger}, table_meta=_META)
    assert out.columns == ["k", "hits"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, 12), (2, 5)]


def test_backticked_table_rebinds(spark, tables):
    out = chsql.run_sql(spark, "SELECT k FROM `visits` ORDER BY k", tables)
    assert [r.k for r in out.collect()] == [1, 2, 2, 3]


def test_final_and_bare_reference_of_one_table_still_refused(spark, ledger):
    with pytest.raises(ValueError, match="with and without FINAL/SAMPLE"):
        chsql.run_sql(
            spark,
            "SELECT a.k FROM hits FINAL JOIN hits AS a ON a.k = hits.k",
            {"hits": ledger},
            table_meta=_META,
        )
