"""chjoin robustness fuzz — the same refusal-or-correct contract as
tests/test_chsql_fuzz.py, over the strictness-join scan surface: every
mutation either raises cleanly or hash-matches a DuckDB oracle (native
ASOF JOIN / QUALIFY dedup); a hypothesis property pins that neutral
comment/whitespace injections never change a proven ASOF query.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.base import PySparkException

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

_CLEAN = (ValueError, PySparkException, Py4JJavaError)

_L_ROWS = [(1, 10, "a"), (1, 25, "b"), (2, 5, "c"), (3, 30, "d")]
_R_ROWS = [(1, 8, 1.5), (1, 20, 2.5), (2, 5, 3.5), (2, 9, 4.5)]


@pytest.fixture(scope="module")
def frames(spark):
    l = spark.createDataFrame(_L_ROWS, "k int, t int, x string")
    r = spark.createDataFrame(_R_ROWS, "k int, t int, v double")
    return {"l": l, "r": r}


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE l AS SELECT * FROM (VALUES "
        + ", ".join(f"({k}, {t}, '{x}')" for k, t, x in _L_ROWS)
        + ") v(k, t, x)"
    )
    con.sql(
        "CREATE TABLE r AS SELECT * FROM (VALUES "
        + ", ".join(f"({k}, {t}, {v}::DOUBLE)" for k, t, v in _R_ROWS)
        + ") v(k, t, v)"
    )
    yield con
    con.close()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _orows(con, sql):
    return sorted((tuple(r) for r in con.sql(sql).fetchall()), key=repr)


def _contract(spark, frames, duck, ch_sql, duck_sql, require=None):
    try:
        got = _rows(chsql.run_sql(spark, ch_sql, dict(frames)))
    except _CLEAN:
        assert require in (None, "refused"), f"unexpected refusal: {ch_sql!r}"
        return
    assert got == _orows(duck, duck_sql), f"SILENT MISMATCH for {ch_sql!r}"
    assert require in (None, "matched")


_ASOF_ORACLE = """
SELECT a.k AS k, a.x AS x, b.v AS v
FROM l a ASOF LEFT JOIN r b ON a.k = b.k AND a.t >= b.t
"""

_CASES = [
    # spelling / word-order / case mutations of the same ASOF join
    (
        "SELECT k, x, b.v AS v FROM l a ASOF LEFT JOIN r b "
        "ON a.k = b.k AND a.t >= b.t",
        _ASOF_ORACLE,
        "matched",
    ),
    (
        "select k, x, b.v as v from l a left asof join r b "
        "on b.k = a.k and b.t <= a.t",
        _ASOF_ORACLE,
        "matched",
    ),
    (
        "SELECT /* strictness\n 'ASOF' */ k, x, b.v AS v -- ASOF\n"
        "FROM l a ASOF LEFT JOIN r b ON a.k = b.k AND a.t >= b.t",
        _ASOF_ORACLE,
        "matched",
    ),
    # bare table names as qualifiers (no aliases)
    (
        "SELECT k, x, r.v AS v FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.t >= r.t",
        _ASOF_ORACLE,
        "matched",
    ),
    # USING spelling
    (
        "SELECT k, x, b.v AS v FROM l a ASOF LEFT JOIN r b USING (k, t)",
        _ASOF_ORACLE,
        "matched",
    ),
    # a string literal containing the modifier must NOT trigger the
    # compile: plain join, literal carried through
    (
        "SELECT l.k AS k, ' ASOF JOIN ' AS tag, r.v AS v "
        "FROM l JOIN r ON l.k = r.k AND l.t = r.t",
        "SELECT l.k AS k, ' ASOF JOIN ' AS tag, r.v AS v "
        "FROM l JOIN r ON l.k = r.k AND l.t = r.t",
        "matched",
    ),
    # ANY LEFT with deterministic keep-one oracle
    (
        "SELECT l.k AS k, l.t AS t, b.v AS v FROM l ANY LEFT JOIN r b "
        "ON l.k = b.k",
        """
        SELECT a.k AS k, a.t AS t, b.v AS v FROM l a LEFT JOIN (
          SELECT * FROM r QUALIFY row_number() OVER (
            PARTITION BY k ORDER BY t ASC NULLS FIRST,
                             v ASC NULLS FIRST) = 1
        ) b ON a.k = b.k
        """,
        "matched",
    ),
    # WHERE survives the rewrite and applies post-join
    (
        "SELECT k, x FROM l a ASOF JOIN r b "
        "ON a.k = b.k AND a.t >= b.t WHERE b.v > 2",
        "SELECT a.k AS k, a.x AS x FROM l a "
        "ASOF JOIN r b ON a.k = b.k AND a.t >= b.t WHERE b.v > 2",
        "matched",
    ),
    # strict / reversed comparators (r12: compiled, oracle-matched)
    (
        "SELECT k, b.v AS v FROM l a ASOF JOIN r b "
        "ON a.k = b.k AND a.t > b.t",
        "SELECT a.k AS k, b.v AS v FROM l a "
        "ASOF JOIN r b ON a.k = b.k AND a.t > b.t",
        "matched",
    ),
    (
        "SELECT k, b.v AS v FROM l a ASOF LEFT JOIN r b "
        "ON a.k = b.k AND a.t <= b.t",
        "SELECT a.k AS k, b.v AS v FROM l a "
        "ASOF LEFT JOIN r b ON a.k = b.k AND a.t <= b.t",
        "matched",
    ),
    # GLOBAL-prefixed strictness stays a refusal (not silently ALL)
    (
        "SELECT k FROM l a GLOBAL ANY LEFT JOIN r b ON a.k = b.k",
        "SELECT 1",
        "refused",
    ),
]


@pytest.mark.parametrize("ch_sql,duck_sql,require", _CASES)
def test_battery(spark, frames, duck, ch_sql, duck_sql, require):
    _contract(spark, frames, duck, ch_sql, duck_sql, require)


_BASE = (
    "SELECT k, x, b.v AS v FROM l a ASOF LEFT JOIN r b "
    "ON a.k = b.k AND a.t >= b.t"
)

# top-level token boundaries where neutral text can be injected
_SLOTS = [len("SELECT"), len("SELECT k, x, b.v AS v FROM"), len(_BASE)]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    slot=st.sampled_from(_SLOTS),
    neutral=st.sampled_from(
        [" ", "\n\t ", " /* c'omment */ ", " -- tail\n ", " /* ASOF */ "]
    ),
)
def test_neutral_injection_invariant(spark, frames, duck, slot, neutral):
    mutated = _BASE[:slot] + neutral + _BASE[slot:]
    got = _rows(chsql.run_sql(spark, mutated, dict(frames)))
    assert got == _orows(duck, _ASOF_ORACLE)
