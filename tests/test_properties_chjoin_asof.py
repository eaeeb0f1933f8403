"""chjoin ASOF/ANY rewrite contract (r13 verdict task 5): on random
inputs, the SQL compile path (plans/chsql.run_sql scanning the
verbatim CH statement) must produce exactly the rows of the
DataFrame operator it claims to compile onto —
``operators/rangejoin.asof_join`` for ASOF, keep-one-per-key + equi
join for ANY.  This pins the two paths together: a regression in the
regex scan, ON-term normalization, USING handling, or the
right-column prefixing surfaces as a row diff here rather than only
in the driver's oracle window.

Spelling coverage folded into the property: comparator direction
(all four, left-hand-first or reversed in the ON text), modifier
order (``ASOF LEFT JOIN`` vs ``LEFT ASOF JOIN``), ON-conjunct order
(equality first or inequality first), and the USING form (>= only —
its CH contract).  Right (key, time) pairs are unique — the
documented determinism precondition of both paths.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_keys = st.integers(min_value=0, max_value=2)
_times = st.integers(min_value=0, max_value=20)

_left_rows = st.lists(
    st.tuples(_keys, _times), min_size=1, max_size=12
)
_right_rows = st.lists(
    st.tuples(_keys, _times),
    min_size=1,
    max_size=12,
    unique_by=lambda r: (r[0], r[1]),
)


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    _left_rows,
    _right_rows,
    st.sampled_from([">=", ">", "<=", "<"]),
    st.sampled_from(["LEFT", "INNER"]),
    st.booleans(),  # modifier order: ASOF LEFT vs LEFT ASOF
    st.booleans(),  # ON order: equality first vs inequality first
    st.booleans(),  # write the inequality reversed (r.rt <= l.lt)
)
def test_asof_sql_equals_operator(
    spark, lrows, rrows, op, direction, mod_first, eq_first, reversed_ineq
):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import rangejoin
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "lid long, k long, lt long",
    )
    right = spark.createDataFrame(
        [(k, t, k * 100 + t) for k, t in rrows],
        "k long, rt long, v long",
    )

    flip = {">=": "<=", ">": "<", "<=": ">=", "<": ">"}
    ineq = (
        f"r.rt {flip[op]} l.lt" if reversed_ineq else f"l.lt {op} r.rt"
    )
    conj = (
        f"l.k = r.k AND {ineq}" if eq_first else f"{ineq} AND l.k = r.k"
    )
    join_kw = (
        f"ASOF {direction} JOIN" if mod_first else f"{direction} ASOF JOIN"
    )
    sql = (
        "SELECT l.lid AS lid, l.k AS k, l.lt AS lt, r.v AS v "
        f"FROM lf l {join_kw} rgt r ON {conj}"
    )
    got = chsql.run_sql(spark, sql, {"lf": left, "rgt": right})

    how = "left" if direction == "LEFT" else "inner"
    want = rangejoin.asof_join(
        left, right, "k", "lt", "rt", ["v"], how=how, inequality=op
    ).select("lid", "k", "lt", "v")
    assert _rowset(got) == _rowset(want), sql


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_left_rows, _right_rows, st.sampled_from(["LEFT", "INNER"]))
def test_asof_using_equals_operator_default_comparator(
    spark, lrows, rrows, direction
):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import rangejoin
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

    # USING shares names: both sides carry (k, t); right adds v
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "lid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(k, t, k * 100 + t) for k, t in rrows],
        "k long, t long, v long",
    )
    join_kw = "ASOF JOIN" if direction == "INNER" else "ASOF LEFT JOIN"
    got = chsql.run_sql(
        spark,
        f"SELECT l.lid AS lid, l.k AS k, l.t AS t, r.v AS v "
        f"FROM lf l {join_kw} rgt r USING (k, t)",
        {"lf": left, "rgt": right},
    )
    how = "left" if direction == "LEFT" else "inner"
    want = rangejoin.asof_join(
        left,
        right.selectExpr("k", "t AS rt", "v"),
        "k",
        "t",
        "rt",
        ["v"],
        how=how,
        inequality=">=",
    ).select("lid", "k", "t", "v")
    assert _rowset(got) == _rowset(want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    _left_rows,
    st.lists(  # right rows may REPEAT keys and times: ANY dedups
        st.tuples(_keys, _times), min_size=1, max_size=12
    ),
    st.sampled_from(["LEFT", "INNER"]),
)
def test_any_sql_equals_keep_one_then_join(spark, lrows, rrows, direction):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "lid long, k long, lt long",
    )
    right = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rrows)],
        "k long, rt long, rid long",
    )
    join_kw = "ANY JOIN" if direction == "INNER" else "ANY LEFT JOIN"
    got = chsql.run_sql(
        spark,
        "SELECT l.lid AS lid, l.k AS k, r.rt AS rt, r.rid AS rid "
        f"FROM lf l {join_kw} rgt r ON l.k = r.k",
        {"lf": left, "rgt": right},
    )

    # documented contract: smallest right row by non-key columns in
    # schema order, ASC NULLS FIRST, then a plain equi join
    w = Window.partitionBy("k").orderBy(
        F.col("rt").asc_nulls_first(), F.col("rid").asc_nulls_first()
    )
    one = (
        right.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    want = left.join(one, "k", "left" if direction == "LEFT" else "inner")
    want = want.select("lid", "k", "rt", "rid")
    assert _rowset(got) == _rowset(want)
