"""plans/chjoin: CH ASOF / ANY join strictness modifiers compiled
onto operators/rangejoin.asof_join and a deterministic keep-one dedup
inside plans/chsql.run_sql (round-10 verdict tasks 3-4).

Oracles: DuckDB's native ASOF JOIN and a QUALIFY row_number dedup
mirroring the documented deterministic refinement of CH ANY.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chjoin, chsql

from conftest import SF_ORACLE


def _clicks_purchases(spark):
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return clicks, purchases


def _rows(df, *key):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


class TestAsof:
    SQL = """
    SELECT event_id, user_id, p.purchase_value AS pv, p.ts AS pts
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """

    def test_matches_duckdb_asof(self, spark, duck):
        clicks, purchases = _clicks_purchases(spark)
        got = chsql.run_sql(
            spark, self.SQL, {"clicks": clicks, "purchases": purchases}
        )
        want = duck.sql(
            """
            WITH clicks AS (SELECT event_id, user_id, ts FROM events
                            WHERE event_type = 'click'),
            purchases AS (SELECT user_id, ts,
                                 max(value) AS purchase_value
                          FROM events WHERE event_type = 'purchase'
                          GROUP BY user_id, ts)
            SELECT c.event_id, c.user_id, p.purchase_value AS pv,
                   p.ts AS pts
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
            """
        ).fetchall()
        assert _rows(got) == sorted(
            (tuple(r) for r in want),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    def test_inner_drops_unmatched(self, spark):
        clicks, purchases = _clicks_purchases(spark)
        left = chsql.run_sql(
            spark, self.SQL, {"clicks": clicks, "purchases": purchases}
        )
        inner = chsql.run_sql(
            spark,
            self.SQL.replace("ASOF LEFT JOIN", "ASOF JOIN"),
            {"clicks": clicks, "purchases": purchases},
        )
        n_matched = left.where(F.col("pv").isNotNull()).count()
        assert inner.count() == n_matched
        assert inner.where(F.col("pv").isNull()).count() == 0

    def test_flipped_inequality_and_modifier_order(self, spark):
        clicks, purchases = _clicks_purchases(spark)
        base = chsql.run_sql(
            spark, self.SQL, {"clicks": clicks, "purchases": purchases}
        )
        flipped = chsql.run_sql(
            spark,
            """
            SELECT event_id, user_id, p.purchase_value AS pv, p.ts AS pts
            FROM clicks c LEFT ASOF JOIN purchases p
              ON p.ts <= c.ts AND c.user_id = p.user_id
            """,
            {"clicks": clicks, "purchases": purchases},
        )
        assert _rows(base) == _rows(flipped)

    def test_multi_equality_key(self, spark):
        l = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 20)],
            "id long, grp string, t long",
        )
        r = spark.createDataFrame(
            [("a", 1, 5, 1.0), ("a", 1, 15, 2.0), ("b", 3, 19, 3.0)],
            "g string, k long, t long, v double",
        )
        out = chsql.run_sql(
            spark,
            """
            SELECT id, r.v AS v FROM l ASOF LEFT JOIN r
              ON l.grp = r.g AND l.id = r.k AND l.t >= r.t
            """,
            {"l": l, "r": r},
        )
        assert {(row["id"], row["v"]) for row in out.collect()} == {
            (1, 1.0),   # (a,1): t=5 <= 10 matches, t=15 does not
            (2, None),  # no right rows for key (a,2)
            (3, 3.0),   # (b,3): t=19 <= 20 matches
        }

    def test_bare_and_aliased_references(self, spark):
        clicks, purchases = _clicks_purchases(spark)
        # bare right-only column + alias reusing the right column name
        out = chsql.run_sql(
            spark,
            """
            SELECT event_id,
                   purchase_value AS purchase_value
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
            WHERE purchase_value > 0
            """,
            {"clicks": clicks, "purchases": purchases},
        )
        assert out.columns == ["event_id", "purchase_value"]
        assert out.where(F.col("purchase_value") <= 0).count() == 0


class TestAny:
    def test_matches_qualify_oracle(self, spark, duck):
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        got = chsql.run_sql(
            spark,
            """
            SELECT o.o_orderkey AS ok, l.l_partkey AS pk,
                   toFloat64(l.l_quantity) AS qty
            FROM orders o ANY LEFT JOIN lineitem l
              ON o.o_orderkey = l.l_orderkey
            """,
            {"orders": orders, "lineitem": li},
        )
        others = [c for c in li.columns if c != "l_orderkey"]
        order_by = ", ".join(f"{c} ASC NULLS FIRST" for c in others)
        want = duck.sql(
            f"""
            SELECT o.o_orderkey AS ok, l.l_partkey AS pk,
                   CAST(l.l_quantity AS DOUBLE) AS qty
            FROM orders o LEFT JOIN (
              SELECT * FROM lineitem
              QUALIFY row_number() OVER (
                PARTITION BY l_orderkey ORDER BY {order_by}) = 1
            ) l ON o.o_orderkey = l.l_orderkey
            """
        ).fetchall()
        assert _rows(got) == sorted(
            (tuple(r) for r in want),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    def test_left_multiplicity_preserved(self, spark):
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        out = chsql.run_sql(
            spark,
            "SELECT o.o_orderkey AS ok FROM orders o ANY LEFT JOIN "
            "lineitem l ON o.o_orderkey = l.l_orderkey",
            {"orders": orders, "lineitem": li},
        )
        assert out.count() == orders.count()

    def test_inner_any(self, spark):
        orders = spark.createDataFrame([(1,), (2,), (9,)], "ok long")
        li = spark.createDataFrame(
            [(1, 5), (1, 3), (2, 7)], "lok long, qty long"
        )
        out = chsql.run_sql(
            spark,
            "SELECT ok, l.qty AS qty FROM orders o ANY INNER JOIN li l "
            "ON o.ok = l.lok ORDER BY ok",
            {"orders": orders, "li": li},
        )
        assert [tuple(r) for r in out.collect()] == [(1, 3), (2, 7)]

    def test_deterministic_smallest_row(self, spark):
        left = spark.createDataFrame([(1,)], "k long")
        right = spark.createDataFrame(
            [(1, None, "z"), (1, 5, "a"), (1, 5, "b")],
            "rk long, a int, b string",
        )
        out = chsql.run_sql(
            spark,
            "SELECT l.a AS a, l.b AS b FROM left_t ANY LEFT JOIN "
            "right_t l ON left_t.k = l.rk",
            {"left_t": left, "right_t": right},
        )
        # NULLS FIRST in the deterministic order
        assert [tuple(r) for r in out.collect()] == [(None, "z")]


class TestAsofComparators:
    """All four CH ASOF comparators vs DuckDB's native ASOF variants
    (r12: the r11 strict/reversed refusal is compiled)."""

    @pytest.mark.parametrize("op", [">", "<=", "<"])
    def test_matches_duckdb(self, spark, duck, op):
        clicks, purchases = _clicks_purchases(spark)
        got = chsql.run_sql(
            spark,
            f"""
            SELECT event_id, p.purchase_value AS pv, p.ts AS pts
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts {op} p.ts
            """,
            {"clicks": clicks, "purchases": purchases},
        )
        want = duck.sql(
            f"""
            WITH clicks AS (SELECT event_id, user_id, ts FROM events
                            WHERE event_type = 'click'),
            purchases AS (SELECT user_id, ts,
                                 max(value) AS purchase_value
                          FROM events WHERE event_type = 'purchase'
                          GROUP BY user_id, ts)
            SELECT c.event_id, p.purchase_value AS pv, p.ts AS pts
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts {op} p.ts
            """
        ).fetchall()
        assert _rows(got) == sorted(
            (tuple(r) for r in want),
            key=lambda t: tuple((v is None, v) for v in t),
        )


class TestUsing:
    def test_asof_using_matches_on_form(self, spark):
        clicks, purchases = _clicks_purchases(spark)
        on_form = chsql.run_sql(
            spark,
            """
            SELECT event_id, p.purchase_value AS pv
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
            """,
            {"clicks": clicks, "purchases": purchases},
        )
        using_form = chsql.run_sql(
            spark,
            """
            SELECT event_id, p.purchase_value AS pv
            FROM clicks c ASOF LEFT JOIN purchases p USING (user_id, ts)
            """,
            {"clicks": clicks, "purchases": purchases},
        )
        assert _rows(on_form) == _rows(using_form)

    def test_any_using(self, spark):
        orders = spark.createDataFrame([(1,), (2,)], "k long")
        li = spark.createDataFrame(
            [(1, 5), (1, 3), (2, 7)], "k long, qty long"
        )
        out = chsql.run_sql(
            spark,
            "SELECT k, l.qty AS qty FROM orders o ANY LEFT JOIN li l "
            "USING (k) ORDER BY k",
            {"orders": orders, "li": li},
        )
        # Spark USING coalesces the shared column; dedup keeps min qty
        assert [tuple(r) for r in out.collect()] == [(1, 3), (2, 7)]

    def test_any_using_bare_column(self, spark):
        orders = spark.createDataFrame([(1,), (2,)], "k long")
        li = spark.createDataFrame([(1, 5), (2, 7)], "k long, qty long")
        out = chsql.run_sql(
            spark,
            "SELECT k, l.qty AS qty FROM orders o ANY INNER JOIN li l "
            "USING k ORDER BY k",
            {"orders": orders, "li": li},
        )
        assert [tuple(r) for r in out.collect()] == [(1, 5), (2, 7)]

    def test_using_refusals(self, spark):
        c = spark.createDataFrame([(1, 2)], "k long, t long")
        p = spark.createDataFrame([(1, 2, 3)], "k long, t long, v long")
        with pytest.raises(ValueError, match="at least one equality"):
            chsql.run_sql(
                spark,
                "SELECT 1 FROM c ASOF JOIN p USING (t)",
                {"c": c, "p": p},
            )
        with pytest.raises(ValueError, match="not on table"):
            chsql.run_sql(
                spark,
                "SELECT 1 FROM c ANY LEFT JOIN p USING (v)",
                {"c": c, "p": p},
            )


class TestRefusals:
    CP = {"c": None, "p": None}

    @pytest.fixture(autouse=True)
    def _frames(self, spark):
        self.c = spark.createDataFrame([(1, 2)], "k long, t long")
        self.p = spark.createDataFrame([(1, 2, 3)], "k long, t long, v long")

    def _refused(self, sql, *frag):
        with pytest.raises(ValueError) as ei:
            chsql.run_sql(None, sql, {"c": self.c, "p": self.p})
        for f in frag:
            assert f in str(ei.value)

    def test_missing_inequality(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p ON c.k = p.k",
            "one inequality",
        )

    def test_two_inequalities(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p ON c.k = p.k AND c.t >= p.t "
            "AND c.t >= p.v",
            "exactly one inequality",
        )

    def test_missing_equality(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p ON c.t >= p.t",
            "equality",
        )

    def test_any_with_inequality(self):
        self._refused(
            "SELECT 1 FROM c ANY JOIN p ON c.k = p.k AND c.t >= p.t",
            "equality ON terms only",
        )

    def test_right_full(self):
        self._refused(
            "SELECT 1 FROM c ANY RIGHT JOIN p ON c.k = p.k",
            "not compiled",
        )
        self._refused(
            "SELECT 1 FROM c FULL ASOF JOIN p ON c.k = p.k AND c.t >= p.t",
            "not compiled",
        )

    def test_subquery_side(self):
        self._refused(
            "SELECT 1 FROM (SELECT 1 AS k) x ASOF JOIN p "
            "ON x.k = p.k AND x.k >= p.t",
            "not in the compiled",
        )

    def test_expression_term(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p ON c.k = p.k + 1 AND c.t >= p.t",
            "plain column",
        )

    def test_ambiguous_bare(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p ON k = p.k AND c.t >= p.t",
            "ambiguous",
        )

    def test_final_sample_on_join_side(self):
        """ADVICE r11 #1: FINAL parsed as the LEFT ALIAS (the regex's
        alias group accepted it) and a right-side FINAL landed in the
        right alias — the decoration was consumed and the collapse
        silently dropped.  Both now refuse with a pointer to
        pre-collapsing via the operator path."""
        self._refused(
            "SELECT 1 FROM c FINAL ASOF JOIN p ON c.k = p.k AND c.t >= p.t",
            "FINAL/SAMPLE", "pre-collapse",
        )
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p FINAL ON c.k = p.k AND c.t >= p.t",
            "FINAL/SAMPLE",
        )
        self._refused(
            "SELECT 1 FROM c SAMPLE 0.1 ANY LEFT JOIN p ON c.k = p.k",
            "FINAL/SAMPLE",
        )

    def test_ambiguous_bare_output_column(self, spark):
        """ADVICE r11 #4: a bare OUTPUT reference to a column present
        on both sides resolved silently to the left copy; CH errors on
        the ambiguous name.  Qualified references still compile."""
        self._refused(
            "SELECT t AS x FROM c ASOF JOIN p ON c.k = p.k AND c.t >= p.t",
            "ambiguous after an ASOF join",
        )
        self._refused(
            "SELECT c.k AS k FROM c ASOF JOIN p ON c.k = p.k "
            "AND c.t >= p.t WHERE `t` > 0",
            "ambiguous after an ASOF join",
        )
        out = chsql.run_sql(
            spark,
            "SELECT c.t AS lt, p.t AS rt FROM c ASOF JOIN p "
            "ON c.k = p.k AND c.t >= p.t",
            {"c": self.c, "p": self.p},
        ).collect()
        assert [(r["lt"], r["rt"]) for r in out] == [(2, 2)]

    def test_using_columns_stay_bare_referencable(self, spark):
        """USING columns are coalesced by CH — a bare reference to one
        is NOT ambiguous and returns the joined (left) value."""
        out = chsql.run_sql(
            spark,
            "SELECT k, t, p.v AS v FROM c ASOF JOIN p USING (k, t)",
            {"c": self.c, "p": self.p},
        ).collect()
        assert [(r["k"], r["t"], r["v"]) for r in out] == [(1, 2, 3)]

    def test_one_join_per_statement(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN p ON c.k = p.k AND c.t >= p.t "
            "ANY JOIN p ON c.k = p.k",
            "per statement",
        )

    def test_unbound_table(self):
        self._refused(
            "SELECT 1 FROM c ASOF JOIN zzz ON c.k = zzz.k AND c.t >= zzz.t",
            "not a bound table",
        )

    def test_passthrough_without_modifier(self, spark):
        out = chsql.run_sql(
            spark,
            "SELECT c.k AS k, p.v AS v FROM c JOIN p ON c.k = p.k",
            {"c": self.c, "p": self.p},
        )
        assert [tuple(r) for r in out.collect()] == [(1, 3)]


def test_subquery_alias_refusal_is_deliberate(spark):
    """r14 review finding, pinned as policy: an alias for a both-side
    column name defined INSIDE a parenthesized scope (CTE body,
    IN-subquery) does not exempt the name from the post-ASOF ambiguity
    refusal, even though the inner reference resolves locally.  The
    alternative — masking `(SELECT ...)` spans from the bare-ref scan —
    would silently pass a CORRELATED reference to an outer both-side
    column, the exact silent-wrong class the gate refuses.  See the
    comment at the exemption site in plans/chjoin.py."""
    c = spark.createDataFrame([(1, 2)], "k long, t long")
    p = spark.createDataFrame([(1, 2, 3)], "k long, t long, v long")
    o = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="ambiguous"):
        chsql.run_sql(
            spark,
            "SELECT c.k AS k, p.v AS v FROM c ASOF JOIN p "
            "ON c.k = p.k AND c.t >= p.t "
            "WHERE c.k IN (SELECT x AS t FROM o ORDER BY t)",
            {"c": c, "p": p, "o": o},
        )
    # qualifying the inner reference (or renaming the inner alias so it
    # no longer collides with the both-side name) compiles
    out = chsql.run_sql(
        spark,
        "SELECT c.k AS k, p.v AS v FROM c ASOF JOIN p "
        "ON c.k = p.k AND c.t >= p.t "
        "WHERE c.k IN (SELECT x AS xx FROM o ORDER BY xx)",
        {"c": c, "p": p, "o": o},
    ).collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, 3)]


class TestToplevelAliasDepthClamp:
    """ADVICE r14 #2: `_toplevel_aliases` clamps paren depth at 0 so
    malformed (unbalanced) masked text can neither lose a genuinely
    top-level alias nor — worse — surface a nested alias at a fake
    depth 0 and GROW the exemption set.  Pure-function pins; no Spark.
    """

    def test_balanced_baseline(self):
        got = chjoin._toplevel_aliases(
            "SELECT CAST(x AS DATE) AS d, sum(v) AS total FROM t"
        )
        assert got == {"d", "total"}

    def test_stray_close_keeps_later_toplevel_alias(self):
        # a stray ')' must not push the scanner to depth -1 and make
        # it skip the genuinely top-level `AS kept`
        got = chjoin._toplevel_aliases("x ) , y AS kept")
        assert "kept" in got

    def test_stray_close_cannot_promote_nested_alias(self):
        # without the clamp, ')' then '(' nets depth 0 inside the
        # parens, wrongly exempting `inner` (exemption-set growth —
        # the unsafe direction the docstring forbids)
        got = chjoin._toplevel_aliases("x ) ( a AS inner ) y AS outer")
        assert "inner" not in got
        assert "outer" in got
