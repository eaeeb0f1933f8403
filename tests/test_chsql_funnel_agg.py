"""``retention`` / ``entropy`` SQL compilation.

``retention(cond1..condN)`` compiles as a plain aggregate-expression
rewrite (flat max-flag algebra -- the exact plan
``operators/funnel.retention`` builds, oracle-proven via the
``retention_cohort`` registry entry).  ``entropy(x)`` compiles through
the statement-level structural planner (``_rewrite_summap``, table
entry "entropy") onto the same two-level aggregate as
``operators/stats.entropy`` (oracle-proven via ``type_entropy``).

Every behavioral test pins SQL output == operator output, plus an
independent DuckDB oracle cross-check so the SQL spelling is proven
against a second engine, not just against our own operator.
"""

from __future__ import annotations

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import funnel, stats
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql


@pytest.fixture(scope="module")
def events(spark):
    # (user, event, value): user 1 completes signup->visit->buy,
    # user 2 only visits, user 3 skips visit, user 4 has only NULLs
    return spark.createDataFrame(
        [
            (1, "signup", 10),
            (1, "visit", 20),
            (1, "buy", 30),
            (2, "visit", 10),
            (3, "signup", 10),
            (3, "buy", 10),
            (4, None, None),
            (4, None, 10),
        ],
        "u INT, ev STRING, v INT",
    )


@pytest.fixture(scope="module")
def duck(spark):
    import duckdb

    con = duckdb.connect()
    con.sql(
        """CREATE TABLE t AS SELECT * FROM (VALUES
           (1, 'signup', 10), (1, 'visit', 20), (1, 'buy', 30),
           (2, 'visit', 10), (3, 'signup', 10), (3, 'buy', 10),
           (4, NULL, NULL), (4, NULL, 10)
        ) v(u, ev, v)"""
    )
    yield con
    con.close()


def _rows(df):
    return sorted(
        (
            tuple(tuple(x) if isinstance(x, list) else x for x in r)
            for r in df.collect()
        ),
        key=repr,
    )


def _orows(con, sql):
    return sorted(
        (
            tuple(tuple(x) if isinstance(x, list) else x for x in r)
            for r in con.sql(sql).fetchall()
        ),
        key=repr,
    )


class TestRetention:
    def test_matches_operator_and_ch_hand_values(self, spark, events):
        from pyspark.sql import functions as F

        got = chsql.run_sql(
            spark,
            "SELECT u, retention(ev = 'signup', ev = 'visit', "
            "ev = 'buy') AS r FROM t GROUP BY u",
            {"t": events},
        )
        by_u = {r["u"]: tuple(r["r"]) for r in got.collect()}
        # r1 = signup ever; ri = r1 AND condi ever (CH contract):
        # user 3 skipped the visit -> [1, 0, 1]; user 2 never signed
        # up -> all 0 even though a visit happened
        assert by_u == {
            1: (1, 1, 1), 2: (0, 0, 0), 3: (1, 0, 1), 4: (0, 0, 0)
        }
        op = funnel.retention(
            events,
            "u",
            [F.col("ev") == "signup", F.col("ev") == "visit", F.col("ev") == "buy"],
        )
        want = {
            r["u"]: (r["r1"], r["r2"], r["r3"]) for r in op.collect()
        }
        assert by_u == want

    def test_duckdb_oracle(self, spark, events, duck):
        got = _rows(
            chsql.run_sql(
                spark,
                "SELECT u, retention(ev = 'signup', v >= 20) AS r "
                "FROM t GROUP BY u",
                {"t": events},
            )
        )
        want = _orows(
            duck,
            "SELECT u, ["
            "CAST(max(CASE WHEN ev = 'signup' THEN 1 ELSE 0 END) AS INT), "
            "CAST(max(CASE WHEN ev = 'signup' THEN 1 ELSE 0 END) * "
            "max(CASE WHEN v >= 20 THEN 1 ELSE 0 END) AS INT)"
            "] AS r FROM t GROUP BY u",
        )
        assert got == want

    def test_single_condition_and_null_condition(self, spark, events):
        got = chsql.run_sql(
            spark,
            # NULL predicate rows (ev IS NULL for user 4) count as
            # unmet, not as NULL flags
            "SELECT u, retention(ev = 'signup') AS r FROM t GROUP BY u",
            {"t": events},
        )
        by_u = {r["u"]: tuple(r["r"]) for r in got.collect()}
        assert by_u == {1: (1,), 2: (0,), 3: (1,), 4: (0,)}

    def test_arity_refusals(self, spark, events):
        with pytest.raises(ValueError, match="retention"):
            chsql.run_sql(
                spark, "SELECT retention() AS r FROM t GROUP BY u",
                {"t": events},
            )
        too_many = ", ".join(f"v = {i}" for i in range(33))
        with pytest.raises(ValueError, match="retention"):
            chsql.run_sql(
                spark,
                f"SELECT retention({too_many}) AS r FROM t GROUP BY u",
                {"t": events},
            )


@pytest.fixture(scope="module")
def clicks(spark):
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", "A"),
        (1, "2024-01-01 00:10:00", "B"),
        (1, "2024-01-01 00:20:00", "C"),
        (2, "2024-01-01 00:00:00", "A"),
        (2, "2024-01-01 02:00:00", "B"),   # B outside the 1h window
        (3, "2024-01-01 00:00:00", "B"),   # B before any A: no anchor
        (3, "2024-01-01 00:05:00", "A"),   # second anchor chains A->B
        (3, "2024-01-01 00:06:00", "B"),
        (4, "2024-01-01 00:00:00", "C"),   # step-1 never happens
    ]
    return spark.createDataFrame(rows, "u INT, ts STRING, ev STRING").select(
        "u", F.col("ts").cast("timestamp").alias("ts"), "ev"
    )


class TestWindowFunnelCompile:
    SQL = (
        "SELECT u, windowFunnel(3600)(ts, ev = 'A', ev = 'B', "
        "ev = 'C') AS f FROM t GROUP BY u"
    )

    def test_matches_operator_and_hand_depths(self, spark, clicks):
        from pyspark.sql import functions as F

        got = {
            r["u"]: r["f"]
            for r in chsql.run_sql(spark, self.SQL, {"t": clicks}).collect()
        }
        # u1 full chain; u2 window cuts at step 1; u3 the SECOND
        # step-1 event anchors the A->B chain (multi-anchor); u4
        # never does step 1 -> 0
        assert got == {1: 3, 2: 1, 3: 2, 4: 0}
        op = funnel.window_funnel(
            clicks,
            "u",
            "ts",
            [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"],
            3600,
        )
        assert got == {r["u"]: r["depth"] for r in op.collect()}

    def test_window_boundary_inclusive(self, spark, clicks):
        # u2's B sits exactly 7200s after A: window 7200 includes it
        got = {
            r["u"]: r["f"]
            for r in chsql.run_sql(
                spark,
                "SELECT u, windowFunnel(7200)(ts, ev = 'A', ev = 'B') "
                "AS f FROM t GROUP BY u",
                {"t": clicks},
            ).collect()
        }
        assert got[2] == 2

    def test_global_and_residual_paths(self, spark, clicks):
        g = chsql.run_sql(
            spark,
            "SELECT windowFunnel(3600)(ts, ev = 'A', ev = 'B') AS f FROM t",
            {"t": clicks},
        ).collect()
        assert g[0]["f"] == 2
        m = chsql.run_sql(
            spark,
            "SELECT u, count(1) AS n, windowFunnel(3600, "
            "'strict_increase')(ts, ev = 'A', ev = 'B') AS f FROM t "
            "GROUP BY u HAVING count(1) > 1 ORDER BY u",
            {"t": clicks},
        ).collect()
        assert [(r["u"], r["n"], r["f"]) for r in m] == [
            (1, 3, 2), (2, 2, 1), (3, 3, 2)
        ]

    def test_strict_order_matches_operator_and_ch_doc_cases(self, spark):
        from pyspark.sql import functions as F

        # CH docs: A->B->D->C stops at the interleaving D (depth 2);
        # A,X,A,B,C reaches 3 via the second anchor; same-instant A+B
        # count as one instant (deterministic tie rule)
        rows = [
            (1, 1, "A"), (1, 2, "B"), (1, 3, "D"), (1, 4, "C"),
            (2, 1, "A"), (2, 2, "X"), (2, 3, "A"), (2, 4, "B"),
            (2, 5, "C"),
            (3, 1, "A"), (3, 1, "B"), (3, 2, "C"),
        ]
        df = spark.createDataFrame(rows, "u INT, sec INT, ev STRING").select(
            "u", F.timestamp_seconds(F.col("sec")).alias("ts"), "ev"
        )
        steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
        for win in (3600, 1):  # wide, then the 1s window cap bites
            got = {
                r["u"]: r["f"]
                for r in chsql.run_sql(
                    spark,
                    f"SELECT u, windowFunnel({win}, 'strict_order')(ts, "
                    "ev = 'A', ev = 'B', ev = 'C') AS f FROM t GROUP BY u",
                    {"t": df},
                ).collect()
            }
            op = funnel.window_funnel(
                df, "u", "ts", steps, win, mode="strict_order"
            )
            assert got == {r["u"]: r["depth"] for r in op.collect()}, win
        assert got == {1: 2, 2: 2, 3: 1}  # the win=1 capped depths

    def test_refusals(self, spark, clicks):
        with pytest.raises(ValueError, match="strict_dedup"):
            chsql.run_sql(
                spark,
                "SELECT u, windowFunnel(3600, 'strict_dedup')(ts, "
                "ev = 'A') AS f FROM t GROUP BY u",
                {"t": clicks},
            )
        with pytest.raises(ValueError, match="window length"):
            chsql.run_sql(
                spark,
                "SELECT u, windowFunnel(w)(ts, ev = 'A') AS f "
                "FROM t GROUP BY u",
                {"t": clicks},
            )
        with pytest.raises(ValueError, match="at least one condition"):
            chsql.run_sql(
                spark,
                "SELECT u, windowFunnel(3600)(ts) AS f FROM t GROUP BY u",
                {"t": clicks},
            )
        conds = ", ".join(f"ev = '{i}'" for i in range(13))
        with pytest.raises(ValueError, match="12 steps"):
            chsql.run_sql(
                spark,
                f"SELECT u, windowFunnel(3600)(ts, {conds}) AS f "
                "FROM t GROUP BY u",
                {"t": clicks},
            )
        with pytest.raises(ValueError, match="window_funnel"):
            chsql.run_sql(
                spark,
                "SELECT f FROM (SELECT windowFunnel(3600)(ts, ev = 'A')"
                " AS f FROM t GROUP BY u) q",
                {"t": clicks},
            )


class TestSequenceCompile:
    @pytest.fixture(scope="class")
    def seq(self, spark):
        from pyspark.sql import functions as F

        rows = [
            (1, "2024-01-01 00:00:00", "A"),
            (1, "2024-01-01 00:10:00", "B"),
            (1, "2024-01-01 00:20:00", "A"),
            (1, "2024-01-01 00:30:00", "B"),
            (2, "2024-01-01 00:00:00", "B"),   # B before A: no match
            (2, "2024-01-01 01:00:00", "A"),
            (3, "2024-01-01 00:00:00", "A"),   # 3h gap to B
            (3, "2024-01-01 03:00:00", "B"),
            (4, "2024-01-01 00:00:00", "C"),
        ]
        return spark.createDataFrame(
            rows, "u INT, ts STRING, ev STRING"
        ).select("u", F.col("ts").cast("timestamp").alias("ts"), "ev")

    def test_sequence_match_matches_operator(self, spark, seq):
        from pyspark.sql import functions as F

        got = {
            r["u"]: r["m"]
            for r in chsql.run_sql(
                spark,
                "SELECT u, sequenceMatch('(?1).*(?2)')(ts, ev = 'A', "
                "ev = 'B') AS m FROM t GROUP BY u",
                {"t": seq},
            ).collect()
        }
        assert got == {1: 1, 2: 0, 3: 1, 4: 0}
        op = funnel.sequence_match(
            seq, "u", "ts", [F.col("ev") == "A", F.col("ev") == "B"]
        )
        assert got == {r["u"]: r["matched"] for r in op.collect()}

    def test_gap_constraint_matches_operator(self, spark, seq):
        from pyspark.sql import functions as F

        got = {
            r["u"]: r["m"]
            for r in chsql.run_sql(
                spark,
                "SELECT u, sequenceMatch('(?1)(?t<=3600)(?2)')(ts, "
                "ev = 'A', ev = 'B') AS m FROM t GROUP BY u",
                {"t": seq},
            ).collect()
        }
        # u3's 3h gap exceeds the 1h constraint
        assert got == {1: 1, 2: 0, 3: 0, 4: 0}
        op = funnel.sequence_match(
            seq, "u", "ts",
            [F.col("ev") == "A", F.col("ev") == "B"], max_gaps=[3600],
        )
        assert got == {r["u"]: r["matched"] for r in op.collect()}

    def test_sequence_count_matches_operator(self, spark, seq):
        from pyspark.sql import functions as F

        got = {
            r["u"]: r["n"]
            for r in chsql.run_sql(
                spark,
                "SELECT u, sequenceCount('(?1).*(?2)')(ts, ev = 'A', "
                "ev = 'B') AS n FROM t GROUP BY u",
                {"t": seq},
            ).collect()
        }
        # u1 has two non-overlapping A->B chains
        assert got == {1: 2, 2: 0, 3: 1, 4: 0}
        op = funnel.sequence_count_pairs(
            seq, "u", "ts", F.col("ev") == "A", F.col("ev") == "B"
        )
        assert got == {r["u"]: r["n_matches"] for r in op.collect()}

    def test_pattern_refusals(self, spark, seq):
        for bad, msg in [
            # strict adjacency has no compile
            ("sequenceMatch('(?1)(?2)')(ts, ev = 'A', ev = 'B')", "expected"),
            ("sequenceMatch('(?3).*(?1)')(ts, ev = 'A', ev = 'B')", "only 2"),
            (
                "sequenceCount('(?1).*(?2).*(?1)')(ts, ev = 'A', ev = 'B')",
                "pair form",
            ),
            ("sequenceMatch('(?1).*')(ts, ev = 'A')", "end with"),
            ("sequenceMatch(pat)(ts, ev = 'A')", "literal pattern"),
        ]:
            with pytest.raises(ValueError, match=msg):
                chsql.run_sql(
                    spark, f"SELECT u, {bad} AS x FROM t GROUP BY u",
                    {"t": seq},
                )

    def test_table_name_inside_string_literal_survives(self, spark):
        # regression: the view substitution must not rewrite a ' t '
        # inside a string literal (it corrupted '(?t<=N)' patterns
        # and any literal containing the table name as a word)
        df = spark.createDataFrame([(1, "a t b"), (2, "x")], "k INT, s STRING")
        r = chsql.run_sql(
            spark, "SELECT k FROM t WHERE s = 'a t b'", {"t": df}
        ).collect()
        assert [x["k"] for x in r] == [1]


class TestIntervalSweepCompiles:
    @pytest.fixture(scope="class")
    def spans(self, spark):
        # k=1 overlapping + disjoint; k=2 touching ([0,1] then [1,2]);
        # k=3 a zero-length interval
        rows = [(1, 0, 10), (1, 5, 15), (1, 20, 25),
                (2, 0, 1), (2, 1, 2), (3, 7, 7)]
        return spark.createDataFrame(rows, "k INT, s INT, e INT")

    def test_interval_length_sum_matches_operator(self, spark, spans):
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import series

        got = {
            r["k"]: r["c"]
            for r in chsql.run_sql(
                spark,
                "SELECT k, intervalLengthSum(s, e) AS c FROM t GROUP BY k",
                {"t": spans},
            ).collect()
        }
        # overlaps counted once: k=1 -> 15 + 5 = 20
        assert got == {1: 20, 2: 2, 3: 0}
        op = series.interval_length_sum(spans, ["k"], "s", "e")
        assert got == {r["k"]: r["covered"] for r in op.collect()}

    def test_max_intersections_matches_operator(self, spark, spans):
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import series

        got = {
            r["k"]: r["m"]
            for r in chsql.run_sql(
                spark,
                "SELECT k, maxIntersections(s, e) AS m FROM t GROUP BY k",
                {"t": spans},
            ).collect()
        }
        # half-open [s, e): k=2's touching intervals never overlap;
        # k=3's zero-length interval is never open
        assert got == {1: 2, 2: 1, 3: 0}
        op = series.max_intersections(spans, ["k"], "s", "e")
        assert got == {r["k"]: r["max_open"] for r in op.collect()}

    def test_max_intersections_timestamps(self, spark):
        from pyspark.sql import functions as F

        ts = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
                (1, "2024-01-01 00:30:00", "2024-01-01 02:00:00"),
            ],
            "k INT, s STRING, e STRING",
        ).select(
            "k",
            F.col("s").cast("timestamp").alias("s"),
            F.col("e").cast("timestamp").alias("e"),
        )
        got = chsql.run_sql(
            spark,
            "SELECT k, maxIntersections(s, e) AS m FROM t GROUP BY k",
            {"t": ts},
        ).collect()
        assert got[0]["m"] == 2

    def test_global_and_refusals(self, spark, spans):
        g = chsql.run_sql(
            spark, "SELECT intervalLengthSum(s, e) AS c FROM t", {"t": spans}
        ).collect()
        assert g[0]["c"] == 20  # union across all rows
        with pytest.raises(ValueError, match=r"exactly \(start, end\)"):
            chsql.run_sql(
                spark,
                "SELECT k, maxIntersections(s) AS m FROM t GROUP BY k",
                {"t": spans},
            )
        with pytest.raises(ValueError, match="interval_length_sum"):
            chsql.run_sql(
                spark,
                "SELECT c FROM (SELECT intervalLengthSum(s, e) AS c "
                "FROM t GROUP BY k) q",
                {"t": spans},
            )


class TestHistogramCompile:
    @pytest.fixture(scope="class")
    def vals(self, spark):
        rows = [(1, float(i)) for i in range(10)] + [
            (2, 5.0), (2, 5.0), (3, None)
        ]
        return spark.createDataFrame(rows, "k INT, v DOUBLE")

    def test_matches_operator(self, spark, vals):
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import stats

        out = chsql.run_sql(
            spark, "SELECT k, histogram(4)(v) AS h FROM t GROUP BY k",
            {"t": vals},
        )
        got = {
            r["k"]: [(b["lower"], b["upper"], b["height"]) for b in r["h"]]
            for r in out.collect()
        }
        op = stats.histogram(vals, "v", 4, keys=["k"])
        want: dict = {}
        for r in sorted(op.collect(), key=lambda r: (r["k"], r["bin"])):
            want.setdefault(r["k"], []).append((r["lo"], r["hi"], r["n"]))
        # bounds are GLOBAL (operator parity); all-NULL group 3 drops
        assert got == want
        assert set(got) == {1, 2}
        assert got[2] == [(4.5, 6.75, 2)]

    def test_global_spelling(self, spark, vals):
        g = chsql.run_sql(
            spark, "SELECT histogram(3)(v) AS h FROM t", {"t": vals}
        ).collect()
        assert [(b["lower"], b["upper"], b["height"]) for b in g[0]["h"]] == [
            (0.0, 3.0, 3), (3.0, 6.0, 5), (6.0, 9.0, 4)
        ]

    def test_degenerate_single_value(self, spark):
        one = spark.createDataFrame([(7.0,), (7.0,)], "v DOUBLE")
        g = chsql.run_sql(
            spark, "SELECT histogram(5)(v) AS h FROM t", {"t": one}
        ).collect()
        # hi <= lo: one zero-width bin holding everything
        assert [(b["lower"], b["upper"], b["height"]) for b in g[0]["h"]] == [
            (7.0, 7.0, 2)
        ]

    def test_refusals(self, spark, vals):
        with pytest.raises(ValueError, match="positive bin count"):
            chsql.run_sql(
                spark, "SELECT histogram(0)(v) AS h FROM t", {"t": vals}
            )
        with pytest.raises(ValueError, match="one value argument"):
            chsql.run_sql(
                spark, "SELECT histogram(3)(v, k) AS h FROM t", {"t": vals}
            )
        with pytest.raises(ValueError, match="histogram"):
            chsql.run_sql(
                spark,
                "SELECT x FROM (SELECT histogram(3)(v) AS x FROM t) q",
                {"t": vals},
            )


class TestEntropyCompile:
    def test_fast_path_matches_operator(self, spark, events):
        got = chsql.run_sql(
            spark,
            "SELECT u, entropy(ev) AS h FROM t GROUP BY u",
            {"t": events},
        )
        want = stats.entropy(events, ["u"], "ev", out_col="h")
        assert _rows(got) == _rows(want)

    def test_global_no_group_by(self, spark, events):
        got = chsql.run_sql(
            spark, "SELECT entropy(v) AS h FROM t", {"t": events}
        ).collect()[0]["h"]
        # global distribution of v: {10: 5, 20: 1, 30: 1, NULL: 1}
        import math

        ps = [5 / 8, 1 / 8, 1 / 8, 1 / 8]
        assert got == pytest.approx(
            -sum(p * math.log2(p) for p in ps), abs=1e-12
        )

    def test_residual_path_with_where_and_having(self, spark, events):
        got = chsql.run_sql(
            spark,
            "SELECT u, count(1) AS n, entropy(ev) AS h FROM t "
            "WHERE v IS NOT NULL GROUP BY u HAVING count(1) > 1 "
            "ORDER BY u",
            {"t": events},
        ).collect()
        assert [r["u"] for r in got] == [1, 3]
        # user 1: three distinct events of v-bearing rows -> log2(3)
        import math

        assert got[0]["n"] == 3
        assert got[0]["h"] == pytest.approx(math.log2(3), abs=1e-12)
        assert got[1]["h"] == pytest.approx(1.0, abs=1e-12)

    def test_duckdb_oracle(self, spark, events, duck):
        # entropy compiles only as a whole aliased item, so rounding
        # happens engine-OUTSIDE (python), identically for both sides
        got = {
            r["u"]: r["h"]
            for r in chsql.run_sql(
                spark,
                "SELECT u, entropy(ev) AS h FROM t GROUP BY u",
                {"t": events},
            ).collect()
        }
        want = dict(
            duck.sql(
                """
                WITH c AS (
                  SELECT u, ev, CAST(count(1) AS DOUBLE) AS n
                  FROM t GROUP BY u, ev
                ), p AS (
                  SELECT u, n / sum(n) OVER (PARTITION BY u) AS p FROM c
                )
                SELECT u, -sum(p * log2(p)) AS h FROM p GROUP BY u
                """
            ).fetchall()
        )
        assert set(got) == set(want)
        for u in got:
            assert got[u] == pytest.approx(want[u], abs=1e-12), u

    def test_nested_placement_refuses(self, spark, events):
        with pytest.raises(Exception, match="entropy"):
            chsql.run_sql(
                spark,
                "SELECT u, entropy(ev) + 1 AS h FROM t GROUP BY u",
                {"t": events},
            )

    def test_unaliased_refuses(self, spark, events):
        with pytest.raises(ValueError, match="alias"):
            chsql.run_sql(
                spark, "SELECT u, entropy(ev) FROM t GROUP BY u",
                {"t": events},
            )

    def test_two_args_refuse(self, spark, events):
        with pytest.raises(ValueError, match="entropy"):
            chsql.run_sql(
                spark,
                "SELECT u, entropy(ev, v) AS h FROM t GROUP BY u",
                {"t": events},
            )
