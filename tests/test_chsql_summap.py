"""``sumMap``/``minMap``/``maxMap`` statement compilation (r12 batch).

The CH map-aggregate combinators consume parallel (keys[], values[])
arrays -- the Metrica visits model's Nested groups
(/root/reference/ddl/visits.sql Goals.ID / Goals.Revenue) -- and
return per group the sorted distinct keys with element-wise
aggregated values.  ``plans/chsql._rewrite_summap`` compiles the SQL
spelling onto the same structural plan as ``operators/maps.agg_map``
(the oracle-proven DataFrame form): every behavioral test here pins
SQL output == operator output, plus the CH edge semantics the
operator itself documents (unequal sizes RAISE, all-empty groups
survive as ([], []), NULL group keys kept).
"""

from __future__ import annotations

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import maps
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql


@pytest.fixture(scope="module")
def goals(spark):
    # (counter, goal ids[], revenues[], hits) -- visit rows with the
    # Nested-pair shape; counter 30 has only empty/NULL arrays
    return spark.createDataFrame(
        [
            (10, ["buy", "view"], [5, 1], 3),
            (10, ["view", "cart"], [2, 4], 1),
            (20, ["buy"], [7], 2),
            (20, None, None, 5),
            (30, [], [], 1),
            (30, None, None, 2),
            (None, ["view"], [9], 4),
        ],
        "counter INT, gids ARRAY<STRING>, grev ARRAY<INT>, hits INT",
    )


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, (list, tuple)) else v for v in r)
        for r in df.collect()
    )


def _struct_rows(df, *cols):
    out = []
    for r in df.collect():
        row = []
        for c in cols:
            v = r[c]
            if hasattr(v, "keys") and "keys" in v.__fields__:
                row.append((tuple(v["keys"]), tuple(v["values"])))
            else:
                row.append(v)
        out.append(tuple(row))
    return sorted(out, key=repr)


def test_fast_path_matches_operator(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT counter, sumMap(gids, grev) AS m FROM visits GROUP BY counter",
        {"visits": goals},
    )
    want = maps.sum_map(goals, ["counter"], "gids", "grev")
    got_rows = _struct_rows(got, "counter", "m")
    want_rows = sorted(
        (
            (r["counter"], (tuple(r["map_keys"]), tuple(r["map_vals"])))
            for r in want.collect()
        ),
        key=repr,
    )
    assert got_rows == want_rows
    # CH semantics spot checks: sorted keys, element-wise sums,
    # all-empty group survives, NULL group key kept
    by_counter = dict(got_rows)
    assert by_counter[10] == (("buy", "cart", "view"), (5, 4, 3))
    assert by_counter[30] == ((), ())
    assert by_counter[None] == (("view",), (9,))


@pytest.mark.parametrize("fn,how", [("minMap", "min"), ("maxMap", "max")])
def test_min_max_map_match_operator(spark, goals, fn, how):
    got = chsql.run_sql(
        spark,
        f"SELECT counter, {fn}(gids, grev) AS m FROM visits GROUP BY counter",
        {"visits": goals},
    )
    want = maps.agg_map(goals, ["counter"], "gids", "grev", how=how)
    got_rows = _struct_rows(got, "counter", "m")
    want_rows = sorted(
        (
            (r["counter"], (tuple(r["map_keys"]), tuple(r["map_vals"])))
            for r in want.collect()
        ),
        key=repr,
    )
    assert got_rows == want_rows


def test_residual_path_other_aggregates(spark, goals):
    """Mixed statement: plain aggregates ride a residual GROUP BY
    joined null-safely onto the map chain -- values must match both
    the operator AND a plain-SQL control for the scalar columns."""
    got = chsql.run_sql(
        spark,
        "SELECT counter, count(1) AS n, sum(hits) AS sh, "
        "sumMap(gids, grev) AS m FROM visits GROUP BY counter",
        {"visits": goals},
    )
    rows = _struct_rows(got, "counter", "n", "sh", "m")
    assert rows == sorted(
        [
            (10, 2, 4, (("buy", "cart", "view"), (5, 4, 3))),
            (20, 2, 7, (("buy",), (7,))),
            (30, 2, 3, ((), ())),
            (None, 1, 4, (("view",), (9,))),
        ],
        key=repr,
    )


def test_residual_path_having_filters_groups(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT counter, sum(hits) AS sh, sumMap(gids, grev) AS m "
        "FROM visits GROUP BY counter HAVING sh > 3 ORDER BY counter",
        {"visits": goals},
    )
    rows = _struct_rows(got, "counter", "sh", "m")
    assert rows == sorted(
        [
            (10, 4, (("buy", "cart", "view"), (5, 4, 3))),
            (20, 7, (("buy",), (7,))),
            (None, 4, (("view",), (9,))),
        ],
        key=repr,
    )


def test_global_no_group_by(spark, goals):
    got = chsql.run_sql(
        spark, "SELECT sumMap(gids, grev) AS m FROM visits", {"visits": goals}
    )
    assert _struct_rows(got, "m") == [
        ((("buy", "cart", "view"), (12, 4, 12)),)
    ]


def test_global_with_other_aggregate(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT count(1) AS n, sumMap(gids, grev) AS m FROM visits",
        {"visits": goals},
    )
    assert _struct_rows(got, "n", "m") == [
        (7, (("buy", "cart", "view"), (12, 4, 12)))
    ]


def test_two_map_aggregates_one_statement(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT counter, sumMap(gids, grev) AS s, maxMap(gids, grev) AS x "
        "FROM visits GROUP BY counter",
        {"visits": goals},
    )
    rows = dict(
        (r[0], (r[1], r[2])) for r in _struct_rows(got, "counter", "s", "x")
    )
    assert rows[10] == (
        (("buy", "cart", "view"), (5, 4, 3)),
        (("buy", "cart", "view"), (5, 4, 2)),
    )


def test_where_and_ch_truthiness_apply_before_aggregation(spark, goals):
    # CH UInt8 truthiness: notEmpty() in WHERE; both base copies of
    # the residual path must see the same filtered slice
    got = chsql.run_sql(
        spark,
        "SELECT counter, count(1) AS n, sumMap(gids, grev) AS m "
        "FROM visits WHERE notEmpty(gids) GROUP BY counter",
        {"visits": goals},
    )
    rows = _struct_rows(got, "counter", "n", "m")
    assert rows == sorted(
        [
            (10, 2, (("buy", "cart", "view"), (5, 4, 3))),
            (20, 1, (("buy",), (7,))),
            (None, 1, (("view",), (9,))),
        ],
        key=repr,
    )


def test_prewhere_merges_into_where(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT counter, sumMap(gids, grev) AS m FROM visits "
        "PREWHERE counter = 10 GROUP BY counter",
        {"visits": goals},
    )
    assert _struct_rows(got, "counter", "m") == [
        (10, (("buy", "cart", "view"), (5, 4, 3)))
    ]


def test_group_key_expression_and_order_by_alias(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT intDiv(counter, 20) AS band, sumMap(gids, grev) AS m "
        "FROM visits WHERE counter IS NOT NULL GROUP BY intDiv(counter, 20) "
        "ORDER BY band",
        {"visits": goals},
    )
    rows = _struct_rows(got, "band", "m")
    assert rows == sorted(
        [
            (0, (("buy", "cart", "view"), (5, 4, 3))),
            (1, (("buy",), (7,))),
        ],
        key=repr,
    )


def test_size_mismatch_raises(spark):
    from pyspark.errors import PySparkException

    bad = spark.createDataFrame(
        [(1, ["a", "b"], [1])], "g INT, ks ARRAY<STRING>, vs ARRAY<INT>"
    )
    df = chsql.run_sql(
        spark, "SELECT g, sumMap(ks, vs) AS m FROM t GROUP BY g", {"t": bad}
    )
    with pytest.raises(PySparkException, match="size"):
        df.collect()


def test_union_branches_compile_independently(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT counter, sumMap(gids, grev) AS m FROM visits "
        "WHERE counter = 10 GROUP BY counter "
        "UNION ALL SELECT counter, sumMap(gids, grev) AS m FROM visits "
        "WHERE counter = 20 GROUP BY counter",
        {"visits": goals},
    )
    assert _struct_rows(got, "counter", "m") == sorted(
        [
            (10, (("buy", "cart", "view"), (5, 4, 3))),
            (20, (("buy",), (7,))),
        ],
        key=repr,
    )


@pytest.mark.parametrize(
    "sql,frag",
    [
        ("SELECT counter, sumMap(gids, grev) FROM v GROUP BY counter", "alias"),
        (
            "SELECT counter, sumMap(gids) AS m FROM v GROUP BY counter",
            "keys_array, values_array",
        ),
        (
            "SELECT arrayStringConcat(sumMap(gids, grev).keys) AS s FROM v",
            "whole aliased top-level SELECT item",
        ),
        (
            "SELECT DISTINCT counter, sumMap(gids, grev) AS m FROM v "
            "GROUP BY counter",
            "DISTINCT",
        ),
        (
            "SELECT counter, sumMap(gids, grev) AS m FROM v "
            "GROUP BY counter WITH TOTALS",
            "TOTALS",
        ),
        (
            "SELECT counter, sumMap(gids, grev) AS m FROM v "
            "GROUP BY ROLLUP(counter)",
            "plain GROUP BY",
        ),
        (
            "SELECT counter, sumMap(gids, grev) AS m FROM v "
            "WHERE m IS NOT NULL GROUP BY counter",
            "WHERE cannot reference",
        ),
        (
            "SELECT counter, hits + 1, sumMap(gids, grev) AS m FROM v "
            "GROUP BY counter, hits + 1",
            "needs an alias",
        ),
        (
            "SELECT counter, sumMap(gids, grev) AS m FROM v "
            "GROUP BY counter ORDER BY sum(hits)",
            "output columns",
        ),
        (
            "SELECT counter, sumMap(gids, grev) AS m FROM v GROUP BY 1",
            "positional GROUP BY",
        ),
    ],
)
def test_refusals_are_loud_and_specific(spark, goals, sql, frag):
    with pytest.raises(ValueError, match="chsql"):
        try:
            chsql.run_sql(spark, sql, {"v": goals})
        except ValueError as e:
            assert frag in str(e), f"{frag!r} not in {e}"
            raise


def test_subquery_placement_keeps_structural_refusal(spark, goals):
    with pytest.raises(ValueError, match="structural plan"):
        chsql.run_sql(
            spark,
            "SELECT m FROM (SELECT sumMap(gids, grev) AS m FROM v) x",
            {"v": goals},
        )


def test_fast_path_plan_is_operator_shaped(spark, goals):
    """One scan, Generate over a plain attribute (never an HOF -- the
    measured ~20x trap), map-side partial aggregation present."""
    df = chsql.run_sql(
        spark,
        "SELECT counter, sumMap(gids, grev) AS m FROM visits GROUP BY counter",
        {"visits": goals},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1
    gen_line = next(l for l in plan.splitlines() if "Generate" in l)
    assert "transform(" not in gen_line and "aggregate(" not in gen_line
    assert "partial_sum" in plan


# ---------------------------------------------------------------------------
# topK / topKWeighted (same statement-level structural compiler)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sources(spark):
    # (counter, source, weight): counter 30 has only NULL sources
    return spark.createDataFrame(
        [
            (10, "ad", 1), (10, "ad", 1), (10, "seo", 5), (10, "direct", 1),
            (10, None, 9),
            (20, "seo", 1), (20, None, 1),
            (30, None, 1),
            (None, "ref", 2),
        ],
        "counter INT, src STRING, w INT",
    )


def test_topk_exact_deterministic_order(spark, sources):
    """Exact top-N by (frequency DESC, value ASC) -- the deterministic
    exact form of CH's approximate sketch (documented deviation);
    NULL values skipped, all-NULL groups keep an empty array."""
    got = chsql.run_sql(
        spark,
        "SELECT counter, topK(2)(src) AS top_src FROM t GROUP BY counter",
        {"t": sources},
    )
    rows = {r["counter"]: tuple(r["top_src"]) for r in got.collect()}
    assert rows == {
        10: ("ad", "direct"),  # ad freq 2; seo/direct tie 1 -> value asc
        20: ("seo",),
        30: (),
        None: ("ref",),
    }


def test_topk_tie_breaks_on_value_ascending(spark, sources):
    got = chsql.run_sql(
        spark,
        "SELECT counter, topK(3)(src) AS top_src FROM t "
        "WHERE counter = 10 GROUP BY counter",
        {"t": sources},
    )
    [r] = got.collect()
    # freqs: ad 2, direct 1, seo 1 -> ties (direct, seo) value-asc
    assert tuple(r["top_src"]) == ("ad", "direct", "seo")


def test_topk_global_uses_take_ordered_not_single_partition_window(
    spark, sources
):
    got = chsql.run_sql(
        spark, "SELECT topK(2)(src) AS top_src FROM t", {"t": sources}
    )
    [r] = got.collect()
    assert tuple(r["top_src"]) == ("ad", "seo")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # global spelling: TakeOrdered path
    assert "TakeOrdered" in plan


def test_topk_weighted_and_mixed_with_plain_aggregates(spark, sources):
    got = chsql.run_sql(
        spark,
        "SELECT counter, count(1) AS n, topKWeighted(2)(src, w) AS top_w "
        "FROM t GROUP BY counter",
        {"t": sources},
    )
    rows = {
        r["counter"]: (r["n"], tuple(r["top_w"])) for r in got.collect()
    }
    assert rows[10] == (5, ("seo", "ad"))  # weights: seo 5, ad 2, direct 1
    assert rows[30] == (1, ())


def test_topk_and_summap_in_one_statement(spark, goals):
    got = chsql.run_sql(
        spark,
        "SELECT counter, sumMap(gids, grev) AS m, topK(1)(hits) AS th "
        "FROM v WHERE counter = 10 GROUP BY counter",
        {"v": goals},
    )
    [r] = got.collect()
    assert tuple(r["m"]["keys"]) == ("buy", "cart", "view")
    assert tuple(r["th"]) in ((1,), (3,))  # hits 3,1 tie freq -> 1 asc
    assert tuple(r["th"]) == (1,)


@pytest.mark.parametrize(
    "sql,frag",
    [
        ("SELECT g, topK(0)(u) AS t FROM v GROUP BY g", "positive integer"),
        ("SELECT g, topK(2)(u) FROM v GROUP BY g", "alias"),
        (
            "SELECT g, topKWeighted(2)(u) AS t FROM v GROUP BY g",
            "exactly 2",
        ),
        (
            "SELECT g, topK(2)(u) AS t FROM v WHERE t IS NOT NULL GROUP BY g",
            "cannot reference",
        ),
    ],
)
def test_topk_refusals(spark, sources, sql, frag):
    v = sources.selectExpr("counter AS g", "src AS u", "w")
    with pytest.raises(ValueError, match="chsql"):
        try:
            chsql.run_sql(spark, sql, {"v": v})
        except ValueError as e:
            assert frag in str(e), f"{frag!r} not in {e}"
            raise


def test_topk_nested_placement_keeps_parametrized_refusal(spark, sources):
    with pytest.raises(ValueError, match="heavy_hitters"):
        chsql.run_sql(
            spark,
            "SELECT t FROM (SELECT topK(2)(src) AS t FROM v) q",
            {"v": sources},
        )


# ---------------------------------------------------------------------------
# quantileExactWeighted / quantilesExactWeighted (third structural kind)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def weighted(spark):
    # g=2 has one valid value (5): the 7 carries weight 0 (CH ignores
    # it) and one NULL value; g=3 is ALL invalid
    return spark.createDataFrame(
        [
            (1, 10, 1), (1, 20, 3), (1, 30, 1),
            (2, 5, 2), (2, None, 4), (2, 7, 0),
            (3, None, 5),
            (None, 9, 2),
        ],
        "g INT, x INT, w INT",
    )


def test_qew_matches_operator_rule(spark, weighted):
    """Same rank rule as operators/stats.quantile_exact_weighted
    ('low': value covering floor(q*(n-1)) in the weighted expansion),
    computed over the compressed distribution."""
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import stats

    got = chsql.run_sql(
        spark,
        "SELECT g, quantileExactWeighted(0.5)(x, w) AS med, count(1) AS n "
        "FROM t GROUP BY g",
        {"t": weighted},
    )
    rows = {r["g"]: (r["med"], r["n"]) for r in got.collect()}
    op = {
        r["g"]: r["med"]
        for r in stats.quantile_exact_weighted(
            weighted, ["g"], "x", "w", {"med": 0.5}
        ).collect()
    }
    for g, med in op.items():
        assert rows[g][0] == med
    # group survival is STRONGER than the operator API: the all-invalid
    # group stays, quantile NULL (the engine's NULL-over-NaN rule)
    assert rows[3] == (None, 1)
    assert rows[1] == (20, 3)
    assert rows[2] == (5, 3)


def test_qew_quantiles_array_and_minmax_levels(spark, weighted):
    [r] = chsql.run_sql(
        spark,
        "SELECT quantilesExactWeighted(0.25, 0.5, 0.75)(x, w) AS qs "
        "FROM t",
        {"t": weighted},
    ).collect()
    # global weighted dist: 5(2) 9(2) 10(1) 20(3) 30(1), n=9
    assert list(r["qs"]) == [9, 10, 20]
    rows = {
        r["g"]: list(r["mm"])
        for r in chsql.run_sql(
            spark,
            "SELECT g, quantilesExactWeighted(0, 1)(x, w) AS mm "
            "FROM t GROUP BY g",
            {"t": weighted},
        ).collect()
    }
    assert rows[1] == [10, 30] and rows[3] == [None, None]


@pytest.mark.parametrize(
    "sql,frag",
    [
        (
            "SELECT quantileExactWeighted(1.5)(x, w) AS q FROM t",
            "in [0, 1]",
        ),
        (
            "SELECT quantileExactWeighted(0.5, 0.9)(x, w) AS q FROM t",
            "ONE level",
        ),
        (
            "SELECT quantileExactWeighted(0.5)(x) AS q FROM t",
            "(value, weight)",
        ),
        ("SELECT quantileExactWeighted(0.5)(x, w) FROM t", "alias"),
    ],
)
def test_qew_refusals(spark, weighted, sql, frag):
    with pytest.raises(ValueError, match="chsql"):
        try:
            chsql.run_sql(spark, sql, {"t": weighted})
        except ValueError as e:
            assert frag in str(e), f"{frag!r} not in {e}"
            raise


def test_qew_nested_placement_keeps_parametrized_refusal(spark, weighted):
    with pytest.raises(ValueError, match="quantile_exact_weighted"):
        chsql.run_sql(
            spark,
            "SELECT q FROM (SELECT quantileExactWeighted(0.5)(x, w) AS q "
            "FROM t) s",
            {"t": weighted},
        )


# One statement per refusal of the statement-level structural compiler
# (_rewrite_summap and its sequence-pattern grammar), each with its
# full message.  Pure text: no session is needed, the refusals fire
# before any SQL reaches Spark.
_STRUCT_REFUSALS = [
    ("distinct", "SELECT DISTINCT k, sumMap(a, b) AS m FROM t GROUP BY k",
     "chsql: sumMap family cannot combine with DISTINCT"),
    ("map_alias", "SELECT k, sumMap(a, b) FROM t GROUP BY k",
     "chsql: alias the sumMap(...) item (AS name) -- the result is a "
     "STRUCT(keys, values) column"),
    ("map_args", "SELECT k, minMap(a) AS m FROM t GROUP BY k",
     "chsql: minMap takes (keys_array, values_array) -- the single-tuple "
     "CH form is not mapped"),
    ("topk_alias", "SELECT topK(3)(x) FROM t",
     "chsql: alias the topK(...)(...) item (AS name) -- the result is an "
     "ARRAY column"),
    ("topk_param", "SELECT topK(0)(x) AS t3 FROM t",
     "chsql: topK needs a literal positive integer parameter, got '0'"),
    ("topk_args", "SELECT topKWeighted(3)(x) AS t3 FROM t",
     "chsql: topKWeighted takes exactly 2 argument(s) after the parameter "
     "list"),
    ("qew_alias", "SELECT quantileExactWeighted(0.5)(x, w) FROM t",
     "chsql: alias the quantileExactWeighted(...)(...) item (AS name)"),
    ("qew_levels", "SELECT quantilesExactWeighted(0.5, 2)(x, w) AS q FROM t",
     "chsql: quantilesExactWeighted needs literal quantile level(s) in "
     "[0, 1], got '0.5, 2'"),
    ("qew_one_level",
     "SELECT quantileExactWeighted(0.25, 0.75)(x, w) AS q FROM t",
     "chsql: quantileExactWeighted takes ONE level; use "
     "quantilesExactWeighted for a list"),
    ("qew_args", "SELECT quantileExactWeighted(0.5)(x) AS q FROM t",
     "chsql: quantileExactWeighted takes (value, weight) after the level "
     "list"),
    ("wf_alias", "SELECT windowFunnel(60)(ts, c1, c2) FROM t",
     "chsql: alias the windowFunnel(...)(...) item (AS name)"),
    ("wf_window", "SELECT windowFunnel(w)(ts, c1) AS d FROM t",
     "chsql: windowFunnel needs a literal window length in seconds, got "
     "'w'"),
    ("wf_mode", "SELECT windowFunnel(60, 'strict_dedup')(ts, c1) AS d FROM t",
     "chsql: windowFunnel mode 'strict_dedup' has no SQL compile (the "
     "default compile IS strict_increase binding; 'strict_order' compiles "
     "the instant-collapse chain) -- operators/funnel.window_funnel for "
     "anything else"),
    ("wf_args", "SELECT windowFunnel(60)(ts) AS d FROM t",
     "chsql: windowFunnel takes (timestamp, cond1, ...) -- at least one "
     "condition"),
    ("wf_cap",
     "SELECT windowFunnel(60)(ts, "
     + ", ".join(f"c{i}" for i in range(1, 14)) + ") AS d FROM t",
     "chsql: windowFunnel SQL compile caps at 12 steps (k(k-1)/2 window "
     "layers); use operators/funnel.window_funnel directly"),
    ("seq_alias", "SELECT sequenceMatch('(?1).*(?2)')(ts, c1, c2) FROM t",
     "chsql: alias the sequenceMatch(...)(...) item (AS name)"),
    ("seq_param", "SELECT sequenceMatch(1)(ts, c1) AS m FROM t",
     "chsql: sequenceMatch needs ONE literal pattern string parameter, "
     "got '1'"),
    ("seq_args", "SELECT sequenceCount('(?1)')(ts) AS n FROM t",
     "chsql: sequenceCount takes (timestamp, cond1, ...) after the pattern "
     "-- at least one condition"),
    ("seq_cap",
     "SELECT sequenceMatch('" + ".*".join(["(?1)"] * 33)
     + "')(ts, c1) AS m FROM t",
     "chsql: sequenceMatch pattern exceeds the CH cap of 32 steps"),
    ("seqcount_pair",
     "SELECT sequenceCount('(?1)(?t<=5)(?2)')(ts, c1, c2) AS n FROM t",
     "chsql: sequenceCount compiles the '(?i).*(?j)' pair form only; use "
     "operators/funnel.sequence_count_pairs (longer patterns have no "
     "run-length collapse)"),
    ("hist_alias", "SELECT histogram(4)(x) FROM t",
     "chsql: alias the histogram(...)(...) item (AS name) -- the result is "
     "an ARRAY of (lower, upper, height) structs"),
    ("hist_bins", "SELECT histogram(0)(x) AS h FROM t",
     "chsql: histogram needs a literal positive bin count, got '0'"),
    ("hist_args", "SELECT histogram(4)(x, y) AS h FROM t",
     "chsql: histogram takes exactly one value argument after the bin "
     "count"),
    ("span_alias", "SELECT intervalLengthSum(s, e) FROM t",
     "chsql: alias the intervalLengthSum(...) item (AS name)"),
    ("span_args", "SELECT maxIntersections(s) AS m FROM t",
     "chsql: maxIntersections takes exactly (start, end)"),
    ("entropy_alias", "SELECT entropy(x) FROM t",
     "chsql: alias the entropy(...) item (AS name)"),
    ("entropy_args", "SELECT entropy(x, y) AS e FROM t",
     "chsql: entropy takes exactly one argument (the value whose "
     "distribution is measured)"),
    ("map_nested", "SELECT k, 1 + sumMap(a, b) AS m FROM t GROUP BY k",
     "chsql: sumMap/minMap/maxMap compile only as a whole aliased "
     "top-level SELECT item; found one nested in '1 + sumMap(a, b)' -- "
     "use operators/maps.agg_map"),
    ("with_totals",
     "SELECT k, sumMap(a, b) AS m FROM t GROUP BY k WITH TOTALS",
     "chsql: sumMap family cannot combine with WITH TOTALS"),
    ("grouping_sets", "SELECT k, sumMap(a, b) AS m FROM t GROUP BY ROLLUP(k)",
     "chsql: sumMap family compiles over a plain GROUP BY (no GROUPING "
     "SETS/ROLLUP/CUBE)"),
    ("having_refs_struct",
     "SELECT k, sumMap(a, b) AS m FROM t GROUP BY k HAVING size(m.keys) > 0",
     "chsql: HAVING cannot reference the sumMap/topK-family aggregate "
     "(compute it in an outer query)"),
    ("positional_group_by", "SELECT k, sumMap(a, b) AS m FROM t GROUP BY 1",
     "chsql: positional GROUP BY is not supported with the sumMap family "
     "-- spell the expression"),
    ("computed_item_alias",
     "SELECT k + 1, sumMap(a, b) AS m FROM t GROUP BY k + 1",
     "chsql: with the sumMap family every computed SELECT item needs an "
     "alias; add AS to 'k + 1'"),
    ("order_by_output",
     "SELECT k, sumMap(a, b) AS m FROM t GROUP BY k ORDER BY z",
     "chsql: with the sumMap family ORDER BY items must be output columns; "
     "'z' is not one of ['k', 'm']"),
    ("pattern_step", "SELECT sequenceMatch('x')(ts, c1) AS m FROM t",
     "chsql: sequenceMatch pattern 'x': expected a step reference (?i) at "
     "position 0; the compiled grammar is (?i) atoms joined by .* or "
     "(?t<=N) -- operators/funnel for anything else"),
    ("pattern_ref_range", "SELECT sequenceMatch('(?3)')(ts, c1) AS m FROM t",
     "chsql: sequenceMatch pattern references (?3) but only 1 condition(s) "
     "were passed"),
    ("pattern_gap",
     "SELECT sequenceMatch('(?1)(?2)')(ts, c1, c2) AS m FROM t",
     "chsql: sequenceMatch pattern '(?1)(?2)': expected .* or (?t<=N) at "
     "position 4; strict adjacency and (?t>N) have no compile -- "
     "operators/funnel"),
    ("pattern_ends", "SELECT sequenceMatch('(?1).*')(ts, c1) AS m FROM t",
     "chsql: sequenceMatch pattern '(?1).*' must start and end with a (?i) "
     "step reference"),
    # order of checks: the alias refusal precedes the family's own
    # checks, and a call that is not the whole item is not claimed
    ("alias_before_param", "SELECT topK(0)(x, y) FROM t",
     "chsql: alias the topK(...)(...) item (AS name) -- the result is an "
     "ARRAY column"),
    ("map_not_whole_item", "SELECT k, sumMap(a, b).keys AS m FROM t GROUP BY k",
     "chsql: sumMap/minMap/maxMap compile only as a whole aliased "
     "top-level SELECT item; found one nested in 'sumMap(a, b).keys' -- "
     "use operators/maps.agg_map"),
]


@pytest.mark.parametrize(
    "sql,msg",
    [c[1:] for c in _STRUCT_REFUSALS],
    ids=[c[0] for c in _STRUCT_REFUSALS],
)
def test_structural_refusal_messages_are_pinned(sql, msg):
    with pytest.raises(ValueError) as ei:
        chsql._rewrite_summap(sql)
    assert str(ei.value) == msg
