"""chsql's one-pass call scan (``_rewrite_calls``) against the
per-name loop it replaced, and the zero-argument ``count()`` it made
a one-line table entry.

``_reference_rewrite_calls`` below is the earlier implementation kept
verbatim: one ``re.finditer(rf"\\b{name}\\s*\\(")`` per table name, the
first name (in table order) with a match rewrites its leftmost call,
then the whole table is rescanned.  The one-pass scan must give the
same text, or the same refusal, on every input: generated nested calls
here, the dashboard deck's chart texts here, and every registry text
(``tests/test_driver_parity.py`` wraps the function with
``checked_rewrite_calls`` for its whole run).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

from conftest import SF_ORACLE


def _reference_rewrite_calls(sql, ctx=chsql._EMPTY_CTX):
    changed = True
    while changed:
        changed = False
        masked = chsql._mask(sql)
        for name, fn in chsql._CALL_REWRITES.items():
            for m in re.finditer(rf"\b{name}\s*\(", masked):
                close = chsql._match_paren(masked, m.end() - 1)
                args = chsql._split_top(sql[m.end() : close])
                if len(args) == 1 and not args[0].strip():
                    args = []
                chsql._check_arity(name, args)
                try:
                    repl = (
                        fn(args, ctx)
                        if getattr(fn, "_chsql_ctx", False)
                        else fn(args)
                    )
                except (IndexError, KeyError) as ex:
                    raise ValueError(
                        f"chsql: {name}() called with {len(args)} "
                        f"argument(s) — unsupported arity for the "
                        f"mapped CH function"
                    ) from ex
                sql = sql[: m.start()] + repl + sql[close + 1 :]
                changed = True
                break
            if changed:
                break
    return sql


def _outcome(fn, sql, ctx):
    try:
        return ("text", fn(sql, ctx))
    except Exception as ex:  # any refusal must match in type and words
        return (type(ex).__name__, str(ex))


def checked_rewrite_calls(real):
    """``real`` wrapped so that every call is also run through the
    reference.  Returns (wrapper, texts checked, texts that diverged);
    the caller asserts the last is empty, because a query builder may
    catch what the wrapper raises."""
    seen, diverged = [], []

    def run(sql, ctx=chsql._EMPTY_CTX):
        seen.append(sql)
        if _outcome(real, sql, ctx) != _outcome(_reference_rewrite_calls, sql, ctx):
            diverged.append(sql)
        return real(sql, ctx)

    return run, seen, diverged


# ---------------------------------------------------------------------------
# generated nested calls
# ---------------------------------------------------------------------------

_NAMES = list(chsql._CALL_REWRITES)
# pairs where one table name is a prefix of another (toDate / toDate32)
_PREFIXED = sorted(
    {b for a in _NAMES for b in _NAMES if a != b and b.startswith(a)}
    | {a for a in _NAMES for b in _NAMES if a != b and b.startswith(a)}
)
_name = st.one_of(
    st.sampled_from(_NAMES),
    st.sampled_from(_PREFIXED),
    st.sampled_from(["foo", "toDateX", "COUNT", "Count", "count_if"]),
)
_leaf = st.sampled_from([
    "x", "1", "2.5", "arr", "''", "NULL", "'s, (t'", "'toDate(x)'",
    "`toDate(x)`", "`uniqExact`(x)", "'count()'", "x -> x + 1",
    "DISTINCT x", "*",
])


def _call(children):
    return st.builds(
        lambda pre, name, gap, args: f"{pre}{name}{gap}({', '.join(args)})",
        # x.name( / right after a digit / an underscore / a letter
        st.sampled_from(["", "", "", "x.", "1", "_", "a", " "]),
        _name,
        st.sampled_from(["", "", " ", "  ", "\n"]),
        st.lists(children, max_size=3),
    )


_expr = st.recursive(_leaf, _call, max_leaves=10)


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_expr, min_size=1, max_size=3))
def test_one_pass_scan_matches_per_name_loop(items):
    sql = f"SELECT {', '.join(items)} FROM t"
    ctx = chsql._EMPTY_CTX
    assert _outcome(chsql._rewrite_calls, sql, ctx) == _outcome(
        _reference_rewrite_calls, sql, ctx
    )


def test_rewrite_names_are_plain_identifiers():
    # the import-time assert, restated: the scan finds only these
    assert all(re.fullmatch(r"[A-Za-z_]\w*", n) for n in _NAMES)


# ---------------------------------------------------------------------------
# the dashboard deck's texts
# ---------------------------------------------------------------------------


def test_dashboard_deck_texts_match_per_name_loop(spark, tmp_path, monkeypatch):
    """Every text the dashboard deck feeds the function, captured by
    running each chart once on a small warehouse through the
    benchmark's own ``run_op``."""
    import numpy as np

    from perfbench import dashboard
    from perfbench.trace import Tracer

    monkeypatch.setattr(dashboard, "N_VISITS", 400)
    monkeypatch.setattr(dashboard, "N_HITS", 3000)
    run, seen, diverged = checked_rewrite_calls(chsql._rewrite_calls)
    monkeypatch.setattr(chsql, "_rewrite_calls", run)
    d = dashboard.Dashboard(spark, str(tmp_path), 101, Tracer(False))
    d.datagen(0)
    d.load(0)
    rng = np.random.default_rng(7)
    for name, _share in dashboard.MIX:
        before = len(seen)
        d.run_op(spark, name, dashboard.draw_interval(rng), name)
        assert len(seen) > before, name
    assert not diverged


# ---------------------------------------------------------------------------
# zero-argument count()
# ---------------------------------------------------------------------------


def test_zero_arg_count_compiles_to_a_row_count():
    assert chsql._rewrite_calls("SELECT count() FROM t") == (
        "SELECT COUNT(*) FROM t"
    )
    # the emitted spelling is inert to the table: one pass, no loop
    assert chsql._rewrite_calls("count(count())") == "COUNT(COUNT(*))"
    assert chsql._rewrite_calls("uniqExact(x)") == "COUNT(DISTINCT x)"


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT o_orderstatus, count() AS n, count(o_custkey) AS nc, "
        "count(CASE WHEN o_totalprice > 150000 THEN o_custkey END) AS nbig, "
        "count(DISTINCT o_custkey) AS dc FROM orders "
        "GROUP BY o_orderstatus HAVING count() > 1 ORDER BY o_orderstatus",
        "SELECT count() AS n, count(DISTINCT o_orderpriority) AS dp "
        "FROM orders WHERE o_totalprice > 100000",
        "SELECT o_orderpriority, count() OVER (PARTITION BY o_orderpriority) "
        "AS w FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey",
    ],
)
def test_zero_arg_count_matches_duckdb(spark, duck, sql):
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    got = [tuple(r) for r in chsql.run_sql(spark, sql, {"orders": orders}).collect()]
    want = duck.sql(sql).fetchall()
    assert got == want
    assert got and got[0][-1] is not None
