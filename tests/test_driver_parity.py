"""Replicates the driver's correctness gate locally: every query in the
catalog runs on Spark AND its DuckDB oracle, compared on row count,
column names, and order-insensitive values (normalized).

This is the test that must stay green before anything ships -- it is a
faithful stand-in for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries.driver import QUERIES

from conftest import SF_ORACLE


def _norm(v):
    # Deliberately does NOT coerce decimal.Decimal to float: the driver's
    # value-hash distinguishes them, so a Spark DECIMAL result column must
    # fail here exactly as it fails the external gate (round-1 lesson:
    # where_alias shipped red while pytest was green).
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _coltypes(cols, rows):
    """Per-column set of non-None Python types, keyed by column name."""
    out = {c: set() for c in cols}
    for r in rows:
        for c, v in zip(cols, r):
            if v is not None:
                out[c].add(type(v).__name__)
    return out


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in idx) for r in rows]
    key = lambda row: tuple((v is None, str(v)) for v in row)  # noqa: E731
    return sorted(normed, key=key), [cols[i] for i in idx]


@pytest.fixture(autouse=True)
def _rewrite_calls_checked(monkeypatch):
    """Every text a registry query feeds chsql's call rewrite is also
    run through the per-name loop it replaced, and must come out the
    same (tests/test_chsql_rewrite_scan.py)."""
    from test_chsql_rewrite_scan import checked_rewrite_calls

    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

    run, _seen, diverged = checked_rewrite_calls(chsql._rewrite_calls)
    monkeypatch.setattr(chsql, "_rewrite_calls", run)
    yield
    assert not diverged, f"one-pass call scan diverges on: {diverged[:3]}"


ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in QUERIES.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(name, spark, duck):
    spec = QUERIES[name]
    sdf = spec.build(spark, SF_ORACLE)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ores = duck.sql(spec.oracle)
    ocols = ores.columns
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), (
        f"{name}: row count spark={len(srows)} oracle={len(orows)}"
    )
    stypes = _coltypes(scols, srows)
    otypes = _coltypes(ocols, orows)
    type_mism = {
        c: (stypes[c], otypes[c])
        for c in stypes
        if stypes[c] != otypes[c] and stypes[c] and otypes[c]
    }
    assert not type_mism, f"{name}: python value types differ per column: {type_mism}"
    sset, key_cols = _rowset(scols, srows)
    oset, _ = _rowset(ocols, orows)
    mism = [
        (a, b) for a, b in zip(sset, oset) if a != b
    ]
    assert not mism, f"{name}: first value mismatches (cols={key_cols}): {mism[:5]}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(name, spark):
    spec = QUERIES[name]
    sdf = spec.build(spark, SF_ORACLE)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


def test_registry_rotation_contract():
    """Driver-window rotation (README 'Driver verification window'):
    queries()/oracle_sql() order is a deterministic permutation of the
    registry that puts least-recently-verified entries first, so every
    entry cycles through the driver's 50-entry checked prefix."""
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries import driver

    order = driver.registry_order()
    assert sorted(order) == sorted(QUERIES), "rotation must be a permutation"
    assert order == driver.registry_order(), "rotation must be deterministic"
    assert list(driver.queries()) == order
    oracles = driver.oracle_sql()
    assert list(oracles) == [n for n in order if QUERIES[n].oracle]

    last = driver._last_green_rounds()
    if last:  # with committed CORRECTNESS artifacts present
        window = set(order[: driver.DRIVER_WINDOW])
        # force-front entries count as never-verified (the documented
        # rotation rule): their TRUE last-green round may be newer than
        # tail entries', and that's the point -- their code changed, so
        # they jump the queue.  Tail safety for everything they displace
        # is enforced by tests/test_rotation_guard.py (provably
        # unchanged since its green round), not by this recency sort.
        eff = {
            n: (-1 if n in driver.ROTATION_FORCE_FRONT else last.get(n, -1))
            for n in QUERIES
        }
        worst_in = max(eff[n] for n in window)
        best_out = min(
            (eff[n] for n in order[driver.DRIVER_WINDOW :]),
            default=10**9,
        )
        assert worst_in <= best_out, (
            "an entry outside the window was verified less recently than "
            "one inside it"
        )
        never = [n for n in QUERIES if n not in last]
        assert all(n in window for n in never), (
            f"never-verified entries must be in the checked window: "
            f"{[n for n in never if n not in window]}"
        )
        forced = [n for n in driver.ROTATION_FORCE_FRONT if n in QUERIES]
        assert all(n in window for n in forced), (
            f"force-front (changed-semantics) entries must be in the "
            f"checked window: {[n for n in forced if n not in window]}"
        )


def test_bench_covers_registry():
    """Every registry entry has a bench row (r6 verdict task 7): the
    bench set is exactly the registry, no more, no less."""
    import bench

    bench_set = set(bench.HEADLINE) | set(bench.STREAMING) | set(bench.IO)
    assert bench_set == set(QUERIES), (
        f"missing from bench: {sorted(set(QUERIES) - bench_set)}; "
        f"benched but not registered: {sorted(bench_set - set(QUERIES))}"
    )
    all_lists = bench.HEADLINE + bench.STREAMING + bench.IO
    assert len(all_lists) == len(bench_set), "duplicate bench entries"
