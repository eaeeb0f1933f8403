"""Replicates the driver's correctness gate locally: every query in the
catalog runs on Spark AND its DuckDB oracle, compared on row count,
column names, and order-insensitive values (normalized).

This is the test that must stay green before anything ships -- it is a
faithful stand-in for the driver's own check.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from pathlib import Path

import pytest

from registry import QUERIES

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


def test_entry_contract_is_the_registry():
    """``__spark_entry__`` hands out the whole registry in declaration
    order, with one oracle per entry."""
    import __spark_entry__

    assert list(__spark_entry__.queries()) == list(QUERIES)
    assert list(__spark_entry__.oracle_sql()) == list(QUERIES)


def test_engine_package_does_not_load_registry():
    """The registry is test support: importing the engine's front-end,
    chart and streaming modules must not pull it in."""
    import subprocess
    import sys

    root = Path(__file__).resolve().parents[1]
    code = (
        "import sys\n"
        "from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql\n"
        "from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries import metrica\n"
        "from yc_data_transfer_clickhouse_from_yandex_metrica_spark.streaming import cdc\n"
        "print('registry' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False", out.stdout + out.stderr
