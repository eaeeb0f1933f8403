"""Round-12 ADVICE items (all **low**) — now FIXED on the
`r14-advice-fixes` staging branch; these tests were strict xfails
pinning the desired behavior during the r13 deferral and are live
regression tests since the fixes landed (the same deferral-ledger
pattern the r11 round used: tests/test_advice_r11_deferred.py was
flipped to live tests by the r12 fix commit).

Why deferred (the window arithmetic, README "Driver verification
window"): every item is an edit to an existing plans/chsql.py or
plans/chjoin.py def, and any such edit flags the ~20 r12-green chsql
registry entries via the def-granular rotation guard.  In round 13
those entries sit in the fresh TAIL — forcing them front would evict
the 19-entry r10-stale cohort from the 50-slot window, exactly what
the r12 verdict's tasks 2 and 5 forbid (F + new <= 3; keep
plans/chsql.py still).  In round 14 the chsql entries are themselves
the oldest cohort and rotate INTO the window naturally, so the fixes
become rotation-free.  The r14 fix designs are recorded alongside
each test.

ADVICE r12 items pinned here:

1. chsql.py IPv4CIDRToRange — the literal-bits guard regex ``\\d+``
   never matches a negative literal, so ``IPv4CIDRToRange(ip, -5)``
   bypasses the 'outside 0..32' refusal and compiles
   ``shiftleft(1, 37)-1`` into a silently-garbage mask (CH errors).
   Fix design: match ``-?\\d+`` (as the ngrams guard does) and refuse
   when not ``0 <= bits <= 32``.

2. chjoin.py ambiguity-refusal exemption — the ``AS <name>`` scan
   also matches CAST type names (``CAST(x AS DATE)`` exempts
   'date'), so a both-side column colliding with any word after AS
   escapes the bare-reference refusal and silently resolves left.
   Fix design: keep only ``AS name`` matches at paren depth 0 of the
   masked statement (output aliases are top-level; CAST/function AS
   always sits inside parens).  Depth-0 filtering strictly SHRINKS
   the exemption set, so it can only add refusals, never silence one.

3. chsql.py toFixedString — guards with char_length (characters)
   while CH FixedString(n) is byte-sized: 'éé' with n=3 passes here
   (2 chars) but errors in CH (4 bytes), and NUL padding is
   per-character.  Fix design: octet_length for the overflow check
   and byte-exact padding via
   ``concat(s, repeat(chr(0), n - octet_length(s)))``.
"""

from __future__ import annotations

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql


def test_ipv4_cidr_negative_literal_bits_refused():
    with pytest.raises(ValueError, match="outside 0..32"):
        chsql._rewrite_calls("SELECT IPv4CIDRToRange(ip, -5) FROM t")


def test_asof_bare_column_colliding_with_cast_type_still_refuses(spark):
    left = spark.createDataFrame(
        [(1, 10, "2024-01-02"), (2, 20, "2024-01-03")],
        "k long, lt long, date string",
    )
    right = spark.createDataFrame(
        [(1, 5, "2024-01-01"), (2, 15, "2024-01-01")],
        "k long, rt long, date string",
    )
    # `date` lives on BOTH sides and is neither a USING column nor an
    # ON equality key; the bare reference must refuse as ambiguous
    # even though CAST(l.date AS date) puts an `AS date` token in the
    # masked statement.  (The exemption scan is case-sensitive, so the
    # hole needs the CAST type spelled in the column's case — `AS
    # DATE` happens not to exempt lowercase `date` today; the r14 fix
    # must close the matching-case form without relying on that
    # accident.)
    with pytest.raises(ValueError, match="ambiguous"):
        chsql.run_sql(
            spark,
            "SELECT l.k, CAST(l.date AS date) AS d, date "
            "FROM l ASOF JOIN r ON l.k = r.k AND l.lt >= r.rt",
            {"l": left, "r": right},
        )


def test_to_fixed_string_overflow_is_byte_sized(spark):
    # 'éé' is 2 characters but 4 UTF-8 bytes: CH errors at n=3; the
    # char_length guard lets it through and pads per-character.
    df = spark.createDataFrame([("éé",)], "s string")
    out = chsql.run_sql(spark, "SELECT toFixedString(s, 3) AS f FROM t", {"t": df})
    with pytest.raises(Exception, match="longer than the fixed size"):
        out.collect()


def test_to_fixed_string_pads_to_byte_length(spark):
    # 'é' is 1 character / 2 bytes: CH FixedString(4) yields 2 NUL
    # pad bytes (4 bytes total); the per-character rpad yields 3
    # characters = 5 bytes.
    df = spark.createDataFrame([("é",)], "s string")
    out = chsql.run_sql(
        spark, "SELECT octet_length(toFixedString(s, 4)) AS n FROM t", {"t": df}
    )
    assert out.collect()[0].n == 4
