"""chsql robustness fuzz (round-7 verdict #7 + ADVICE fixes).

The front-end is an honest string-level rewriter (plans/chsql.py:13-19)
proven on the reference's exact texts; its failure mode is silent
mis-rewrite of LEGAL but UNUSUAL ClickHouse SQL.  This suite pins the
refusal-or-correct contract on a mutation battery over that risk
surface: every case either

- raises CLEANLY (the dialect's own ``ValueError`` refusal, or a Spark
  analysis/parse error -- an error is never silent-wrong), or
- hash-matches an independent DuckDB oracle over the same rows.

Covered mutation classes (verdict list): comment injection (line,
block, apostrophes inside comments, nesting), apostrophes in string
literals (backslash AND doubled-quote escapes), alias shadowing a real
column (CH prefers the alias), scalar-WITH alias case sensitivity,
``LIMIT BY`` + ``WITH FILL`` combinations, ANY/ASOF join word order,
ANSI ``extract`` pass-through, multi-column ``uniq`` -- plus a
hypothesis property that semantically NEUTRAL mutations (comments /
whitespace at top-level positions) never change a proven query's
result.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql

# Clean refusal = the dialect's own ValueError, or a Spark
# analysis/parse/runtime error.  Python-level crashes from the
# rewriter itself (IndexError, KeyError, ...) are NOT clean -- the
# r7-advised ANSI-extract IndexError is exactly the bug class this
# excludes.
from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.errors.exceptions.base import PySparkException  # noqa: E402

_CLEAN = (ValueError, PySparkException, Py4JJavaError)


@pytest.fixture(scope="module")
def tbl(spark):
    """Small table whose values make CH-vs-ANSI semantic differences
    VISIBLE: a column literally named like aliases people shadow,
    apostrophes in strings, duplicate keys."""
    return spark.createDataFrame(
        [
            (1, "O'Brien", 10.0, "2024-01-01"),
            (2, "x", 3.0, "2024-01-02"),
            (2, "O'Brien", 4.0, "2024-01-04"),
            (3, "", 7.0, "2024-01-04"),
            (3, "y", 100.0, "2024-01-05"),
        ],
        "k int, s string, v double, d string",
    ).selectExpr("k", "s", "v", "CAST(d AS DATE) AS d")


@pytest.fixture(scope="module")
def duck_tbl():
    import duckdb

    con = duckdb.connect()
    con.sql(
        """CREATE TABLE t AS SELECT * FROM (VALUES
           (1, 'O''Brien', 10.0::DOUBLE, DATE '2024-01-01'),
           (2, 'x',        3.0::DOUBLE,  DATE '2024-01-02'),
           (2, 'O''Brien', 4.0::DOUBLE,  DATE '2024-01-04'),
           (3, '',         7.0::DOUBLE,  DATE '2024-01-04'),
           (3, 'y',        100.0::DOUBLE, DATE '2024-01-05')
        ) v(k, s, v, d)"""
    )
    yield con
    con.close()


def _rows(df):
    # key=repr: NULL super-aggregate keys (ROLLUP/CUBE) don't compare
    # with ints under plain tuple ordering
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _orows(con, sql):
    return sorted((tuple(r) for r in con.sql(sql).fetchall()), key=repr)


def _refusal_or_match(spark, tbl, con, ch_sql, duck_sql):
    """The contract: clean raise, or oracle hash-match.  Returns which
    outcome happened so callers can pin one when they require it."""
    try:
        got = _rows(chsql.run_sql(spark, ch_sql, {"t": tbl}))
    except _CLEAN:
        return "refused"
    assert got == _orows(con, duck_sql), f"SILENT MISMATCH for {ch_sql!r}"
    return "matched"


# ---------------------------------------------------------------------------
# deterministic battery
# ---------------------------------------------------------------------------

# (ch_sql, duckdb_oracle, required_outcome or None for either)
_CASES = [
    # ANSI extract(unit FROM x) passes through untouched, any case
    (
        "SELECT k, extract(YEAR FROM d) AS y FROM t",
        "SELECT k, CAST(extract(YEAR FROM d) AS INT) AS y FROM t",
        "matched",
    ),
    (
        "SELECT k, EXTRACT(month FROM d) AS mo FROM t",
        "SELECT k, CAST(extract(month FROM d) AS INT) AS mo FROM t",
        "matched",
    ),
    # CH extract(haystack, pattern): capture group / whole match
    (
        r"SELECT extract(s, '([A-Z])') AS c FROM t",
        "SELECT coalesce(regexp_extract(s, '([A-Z])', 1), '') AS c FROM t",
        "matched",
    ),
    # multi-column uniq counts distinct TUPLES (tiny cardinality: HLL
    # at rsd 0.05 is exact here)
    (
        "SELECT uniq(k, s) AS u FROM t",
        "SELECT CAST(count(DISTINCT (k, s)) AS BIGINT) AS u FROM t",
        "matched",
    ),
    # scalar WITH alias is case-SENSITIVE: S substitutes, column s
    # survives (the old re.I sub rewrote s into (sum(v)) -- silent
    # wrong)
    (
        "WITH sum(v) AS S SELECT s, S AS tot FROM t GROUP BY s",
        "SELECT s, sum(v) AS tot FROM t GROUP BY s",
        "matched",
    ),
    # alias shadowing a real column: CH prefers the alias everywhere
    # (v alias = k*10 shadows double column v in WHERE and GROUP BY;
    # with column-v semantics WHERE v > 9 would keep the 10.0/100.0
    # rows instead)
    (
        "SELECT k*10 AS v, count(1) AS n FROM t WHERE v > 9 GROUP BY v",
        "SELECT k*10 AS v, CAST(count(1) AS BIGINT) AS n FROM t "
        "WHERE k*10 > 9 GROUP BY k*10",
        "matched",
    ),
    # apostrophe escapes: backslash form and SQL doubled form must
    # both either parse to O'Brien or refuse -- never mis-mask
    (
        r"SELECT k FROM t WHERE s = 'O\'Brien'",
        "SELECT k FROM t WHERE s = 'O''Brien'",
        None,
    ),
    (
        "SELECT k FROM t WHERE s = 'O''Brien'",
        "SELECT k FROM t WHERE s = 'O''Brien'",
        None,
    ),
    # comment injection: line + block + apostrophe inside comment
    # (the reference's own script has one) are all neutral
    (
        "SELECT /* bucket'а */ k, -- trailing 'quote\n"
        "  sum(v) AS sv FROM t GROUP BY k -- tail\n",
        "SELECT k, sum(v) AS sv FROM t GROUP BY k",
        "matched",
    ),
    # nested block comment: SQL comments don't nest; either the whole
    # thing refuses or the query is compiled correctly -- never a
    # silently different result set
    (
        "SELECT k /* a /* b */ , sum(v) AS sv FROM t GROUP BY k",
        "SELECT k, sum(v) AS sv FROM t GROUP BY k",
        None,
    ),
    # LIMIT BY + WITH FILL combination (and each alone)
    (
        "SELECT k, count(1) AS n FROM t GROUP BY k ORDER BY k "
        "WITH FILL LIMIT 1 BY k",
        "SELECT 1",  # oracle unused when the engine refuses
        "refused",
    ),
    (
        "SELECT k, d, v FROM t ORDER BY v DESC LIMIT 1 BY k",
        "SELECT k, d, v FROM t QUALIFY "
        "row_number() OVER (PARTITION BY k ORDER BY v DESC) <= 1",
        "matched",
    ),
    # ANY in BOTH word orders compiles (r12 chjoin fold-in); LEFT ANY
    # preserves the left multiplicity exactly, so the bare left scan
    # is an exact oracle.  ASOF without an inequality ON term and
    # FULL-direction strictness keep the semantic refusal.
    (
        "SELECT 1 FROM t a ANY LEFT JOIN t b ON a.k = b.k",
        "SELECT 1 FROM t",
        "matched",
    ),
    (
        "SELECT 1 FROM t a LEFT ANY JOIN t b ON a.k = b.k",
        "SELECT 1 FROM t",
        "matched",
    ),
    ("SELECT 1 FROM t a ASOF JOIN t b ON a.k = b.k", "SELECT 1", "refused"),
    ("SELECT 1 FROM t a LEFT ASOF JOIN t b ON a.k = b.k", "SELECT 1", "refused"),
    ("SELECT 1 FROM t a FULL ANY JOIN t b ON a.k = b.k", "SELECT 1", "refused"),
    # GLOBAL is a distribution hint: stripped, any case
    (
        "SELECT a.k, b.v FROM t a global inner JOIN t b ON a.k = b.k "
        "WHERE b.s = 'x'",
        "SELECT a.k, b.v FROM t a JOIN t b ON a.k = b.k WHERE b.s = 'x'",
        "matched",
    ),
    # GROUP BY ... WITH ROLLUP / WITH CUBE: ANSI-shared syntax must
    # pass through untouched (NULL super-aggregate keys included)
    (
        "SELECT k, count(1) AS n FROM t GROUP BY k WITH ROLLUP",
        "SELECT k, CAST(count(1) AS BIGINT) AS n FROM t GROUP BY ROLLUP (k)",
        "matched",
    ),
    (
        "SELECT k, s, count(1) AS n FROM t GROUP BY k, s WITH CUBE",
        "SELECT k, s, CAST(count(1) AS BIGINT) AS n FROM t GROUP BY CUBE (k, s)",
        "matched",
    ),
    # INTERSECT / EXCEPT pass through (CH and ANSI agree: distinct)
    (
        "SELECT k FROM t INTERSECT SELECT k FROM t WHERE v > 3",
        "SELECT k FROM t INTERSECT SELECT k FROM t WHERE v > 3",
        "matched",
    ),
    (
        "SELECT k FROM t EXCEPT SELECT k FROM t WHERE v > 3",
        "SELECT k FROM t EXCEPT SELECT k FROM t WHERE v > 3",
        "matched",
    ),
    # SAMPLE needs a declared SAMPLE BY key: semantic refusal, not a
    # Spark parse error
    ("SELECT k FROM t SAMPLE 0.5", "SELECT 1", "refused"),
    ("SELECT k FROM t SAMPLE 1/2 OFFSET 1/2", "SELECT 1", "refused"),
    # FINAL collapses on read in CH; Spark would silently read it as a
    # table ALIAS and skip the collapse — must refuse, both positions
    ("SELECT k FROM t FINAL", "SELECT 1", "refused"),
    ("SELECT k FROM t FINAL WHERE k > 0", "SELECT 1", "refused"),
    (
        "SELECT a.k FROM t a JOIN t FINAL ON a.k = FINAL.k",
        "SELECT 1",
        "refused",
    ),
    # GROUP BY ALL: CH and Spark agree (all non-aggregate select cols)
    (
        "SELECT k, count(1) AS n FROM t GROUP BY ALL",
        "SELECT k, CAST(count(1) AS BIGINT) AS n FROM t GROUP BY ALL",
        "matched",
    ),
    # r8 cast family (unsigned -> next-wider signed, the chtypes grid
    # policy)
    (
        "SELECT toInt8(k) AS i8, toInt16(k) AS i16, toInt32(k) AS i32, "
        "toUInt8(k) AS u8, toUInt16(k) AS u16, toUInt32(k) AS u32, "
        "toUInt64(k) AS u64, toFloat32(v) AS f32, toFloat64(k) AS f64, "
        "toString(k) AS s1, toString(v) AS s2 FROM t",
        "SELECT CAST(k AS TINYINT) AS i8, CAST(k AS SMALLINT) AS i16, "
        "CAST(k AS INT) AS i32, CAST(k AS SMALLINT) AS u8, "
        "CAST(k AS INT) AS u16, CAST(k AS BIGINT) AS u32, "
        "CAST(k AS BIGINT) AS u64, CAST(v AS FLOAT) AS f32, "
        "CAST(k AS DOUBLE) AS f64, CAST(k AS VARCHAR) AS s1, "
        "CAST(v AS VARCHAR) AS s2 FROM t",
        "matched",
    ),
    # r8 conditional/null vocabulary
    (
        "SELECT k, multiIf(v > 9, 'big', v > 3, 'mid', 'small') AS sz, "
        "ifNull(s, 'none') AS s2, assumeNotNull(v) AS v2 FROM t",
        "SELECT k, CASE WHEN v > 9 THEN 'big' WHEN v > 3 THEN 'mid' "
        "ELSE 'small' END AS sz, coalesce(s, 'none') AS s2, v AS v2 FROM t",
        "matched",
    ),
    # multiIf with an even arg count refuses with the arity message
    (
        "SELECT multiIf(v > 9, 'big', 'mid', 'x') AS sz FROM t",
        "SELECT 1",
        "refused",
    ),
    # r8 date-part extractors + arithmetic function spellings
    (
        "SELECT k, toYear(d) AS y, toMonth(d) AS mo, toDayOfMonth(d) AS dd, "
        "toHour(d) AS hh, intDiv(k, 2) AS q1, intDivOrZero(k, k - k) AS q0, "
        "modulo(k, 2) AS m1, moduloOrZero(k, k - k) AS m0, "
        "plus(k, 1) AS p, minus(k, 1) AS mn, multiply(k, 3) AS mu, "
        "divide(k, 2) AS dv, negate(k) AS ng FROM t",
        "SELECT k, CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS mo, "
        "CAST(day(d) AS INT) AS dd, CAST(hour(CAST(d AS TIMESTAMP)) AS INT) AS hh, "
        "(k // 2) AS q1, 0 AS q0, (k % 2) AS m1, 0 AS m0, "
        "(k + 1) AS p, (k - 1) AS mn, (k * 3) AS mu, "
        "(CAST(k AS DOUBLE) / 2) AS dv, (-k) AS ng FROM t",
        "matched",
    ),
    # r8 UTF8-suffixed string spellings (Spark is codepoint-based)
    (
        "SELECT k, lowerUTF8(s) AS lo, upperUTF8(s) AS up, "
        "substringUTF8(s, 2, 3) AS sub, positionUTF8(s, 'B') AS p1, "
        "positionCaseInsensitive(s, 'b') AS p2, "
        "trimLeft(s) AS tl, trimRight(s) AS tr FROM t",
        "SELECT k, lower(s) AS lo, upper(s) AS up, "
        "substring(s, 2, 3) AS sub, "
        "CAST(coalesce(strpos(s, 'B'), 0) AS BIGINT) AS p1, "
        "CAST(coalesce(strpos(lower(s), 'b'), 0) AS BIGINT) AS p2, "
        "ltrim(s) AS tl, rtrim(s) AS tr FROM t",
        "matched",
    ),
    # formatDateTime: MySQL-style specifiers -> Java pattern; literal
    # letters quoted; ambiguous %M refused
    (
        "SELECT k, formatDateTime(d, '%Y-%m-%d') AS iso, "
        "formatDateTime(d, 'wk %Y w%i') AS w FROM t",
        "SELECT k, strftime(d, '%Y-%m-%d') AS iso, "
        "'wk ' || strftime(d, '%Y') || ' w' || strftime(d, '%M') AS w FROM t",
        "matched",
    ),
    ("SELECT formatDateTime(d, '%M') AS x FROM t", "SELECT 1", "refused"),
    ("SELECT formatDateTime(d, s) AS x FROM t", "SELECT 1", "refused"),
    # r8 date-family rewrites (Monday=1 dow, ISO week, epoch seconds)
    (
        "SELECT k, toQuarter(d) AS q2, toDayOfWeek(d) AS dw, "
        "toDayOfYear(d) AS doy, toISOWeek(d) AS iw, "
        "toLastDayOfMonth(d) AS eom, toUnixTimestamp(d) AS ux FROM t",
        "SELECT k, CAST(quarter(d) AS INT) AS q2, CAST(isodow(d) AS INT) AS dw, "
        "CAST(dayofyear(d) AS INT) AS doy, CAST(date_part('week', d) AS INT) AS iw, "
        "last_day(d) AS eom, CAST(epoch(CAST(d AS TIMESTAMP)) AS BIGINT) AS ux FROM t",
        "matched",
    ),
    # r10 string-family widening: CH position takes (haystack, needle)
    # -- the REVERSE of Spark's locate -- and the ANSI IN-form must
    # survive the rewrite as a passthrough
    (
        "SELECT k, position(s, 'B') AS p FROM t",
        "SELECT k, strpos(s, 'B') AS p FROM t",
        "matched",
    ),
    (
        "SELECT k, position('B' IN s) AS p FROM t",
        "SELECT k, strpos(s, 'B') AS p FROM t",
        "matched",
    ),
    ("SELECT position(s, 'B', 1, 2) AS p FROM t", "SELECT 1", "refused"),
    (
        "SELECT k, extractAll(s, '[A-Z]') AS caps FROM t",
        "SELECT k, regexp_extract_all(s, '[A-Z]') AS caps FROM t",
        "matched",
    ),
    (
        "SELECT k, extractAll(s, '([A-Z])r') AS pre FROM t",
        "SELECT k, regexp_extract_all(s, '([A-Z])r', 1) AS pre FROM t",
        "matched",
    ),
    ("SELECT extractAll(s, s) AS x FROM t", "SELECT 1", "refused"),
    (
        "SELECT k, replaceAll(s, 'rie', 'X') AS r FROM t",
        "SELECT k, replace(s, 'rie', 'X') AS r FROM t",
        "matched",
    ),
    # replaceOne: first occurrence only (DuckDB regexp_replace
    # without the 'g' flag is first-only; the needle here is
    # regex-safe by construction)
    (
        "SELECT k, replaceOne(s, 'e', '#') AS r FROM t",
        "SELECT k, regexp_replace(s, 'e', '#') AS r FROM t",
        "matched",
    ),
    # CH \N backrefs -> Spark $N at compile time; DuckDB literals do
    # not process backslashes, so the oracle writes \1 directly
    (
        r"SELECT k, replaceRegexpAll(s, '([A-Z])', '<\\1>') AS r FROM t",
        r"SELECT k, regexp_replace(s, '([A-Z])', '<\1>', 'g') AS r FROM t",
        "matched",
    ),
    ("SELECT replaceRegexpAll(s, '(a)', s) AS r FROM t", "SELECT 1", "refused"),
    ("SELECT replaceRegexpOne(s, 'a', 'x') AS r FROM t", "SELECT 1", "refused"),
]

# ARRAY JOIN clause cases live on their own table (needs an array col)
_AJ_CASES = [
    # aliased: element exposed, original column still available
    (
        "SELECT k, w, size(words) AS n FROM t ARRAY JOIN words AS w "
        "ORDER BY k, w",
        "SELECT k, u.w AS w, CAST(len(words) AS INT) AS n FROM t, "
        "unnest(words) u(w) ORDER BY k, w",
        "matched",
    ),
    # no AS: the element REPLACES the column (CH rule); empty arrays
    # drop their rows
    (
        "SELECT k, words FROM t ARRAY JOIN words ORDER BY k, words",
        "SELECT k, u.w AS words FROM t, unnest(words) u(w) "
        "ORDER BY k, words",
        "matched",
    ),
    # LEFT: empty array keeps one row with the element-type default
    (
        "SELECT k, w FROM t LEFT ARRAY JOIN words AS w ORDER BY k, w",
        "SELECT k, coalesce(u.w, '') AS w FROM t LEFT JOIN "
        "unnest(words) u(w) ON true ORDER BY k, w",
        "matched",
    ),
    # WHERE runs POST-expansion for the clause form (can see the alias)
    (
        "SELECT k, w FROM t ARRAY JOIN words AS w WHERE w != 'b' "
        "ORDER BY k, w",
        "SELECT k, u.w AS w FROM t, unnest(words) u(w) WHERE u.w != 'b' "
        "ORDER BY k, w",
        "matched",
    ),
    # clause + function combined: both expand (cross product per row,
    # the CH rule) — the clause hoists an inner subquery, the function
    # hoists over it
    (
        "SELECT k, w, arrayJoin(words) AS v FROM t ARRAY JOIN words AS w "
        "ORDER BY k, w, v",
        "SELECT k, a.w AS w, b.v AS v FROM t, unnest(words) a(w), "
        "unnest(words) b(v) ORDER BY k, w, v",
        "matched",
    ),
    # r12: the zipped multi-array form COMPILES (positional zip; a
    # self-zip pairs each element with itself)
    (
        "SELECT k, w, v FROM t ARRAY JOIN words AS w, words AS v "
        "ORDER BY k, w, v",
        "SELECT k, a.w AS w, a.w AS v FROM t, unnest(words) a(w) "
        "ORDER BY k, w, v",
        "matched",
    ),
    # LEFT over an expression: element type unknown -> refuse
    (
        "SELECT k, w FROM t LEFT ARRAY JOIN arrayMap(x -> x, words) AS w",
        "SELECT 1",
        "refused",
    ),
]


_AJ_CASES.append(
    # r8 array transform/aggregate spellings over the int array
    (
        "SELECT k, arraySort(words) AS ws, arrayReverseSort(words) AS wr, "
        "arrayConcat(words, words) AS cc, arrayUniq(words) AS u, "
        "arrayDistinct(words) AS dst, arraySum(lens) AS sm, "
        "arrayMin(lens) AS mn, arrayMax(lens) AS mx, arrayAvg(lens) AS av, "
        "arrayReverse(words) AS rv FROM t",
        "SELECT k, list_sort(words) AS ws, list_reverse_sort(words) AS wr, "
        "list_concat(words, words) AS cc, "
        "CAST(len(list_distinct(words)) AS INT) AS u, "
        "list_sort(list_distinct(words)) AS dst, "
        "CAST(coalesce(list_sum(lens), 0) AS BIGINT) AS sm, "
        "list_min(lens) AS mn, list_max(lens) AS mx, "
        "CAST(list_sum(lens) AS DOUBLE) / nullif(len(lens), 0) AS av, "
        "list_reverse(words) AS rv FROM t",
        "matched",
    )
)
_AJ_CASES.append(
    # lambda arraySort refuses (CH position-stable ties not mapped)
    ("SELECT arraySort(x -> -x, lens) AS s FROM t", "SELECT 1", "refused")
)
_AJ_CASES.append(
    # CH's multi-array zip via explicit arrayZip: pairwise expansion
    # (the refusal message's suggested form actually compiles)
    (
        "SELECT k, z.words AS s, z.lens AS n FROM t "
        "ARRAY JOIN arrayZip(words, lens) AS z ORDER BY k, s",
        "SELECT k, words[CAST(i AS INT)] AS s, lens[CAST(i AS INT)] AS n "
        "FROM t, unnest(range(1, len(words) + 1)) u(i) ORDER BY k, s",
        "matched",
    )
)


@pytest.fixture(scope="module")
def aj_tbl(spark):
    return spark.createDataFrame(
        [(1, ["a", "b"], [10, 20]), (2, ["c"], [30]), (3, [], [])],
        "k int, words array<string>, lens array<int>",
    )


@pytest.fixture(scope="module")
def aj_duck():
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, ['a','b'], [10, 20]), (2, ['c'], [30]), "
        "(3, CAST([] AS VARCHAR[]), CAST([] AS INT[]))"
        ") v(k, words, lens)"
    )
    yield con
    con.close()


@pytest.mark.parametrize("ch_sql,duck_sql,want", _AJ_CASES)
def test_array_join_clause(spark, aj_tbl, aj_duck, ch_sql, duck_sql, want):
    got = _refusal_or_match(spark, aj_tbl, aj_duck, ch_sql, duck_sql)
    assert got == want, f"{ch_sql!r}: expected {want}, got {got}"


@pytest.mark.parametrize("ch_sql,duck_sql,want", _CASES)
def test_refusal_or_correct(spark, tbl, duck_tbl, ch_sql, duck_sql, want):
    got = _refusal_or_match(spark, tbl, duck_tbl, ch_sql, duck_sql)
    if want is not None:
        assert got == want, f"{ch_sql!r}: expected {want}, got {got}"


def test_wrong_arity_calls_refuse_cleanly(spark, tbl):
    """Every mapped rewrite must refuse wrong arity as a dialect
    ValueError, never a Python IndexError (the r7-advised extract()
    bug class, closed at the _rewrite_calls dispatch point)."""
    for sql in [
        "SELECT arrayMap(arr) AS x FROM t",         # needs (lambda, arr)
        "SELECT indexOf(arr) AS x FROM t",           # needs (arr, needle)
        "SELECT ifNull(s) AS x FROM t",              # needs 2 args
        "SELECT intDiv(k) AS x FROM t",              # needs 2 args
        "SELECT formatDateTime(d) AS x FROM t",      # needs 2 args
    ]:
        with pytest.raises(ValueError, match="chsql"):
            chsql.run_sql(spark, sql, {"t": tbl})


def test_limit_by_with_fill_refusal_names_the_conflict(spark, tbl):
    """WITH FILL consumes the ORDER BY internally; the LIMIT BY
    refusal must name the actual conflict, not claim the user's
    ORDER BY is missing."""
    with pytest.raises(ValueError, match="LIMIT BY cannot combine with WITH FILL"):
        chsql.run_sql(
            spark,
            "SELECT k, count(1) AS n FROM t GROUP BY k ORDER BY k "
            "WITH FILL LIMIT 1 BY k",
            {"t": tbl},
        )


def test_any_asof_compile_or_semantic_refusal(spark, tbl):
    """r12: ASOF/ANY strictness modifiers COMPILE through the core
    front-end (the chjoin fold-in); shapes still outside the compiled
    surface must refuse with the dialect's SEMANTIC message, not an
    opaque Spark parse error."""
    # ANY joins with equality ON terms compile (self-join included)
    out = chsql.run_sql(
        spark,
        "SELECT a.k AS k FROM t a ANY LEFT JOIN t b ON a.k = b.k",
        {"t": tbl},
    )
    assert out.count() == tbl.count()
    # remaining refusal surface keeps pointer-carrying messages
    for sql, frag in [
        # ASOF without an inequality ON term
        (
            "SELECT 1 FROM t a LEFT ASOF JOIN t b ON a.k = b.k",
            "inequality",
        ),
        # RIGHT-direction strictness join
        (
            "SELECT 1 FROM t a ANY RIGHT JOIN t b ON a.k = b.k",
            "swap the",
        ),
    ]:
        with pytest.raises(ValueError, match=frag):
            chsql.run_sql(spark, sql, {"t": tbl})


# ---------------------------------------------------------------------------
# hypothesis: neutral mutations never change a proven query's result
# ---------------------------------------------------------------------------

# non-aggregate alias q referenced from GROUP BY/ORDER BY; aggregate
# alias n referenced from HAVING; WHERE uses CH UInt8 truthiness.
# No whitespace inside identifiers: the mutator splits on spaces.
# The other bases walk the bigger rewrite machines: the ARRAY JOIN
# clause hoist and the WITH TOTALS split.
_BASES = [
    "SELECT k, k*2 AS q, count(1) AS n FROM t "
    "WHERE notEmpty(s) GROUP BY k, q HAVING n >= 1 ORDER BY k, q",
    "SELECT k, w, count(1) AS n FROM t ARRAY JOIN splitByChar('B', s) "
    "AS w WHERE w != '' GROUP BY k, w ORDER BY k, w",
    "SELECT k, sum(v) AS sv FROM t GROUP BY k WITH TOTALS "
    "ORDER BY k LIMIT 3",
]

_COMMENTS = st.sampled_from(
    ["/* x */", "-- tail\n", "/* don't */", "  ", "\n\t", "/* 100. */"]
)


def test_proven_corpus_mutations_preserve_result(spark):
    """The verdict's literal ask: mutate the PROVEN corpus — the
    reference-shaped SQL texts the driver hash-checks — and assert the
    compile is invariant.  Deterministic injection battery (comment
    with apostrophe, line comment, blank lines) at every clause seam
    of the word-count and WITH FILL texts, run on the real sf0.001
    tables."""
    import registry as d

    sf = "/root/testdata/sf0.001"
    docs = d.t(spark, sf, "documents")
    orders = d.t(spark, sf, "orders")
    for sql, tables in [
        (d._CHSQL_WORD_COUNT_SQL, {"documents": docs}),
        (d._CHSQL_ARRAY_JOIN_SQL, {"documents": docs}),
        (d._CHSQL_DAILY_FILL_SQL, {"orders": orders}),
    ]:
        expect = _rows(chsql.run_sql(spark, sql, tables))
        for inj in ["/* bucket'а */ ", "-- tail 'quote\n", "\n\n\t "]:
            mutated = sql.replace("FROM", inj + "FROM", 1).replace(
                "GROUP BY", inj + "GROUP BY", 1
            )
            got = _rows(chsql.run_sql(spark, mutated, tables))
            assert got == expect, f"mutation {inj!r} changed the result"


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.integers(0, len(_BASES) - 1),
    st.lists(st.tuples(st.integers(0, 10), _COMMENTS), max_size=4),
)
def test_neutral_mutations_preserve_result(spark, tbl, base_i, injections):
    """Comments/whitespace injected at keyword boundaries (top level,
    outside literals) must never change the compiled result — for the
    plain-agg, ARRAY-JOIN-clause, and WITH TOTALS compile paths."""
    base = _BASES[base_i]
    # inject only at spaces OUTSIDE backticks/quotes: splitting on
    # single spaces of the canonical text guarantees top-level slots
    # (the literal 'B' in base 1 contains no space)
    parts = base.split(" ")
    mutated = parts[:]
    for slot, comment in injections:
        mutated[slot % len(parts)] += " " + comment.rstrip("\n") + (
            "\n" if comment.endswith("\n") else ""
        )
    expect = _rows(chsql.run_sql(spark, base, {"t": tbl}))
    got = _rows(chsql.run_sql(spark, " ".join(mutated), {"t": tbl}))
    assert got == expect
