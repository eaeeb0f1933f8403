"""ClickHouse-compatible expression library (SURVEY.md section 2.7, F1-F15).

Every scalar/array function the reference's queries use, expressed as
pure built-in ``pyspark.sql.functions`` compositions -- JVM-side,
whole-stage-codegen friendly, zero Python UDFs.

The subtle ones are the ClickHouse *default-value* semantics:
``arr[i]`` with i == 0 or out of range yields the element type's
default ('' / 0), NOT null and NOT an error
(reference /root/reference/README.md:103 composes
``TrafficSource.UTMSource[indexOf(TrafficSource.Model, 2)]`` and relies
on '' falling out when no element matches, filtered at README.md:113).
Query code must always use :func:`array_at` -- never raw ``element_at``.
"""

from __future__ import annotations

import re
from typing import Callable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


# --- F1: indexOf(arr, v) ------------------------------------------------
def index_of(arr: ColumnOrName, value) -> Column:
    """1-based position of first element == value; 0 if absent.

    ClickHouse ``indexOf`` (/root/reference/README.md:103).  Spark's
    ``array_position`` has identical 1-based / 0-if-absent semantics.
    """
    return F.array_position(_col(arr), value)


# --- F2: arr[i] with ClickHouse default-value semantics ------------------
def array_at(arr: ColumnOrName, idx: ColumnOrName, default) -> Column:
    """``arr[i]`` (1-based) returning ``default`` when i == 0 / out of range.

    ClickHouse returns the element type's default ('' for String, 0 for
    numerics) instead of erroring or null (README.md:103).  ``default``
    must be that type default (pass ``F.lit("")`` / ``F.lit(0)``).
    CASE short-circuits, so ``element_at`` never sees an invalid index.
    """
    arr, idx = _col(arr), _col(idx).cast("int")  # element_at requires INT index
    d = default if isinstance(default, Column) else F.lit(default)
    in_range = (idx >= 1) & (idx <= F.size(arr))
    return F.when(in_range, F.coalesce(F.element_at(arr, idx), d)).otherwise(d)


def array_at_signed(arr: ColumnOrName, idx: ColumnOrName, default) -> Column:
    """``arr[i]`` with ClickHouse's FULL index rule: 1-based from the
    front, NEGATIVE from the back (``arr[-1]`` = last element), the
    element-type default for 0 / out of range either way.
    :func:`array_at` (used by the reference-parity queries, where the
    index comes from ``indexOf`` and is never negative) keeps the
    positive-only contract; this is the general form the chsql
    front-end compiles ``col[idx]`` to."""
    arr, idx = _col(arr), _col(idx).cast("int")
    d = default if isinstance(default, Column) else F.lit(default)
    n = F.size(arr)
    in_range = ((idx >= 1) & (idx <= n)) | ((idx <= -1) & (-idx <= n))
    return F.when(in_range, F.coalesce(F.element_at(arr, idx), d)).otherwise(d)


# --- F3: arrayMap -------------------------------------------------------
def array_map(f: Callable[[Column], Column], arr: ColumnOrName) -> Column:
    """ClickHouse ``arrayMap(x -> e, arr)`` == Spark ``transform`` (README.md:109)."""
    return F.transform(_col(arr), f)


def array_filter(f: Callable[[Column], Column], arr: ColumnOrName) -> Column:
    """ClickHouse ``arrayFilter`` == Spark ``filter`` higher-order fn."""
    return F.filter(_col(arr), f)


# --- A7: sumArray / arraySum --------------------------------------------
def array_sum(arr: ColumnOrName, zero=None) -> Column:
    """Sum of the elements of one array value (ClickHouse ``arraySum``).

    ``sumArray(arr)`` across rows (README.md:109) is then
    ``F.sum(array_sum(arr))``.
    """
    z = F.lit(0).cast("long") if zero is None else zero
    return F.aggregate(_col(arr), z, lambda acc, x: acc + x)


# --- F4: if(c, a, b) ----------------------------------------------------
def if_(cond: Column, a, b) -> Column:
    """ClickHouse ``if(cond, then, else)`` (README.md:109)."""
    return F.when(cond, a).otherwise(b)


# --- F5: isFinite -------------------------------------------------------
def is_finite(x: ColumnOrName) -> Column:
    """ClickHouse ``isFinite(x)`` -> boolean; ints are always finite."""
    x = _col(x)
    xd = x.cast("double")
    return (~F.isnan(xd)) & (xd != F.lit(float("inf"))) & (xd != F.lit(float("-inf")))


# --- F6: notEmpty -------------------------------------------------------
def not_empty(s: ColumnOrName) -> Column:
    """ClickHouse ``notEmpty(s)`` -> UInt8 1/0 (README.md:109).

    Null-safe: null behaves like '' (ClickHouse Strings are not
    nullable by default; our schemas allow null, map it to empty).
    """
    return (F.length(F.coalesce(_col(s), F.lit(""))) > 0).cast("int")


def empty(s: ColumnOrName) -> Column:
    return (F.length(F.coalesce(_col(s), F.lit(""))) == 0).cast("int")


# --- F7: toInt64 and friends --------------------------------------------
def to_int64(x: ColumnOrName) -> Column:
    """ClickHouse ``toInt64`` (README.md:109); bool -> 0/1 matches."""
    return _col(x).cast("long")


def to_date(x: ColumnOrName) -> Column:
    """``cast('...' as date)`` (README.md:145-147,163)."""
    return _col(x).cast("date")


# --- F9: toMonday -------------------------------------------------------
def to_monday(d: ColumnOrName) -> Column:
    """Monday of the ISO week of ``d`` (ClickHouse ``toMonday``).

    The reference partitions both fact tables by it
    (ddl/hits.sql:114, ddl/visits.sql:234).  Spark's
    ``date_trunc('week', ...)`` is Monday-based -- identical.
    """
    return F.date_trunc("week", _col(d)).cast("date")


# --- F10: least / greatest ----------------------------------------------
least = F.least  # README.md:105 (users capped at visits)
greatest = F.greatest


# --- misc ---------------------------------------------------------------
def count_one() -> Column:
    """``count(1)`` (README.md:161-162,291)."""
    return F.count(F.lit(1))


def uniq_exact(c: ColumnOrName) -> Column:
    """ClickHouse ``uniqExact`` == exact distinct count (README.md:105).

    The reference uses the exact variant; ``uniq`` (approximate) maps to
    :func:`uniq` below as the at-scale option.
    """
    return F.countDistinct(_col(c))


def uniq(c: ColumnOrName, rsd: float = 0.05) -> Column:
    """ClickHouse ``uniq`` -- approximate distinct (HLL).  Performance
    option for 100TB-scale; NOT what the reference queries use."""
    return F.approx_count_distinct(_col(c), rsd)


# --- aggregate combinators (ClickHouse -If / arg* / array family) -------
# The idiomatic ClickHouse analytics vocabulary beyond what the
# reference's own queries spell out: a Metrica user porting dashboards
# will reach for argMax (latest-row-per-key), countIf/sumIf/avgIf
# (conditional metrics without subqueries), and groupUniqArray.  All
# map to single built-in JVM aggregates -- no UDFs, map-side partial
# aggregation intact.
def arg_max(arg: ColumnOrName, by: ColumnOrName) -> Column:
    """ClickHouse ``argMax(arg, val)``: arg at the row with max val.
    Spark ``max_by`` has identical semantics (ties: engine-chosen row,
    same caveat as ClickHouse -- order by a unique key for determinism).
    """
    return F.max_by(_col(arg), _col(by))


def arg_min(arg: ColumnOrName, by: ColumnOrName) -> Column:
    """ClickHouse ``argMin(arg, val)`` == Spark ``min_by``."""
    return F.min_by(_col(arg), _col(by))


def count_if(cond: Column) -> Column:
    """ClickHouse ``countIf(cond)`` -- 0 (not null) when nothing matches."""
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long")


def sum_if(c: ColumnOrName, cond: Column) -> Column:
    """ClickHouse ``sumIf(col, cond)`` -- 0 (not null) when nothing matches."""
    return F.sum(F.when(cond, _col(c)).otherwise(F.lit(0)))


def avg_if(c: ColumnOrName, cond: Column) -> Column:
    """ClickHouse ``avgIf(col, cond)``.  Deviation: an empty match set
    yields NULL here (Spark null-skipping avg) where ClickHouse yields
    NaN -- null composes better with outer aggregates and the oracle."""
    return F.avg(F.when(cond, _col(c)))


def group_uniq_array(c: ColumnOrName) -> Column:
    """ClickHouse ``groupUniqArray`` with a deterministic twist: the
    distinct set is sorted (collect_set order is engine-internal)."""
    return F.array_sort(F.collect_set(_col(c)))


def round_to(c: ColumnOrName, n: int) -> Column:
    """Cross-engine-deterministic rounding: floor(x*10^n + 0.5)/10^n.

    Spark's ``round`` rounds the *shortest decimal representation* of
    the double (Java BigDecimal.valueOf) while DuckDB/C engines round
    the binary value -- they disagree on values like 91204.335.  This
    form is pure IEEE arithmetic, bit-identical in every engine, which
    the oracle-hash correctness gate requires.  Output metrics only.
    """
    p = float(10**n)
    return F.floor(_col(c) * F.lit(p) + F.lit(0.5)) / F.lit(p)


def ident(name: str) -> str:
    """``name`` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def safe_div(num: Column, den: Column) -> Column:
    """ClickHouse division-by-zero yields IEEE specials; downstream
    ratio metrics want null-on-zero so aggregates stay finite.  Used
    for the ratio-of-sums metrics (README.md:106-108)."""
    return num / F.nullif(den.cast("double"), F.lit(0.0))


# -- array function family (ClickHouse names -> Spark higher-order
#    functions; all JVM-side, codegen-friendly, no Python) ------------


def array_exists(f: Callable[[Column], Column], arr: ColumnOrName) -> Column:
    """``arrayExists(f, arr)`` -> any element satisfies f."""
    return F.exists(_col(arr), f)


def array_all(f: Callable[[Column], Column], arr: ColumnOrName) -> Column:
    """``arrayAll(f, arr)`` -> every element satisfies f (true on [])."""
    return F.forall(_col(arr), f)


def array_count(f: Callable[[Column], Column], arr: ColumnOrName) -> Column:
    """``arrayCount(f, arr)`` -> number of elements satisfying f."""
    return F.size(F.filter(_col(arr), f))


def array_distinct(arr: ColumnOrName) -> Column:
    """``arrayDistinct`` (first-occurrence order, same as Spark's)."""
    return F.array_distinct(_col(arr))


def array_compact(arr: ColumnOrName) -> Column:
    """``arrayCompact``: drop CONSECUTIVE duplicates (keep the first of
    each run).  The (element, index) filter form keeps it a single
    codegen'd expression: element i survives iff i == 0 or it differs
    from element i-1.  The previous element is read with 0-based
    ``F.get(a, i - 1)`` (null-safe, never errors) under an explicit
    ``when`` guard -- relying on Or short-circuiting to keep 1-based
    ``element_at`` away from index 0 would raise
    ELEMENT_AT_BY_INDEX_ZERO if an expression rewrite reordered the
    disjuncts."""
    a = _col(arr)
    return F.filter(
        a,
        lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
            ~x.eqNullSafe(F.get(a, i - 1))
        ),
    )


def array_slice(arr: ColumnOrName, offset: int, length: int) -> Column:
    """``arraySlice(arr, offset, length)`` -- 1-based, negative offset
    counts from the end (Spark ``slice`` shares both conventions)."""
    return F.slice(_col(arr), offset, length)


def array_reverse(arr: ColumnOrName) -> Column:
    """``arrayReverse``."""
    return F.reverse(_col(arr))


def array_string_concat(arr: ColumnOrName, sep: str = "") -> Column:
    """``arrayStringConcat(arr, sep)``."""
    return F.array_join(_col(arr), sep)


def array_flatten(arr: ColumnOrName) -> Column:
    """``arrayFlatten`` (one level, like CH)."""
    return F.flatten(_col(arr))


def has(arr: ColumnOrName, value) -> Column:
    """``has(arr, v)``."""
    return F.array_contains(_col(arr), value)


def has_all(arr: ColumnOrName, needles: ColumnOrName) -> Column:
    """``hasAll(arr, needles)``: every needle present (true on [])."""
    a = _col(arr)
    return F.forall(_col(needles), lambda x: F.array_contains(a, x))


def has_any(arr: ColumnOrName, needles: ColumnOrName) -> Column:
    """``hasAny(arr, needles)``."""
    return F.arrays_overlap(_col(arr), _col(needles))


def array_enumerate(arr: ColumnOrName) -> Column:
    """``arrayEnumerate(arr)`` -> [1, 2, ..., size] ([] stays [])."""
    a = _col(arr)
    return F.when(
        F.size(a) > 0, F.sequence(F.lit(1), F.size(a))
    ).otherwise(F.array().cast("array<int>"))


# -- date/time function family ---------------------------------------


def to_start_of_month(d: ColumnOrName) -> Column:
    """``toStartOfMonth`` -> first day of the month as DATE."""
    return F.trunc(F.to_date(_col(d)), "month")


def to_start_of_quarter(d: ColumnOrName) -> Column:
    """``toStartOfQuarter``."""
    return F.trunc(F.to_date(_col(d)), "quarter")


def to_start_of_year(d: ColumnOrName) -> Column:
    """``toStartOfYear``."""
    return F.trunc(F.to_date(_col(d)), "year")


def to_start_of_hour(ts: ColumnOrName) -> Column:
    """``toStartOfHour`` (timestamp in, timestamp out)."""
    return F.date_trunc("hour", _col(ts))


def to_yyyymm(d: ColumnOrName) -> Column:
    """``toYYYYMM`` -> integer like 202312."""
    c = F.to_date(_col(d))
    return (F.year(c) * F.lit(100) + F.month(c)).cast("int")


def date_diff_days(a: ColumnOrName, b: ColumnOrName) -> Column:
    """``dateDiff('day', a, b)`` = b - a in whole days."""
    return F.datediff(F.to_date(_col(b)), F.to_date(_col(a)))


def add_days(d: ColumnOrName, n: int) -> Column:
    """``addDays``."""
    return F.date_add(F.to_date(_col(d)), n)


def add_months(d: ColumnOrName, n: int) -> Column:
    """``addMonths``."""
    return F.add_months(F.to_date(_col(d)), n)


def to_quarter(d: ColumnOrName) -> Column:
    """``toQuarter`` -> 1..4."""
    return F.quarter(F.to_date(_col(d)))


def to_day_of_week(d: ColumnOrName) -> Column:
    """``toDayOfWeek`` (default mode): Monday=1 .. Sunday=7.  Spark's
    ``dayofweek`` is Sunday=1, hence the +5 mod-7 rotation."""
    return ((F.dayofweek(F.to_date(_col(d))) + F.lit(5)) % 7 + F.lit(1)).cast("int")


def to_day_of_year(d: ColumnOrName) -> Column:
    """``toDayOfYear`` -> 1..366."""
    return F.dayofyear(F.to_date(_col(d)))


def to_iso_week(d: ColumnOrName) -> Column:
    """``toISOWeek`` -> ISO-8601 week number (Spark's ``weekofyear``
    IS ISO: week containing the year's first Thursday is week 1)."""
    return F.weekofyear(F.to_date(_col(d)))


def to_last_day_of_month(d: ColumnOrName) -> Column:
    """``toLastDayOfMonth``."""
    return F.last_day(F.to_date(_col(d)))


def to_unix_timestamp(d: ColumnOrName) -> Column:
    """``toUnixTimestamp``: seconds since epoch.  Timestamps keep
    their time-of-day (CH parity); dates resolve to their UTC
    midnight under the engine's pinned UTC session tz."""
    return F.unix_timestamp(_col(d).cast("timestamp"))


# -- string function family ------------------------------------------


def split_by_char(sep: str, s: ColumnOrName) -> Column:
    """``splitByChar(sep, s)`` (argument order is CH's).  The
    separator is a literal character, escaped for Spark's regex-based
    ``split``."""
    import re as _re

    return F.split(_col(s), _re.escape(sep))


def extract_all(s: ColumnOrName, pattern: str) -> Column:
    """``extractAll(s, pattern)`` -> array of all matches."""
    return F.regexp_extract_all(_col(s), F.lit(pattern), F.lit(0))


def position(haystack: ColumnOrName, needle: str) -> Column:
    """``position(haystack, needle)`` -- 1-based, 0 when absent."""
    return F.instr(_col(haystack), needle)


def replace_regexp_all(s: ColumnOrName, pattern: str, repl: str) -> Column:
    """``replaceRegexpAll``."""
    return F.regexp_replace(_col(s), pattern, repl)


def replace_all(s: ColumnOrName, needle: str, repl: str) -> Column:
    """``replaceAll`` (literal, not regex)."""
    return F.replace(_col(s), F.lit(needle), F.lit(repl))


def uniq_up_to(c: ColumnOrName, n: int) -> Column:
    """ClickHouse ``uniqUpTo(N)``: exact distinct count while it is
    <= N, else N+1 (the "more than N?" probe).  CH caps the hash-state
    size; Spark's exact countDistinct then least() yields identical
    results (the state-size optimization is internal to CH -- on
    Spark the map-side partial distinct already bounds memory)."""
    return F.least(F.countDistinct(_col(c)), F.lit(n + 1))


def uniq_hll12(c: ColumnOrName) -> Column:
    """ClickHouse ``uniqHLL12`` (HyperLogLog, 2^12 registers, rsd
    ~1.6%): Spark HLL++ at the same accuracy class.  Documented
    deviation (whole approx family, incl. :func:`uniq` above): CH's
    sketches and Spark's HLL++ estimate the same cardinality
    differently; both stay within their rsd, and no hash-compared
    oracle entry may use them -- ``uniq_exact`` is the value-stable
    form."""
    return F.approx_count_distinct(_col(c), 0.016)


def uniq_combined(c: ColumnOrName) -> Column:
    """ClickHouse ``uniqCombined`` default accuracy (HLL K=17 tier,
    rsd ~0.5%): Spark HLL++ at rsd 0.005 -- more registers, tighter
    estimate, bigger (still fixed-size) sketch state."""
    return F.approx_count_distinct(_col(c), 0.005)


# =========================================================================
# URL function family (CH URL functions -- the Metrica model's Referer /
# URL columns, ddl/hits.sql / ddl/visits.sql StartURL+Referer).  All are
# JVM built-ins (parse_url / regexp) -- no UDFs.  ClickHouse returns ''
# where a component is absent; Spark's parse_url returns NULL, so every
# wrapper coalesces to '' for CH parity.
# =========================================================================


def url_protocol(u: ColumnOrName) -> Column:
    """``protocol(url)``: scheme without '://' ('' when absent)."""
    return F.coalesce(F.parse_url(_col(u), F.lit("PROTOCOL")), F.lit(""))


def url_domain(u: ColumnOrName) -> Column:
    """``domain(url)``: host part ('' when unparseable -- CH parity)."""
    return F.coalesce(F.parse_url(_col(u), F.lit("HOST")), F.lit(""))


def url_top_level_domain(u: ColumnOrName) -> Column:
    """``topLevelDomain(url)``: last dot-label of the host ('' when the
    host has no dot, matching CH's invalid-TLD rule)."""
    return F.regexp_extract(url_domain(u), r"\.([^.]+)$", 1)


def url_path(u: ColumnOrName) -> Column:
    """``path(url)``: path without query string ('' when absent)."""
    return F.coalesce(F.parse_url(_col(u), F.lit("PATH")), F.lit(""))


def url_query_string(u: ColumnOrName) -> Column:
    """``queryString(url)``: query without the leading '?' ('' when
    absent)."""
    return F.coalesce(F.parse_url(_col(u), F.lit("QUERY")), F.lit(""))


def extract_url_parameter(u: ColumnOrName, name: str) -> Column:
    """``extractURLParameter(url, name)``: value of the named query
    parameter ('' when absent, CH parity).  The name is treated
    literally (parse_url's KEY lookup), not as a regex."""
    return F.coalesce(
        F.parse_url(_col(u), F.lit("QUERY"), F.lit(name)), F.lit("")
    )


def cut_query_string(u: ColumnOrName) -> Column:
    """``cutQueryString(url)``: drop '?' and everything after it up to
    the fragment; the '#fragment' (if any) is preserved, as in CH."""
    return F.regexp_replace(_col(u), r"\?[^#]*", "")


def url_fragment(u: ColumnOrName) -> Column:
    """``fragment(url)``: the fragment identifier without '#' (''
    when absent, CH parity)."""
    return F.coalesce(F.parse_url(_col(u), F.lit("REF")), F.lit(""))


def cut_fragment(u: ColumnOrName) -> Column:
    """``cutFragment(url)``: drop '#' and everything after it (the
    query string is preserved, as in CH)."""
    return F.regexp_replace(_col(u), r"#.*$", "")


def url_port(u: ColumnOrName, default: int = 0) -> Column:
    """``port(url)``: the explicit port as an int, ``default`` (CH:
    0) when absent.  Extracted from parse_url's AUTHORITY with a
    trailing ``:digits`` match, so bracketed IPv6 hosts
    (``[2001:db8::1]:8443``) resolve correctly -- the inner colons
    are never at the end."""
    p = F.regexp_extract(
        F.coalesce(F.parse_url(_col(u), F.lit("AUTHORITY")), F.lit("")),
        r":(\d+)$",
        1,
    )
    # nullif+coalesce instead of when(p != '', ...): a data-dependent
    # CASE WHEN forces its subtree out of the vectorized path (the
    # measured 10-50x branch penalty, PLANS.md); the branch-free form
    # is 0.61 -> 0.28 s at sf0.1 on the url_funcs battery
    return F.coalesce(F.nullif(p, F.lit("")).cast("int"), F.lit(default))


def domain_without_www(u: ColumnOrName) -> Column:
    """``domainWithoutWWW(url)``: host with one leading 'www.'
    stripped ('' when unparseable, CH parity)."""
    return F.regexp_replace(url_domain(u), r"^www\.", "")


def cut_www(u: ColumnOrName) -> Column:
    """``cutWWW(url)``: the URL with the host's leading 'www.'
    removed (scheme/path/query untouched; non-URL strings pass
    through unchanged, as in CH)."""
    return F.regexp_replace(_col(u), r"^([a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?)www\.", r"$1")


def path_full(u: ColumnOrName) -> Column:
    """``pathFull(url)``: path INCLUDING the query string ('' when
    absent) -- CH's path-with-query variant."""
    qs = url_query_string(u)
    return F.when(
        qs != "", F.concat(url_path(u), F.lit("?"), qs)
    ).otherwise(url_path(u))


def cut_url_parameter(u: ColumnOrName, name: str) -> Column:
    """``cutURLParameter(url, name)``: the URL with the named query
    parameter (and its value) removed; the name matches literally at
    a parameter boundary, remaining separators are kept consistent
    (leading '?'/'&' reattached correctly).  Documented deviation:
    DUPLICATE occurrences of the parameter are ALL removed here
    (regexp_replace is global) where ClickHouse removes only the
    first -- for the dedup/canonicalization uses this engine serves,
    removing every occurrence is the safer contract."""
    import re as _re

    n = _re.escape(name)
    # drop "name=..." plus ONE adjacent separator: "&name=v" or
    # "name=v&" or a lone "?name=v"
    out = F.regexp_replace(_col(u), rf"([?&]){n}=[^&#]*&", r"$1")
    return F.regexp_replace(out, rf"[?&]{n}=[^&#]*", "")


def quantile_approx(
    c: ColumnOrName, q: float | list[float], accuracy: int = 10000
) -> Column:
    """ClickHouse ``quantileTDigest``-class APPROXIMATE quantile:
    Spark's ``percentile_approx`` (Greenwald-Khanna) at the given
    accuracy.  Documented deviation: different sketch than CH's
    t-digest, same fixed-memory approximate class; error <=
    1/accuracy in rank.  Use operators.stats exact quantiles when a
    hash-compared oracle needs the value."""
    return F.percentile_approx(_col(c), q, accuracy)


def avg_weighted(v: ColumnOrName, w: ColumnOrName) -> Column:
    """ClickHouse ``avgWeighted(x, w)``: sum(x*w)/sum(w).  Deviation:
    an all-zero/empty weight set yields NULL here (Spark division by
    zero) where ClickHouse yields NaN -- null composes better with
    outer aggregates and the oracle, same policy as ``avg_if``."""
    return F.sum(_col(v) * _col(w)) / F.sum(_col(w))


def great_circle_distance(
    lon1: ColumnOrName | Column,
    lat1: ColumnOrName | Column,
    lon2: ColumnOrName | Column,
    lat2: ColumnOrName | Column,
) -> Column:
    """ClickHouse ``greatCircleDistance(lon1, lat1, lon2, lat2)``:
    meters between two WGS84 points.  Documented formula: haversine on
    a 6,371,000 m mean-radius sphere, fully in codegen'd JVM trig
    (CH's own implementation interpolates a slightly different
    ellipsoidal radius; differences are <0.5% and the formula here is
    the oracle-reproducible spherical standard)."""
    rlon1, rlat1 = F.radians(_col(lon1)), F.radians(_col(lat1))
    rlon2, rlat2 = F.radians(_col(lon2)), F.radians(_col(lat2))
    dlat, dlon = rlat2 - rlat1, rlon2 - rlon1
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * 6_371_000.0) * F.asin(F.sqrt(a))


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
# Spark conv()'s digit alphabet for base 32 -- the translate target
# that turns a geohash string into a number conv can parse
_CONV_B32 = "0123456789abcdefghijklmnopqrstuv"


def _compact_even_bits(x: Column) -> Column:
    """Gather the even-LSB-position bits of a (<= 62-bit) long into a
    contiguous low field, order preserved -- the classic Morton-code
    compaction: 5 shift-or-mask rounds, each referencing the previous
    round once, so the expression tree stays LINEAR in depth (the
    whole point vs per-bit extraction, which re-evaluates its source
    subtree per bit)."""
    x = x.bitwiseAND(F.lit(0x5555555555555555))
    x = (x.bitwiseOR(F.shiftright(x, 1))).bitwiseAND(F.lit(0x3333333333333333))
    x = (x.bitwiseOR(F.shiftright(x, 2))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftright(x, 4))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftright(x, 8))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftright(x, 16))).bitwiseAND(F.lit(0x00000000FFFFFFFF))
    return x


def geohash_encode(
    lon: ColumnOrName | Column,
    lat: ColumnOrName | Column,
    precision: int = 6,
) -> Column:
    """ClickHouse ``geohashEncode(lon, lat, precision)``: the public
    geohash algorithm (Niemeyer) — interleave the MSB-first bits of
    the longitude/latitude bisection quantizers, 5 bits per base32
    character.  Closed-form integer arithmetic (quantize once, then
    shift/mask per bit), fully codegen'd: no loops at runtime, no UDF.
    Inputs are assumed in-range (lon [-180,180), lat [-90,90)); the
    quantizer clamps the +180/+90 edge into the last cell like CH."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be 1..12, got {precision}")
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lon_q = F.least(
        F.floor((_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2**nlon))),
        F.lit(float(2**nlon - 1)),
    ).cast("long")
    lat_q = F.least(
        F.floor((_col(lat) + F.lit(90.0)) / F.lit(180.0) * F.lit(float(2**nlat))),
        F.lit(float(2**nlat - 1)),
    ).cast("long")
    # one literal lookup array (a single parsed lit, not 32 py4j lits)
    alphabet = F.split(F.lit("|".join(_GEOHASH_B32)), r"\|")
    chars = []
    for c in range(precision):
        val: Column = F.lit(0).cast("long")
        for b in range(5):
            i = 5 * c + b
            if i % 2 == 0:  # even global bits come from longitude
                bit = F.shiftright(lon_q, nlon - 1 - i // 2) % 2
            else:
                bit = F.shiftright(lat_q, nlat - 1 - (i - 1) // 2) % 2
            val = val + bit * F.lit(1 << (4 - b))
        chars.append(F.element_at(alphabet, (val + F.lit(1)).cast("int")))
    return F.concat(*chars)


def geohash_decode(
    gh: ColumnOrName | Column, precision: int = 6
) -> tuple[Column, Column]:
    """ClickHouse ``geohashDecode(s)``: (longitude, latitude) of the
    CELL CENTER.  Closed-form inverse of :func:`geohash_encode` for a
    FIXED-width input (the common stored-column case): per character,
    recover the base32 value via a position scan, de-interleave the 5
    bits back into the lon/lat quantizers, then map each quantizer to
    its cell midpoint.  Returns a (lon, lat) Column pair.

    Invalid input -> (NULL, NULL) (documented deviation, ADVICE r8:
    CH raises on a malformed geohash; a character outside the base32
    alphabet would otherwise make the parse emit garbage coordinates).
    Validity = the first ``precision`` characters all drawn from the
    geohash base32 alphabet (one anchored character-class regex); a
    too-short string fails the same check.

    Formulation (round 10): ONE ``conv`` parse of the whole string
    (geohash alphabet translated to conv's 0-9a-v digits) yields the
    full interleaved bit value, then the classic Morton bit-compaction
    (5 shift-or-mask steps per coordinate) de-interleaves it.  The
    expression tree is LINEAR — each step references the previous step
    once — unlike the r9 per-bit form, whose 5 uses per character each
    duplicated the instr/substring subtree (~30 duplicated string scans
    per row; Catalyst does not CSE across the summed terms).

    The validity gate is ADDITIVE (``coord + when(valid, 0.0)``), not
    a branch around the coordinate: measured on this Spark build, a
    data-dependent CASE WHEN makes its branch subtree ~10-50x slower
    than the same subtree evaluated unconditionally in the projection
    (when(valid, lon) 12.9 s vs 0.37 s at sf0.1 — the branch body is
    excluded from the fast evaluation path), while NULL + x == NULL
    gives the same invalid->NULL contract for free.  Output is
    bit-identical to the r9 form for precision 1..12 including
    invalid/short/NULL inputs (equivalence-tested)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be 1..12, got {precision}")
    g = _col(gh)
    # the alphabet is 0-9 + b..z minus a, i, l, o
    valid = g.rlike("^[0-9b-hj-km-np-z]{%d}" % precision)
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    # whole-string parse: translate geohash digits to conv's base-32
    # digit set, then one conv(32 -> 10).  60 bits max (precision 12)
    # fits the signed long.
    v = F.conv(
        F.translate(F.substring(g, 1, precision), _GEOHASH_B32, _CONV_B32),
        32,
        10,
    ).cast("long")
    # global bit i (MSB-first; even i = longitude) sits at LSB position
    # nbits-1-i: for even nbits the longitude bits are LSB-odd (one
    # extra right-shift), for odd nbits they are LSB-even
    if nbits % 2 == 0:
        lon_q = _compact_even_bits(F.shiftright(v, 1))
        lat_q = _compact_even_bits(v)
    else:
        lon_q = _compact_even_bits(v)
        lat_q = _compact_even_bits(F.shiftright(v, 1))
    lon = (lon_q.cast("double") + F.lit(0.5)) / F.lit(float(2**nlon)) * F.lit(
        360.0
    ) - F.lit(180.0)
    lat = (lat_q.cast("double") + F.lit(0.5)) / F.lit(float(2**nlat)) * F.lit(
        180.0
    ) - F.lit(90.0)
    gate = F.when(valid, F.lit(0.0))  # NULL unless valid; cheap branch
    return lon + gate, lat + gate


# --- string/regex vocabulary (round 7): match / extract / countMatches /
# startsWith / endsWith / pads / trims -- the CH functions a dashboard
# port hits right after the URL family.  All JVM built-ins.
def match(s: ColumnOrName, pattern: str) -> Column:
    """CH ``match(haystack, pattern)`` -> UInt8 0/1 (re2 in CH, Java
    regex here -- the common subset is identical; null haystack -> 0)."""
    return F.coalesce(_col(s).rlike(pattern).cast("int"), F.lit(0))


def extract(s: ColumnOrName, pattern: str) -> Column:
    """CH ``extract(haystack, pattern)``: first capture group if the
    pattern has one, else the whole match; '' when no match (CH rule).
    The group choice is decided from the LITERAL pattern (an
    unescaped ``(`` not starting ``(?:``)."""
    group = 1 if re.search(r"(?<!\\)\((?!\?)", pattern) else 0
    return F.regexp_extract(F.coalesce(_col(s), F.lit("")), pattern, group)


def count_matches(s: ColumnOrName, pattern: str) -> Column:
    """CH ``countMatches`` == regexp_count; null haystack -> 0."""
    return F.coalesce(
        F.regexp_count(_col(s), F.lit(pattern)), F.lit(0)
    ).cast("long")


def starts_with(s: ColumnOrName, prefix) -> Column:
    """CH ``startsWith`` -> UInt8 0/1 (null -> 0)."""
    return F.coalesce(F.startswith(_col(s), F.lit(prefix)).cast("int"), F.lit(0))


def ends_with(s: ColumnOrName, suffix) -> Column:
    """CH ``endsWith`` -> UInt8 0/1 (null -> 0)."""
    return F.coalesce(F.endswith(_col(s), F.lit(suffix)).cast("int"), F.lit(0))


def left_pad(s: ColumnOrName, length: int, pad: str = " ") -> Column:
    """CH ``leftPad`` == lpad (truncates to ``length`` when longer,
    both engines)."""
    return F.lpad(_col(s), length, pad)


def right_pad(s: ColumnOrName, length: int, pad: str = " ") -> Column:
    return F.rpad(_col(s), length, pad)


def trim_both(s: ColumnOrName) -> Column:
    """CH ``trimBoth`` / ``trim(BOTH ...)`` for whitespace."""
    return F.trim(_col(s))


def uniq_up_to_expr(c: ColumnOrName, n: int) -> Column:
    """Alias kept next to the string family for chsql's parameterized
    ``uniqUpTo(N)(x)`` spelling; same contract as :func:`uniq_up_to`."""
    return uniq_up_to(c, n)


# ---------------------------------------------------------------------------
# URL family #2 (r11): significant-subdomain groupings and URL
# hierarchies -- the Metrica traffic-source / page-drilldown report
# functions (reference model: visits.StartURL / hits.URL columns,
# ddl/*.sql)
# ---------------------------------------------------------------------------

# the classic CH "insignificant second-level domain" set used by
# firstSignificantSubdomain (com.tr -> pick one label left).
# Deviation, documented: CH builds with an embedded public-suffix
# list also shift on PSL-exotic suffixes (x.github.io -> 'x'); this
# implements the documented classic rule ('github').
_INSIGNIFICANT_2LD = ("com", "net", "org", "co", "biz", "gov", "mil", "edu", "int")


def url_first_significant_subdomain(u: ColumnOrName) -> Column:
    """CH ``firstSignificantSubdomain(url)``: the domain label just
    above the effective TLD -- 'yandex' for mail.yandex.ru AND for
    news.yandex.com.tr (a second-to-last label in the insignificant
    set shifts the pick one label left).  '' when the host has fewer
    than two labels (CH's invalid-domain rule)."""
    labels = F.split(url_domain(u), r"\.")
    n = F.size(labels)
    second = F.try_element_at(labels, F.lit(-2))
    shifted = second.isin(*_INSIGNIFICANT_2LD) & (n >= 3)
    return (
        F.when(n < 2, F.lit(""))
        .when(shifted, F.try_element_at(labels, F.lit(-3)))
        .otherwise(second)
    )


def url_cut_to_first_significant_subdomain(u: ColumnOrName) -> Column:
    """CH ``cutToFirstSignificantSubdomain(url)``: the domain
    truncated to start at the first significant subdomain --
    'yandex.ru' for mail.yandex.ru, 'yandex.com.tr' for
    news.yandex.com.tr, '' for a dotless host."""
    labels = F.split(url_domain(u), r"\.")
    n = F.size(labels)
    second = F.try_element_at(labels, F.lit(-2))
    shifted = second.isin(*_INSIGNIFICANT_2LD) & (n >= 3)
    start = F.when(shifted, n - 2).otherwise(n - 1)
    return F.when(n < 2, F.lit("")).otherwise(
        F.array_join(F.slice(labels, start, F.lit(2) + shifted.cast("int")), ".")
    )


def _url_base(u: ColumnOrName) -> Column:
    """protocol://host prefix ('' pieces when unparseable)."""
    return F.concat(url_protocol(u), F.lit("://"), url_domain(u))


def url_hierarchy(u: ColumnOrName) -> Column:
    """CH ``URLHierarchy(url)``: the URL truncated at each path
    ``/`` boundary (each element keeps its trailing '/'), then the
    full path element, then the full URL with its query string --
    ['https://e.com/', 'https://e.com/browse/',
    'https://e.com/browse/CONV-6788'] per the CH docs example.
    Empty array when the host is unparseable.  Deviation (documented):
    fragment boundaries and in-query '&'-level elements are not
    emitted."""
    base = _url_base(u)
    path = url_path(u)
    q = url_query_string(u)
    segs = F.split(path, "/")
    n = F.size(segs)
    # prefix i (1-based over segs): join of the first i segments plus
    # a trailing '/' for non-final prefixes; i == n is the full path.
    # A trailing-slash path ends with an empty segment: drop the
    # would-be duplicate full-path element.
    idx = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i < n) | (F.try_element_at(segs, F.lit(-1)) != F.lit("")),
    )
    prefixes = F.transform(
        idx,
        lambda i: F.concat(
            base,
            F.array_join(F.slice(segs, F.lit(1), i), "/"),
            F.when(i < n, F.lit("/")).otherwise(F.lit("")),
        ),
    )
    with_query = F.when(
        q != "",
        F.concat(
            prefixes,
            F.array(F.concat(base, path, F.lit("?"), q)),
        ),
    ).otherwise(prefixes)
    return F.when(url_domain(u) == "", F.array().cast("array<string>")).otherwise(
        with_query
    )


def url_path_hierarchy(u: ColumnOrName) -> Column:
    """CH ``URLPathHierarchy(url)``: :func:`url_hierarchy` without
    protocol/host and without the root '/' element --
    ['/browse/', '/browse/CONV-6788'] per the CH docs example."""
    base = _url_base(u)
    root = F.concat(base, F.lit("/"))
    return F.transform(
        F.filter(url_hierarchy(u), lambda e: e != root),
        lambda e: e.substr(F.length(base) + F.lit(1), F.lit(1 << 30)),
    )


def url_decode_component(u: ColumnOrName) -> Column:
    """CH ``decodeURLComponent``: pure percent-decoding -- '+' stays
    '+' (Java's URLDecoder reads it as space, so it is pre-escaped)."""
    return F.url_decode(F.replace(_col(u), F.lit("+"), F.lit("%2B")))


def url_encode_component(u: ColumnOrName) -> Column:
    """CH ``encodeURLComponent``: RFC-3986 component encoding (keeps
    only [A-Za-z0-9._~-]).  Java's URLEncoder differs on exactly
    three points, each fixed up: space -> '+' (CH: %20), '*' kept
    (CH: %2A), '~' -> %7E (CH: kept)."""
    out = F.url_encode(_col(u))
    out = F.replace(out, F.lit("+"), F.lit("%20"))
    out = F.replace(out, F.lit("*"), F.lit("%2A"))
    return F.replace(out, F.lit("%7E"), F.lit("~"))
