"""ClickHouse-dialect SQL front-end: run the reference's chart SQL
VERBATIM on this engine.

A user of the reference writes ClickHouse SQL (the two DataLens chart
queries, /root/reference/README.md:75-86 and :96-119).  ``run_sql``
accepts that text unchanged -- comments, ``{{param}}`` placeholders,
backtick aliases referenced from WHERE/GROUP BY/HAVING, ``WITH
TOTALS``, ``LIMIT offset,n``, CH function names and CH 1-based
type-default array indexing -- and compiles it to ONE Spark SQL query
(plus the totals branch), so Catalyst sees a plain declarative plan.

This is a string-level dialect rewriter, not a SQL parser: every
transformation is scoped by a string-literal mask and top-level
paren/bracket scanning, and each rewrite maps a CH construct to the
engine's already-oracle-proven formulation (functions/ch.py is the
source of truth for each mapping; the chsql registry entries reuse
the SAME DuckDB oracles as the DataFrame chart implementations, so a
green row proves the front-end end-to-end).

Supported dialect surface (the reference's queries + the engine's CH
vocabulary):

- ``--`` and ``/* */`` comments; ``{{name}}`` parameter substitution
  (values are SQL fragments, e.g. ``DATE '2024-01-01'``).
- table mapping: caller provides {name-as-written: DataFrame}; each
  is registered as a temp view and the reference's
  ``db.table_<transfer id>`` spelling is replaced.
- SELECT-list aliases (backticked or bare) referenced from other
  select items, WHERE, GROUP BY and HAVING -- inlined via
  plans.alias.inline_aliases (P7 semantics).  ORDER BY resolves
  output aliases natively in Spark.
- CH NULL ordering (r12): every top-level ORDER BY item without an
  explicit modifier gets ``NULLS LAST`` ascending / ``NULLS FIRST``
  descending -- CH's rule, the exact opposite of Spark's default,
  and a silent row-order divergence under LIMIT otherwise.  Applies
  to the LIMIT BY rank window and the runningDifference/neighbor
  window order too.
- ``GROUP BY ... WITH TOTALS``: totals row computed over ALL
  pre-HAVING rows (ClickHouse default totals_mode), emitted in-band
  with NULL group keys after the ordered+limited detail rows --
  byte-identical semantics to plans/totals.py.
- ``LIMIT o, n`` -> ``LIMIT n [OFFSET o]``.
- function mapping (argument order fixed where CH differs):
  arrayMap/arrayFilter (lambda first in CH), indexOf, uniqExact,
  notEmpty, toInt64, isFinite, sumArray, toMonday, least/greatest
  (pass through), if (native).
- CH numeric literals ``100.`` / ``0.`` -> ``100.0D`` (Spark would
  parse a trailing-dot literal as DECIMAL and poison downstream
  float arithmetic).
- ``col[idx]``: 1-based access returning the ELEMENT TYPE DEFAULT
  ('' / 0) out of range, for any column whose array element type is
  known from the provided tables (ch.array_at semantics); unknown
  columns keep Spark semantics untouched.
- ``[LEFT] ARRAY JOIN <expr> [AS alias]`` CLAUSE (r8): hoisted into
  an inner explode projection, WHERE/GROUP BY post-expansion (CH's
  clause rule; the arrayJoin() FUNCTION keeps its pre-expansion
  WHERE).  MULTIPLE arrays (r12) zip positionally as in CH -- one
  explode over arrays_zip of pre-projected attributes, unequal sizes
  RAISE per row (CH throws; never silent NULL padding); no-AS
  replaces the plain column with its element; LEFT fills the CH
  element-type default ('' / 0) and needs known array columns
  (all-empty rows keep one defaults row in the multi form).
- structural aggregates (r12 on): ``sumMap(k, v)`` / ``minMap`` /
  ``maxMap``, ``topK(N)(x)`` / ``topKWeighted(N)(x, w)``,
  ``quantileExactWeighted(p)(x, w)`` / ``quantilesExactWeighted``,
  ``entropy``, ``windowFunnel``, ``sequenceMatch`` / ``sequenceCount``,
  ``intervalLengthSum``, ``maxIntersections`` and ``histogram`` compile
  when each call is a whole ALIASED top-level SELECT item.  One table,
  ``_STRUCT_AGGS``, keyed by the CH name, holds each family's parameter
  spelling, refusals, chain builder and output column; the chains are
  text twins of ``operators/`` formulations (the sumMap chain is
  operators/maps.agg_map's plan: STRUCT(keys, values) output, sorted
  keys, element-wise aggregated values).  Other aggregates in the same
  statement ride a residual GROUP BY joined null-safely on the group
  keys.  Any other placement keeps the pointer refusal.  Documented
  deviations: topK is EXACT top-N by (frequency DESC, value ASC), a
  deterministic strengthening of CH's approximate sketch (NULLs
  skipped, all-NULL groups keep []), and its global (no GROUP BY)
  spelling compiles to ORDER BY + LIMIT (TakeOrdered), never a
  single-partition window; quantileExactWeighted is the 'low' variant
  over the COMPRESSED (group, distinct value, weight) distribution,
  and all-invalid groups survive with a NULL quantile (the engine's
  NULL-over-NaN rule).
  Adding a family: see ``_rewrite_summap``.
- week bounds: on a table ``sources/warehouse.read_table`` marked as
  week-partitioned, a top-level WHERE conjunct bounding its date
  column by a DATE literal becomes a ``_week`` partition bound --
  replacing it when the bound falls on a week boundary (``>= Monday``,
  ``< Monday``, ``<= Sunday``, ``> Sunday``, ``BETWEEN Monday AND
  Sunday``), added beside it otherwise (equality included).  Spark
  prunes weeks by it and, for replaced bounds, generates no
  interval-dependent code (``_week_bounds``).
- ``PREWHERE`` (CH's scan-stage filter hint) merged into WHERE --
  Catalyst pushes filters to the scan on its own, so the hint costs
  nothing and the semantics (one more conjunct) are identical.
- ``FROM t FINAL`` / ``t SAMPLE f`` (r10): compiled when the caller
  declares the engine metadata CH would read from DDL --
  ``run_sql(..., table_meta={"t": TableMeta(key, version, sign,
  sample_by)})``.  FINAL becomes operators/collapse.collapsed() (the
  VersionedCollapsingMergeTree read-time collapse), keyed by (key,
  ``_week``) on a week-partitioned table -- CH collapses only within a
  partition -- so the statement's ``_week`` bounds reach the scan below
  the collapse windows; SAMPLE f keeps
  ``pmod(sample_by, 1e6) < f*1e6`` -- a contiguous, monotone,
  consistent-by-key slice, pushed to the scan.  Undeclared tables
  refuse (including the comma-join and subquery placements Spark
  would parse as aliases); mixed decorated+bare references to one
  table refuse, as do two decorated references with CONFLICTING
  flags; ``SAMPLE 1`` reads all rows (valid CH no-op); ``SAMPLE k
  OFFSET m`` (r12) reads the shifted [m, m+k) slice of the sample
  space, top-clipped as CH clips; integer SAMPLE > 1 (row-count
  form) refuses.
- every ``_CALL_REWRITES`` entry declares its arity (``_ARITY``,
  r10): surplus arguments REFUSE instead of being silently dropped,
  missing ones refuse instead of IndexError -- the refusal names the
  expected count.  Calls are found by ONE identifier-call scan
  (``name(`` / ``name  (`` outside '...' literals, not preceded by a
  word character) and a dict lookup; of the calls found, the one whose
  name comes EARLIEST in the table is rewritten first (leftmost among
  equals), then the text is rescanned until no mapped name is called.
  Names are plain identifiers (asserted at import).  ``count()`` with
  no argument is a row count; ``count`` is emitted re-cased as
  ``COUNT`` so the rescan stops.
- trailing ``FORMAT <name>`` and ``SETTINGS k=v, ...`` stripped: the
  first picks a CLI wire format (the DataFrame IS the result set) and
  the second tunes CH-internal knobs.
- ``LIMIT [off,] n BY keys [LIMIT ...]``: per-key-group rank limit in
  the query's ORDER BY order (requires ORDER BY -- CH's block order
  is not reproducible), applied before the trailing global LIMIT.
- ``SELECT DISTINCT ON (keys) ...`` (r12): CH defines it as LIMIT 1
  BY keys and this compile reuses exactly that path; without an
  ORDER BY the pick is the smallest row by the output columns in
  select order (ASC NULLS FIRST) -- the same deterministic
  refinement as the ANY-join build side (CH's pick is
  first-in-block-order, not reproducible).
- ``QUALIFY <pred>`` (r12, CH 23.x+): window-function filter,
  compiled as a same-level hidden boolean select item + outer
  filter; select aliases inline, UInt8 truthiness applies, ORDER
  BY / LIMIT [BY] / WITH FILL compose after it.
- ``LIMIT n WITH TIES`` (r12): rank() window filter over the
  statement's ORDER BY (requires one, as CH does); the offset form
  refuses.  ``ORDER BY ... COLLATE`` refuses (CH ICU collations have
  no stable Spark equivalent); the ``COLUMNS('re')`` / ``* APPLY``
  matchers and ``untuple()`` refuse with Spark-first recipes
  (``* EXCEPT (cols)`` passes through natively).
- multi-array lambdas (r12): ``arrayMap/Filter/Exists/All/Count/
  First/Last((x, y) -> ..., a, b)`` compile onto ``zip_with`` with
  the CH equal-size contract (unequal sizes RAISE per row — bare
  zip_with would silently NULL-pad; NULL arrays propagate NULL).
  Three or more arrays keep the arity refusal.
- ``ALL [LEFT|INNER|...] JOIN`` strips like GLOBAL (CH's explicit
  default multiplicity == Spark's join; unstripped, Spark parses ALL
  as the left table's alias).  ``PASTE JOIN`` (positional pairing,
  CH 24.x) refuses by name — a passthrough silently degrades to a
  cross product.
- aggregate combinators (r12): ``groupArrayIf`` / ``groupUniqArrayIf``
  (CASE-to-NULL), the ``-Array`` element-level family (``minArray
  maxArray countArray avgArray groupArrayArray groupUniqArrayArray
  uniqArray uniqExactArray`` — per-row map-side reductions, no
  explode; uniqArray is EXACT, a documented strengthening), and
  ``arrayReduce('agg', arr)`` for literal max/min/count/avg/uniqExact
  (sum points at the schema-typed arraySum).  An ``-If`` on a
  PARAMETRIZED aggregate refuses by name.
- ``lagInFrame``/``leadInFrame`` -> lag/lead: exact for frameless
  lagInFrame (CH's default frame contains every backward offset);
  Spark REJECTS explicit frame specs on lag/lead so frame-bounded
  calls fail loudly; frameless leadInFrame is a documented deviation
  (CH's own default-frame form returns all-defaults — this compile
  gives the forward offset of the extended-frame idiom).
  ``rowNumberInAllBlocks()`` refuses (block-read order, the
  runningDifference nondeterminism class); ``arrayRotateLeft/Right``
  compile branch-free via pmod + two slices.
- ``ORDER BY axis WITH FILL [STEP s] [INTERPOLATE (cols)]``: the
  aggregated axis densified via operators/series.fill_series -- one
  sort column, non-axis columns filled with their TYPE DEFAULTS
  (0 / '' / false, the CH rule) or carried forward when listed in
  INTERPOLATE; STEP takes ``N`` or ``INTERVAL N unit``; the global
  LIMIT applies after the fill (CH order of operations).  ``FROM f``
  / ``TO t`` bounds (r12) take integer or toDate/DATE literals: the
  grid is phase-anchored at FROM, strictly below TO, and original
  rows outside the span are KEPT (the CH rule) via
  operators/series.spanned_fill_series.  ``INTERPOLATE (col AS
  expr)`` stays operator-API-only.
- clock functions ``now()`` / ``today()`` / ``yesterday()`` (query-
  constant in both engines); ``numbers(N)`` -> Spark ``range`` with
  CH's ``number`` column; the approximate ``uniq`` /
  ``uniqHLL12`` / ``uniqCombined`` family at the same rsd classes as
  functions/ch.py (sketch outputs are engine-specific: unit-gated,
  never oracle-hashed).
- string/regex family: ``match`` / ``extract`` (capture-group rule
  decided from the literal pattern) / ``countMatches`` /
  ``startsWith`` / ``endsWith`` / ``leftPad`` / ``rightPad`` /
  ``trimBoth`` / ``lengthUTF8`` -- UInt8 results and null->0 per CH.
- parameterized aggregates ``agg(params)(args)``: ``quantile`` /
  ``quantileTDigest`` -> percentile_approx (same fixed-memory
  approximate class), ``quantileExact[Low]`` -> GK at accuracy 1e6
  (an actual element at the rank, CH's nearest-rank semantics),
  ``quantiles*`` -> the array form, ``uniqUpTo(N)`` -> the exact
  least(count distinct, N+1) contract; unmappable ones (``topK``,
  ``groupArrayMoving*``) raise and point to operators/.
- leading ``WITH``: ``name AS (subquery)`` CTEs pass through to
  Spark (prefixed onto every compiled statement, incl. the TOTALS
  branch); CH's SCALAR form ``expr AS name`` -- which Spark lacks --
  is substituted textually as ``(expr)`` throughout the query.
- plain ANSI the compiler does NOT touch passes through to Spark SQL:
  JOINs in FROM, subqueries, CASE, IN lists -- with the CH function
  vocabulary rewritten wherever it appears.  ``GLOBAL JOIN`` drops its
  modifier (a CH-cluster distribution hint; Spark/AQE picks the
  strategy); ``ANY``/``ASOF`` JOIN strictness modifiers compile
  through plans/chjoin (r12 fold-in): ASOF onto
  operators/rangejoin.asof_join with the full CH comparator set
  (``>= > <= <``), ANY as deterministic keep-one build-side dedup +
  plain join; shapes chjoin cannot bind (subquery sides, RIGHT/FULL
  direction, missing ASOF inequality) refuse with a pointer.
- array LITERALS ``[e1, e2, ...]`` -> ``array(...)`` (innermost-first
  masked scan; a bracket immediately preceded by an identifier /
  ``)`` / ``]`` is element access, not a literal); postfix indexing
  on CALL results ``f(...)[i]`` -> ``try_element_at`` (CH 1-based
  rule incl. negative-from-end; out-of-range yields the element-type
  default where the callee's type is known, else NULL); ``range``
  (end-exclusive, 1-3 args).
- the CH JSON family (``JSONExtractString/Int/Float/Bool/Raw/Keys``,
  ``JSONHas``, ``JSONLength``, ``JSONType``, ``visitParam*``) with
  literal path components, compiled to the same variant-shredding
  expressions as functions/chjson.py (equality pinned by test).
- ``runningDifference(x)`` / ``neighbor(x, off[, dflt])`` (r12) in
  the top-level SELECT of a statement WITH an ORDER BY: compiled as
  window expressions over the final order (coalesce onto the typed
  zero / the explicit default; 2-arg neighbor out-of-range is NULL,
  the documented postfix-indexing deviation) -- a deterministic
  strengthening of CH's block-order semantics; every other placement
  keeps the operators/series pointer refusal.
- vocab batch #3 (r12): the tolerant-cast family ``to<T>OrNull`` /
  ``to<T>OrZero`` via ``try_cast`` (strict parse + CH unsigned range
  gates; whitespace/non-string tolerance is a documented superset);
  per-unit date arithmetic ``addYears..subtractSeconds`` (the
  dateAdd timestampadd mapping + type deviation); 5/10/15-minute
  floors, ``toTime``, ``dateName``/``monthName``; ``exp2/exp10/
  intExp2/intExp10``, ``max2/min2``; digests ``MD5/SHA1/SHA224/
  SHA256/SHA512`` (binary results, ``hex()`` matches CH's uppercase);
  ``groupBitAnd/Or/Xor``, ``bitCount``, ``bitTest`` (LSB 0);
  ``anyHeavy`` -> exact ``mode`` (documented strengthening),
  ``simpleLinearRegression`` -> ``regr_slope/intercept`` struct,
  ``uniqTheta`` in the sketch class; ``arrayWithConstant``,
  ``arrayElement`` (the postfix-indexing try_element_at rule),
  ``hasSubstr`` (null-safe contiguous run), ``countSubstrings``
  (non-overlapping), ``mapFromArrays/mapKeys/mapValues/mapContains``;
  ``isNaN/isInfinite/ifNotFinite``; ``greatCircleDistance`` (the
  functions/ch.great_circle_distance haversine verbatim);
  ``toStartOfInterval`` (epoch-anchored grids: any n for day/month/
  quarter/year, parent-dividing n for second/minute/hour, week n=1 --
  other anchors refuse); ``now64``/``toDateTime64`` (literal
  precision 0-9 accepted, value carries Spark micros -- documented
  cap); the LIKE function spellings ``like/notLike/ilike/notILike``;
  the ``-OrNull`` aggregate combinators (``sum/min/max/avg/
  anyOrNull`` -- exactly Spark's NULL-on-empty contract) and
  ``sumCount``; ``quantileTiming``/``quantilesTiming``/
  ``quantileDeterministic``/``uniqCombined64`` in the sketch
  classes.
- ``arrayJoin(expr)``: CH's row-expanding function, hoisted into an
  inner ``explode`` projection (empty/NULL arrays drop the row, the
  CH rule).  One DISTINCT arrayJoin expression per SELECT (repeated
  identical spellings share the one explode -- CH's common-
  subexpression rule); WHERE runs BEFORE the expansion (the CH plan
  when WHERE doesn't mention arrayJoin; mentioning it there raises),
  GROUP BY/HAVING/ORDER BY after.  Not combinable with WITH TOTALS.
"""

from __future__ import annotations

import datetime
import glob
import re
from dataclasses import dataclass
from fractions import Fraction
from types import MappingProxyType
from typing import Callable, Mapping, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import collapse as _collapse_op
from ..sources import warehouse as _warehouse
from .alias import inline_aliases

# ---------------------------------------------------------------------------
# scanning helpers (string-literal-safe)
# ---------------------------------------------------------------------------


def _mask(sql: str) -> str:
    """Blank string literals and backticked identifiers' CONTENTS stay
    visible (aliases live there); only '...' literals are masked."""
    return re.sub(r"'(?:[^'\\]|\\.)*'", lambda m: " " * len(m.group(0)), sql)


def strip_comments(sql: str) -> str:
    """Left-to-right lexer (NOT a global quote mask): comments may
    contain unbalanced apostrophes -- the reference's own script has
    ``bucket'а`` inside a block comment -- so string-vs-comment state
    must be decided in reading order."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == "'":
                    j += 1
                    break
                j += 1
            out.append(sql[i:j])
            i = j
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif sql.startswith("/*", i):
            # close search starts AFTER the opener: its '*' may not
            # double as the '*' of '*/' ('/*/' stays open, as in CH)
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _match_paren(s: str, open_idx: int) -> int:
    """Index of the ')'/']' closing the bracket at ``open_idx`` (on a
    masked string)."""
    pairs = {"(": ")", "[": "]"}
    close = pairs[s[open_idx]]
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] in pairs:
            depth += 1
        elif s[i] in pairs.values():
            depth -= 1
            if depth == 0 and s[i] == close:
                return i
    raise ValueError(f"unbalanced bracket at {open_idx}")


def _split_top(s: str) -> list[str]:
    """Split on top-level commas (masked-scan, returns original text)."""
    masked = _mask(s)
    parts, depth, last = [], 0, 0
    for i, c in enumerate(masked):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p.strip() for p in parts]


def _collapse_ws(sql: str) -> str:
    """Whitespace-normalize OUTSIDE string literals only (a literal
    'a  b' must stay byte-identical).  NB: the mask cannot be used as
    the whitespace oracle here -- it blanks literals into spaces,
    which is exactly the text that must survive."""
    lit = bytearray(len(sql))
    for m in re.finditer(r"'(?:[^'\\]|\\.)*'", sql):
        for k in range(m.start(), m.end()):
            lit[k] = 1
    out, i, n = [], 0, len(sql)
    while i < n:
        if not lit[i] and sql[i].isspace():
            j = i
            while j < n and not lit[j] and sql[j].isspace():
                j += 1
            out.append(" ")
            i = j
        else:
            out.append(sql[i])
            i += 1
    return "".join(out).strip()


def _sub_outside_literals(
    pattern: str, repl: str, sql: str, flags: int = 0
) -> str:
    """re.sub that never fires inside '...' string literals: match
    positions come from the masked text, replacements slice the
    original (mask is position-preserving).  Case-SENSITIVE by
    default: CH identifiers are case-sensitive, so a scalar-WITH
    alias ``S`` must not rewrite a distinct column ``s`` (ADVICE r7);
    keyword call sites pass ``re.I`` explicitly."""
    masked = _mask(sql)
    out, last = [], 0
    for m in re.finditer(pattern, masked, flags):
        out.append(sql[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


# keywords that end a FROM list at their paren depth
_NON_FROM_CLAUSES = frozenset(
    "SELECT WHERE PREWHERE GROUP ORDER HAVING LIMIT UNION INTERSECT "
    "EXCEPT WINDOW QUALIFY SETTINGS FORMAT WITH VALUES".split()
)
_SQL_TOKEN = re.compile(r"[(),.]|`[^`]*`|\w+")
_DOT_NEXT = re.compile(r"\s*\.")


def _table_slots(masked: str, name: str) -> list[tuple[re.Match, bool]]:
    """Occurrences of the table name ``name`` (as written, or
    backticked) in ``masked`` SQL where a table reference can stand,
    each with whether it is the relation itself (True) or a ``name.``
    qualifier (False).  A relation is the one right after FROM or JOIN
    (not ARRAY JOIN, whose operand is a column; not IS DISTINCT FROM)
    or after a comma of a FROM list.  State is kept per paren depth,
    so a subquery's FROM list is its own."""
    spelled = re.compile(rf"`{re.escape(name)}`|{re.escape(name)}(?![\w`])")
    out = []
    in_from, slot = [False], [False]
    prev = ""
    for m in _SQL_TOKEN.finditer(masked):
        tok = m.group(0)
        up = tok.upper()
        if tok == "(":
            slot[-1] = False
            in_from.append(False)
            slot.append(False)
        elif tok == ")":
            if len(in_from) > 1:
                in_from.pop()
                slot.pop()
        elif tok == ",":
            slot[-1] = in_from[-1]
        elif up in ("FROM", "JOIN"):
            in_from[-1] = slot[-1] = prev not in ("DISTINCT", "ARRAY")
        elif up in _NON_FROM_CLAUSES:
            in_from[-1] = slot[-1] = False
        else:
            ref = spelled.match(masked, m.start()) if prev != "." else None
            if ref:
                qualifier = bool(_DOT_NEXT.match(masked, ref.end()))
                if slot[-1] or qualifier:
                    out.append((ref, not qualifier))
            slot[-1] = False
        prev = up
    return out


def _replace_name(sql: str, name: str, repl: str) -> str:
    """Replace a table name, as written or backticked, only where a
    table can stand (``_table_slots``): a select alias, an ORDER BY
    name or a column that spells the table's name keeps its text
    (``count(1) AS hits FROM hits`` stays a column named ``hits``),
    and a table named ``t`` leaves the ``t`` inside ``countIf`` alone.
    Matches are located on the MASKED text so occurrences inside
    string literals survive verbatim (a table named ``t`` must not
    corrupt ``'(?t<=3600)'`` or ``WHERE s = 'a t b'``; nor one named
    ``db.t`` a literal ``'db.t'``)."""
    out, last = [], 0
    for m, _ in _table_slots(_mask(sql), name):
        out.append(sql[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _find_clause(sql: str, *keywords: str) -> re.Match | None:
    """First top-level (depth-0, outside strings) occurrence of the
    keyword sequence, case-insensitive."""
    masked = _mask(sql)
    pat = re.compile(
        r"\b" + r"\s+".join(re.escape(k) for k in keywords) + r"\b", re.I
    )
    for m in pat.finditer(masked):
        depth = masked.count("(", 0, m.start()) - masked.count(")", 0, m.start())
        if depth == 0:
            return m
    return None


# ---------------------------------------------------------------------------
# dialect rewrites
# ---------------------------------------------------------------------------

# each: fn(args: list[str]) -> replacement SQL.  Mappings mirror
# functions/ch.py exactly (that module is oracle-proven).


class _SchemaCtx(NamedTuple):
    """Schema facts the dispatch passes to type-sensitive rewrites:
    the queried tables' fractional-element array columns (CH types
    arraySum by ELEMENT type: Int* -> Int64, Float* -> Float64) and
    ALL array columns (CH empty/notEmpty work on arrays and strings;
    the array spelling needs size(), not length())."""

    float_array_cols: frozenset = frozenset()
    array_cols: frozenset = frozenset()
    # scalar columns of NON-float numeric type (int/decimal): CH
    # round() ties away from zero for these, banker's for floats
    halfup_cols: frozenset = frozenset()
    # array column -> its element type's CH default ('' / typed 0),
    # for out-of-range indexing and LEFT ARRAY JOIN's empty rows
    elem_defaults: Mapping[str, str] = MappingProxyType({})
    # view -> the date column whose Monday its `_week` partition column
    # holds (sources/warehouse's week mark), for _week_bounds
    week_of: Mapping[str, str] = MappingProxyType({})


_EMPTY_CTX = _SchemaCtx()

# CH lower/upper/lcase/ucase fold ASCII A-Z ONLY (the UTF8 spellings
# are the Unicode ones); the exact Spark mapping is a translate
_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"


def _wants_schema_ctx(fn):
    """Mark a rewrite as taking ``(args, ctx: _SchemaCtx)``."""
    fn._chsql_ctx = True
    return fn


_BARE_COL = re.compile(r"(?:[\w]+\.)*(?:`(?P<bq>[^`]+)`|(?P<plain>\w+))")


def _bare_col_name(expr: str) -> str | None:
    m = _BARE_COL.fullmatch(expr.strip())
    return (m.group("bq") or m.group("plain")) if m else None


def _acc_cast(arr_expr: str, ctx: _SchemaCtx) -> str:
    """Accumulator type for a CH array-sum over ``arr_expr``.

    A bare (possibly qualified/backticked) column whose element type
    is fractional sums in DOUBLE (CH Float64); everything else sums in
    BIGINT (CH Int64) -- exact to 2^63, and a float-typed EXPRESSION
    fails Spark analysis loudly (BIGINT accumulator vs DOUBLE merge)
    rather than truncating silently."""
    return "DOUBLE" if _bare_col_name(arr_expr) in ctx.float_array_cols else "BIGINT"


@_wants_schema_ctx
def _array_sum_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``arraySum([f,] arr)``.  1-arg: plain element sum with the
    schema-picked accumulator.  2-arg lambda form: sum of the mapped
    elements (accumulator BIGINT -- the lambda's result type is not
    statically known here; float-producing lambdas fail analysis
    loudly, never truncate)."""
    if len(a) == 1:
        arr, acc = a[0], _acc_cast(a[0], ctx)
    else:
        arr, acc = f"transform({a[1]}, {a[0]})", "BIGINT"
    return f"aggregate({arr}, CAST(0 AS {acc}), (__acc, __x) -> __acc + __x)"


@_wants_schema_ctx
def _array_cum_sum_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``arrayCumSum(arr)`` with the same schema-picked accumulator
    as arraySum.  O(len^2) per ROW (re-aggregates each prefix; Spark
    has no scan primitive) -- arrays are per-row values, so this never
    shapes a shuffle; fine for the CH-typical short arrays, and a
    pathological mega-array row fails by being slow, not by being
    wrong."""
    acc = _acc_cast(a[0], ctx)
    return (
        f"transform({a[0]}, (__x, __i) -> aggregate(slice({a[0]}, 1, "
        f"__i + 1), CAST(0 AS {acc}), (__acc, __y) -> __acc + __y))"
    )


_DATE_UNITS = frozenset(
    {"second", "minute", "hour", "day", "week", "month", "quarter", "year"}
)


def _date_add_sql(a: list[str], neg: str = "") -> str:
    """CH ``dateAdd(unit, n, d)`` / ``dateSub`` -> ``timestampadd``.
    The unit may be bare or quoted; refuse unknown units (a typo'd
    unit would otherwise reach Spark as a bare identifier).  Output is
    TIMESTAMP even for DATE inputs (Spark's timestampadd contract; CH
    keeps Date for day-and-coarser units) -- cast at the call site
    when a DATE is needed."""
    unit = a[0].strip().strip("'\"").lower()
    if unit not in _DATE_UNITS:
        raise ValueError(
            f"chsql: dateAdd/dateSub unit {a[0]!r} is not one of "
            f"{sorted(_DATE_UNITS)}"
        )
    return f"timestampadd({unit.upper()}, {neg}({a[1]}), {a[2]})"


def _to_start_of_week_sql(a: list[str]) -> str:
    """CH ``toStartOfWeek(d[, mode])``: even modes start Sunday (the
    CH default 0), odd modes Monday.  Literal modes only."""
    mode = (a[1].strip() if len(a) > 1 else "0")
    if mode not in ("0", "1", "2", "3"):
        raise ValueError(
            "chsql: toStartOfWeek mode must be a literal in 0..3"
        )
    if mode in ("1", "3"):
        return f"CAST(date_trunc('week', {a[0]}) AS DATE)"
    return f"date_sub(CAST({a[0]} AS DATE), dayofweek({a[0]}) - 1)"


def _fold_intersect(a: list[str]) -> str:
    out = a[0]
    for nxt in a[1:]:
        out = f"array_intersect({out}, {nxt})"
    return out


@_wants_schema_ctx
def _sum_array_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``sumArray(arr)`` aggregate combinator: per-row element sum
    (schema-picked accumulator), then SUM over the group."""
    acc = _acc_cast(a[0], ctx)
    return (
        f"sum(aggregate({a[0]}, CAST(0 AS {acc}), "
        f"(__acc, __x) -> __acc + __x))"
    )


@_wants_schema_ctx
def _empty_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``empty(x)``: works on strings AND arrays (1 when empty).
    A known array column takes size() with a NULL array propagating
    NULL (CH Nullable rule; this build's size(NULL) is -1, so the
    guard is explicit); everything else keeps the string form (an
    array EXPRESSION would fail analysis loudly on length())."""
    if _bare_col_name(a[0]) in ctx.array_cols:
        return (
            f"CAST(CASE WHEN {a[0]} IS NULL THEN NULL "
            f"ELSE size({a[0]}) <= 0 END AS INT)"
        )
    return f"CAST(CHAR_LENGTH(coalesce({a[0]}, '')) = 0 AS INT)"


@_wants_schema_ctx
def _not_empty_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``notEmpty(x)`` on strings or known array columns (same
    NULL-array rule as :func:`_empty_sql`)."""
    if _bare_col_name(a[0]) in ctx.array_cols:
        return (
            f"CAST(CASE WHEN {a[0]} IS NULL THEN NULL "
            f"ELSE size({a[0]}) > 0 END AS INT)"
        )
    return f"CAST(CHAR_LENGTH(coalesce({a[0]}, '')) > 0 AS INT)"


@_wants_schema_ctx
def _length_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH bare ``length(x)``: element COUNT for arrays, BYTE count for
    strings (CH docs: "in bytes, not characters" -- ``lengthUTF8`` is
    the codepoint spelling, mapped to Spark's char-based length).  A
    known array column takes size() with the explicit NULL guard
    (size(NULL) is -1 in this build); everything else takes
    OCTET_LENGTH -- an array EXPRESSION then fails analysis loudly
    rather than silently counting something else (the empty()/
    notEmpty() dispatch policy)."""
    if _bare_col_name(a[0]) in ctx.array_cols:
        return (
            f"(CASE WHEN {a[0]} IS NULL THEN NULL "
            f"ELSE size({a[0]}) END)"
        )
    return f"OCTET_LENGTH({a[0]})"


@_wants_schema_ctx
def _round_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``round(x[, N])`` tie-breaking is TYPE-dependent: banker's
    (half-even) for Float inputs, away from zero for Decimal/integer
    inputs.  Spark round() is HALF_UP and bround() HALF_EVEN.  A bare
    column of known non-float numeric type takes ROUND (away from
    zero == HALF_UP for the .5 ties that can arise there); everything
    else -- float columns and EXPRESSIONS -- takes bround: CH
    arithmetic is Float64 almost everywhere (CH division ALWAYS
    yields Float64), and CH parses a bare ``2.5`` literal as Float64
    where Spark reads DECIMAL, so half-even is the CH-faithful
    default for both.  Deviation: an ALIAS of a Decimal expression is
    indistinguishable from a float expression at text level and takes
    the half-even path."""
    if _bare_col_name(a[0]) in ctx.halfup_cols:
        return f"ROUND({', '.join(a)})"
    return f"bround({', '.join(a)})"


# tokens over the SQL-TEXT of a string literal (both engines parse
# backslash escapes in literals identically, so text positions align):
# four backslashes = an escaped content backslash (keep; a following
# digit is then literal), two backslashes + digit = the CH backref
# (content \N), bare $ = a literal dollar
_BACKREF_TOKEN = re.compile(r"(\\\\\\\\)|\\\\([0-9])|(\$)")


def _regexp_repl_sql(arg: str) -> str:
    """Translate a LITERAL CH regexp-replacement string to Spark's
    backreference syntax at the SQL-text level: the CH backref
    (content ``\\N``) becomes Spark's ``$N``; a literal ``$`` becomes
    content ``\\$`` (Java's replaceAll reads a bare $ as a group-ref
    intro); an escaped content backslash passes through, so
    backslash-then-digit CONTENT is not misread as a backref.
    Non-literal replacements refuse: the translation is only
    decidable on compile-time text."""
    txt = arg.strip()
    if not (txt.startswith("'") and txt.endswith("'") and len(txt) >= 2):
        raise ValueError(
            "chsql: replaceRegexpAll needs a LITERAL replacement string "
            "(CH \\N backreferences translate to Spark $N at compile "
            f"time), got {arg!r}"
        )
    inner = txt[1:-1]

    def sub(m: re.Match) -> str:
        if m.group(1):  # escaped content backslash: keep verbatim
            return m.group(1)
        if m.group(2):  # content \N backref -> $N
            return "$" + m.group(2)
        return "\\\\$"  # literal $ -> content \$ (escaped for Java)

    return "'" + _BACKREF_TOKEN.sub(sub, inner) + "'"


def _extract_all_sql(a: list[str]) -> str:
    """CH ``extractAll(s, pattern)``: all matches; with a capturing
    subpattern, the FIRST GROUP of each match (the same literal-
    pattern group rule as extract())."""
    pat = a[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ValueError(
            f"chsql: extractAll() needs a literal pattern, got {a[1]!r}"
        )
    group = 1 if re.search(r"(?<!\\)\((?!\?)", pat[1:-1]) else 0
    return f"regexp_extract_all(coalesce({a[0]}, ''), {a[1]}, {group})"


def _replace_one_sql(a: list[str]) -> str:
    """CH ``replaceOne(s, needle, repl)``: first LITERAL occurrence
    only (Spark's replace() is replace-all, so compose via locate)."""
    s, n, r = a
    loc = f"LOCATE({n}, {s})"
    return (
        f"(CASE WHEN {loc} > 0 THEN concat(substring({s}, 1, {loc} - 1), "
        f"{r}, substring({s}, {loc} + CHAR_LENGTH({n}))) ELSE {s} END)"
    )


def _retention_sql(a: list[str]) -> str:
    """CH ``retention(cond1, ..., condN)``: array of 0/1 flags where
    r1 = cond1 ever held in the group and ri = r1 AND condi ever held
    -- the flat max-flag algebra ``operators/funnel.retention`` builds
    (oracle-proven via ``retention_cohort``; the operator returns the
    same values as r1..rk columns, CH packs them in an array).  A pure
    aggregate expression, so it compiles anywhere an aggregate may
    appear; a NULL condition counts as unmet, as CH's CASE-free
    ``cond ? 1 : 0`` does.  Spark dedups the repeated max(r1)
    aggregate physically, so the expansion costs N+1 cheap partial
    aggregates, not N^2."""
    flags = [f"max(CASE WHEN {c} THEN 1 ELSE 0 END)" for c in a]
    items = [f"CAST({flags[0]} AS INT)"] + [
        f"CAST({flags[0]} * {f} AS INT)" for f in flags[1:]
    ]
    return "array(" + ", ".join(items) + ")"


def _array_reduce_sql(a: list[str]) -> str:
    """CH ``arrayReduce('agg', arr)``: per-row reduction of one
    array's elements by a LITERAL aggregate name.  The type-safe
    subset maps; 'sum' points at arraySum (whose accumulator is
    schema-picked), dynamic names and multi-array forms refuse."""
    if len(a) != 2:
        raise ValueError(
            "chsql: arrayReduce is compiled for the single-array form "
            "arrayReduce('agg', arr) only"
        )
    m = re.fullmatch(r"\s*'(\w+)'\s*", a[0])
    if not m:
        raise ValueError(
            "chsql: arrayReduce needs a LITERAL aggregate name "
            "('max', 'min', 'avg', 'count', 'uniqExact')"
        )
    name, arr = m.group(1), a[1]
    forms = {
        "max": f"array_max({arr})",
        "min": f"array_min({arr})",
        "count": (
            f"(size(filter({arr}, __x -> __x IS NOT NULL)) + "
            f"(CASE WHEN ({arr}) IS NULL THEN NULL ELSE 0 END))"
        ),
        "avg": (
            f"(aggregate(filter({arr}, __x -> __x IS NOT NULL), "
            f"CAST(0.0 AS DOUBLE), (__a, __x) -> __a + __x) / "
            f"nullif(size(filter({arr}, __x -> __x IS NOT NULL)), 0))"
        ),
        "uniqExact": f"size(array_distinct({arr}))",
    }
    if name == "sum":
        raise ValueError(
            "chsql: arrayReduce('sum', arr) — use arraySum(arr) / "
            "sumArray(arr), whose accumulator type is picked from the "
            "array's element schema"
        )
    if name not in forms:
        raise ValueError(
            f"chsql: arrayReduce aggregate {name!r} is not mapped "
            f"(mapped: {sorted(forms)}; sum -> arraySum)"
        )
    return forms[name]


def _zip2_guarded(lam: str, arr1: str, arr2: str) -> str:
    """CH two-array lambda application ``f(λ, a, b)`` -> ``zip_with``
    with the CH equal-size contract: unequal sizes RAISE per row
    (bare zip_with would silently NULL-pad — extra elements CH never
    produces), NULL arrays propagate NULL as CH Nullable does.  The
    guard's CASE picks between two CHEAP subtrees (the array ref /
    raise_error) so the zip_with itself stays OUTSIDE the branch —
    never re-evaluated under a data-dependent CASE (the PLANS.md
    branch penalty; HOF lambdas are interpreted-eval expressions in
    Spark regardless, so the arg-position guard is the whole cost)."""
    guard = (
        f"(CASE WHEN ({arr1}) IS NULL OR ({arr2}) IS NULL THEN ({arr1}) "
        f"WHEN size({arr1}) = size({arr2}) THEN ({arr1}) "
        f"ELSE raise_error('chsql: multi-array lambda arrays must be "
        f"equal size (CH contract)') END)"
    )
    return f"zip_with({guard}, {arr2}, {lam})"


def _keep_first2(lam: str, arr1: str, arr2: str) -> str:
    """(element-of-arr1, predicate) pair array for the keep-first-
    array family (two-array arrayFilter/arrayFirst).  No lambda
    decomposition: the user lambda runs in its own zip_with, then a
    second zip_with pairs its booleans back with arr1."""
    bools = _zip2_guarded(lam, arr1, arr2)
    return (
        f"zip_with({arr1}, {bools}, "
        f"(__e, __p) -> struct(__e AS __e, __p AS __p))"
    )


_CALL_REWRITES: dict[str, object] = {
    # the 3-arg forms are CH's multi-array lambdas f((x, y) -> ...,
    # a, b): positional application over equal-size arrays
    "arrayMap": lambda a: (
        f"transform({a[1]}, {a[0]})"
        if len(a) == 2
        else _zip2_guarded(a[0], a[1], a[2])
    ),
    "arrayFilter": lambda a: (
        f"filter({a[1]}, {a[0]})"
        if len(a) == 2
        else (
            f"transform(filter({_keep_first2(a[0], a[1], a[2])}, "
            f"__z -> CAST(__z.__p AS BOOLEAN)), __z -> __z.__e)"
        )
    ),
    "indexOf": lambda a: f"array_position({a[0]}, {a[1]})",
    "uniqExact": lambda a: f"count(DISTINCT {', '.join(a)})",
    "notEmpty": _not_empty_sql,
    "toInt64": lambda a: f"CAST({a[0]} AS BIGINT)",
    # CH numeric-cast family (r8).  Unsigned types map to the
    # next-wider SIGNED Spark type, the same policy sources/chtypes.py
    # pins for the JDBC grid (Spark has no unsigned integers); the
    # UInt64 full range needs DECIMAL(20,0) and is refused by that
    # grid, so toUInt64 maps to BIGINT with the documented wrap risk
    # only above 2^63-1.
    "toInt8": lambda a: f"CAST({a[0]} AS TINYINT)",
    "toInt16": lambda a: f"CAST({a[0]} AS SMALLINT)",
    "toInt32": lambda a: f"CAST({a[0]} AS INT)",
    "toUInt8": lambda a: f"CAST({a[0]} AS SMALLINT)",
    "toUInt16": lambda a: f"CAST({a[0]} AS INT)",
    "toUInt32": lambda a: f"CAST({a[0]} AS BIGINT)",
    "toUInt64": lambda a: f"CAST({a[0]} AS BIGINT)",
    "toFloat32": lambda a: f"CAST({a[0]} AS FLOAT)",
    "toFloat64": lambda a: f"CAST({a[0]} AS DOUBLE)",
    "toString": lambda a: f"CAST({a[0]} AS STRING)",
    "toDateTime": lambda a: f"CAST({a[0]} AS TIMESTAMP)",
    "isFinite": lambda a: (
        f"(NOT isnan(CAST({a[0]} AS DOUBLE)) "
        f"AND CAST({a[0]} AS DOUBLE) != CAST('Infinity' AS DOUBLE) "
        f"AND CAST({a[0]} AS DOUBLE) != CAST('-Infinity' AS DOUBLE))"
    ),
    "sumArray": _sum_array_sql,
    "toMonday": lambda a: f"CAST(date_trunc('week', {a[0]}) AS DATE)",
    "toDate": lambda a: f"CAST({a[0]} AS DATE)",
    # r8 date-family widening (each mirrors functions/ch.py exactly)
    "toQuarter": lambda a: f"quarter(CAST({a[0]} AS DATE))",
    "toDayOfWeek": lambda a: (
        f"CAST((dayofweek(CAST({a[0]} AS DATE)) + 5) % 7 + 1 AS INT)"
    ),
    "toDayOfYear": lambda a: f"dayofyear(CAST({a[0]} AS DATE))",
    "toISOWeek": lambda a: f"weekofyear(CAST({a[0]} AS DATE))",
    "toLastDayOfMonth": lambda a: f"last_day(CAST({a[0]} AS DATE))",
    "toUnixTimestamp": lambda a: (
        f"unix_timestamp(CAST({a[0]} AS TIMESTAMP))"
    ),
    "toStartOfQuarter": lambda a: (
        f"CAST(date_trunc('quarter', {a[0]}) AS DATE)"
    ),
    "toStartOfMonth": lambda a: f"CAST(date_trunc('month', {a[0]}) AS DATE)",
    "toStartOfYear": lambda a: f"CAST(date_trunc('year', {a[0]}) AS DATE)",
    # CH date-part extractors (r8): UInt16/UInt8 in CH -> plain Spark
    # ints; time parts cast through TIMESTAMP so DateTime strings work
    "toYear": lambda a: f"year(CAST({a[0]} AS DATE))",
    "toMonth": lambda a: f"month(CAST({a[0]} AS DATE))",
    "toDayOfMonth": lambda a: f"day(CAST({a[0]} AS DATE))",
    "toHour": lambda a: f"hour(CAST({a[0]} AS TIMESTAMP))",
    "toMinute": lambda a: f"minute(CAST({a[0]} AS TIMESTAMP))",
    "toSecond": lambda a: f"second(CAST({a[0]} AS TIMESTAMP))",
    # CH arithmetic function spellings (r8): intDiv truncates toward
    # zero on ints (Spark's div); the OrZero variants absorb ONLY the
    # divide-by-zero case (result 0) -- NULL inputs still propagate
    # NULL, per CH Nullable-argument rules (the r8 coalesce form
    # wrongly turned NULL inputs into 0; hardened r10)
    "intDiv": lambda a: f"({a[0]} div {a[1]})",
    "intDivOrZero": lambda a: (
        f"(CASE WHEN {a[0]} IS NULL OR {a[1]} IS NULL THEN NULL "
        f"WHEN {a[1]} = 0 THEN 0 ELSE ({a[0]} div {a[1]}) END)"
    ),
    "modulo": lambda a: f"({a[0]} % {a[1]})",
    "moduloOrZero": lambda a: (
        f"(CASE WHEN {a[0]} IS NULL OR {a[1]} IS NULL THEN NULL "
        f"WHEN {a[1]} = 0 THEN 0 ELSE ({a[0]} % {a[1]}) END)"
    ),
    "plus": lambda a: f"({a[0]} + {a[1]})",
    "minus": lambda a: f"({a[0]} - {a[1]})",
    "multiply": lambda a: f"({a[0]} * {a[1]})",
    "divide": lambda a: f"(CAST({a[0]} AS DOUBLE) / {a[1]})",
    "negate": lambda a: f"(-({a[0]}))",
    "formatDateTime": lambda a: _format_datetime_sql(a),
    "toYYYYMM": lambda a: (
        f"CAST(year(CAST({a[0]} AS DATE)) * 100 + month(CAST({a[0]} AS DATE)) AS INT)"
    ),
    # aggregate combinators (each mirrors functions/ch.py exactly,
    # incl. the 0-not-null empty-set contract of countIf/sumIf)
    "countIf": lambda a: (
        f"CAST(sum(CASE WHEN {a[0]} THEN 1 ELSE 0 END) AS BIGINT)"
    ),
    "sumIf": lambda a: f"sum(CASE WHEN {a[1]} THEN {a[0]} ELSE 0 END)",
    "avgIf": lambda a: f"avg(CASE WHEN {a[1]} THEN {a[0]} END)",
    "argMax": lambda a: f"max_by({a[0]}, {a[1]})",
    "argMin": lambda a: f"min_by({a[0]}, {a[1]})",
    "groupUniqArray": lambda a: f"array_sort(collect_set({a[0]}))",
    # groupArray/any/anyLast (r10): CH documents these as block-order
    # dependent (unspecified in distributed reads); Spark's
    # collect_list/any_value carry the same unspecified-order
    # contract, so the mapping is faithful -- queries needing a
    # deterministic order must sort explicitly, in either engine.
    # any_value's ignoreNulls=true (ADVICE r11 #2): CH aggregates
    # SKIP NULLs (any returns the first NON-NULL value), while the
    # one-arg Spark form may return NULL even when non-NULL values
    # exist in the group.
    "groupArray": lambda a: f"collect_list({a[0]})",
    "retention": _retention_sql,
    "any": lambda a: f"any_value({a[0]}, true)",
    "anyLast": lambda a: f"any_value({a[0]}, true)",
    "arrayStringConcat": lambda a: (
        f"array_join({a[0]}, {a[1] if len(a) > 1 else chr(39) * 2})"
    ),
    # \Q...\E quoting keeps the separator LITERAL (Spark split takes
    # a Java regex; CH splits on the literal char)
    "splitByChar": lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    # CH arrayZip -> array of structs (Spark names fields after the
    # source columns where CH numbers tuple elements 1..n; access via
    # the field name).  Pairs with the ARRAY JOIN single-array scope.
    "arrayZip": lambda a: f"arrays_zip({', '.join(a)})",
    "arrayExists": lambda a: (
        f"exists({a[1]}, {a[0]})"
        if len(a) == 2
        else f"exists({_zip2_guarded(a[0], a[1], a[2])}, "
        f"__x -> CAST(__x AS BOOLEAN))"
    ),
    "arrayAll": lambda a: (
        f"forall({a[1]}, {a[0]})"
        if len(a) == 2
        else f"forall({_zip2_guarded(a[0], a[1], a[2])}, "
        f"__x -> CAST(__x AS BOOLEAN))"
    ),
    # the + (CASE ... NULL ELSE 0) gate pins NULL-in -> NULL-out on
    # BOTH size(NULL) conventions (legacy -1 / NULL) without putting
    # the filter under a data-dependent branch (additive NULL
    # arithmetic, the PLANS.md branch-penalty form)
    "arrayCount": lambda a: (
        f"(size(filter({a[0]}, __x -> __x)) + "
        f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE 0 END))"
        if len(a) == 1
        else f"(size(filter({a[1]}, {a[0]})) + "
        f"(CASE WHEN ({a[1]}) IS NULL THEN NULL ELSE 0 END))"
        if len(a) == 2
        else f"(size(filter({_zip2_guarded(a[0], a[1], a[2])}, "
        f"__x -> CAST(__x AS BOOLEAN))) + "
        f"(CASE WHEN ({a[1]}) IS NULL OR ({a[2]}) IS NULL "
        f"THEN NULL ELSE 0 END))"
    ),
    "has": lambda a: f"array_contains({a[0]}, {a[1]})",
    # array transforms/aggregates (r8).  arraySum/Min/Max/Avg take the
    # CH plain form (no lambda); the lambda variants stay on
    # arrayMap+these.  arrayUniq counts DISTINCT elements (a number,
    # not an array — that's arrayDistinct).
    # the 2-arg lambda forms sort the ORIGINAL elements by key with
    # CH position-stable ties — not expressible without changing tie
    # order, so they refuse rather than silently re-order
    "arraySort": lambda a: (
        f"array_sort({a[0]})"
        if len(a) == 1
        else (_ for _ in ()).throw(
            ValueError(
                "chsql: arraySort(f, arr) keeps CH position-stable tie "
                "order; not mapped — sort (key, value) structs explicitly"
            )
        )
    ),
    "arrayReverseSort": lambda a: (
        f"reverse(array_sort({a[0]}))"
        if len(a) == 1
        else (_ for _ in ()).throw(
            ValueError(
                "chsql: arrayReverseSort(f, arr) keeps CH position-stable "
                "tie order; not mapped — sort (key, value) structs explicitly"
            )
        )
    ),
    "arrayConcat": lambda a: f"concat({', '.join(a)})",
    # arrayUniq counts distinct elements; the multi-array form counts
    # distinct TUPLES of corresponding elements (arrays_zip; CH errors
    # on unequal lengths where Spark NULL-pads -- divergence only on
    # input CH itself rejects).  r9 silently ignored extra arrays.
    "arrayUniq": lambda a: (
        f"size(array_distinct({a[0]}))"
        if len(a) == 1
        else f"size(array_distinct(arrays_zip({', '.join(a)})))"
    ),
    "arrayDistinct": lambda a: f"array_distinct({a[0]})",
    "arraySum": _array_sum_sql,
    # the 2-arg lambda forms map elements first (CH arrayMin(f, arr))
    "arrayMin": lambda a: (
        f"array_min({a[0]})" if len(a) == 1
        else f"array_min(transform({a[1]}, {a[0]}))"
    ),
    "arrayMax": lambda a: (
        f"array_max({a[0]})" if len(a) == 1
        else f"array_max(transform({a[1]}, {a[0]}))"
    ),
    "arrayAvg": lambda a: (
        (lambda arr: (
            f"(aggregate({arr}, CAST(0.0 AS DOUBLE), (__acc, __x) -> __acc + __x)"
            f" / nullif(size({arr}), 0))"
        ))(a[0] if len(a) == 1 else f"transform({a[1]}, {a[0]})")
    ),
    "arrayReverse": lambda a: f"reverse({a[0]})",
    # CH conditional/null vocabulary (r8): multiIf is CH's CASE chain
    # (odd arg count: cond/val pairs + else); ifNull is 2-arg
    # coalesce; assumeNotNull is a CH type-system no-op here (Spark
    # nullability is inferred, the value passes through)
    "multiIf": lambda a: (
        "(CASE "
        + " ".join(
            f"WHEN {a[i]} THEN {a[i + 1]}" for i in range(0, len(a) - 1, 2)
        )
        + f" ELSE {a[-1]} END)"
        if len(a) >= 3 and len(a) % 2 == 1
        else (_ for _ in ()).throw(
            ValueError(
                "chsql: multiIf needs cond/value pairs plus an else "
                f"(odd argument count >= 3), got {len(a)} args"
            )
        )
    ),
    "ifNull": lambda a: f"coalesce({a[0]}, {a[1]})",
    "assumeNotNull": lambda a: f"({a[0]})",
    # CH physical-representation adapters with no Spark meaning:
    # identity (Spark columns are all nullable; there is no
    # LowCardinality or lazy-materialization distinction)
    "toNullable": lambda a: f"({a[0]})",
    "toLowCardinality": lambda a: f"({a[0]})",
    "materialize": lambda a: f"({a[0]})",
    # CH left/right take a possibly-NEGATIVE length: left(s, -n) is
    # all but the n RIGHTMOST chars, right(s, -n) all but the n
    # LEFTMOST (Spark's left/right return '' on negatives -- a silent
    # divergence).  Char-based like Spark (== the UTF8 spellings;
    # CH's bare forms are byte-based on multibyte input, documented
    # deviation consistent with bare reverse).
    "left": lambda a: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN LEFT({a[0]}, {a[1]}) "
        f"ELSE substring({a[0]}, 1, "
        f"GREATEST(CHAR_LENGTH({a[0]}) + ({a[1]}), 0)) END)"
    ),
    "right": lambda a: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN RIGHT({a[0]}, {a[1]}) "
        f"ELSE substring({a[0]}, 1 - ({a[1]})) END)"
    ),
    "leftUTF8": lambda a: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN LEFT({a[0]}, {a[1]}) "
        f"ELSE substring({a[0]}, 1, "
        f"GREATEST(CHAR_LENGTH({a[0]}) + ({a[1]}), 0)) END)"
    ),
    "rightUTF8": lambda a: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN RIGHT({a[0]}, {a[1]}) "
        f"ELSE substring({a[0]}, 1 - ({a[1]})) END)"
    ),
    # CH splitByWhitespace: runs of whitespace, NO empty tokens
    # (Spark split keeps a leading '' when the string starts with
    # whitespace)
    "splitByWhitespace": lambda a: (
        f"filter(split({a[0]}, '\\\\s+'), __x -> __x != '')"
    ),
    "empty": _empty_sql,
    # zero-arg clock functions (CH evaluates once per query; so does
    # Spark -- current_timestamp/current_date are query-constant)
    "now": lambda a: "current_timestamp()",
    "today": lambda a: "current_date()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    # string/regex family (UInt8 results per CH; null haystack -> 0)
    "match": lambda a: f"CAST(coalesce({a[0]} RLIKE {a[1]}, false) AS INT)",
    "countMatches": lambda a: (
        f"CAST(coalesce(regexp_count({a[0]}, {a[1]}), 0) AS BIGINT)"
    ),
    "startsWith": lambda a: (
        f"CAST(coalesce(startswith({a[0]}, {a[1]}), false) AS INT)"
    ),
    "endsWith": lambda a: (
        f"CAST(coalesce(endswith({a[0]}, {a[1]}), false) AS INT)"
    ),
    "leftPad": lambda a: (
        f"lpad({a[0]}, {a[1]}, {a[2] if len(a) > 2 else chr(39) + ' ' + chr(39)})"
    ),
    "rightPad": lambda a: (
        f"rpad({a[0]}, {a[1]}, {a[2] if len(a) > 2 else chr(39) + ' ' + chr(39)})"
    ),
    "trimBoth": lambda a: f"trim({a[0]})",
    # UTF8-suffixed CH spellings (r8): Spark strings are already
    # codepoint-based, so each maps to the plain function.  Emitted
    # UPPERCASE: the rewrite scan is case-SENSITIVE (CH names are),
    # so the compiled text is inert to the BARE collision-class
    # mappings below (CH length/lower/upper have BYTE/ASCII
    # semantics and rewrite differently).
    "lengthUTF8": lambda a: f"CHAR_LENGTH({a[0]})",
    "lowerUTF8": lambda a: f"LOWER({a[0]})",
    "upperUTF8": lambda a: f"UPPER({a[0]})",
    # BARE CH case functions are ASCII-ONLY ("converts ASCII Latin
    # symbols" -- CH docs; Cyrillic etc. pass through UNCHANGED,
    # which Metrica-era queries rely on).  Spark lower/upper are full
    # Unicode, a silent value divergence on any non-ASCII byte, so
    # the exact mapping is an A-Z translate.
    "lower": lambda a: f"translate({a[0]}, '{_ASCII_UP}', '{_ASCII_LO}')",
    "upper": lambda a: f"translate({a[0]}, '{_ASCII_LO}', '{_ASCII_UP}')",
    "length": _length_sql,
    "round": _round_sql,
    # CH rand() is a uniform UInt32 (NOT a [0,1) float -- `rand() %
    # 100 < k` sampling depends on this); rand64() a uniform UInt64
    # (here: the same 64 bits read as Spark's signed BIGINT);
    # randCanonical() is the [0,1) Float64.  The optional argument is
    # CH's common-subexpression-elimination dodge and is ignored.
    "rand": lambda a: "CAST(FLOOR(RAND() * 4294967296E0) AS BIGINT)",
    "rand64": lambda a: "xxhash64(uuid())",
    "randCanonical": lambda a: "RAND()",
    # byte-reverse has no Spark spelling; bare reverse() passes
    # through as Spark's codepoint reverse (== CH reverseUTF8; equal
    # to CH reverse on ASCII and on arrays, documented deviation on
    # multi-byte strings).  The UTF8 spelling is exact.
    "reverseUTF8": lambda a: f"REVERSE({a[0]})",
    # CH length argument is optional (to-end when omitted)
    "substringUTF8": lambda a: (
        f"substring({', '.join(a)})"
    ),
    "positionUTF8": lambda a: f"LOCATE({a[1]}, {a[0]})",
    # CH locate()'s argument order is VERSION-DEPENDENT: < 24.3 it is
    # position's alias (haystack, needle[, pos]) — the reverse of
    # Spark — while >= 24.3 it switched to MySQL order (needle,
    # haystack[, pos]).  Either mapping silently swaps arguments for
    # users of the other version, so bare locate() refuses with a
    # pointer to position() (ADVICE r11 #3; all Spark-side emissions
    # still use inert LOCATE( uppercase)
    "locate": lambda a: (_ for _ in ()).throw(
        ValueError(
            "chsql: locate()'s argument order changed in ClickHouse "
            "24.3 ((haystack, needle) before, MySQL's (needle, "
            "haystack) after), so any fixed mapping is silently "
            "swapped for half its users — use position(haystack, "
            "needle[, pos]), whose order is stable across versions"
        )
    ),
    "positionCaseInsensitive": lambda a: (
        f"LOCATE(LOWER({a[1]}), LOWER({a[0]}))"
    ),
    "trimLeft": lambda a: f"ltrim({a[0]})",
    "trimRight": lambda a: f"rtrim({a[0]})",
    # approximate distinct family (same rsd classes as functions/ch.py;
    # sketch OUTPUTS are engine-specific -- unit-gated, never
    # hash-compared against an oracle)
    # multi-column uniq(x, y) counts distinct TUPLES: wrap in struct
    # (Spark's approx_count_distinct signature is one column + rsd)
    "uniq": lambda a: (
        f"approx_count_distinct({a[0] if len(a) == 1 else 'struct(' + ', '.join(a) + ')'}, 0.05)"
    ),
    "uniqHLL12": lambda a: (
        f"approx_count_distinct({a[0] if len(a) == 1 else 'struct(' + ', '.join(a) + ')'}, 0.016)"
    ),
    "uniqCombined": lambda a: (
        f"approx_count_distinct({a[0] if len(a) == 1 else 'struct(' + ', '.join(a) + ')'}, 0.005)"
    ),
    # numbers(N) / numbers(offset, N): CH's system-numbers table
    # function -> Spark range() (column renamed to CH's `number`).
    # RANGE uppercased: the case-sensitive-rescan escape (as
    # extract/POSITION), so the scalar CH `range` rewrite below
    # never re-captures the emitted TABLE function
    "numbers": lambda a: (
        f"(SELECT id AS number FROM RANGE({a[0]}))"
        if len(a) == 1
        else f"(SELECT id AS number FROM RANGE({a[0]}, ({a[0]}) + ({a[1]})))"
    ),
    "extract": lambda a: _extract_sql(a),
    # string family widening (r10; mirrors functions/ch.py).  The
    # 1-arg form is ANSI ``position(needle IN haystack)`` and passes
    # through uppercased (the same case-sensitive-rescan escape as
    # extract()); CH's form is (haystack, needle[, start]).
    "position": lambda a: (
        f"POSITION({a[0]})"
        if len(a) == 1
        else f"LOCATE({a[1]}, {a[0]})"
        if len(a) == 2
        else f"LOCATE({a[1]}, {a[0]}, {a[2]})"
    ),
    "extractAll": _extract_all_sql,
    "replaceAll": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
    "replaceOne": _replace_one_sql,
    "replaceRegexpAll": lambda a: (
        f"regexp_replace({a[0]}, {a[1]}, {_regexp_repl_sql(a[2])})"
    ),
    # CH star matchers / transformers (r12).  `* EXCEPT (cols)` passes
    # through (Spark parses it natively); the rest need the resolved
    # column list at parse time, which belongs to Catalyst, not this
    # front-end -- refuse with the Spark-first recipe.  Uppercase keys:
    # the call scan is case-sensitive and CH docs spell them uppercase.
    "COLUMNS": lambda a: (_ for _ in ()).throw(
        ValueError(
            "chsql: the COLUMNS('regex') matcher is not compiled "
            "(column-list resolution happens in Catalyst, after this "
            "front-end) — select the columns explicitly, or build the "
            "list from df.columns in the DataFrame API"
        )
    ),
    "APPLY": lambda a: (_ for _ in ()).throw(
        ValueError(
            "chsql: the * APPLY(func) transformer is not compiled — "
            "spell the per-column aggregates explicitly, or map over "
            "df.columns in the DataFrame API "
            "(df.select([F.sum(c) for c in df.columns]))"
        )
    ),
    # CH untuple(t) expands a tuple into columns; Spark's spelling is
    # struct star-expansion, which needs the select-item position
    "untuple": lambda a: (_ for _ in ()).throw(
        ValueError(
            "chsql: untuple() is not compiled — use Spark's struct "
            "star expansion instead (SELECT t.* for a struct column, "
            "or name the fields: t.f1, t.f2)"
        )
    ),
    # Spark regexp_replace is replace-ALL; CH's first-match-only
    # variant has no single-expression Spark mapping
    "replaceRegexpOne": lambda a: (_ for _ in ()).throw(
        ValueError(
            "chsql: replaceRegexpOne replaces only the FIRST match; "
            "Spark's regexp_replace is replace-all — use "
            "replaceRegexpAll, or anchor the pattern so only one "
            "occurrence can match"
        )
    ),
    # array family widening (r10; mirrors functions/ch.py).  A
    # negative offset deeper than the array clamps to the start
    # (DuckDB-style slicing, the oracle engine's convention; Spark's
    # slice would return [] there)
    "arraySlice": lambda a: (
        (
            lambda arr, off, ln: (
                # the empty-array guard keeps the clamped start at -1
                # (Spark's slice rejects start 0)
                f"slice({arr}, (CASE WHEN ({off}) < 0 THEN "
                f"greatest({off}, -greatest(size({arr}), 1)) "
                f"ELSE ({off}) END), {ln})"
            )
        )(a[0], a[1], a[2] if len(a) > 2 else f"size({a[0]})")
    ),
    "arrayFlatten": lambda a: f"flatten({a[0]})",
    "arrayCompact": lambda a: (
        f"filter({a[0]}, (__x, __i) -> CASE WHEN __i = 0 THEN true "
        f"ELSE NOT (__x <=> get({a[0]}, __i - 1)) END)"
    ),
    "arrayEnumerate": lambda a: (
        f"(CASE WHEN size({a[0]}) > 0 THEN sequence(1, size({a[0]})) "
        f"ELSE CAST(array() AS ARRAY<INT>) END)"
    ),
    # occurrence index of each element among its equals so far (the
    # Metrica funnel-dedup helper): count of null-safe-equal elements
    # in the prefix up to the current position.  O(len^2) per ROW --
    # fine for the short attribute arrays it is used on (single-array
    # form only; the multi-array form needs positional tuple grouping
    # and keeps the unresolved guard)
    "arrayEnumerateUniq": lambda a: (
        # TRANSFORM uppercase: inert to the CH transform() decode
        # mapping below (the scan is case-sensitive)
        f"TRANSFORM({a[0]}, (__x, __i) -> "
        f"size(filter(slice({a[0]}, 1, __i + 1), __y -> __y <=> __x)))"
    ),
    # CH transform(x, from_arr, to_arr[, default]): the DECODE-style
    # value mapper (NOT Spark's lambda transform -- a 2-arg call is
    # passed through to the Spark HOF unchanged).  Matched-ness is
    # tested SEPARATELY from the looked-up value (array_position > 0)
    # so a matched key whose to-value is NULL returns that mapped
    # NULL instead of falling through to the default (ADVICE r11 #5 —
    # the earlier coalesce-over-map form conflated the two).  An
    # unmatched x falls to the default (4-arg) or to x itself (3-arg,
    # CH's contract); duplicate from-keys now pick the FIRST match,
    # exactly CH's tie rule.  The from/to arrays are literal-sized in
    # every known call site, so the O(n) position scan stays cheap.
    "transform": lambda a: (
        f"TRANSFORM({a[0]}, {a[1]})"
        if len(a) == 2
        else f"(CASE WHEN array_position({a[1]}, {a[0]}) > 0 "
        f"THEN try_element_at({a[2]}, "
        f"CAST(array_position({a[1]}, {a[0]}) AS INT)) "
        f"ELSE {a[3] if len(a) > 3 else a[0]} END)"
    ),
    # null-SAFE membership via <=> (ADVICE r11 #5): CH hasAll/hasAny
    # treat NULL elements as matchable values and always return 0/1,
    # while array_contains/arrays_overlap yield NULL when a NULL
    # element is probed (NULL arrays themselves still propagate NULL
    # -- CH arrays are non-nullable, so that input has no CH meaning)
    # CH range is END-EXCLUSIVE (Spark sequence is end-inclusive);
    # empty when the interval is empty.  3-arg: a non-positive step
    # with a non-empty interval errors in BOTH engines (sequence
    # checks the sign); with an empty interval CH errors where this
    # yields [] -- the one (documented) deviation
    "range": lambda a: (
        f"(CASE WHEN ({a[0]}) > 0 THEN sequence(0, "
        f"CAST(({a[0]}) AS BIGINT) - 1) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END)"
        if len(a) == 1
        else f"(CASE WHEN ({a[0]}) < ({a[1]}) THEN "
        f"sequence(CAST(({a[0]}) AS BIGINT), "
        f"CAST(({a[1]}) AS BIGINT) - 1"
        + (f", CAST(({a[2]}) AS BIGINT)" if len(a) > 2 else "")
        + ") ELSE CAST(array() AS ARRAY<BIGINT>) END)"
    ),
    "hasAll": lambda a: (
        f"forall({a[1]}, __x -> exists({a[0]}, __y -> __y <=> __x))"
    ),
    "hasAny": lambda a: (
        f"exists({a[1]}, __x -> exists({a[0]}, __y -> __y <=> __x))"
    ),
    # ----- r12 vocabulary widening --------------------------------
    # aggregate -If combinators (CASE-to-NULL: aggregates skip NULLs
    # in both engines, matching the existing countIf/sumIf/avgIf row)
    "minIf": lambda a: f"min(CASE WHEN {a[1]} THEN {a[0]} END)",
    "maxIf": lambda a: f"max(CASE WHEN {a[1]} THEN {a[0]} END)",
    "anyIf": lambda a: f"any_value(CASE WHEN {a[1]} THEN {a[0]} END, true)",
    "uniqExactIf": lambda a: (
        f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)"
    ),
    # collect_list/collect_set skip NULLs, so CASE-to-NULL keeps
    # exactly the condition's rows (and CH groupArray skips NULL
    # values anyway)
    "groupArrayIf": lambda a: (
        f"collect_list(CASE WHEN {a[1]} THEN {a[0]} END)"
    ),
    "groupUniqArrayIf": lambda a: (
        f"array_sort(collect_set(CASE WHEN {a[1]} THEN {a[0]} END))"
    ),
    # -Array combinator family (r12): the aggregate applied to every
    # ELEMENT of every array in the group.  Per-row reductions stay
    # map-side expressions; only scalars reach the aggregate (no
    # explode, no row expansion).  countArray/avgArray carry the
    # additive size(NULL) gate (NULL array rows drop out of the sum
    # the way a NULL scalar drops out of count/avg) and count only
    # NON-NULL elements, the count()/avg() contract.
    "minArray": lambda a: f"min(array_min({a[0]}))",
    "maxArray": lambda a: f"max(array_max({a[0]}))",
    "countArray": lambda a: (
        f"sum(size(filter({a[0]}, __x -> __x IS NOT NULL)) + "
        f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE 0 END))"
    ),
    "avgArray": lambda a: (
        f"(sum(aggregate(filter({a[0]}, __x -> __x IS NOT NULL), "
        f"CAST(0.0 AS DOUBLE), (__a, __x) -> __a + __x)) / "
        f"sum(size(filter({a[0]}, __x -> __x IS NOT NULL)) + "
        f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE 0 END)))"
    ),
    # order within the concatenation is unspecified in BOTH engines
    # (the groupArray contract above)
    "groupArrayArray": lambda a: f"flatten(collect_list({a[0]}))",
    "groupUniqArrayArray": lambda a: (
        f"array_sort(array_distinct(flatten(collect_list({a[0]}))))"
    ),
    # EXACT distinct-element count: a deterministic strengthening of
    # CH's approximate uniqArray (same class as the exact topK),
    # uniqExactArray's contract verbatim
    "uniqArray": lambda a: (
        f"size(array_distinct(flatten(collect_list({a[0]}))))"
    ),
    "uniqExactArray": lambda a: (
        f"size(array_distinct(flatten(collect_list({a[0]}))))"
    ),
    # NULL (not CH's NaN) when sum(weight) = 0 -- NULL propagates
    # loudly where NaN poisons comparisons silently
    "avgWeighted": lambda a: f"(sum(({a[0]}) * ({a[1]})) / sum({a[1]}))",
    # CH median == quantile(0.5): the same fixed-memory approximate
    # class as the quantile family (sketch outputs are engine-
    # specific: unit-gated, never oracle-hashed)
    "median": lambda a: f"percentile_approx({a[0]}, 0.5)",
    # CH statistical spellings -> Spark's (corr/kurtosis caveat:
    # Spark kurtosis is EXCESS kurtosis, CH kurtPop is raw m4/m2^2)
    "stddevPop": lambda a: f"stddev_pop({a[0]})",
    "stddevSamp": lambda a: f"stddev_samp({a[0]})",
    "varPop": lambda a: f"var_pop({a[0]})",
    "varSamp": lambda a: f"var_samp({a[0]})",
    "covarPop": lambda a: f"covar_pop({a[0]}, {a[1]})",
    "covarSamp": lambda a: f"covar_samp({a[0]}, {a[1]})",
    # the *Stable CH variants trade speed for a numerically stable
    # summation; Spark's implementations are already the stable
    # streaming form, so both spellings land on the same aggregate
    "stddevPopStable": lambda a: f"stddev_pop({a[0]})",
    "stddevSampStable": lambda a: f"stddev_samp({a[0]})",
    "varPopStable": lambda a: f"var_pop({a[0]})",
    "varSampStable": lambda a: f"var_samp({a[0]})",
    "covarPopStable": lambda a: f"covar_pop({a[0]}, {a[1]})",
    "covarSampStable": lambda a: f"covar_samp({a[0]}, {a[1]})",
    # CH frame-bounded offset windows (r12).  With CH's DEFAULT frame
    # (RANGE UNBOUNDED PRECEDING..CURRENT ROW) lagInFrame IS standard
    # lag (backward offsets always land inside), so the mapping is
    # exact for the frameless spelling; Spark REJECTS an explicit
    # frame on lag/lead ("Cannot specify window frame"), so every
    # frame-bounded call fails loudly instead of silently diverging.
    # leadInFrame documented deviation: CH's default frame ends at the
    # current row, so frameless leadInFrame returns all-defaults in CH
    # (never what a query means); this compile gives the forward
    # offset of CH's extended-frame idiom instead.
    "lagInFrame": lambda a: f"lag({', '.join(a)})",
    "leadInFrame": lambda a: f"lead({', '.join(a)})",
    # CH rowNumberInAllBlocks numbers rows in BLOCK-READ order --
    # unspecified on a distributed read, the runningDifference
    # statement-order class
    "rowNumberInAllBlocks": lambda a: (_ for _ in ()).throw(
        ValueError(
            "chsql: rowNumberInAllBlocks() numbers rows in block-read "
            "order, which is not reproducible on a distributed read — "
            "use row_number() OVER (ORDER BY <total order>)"
        )
    ),
    # rotation via pmod + two slices: no data-dependent branch, empty
    # arrays fall out of pmod(n, greatest(size, 1)) = 0 naturally,
    # NULL array/shift propagate NULL
    "arrayRotateLeft": lambda a: (
        (
            lambda arr, m: (
                f"concat(slice({arr}, ({m}) + 1, size({arr}) - ({m})), "
                f"slice({arr}, 1, {m}))"
            )
        )(a[0], f"pmod({a[1]}, greatest(size({a[0]}), 1))")
    ),
    "arrayRotateRight": lambda a: (
        (
            lambda arr, m: (
                f"concat(slice({arr}, ({m}) + 1, size({arr}) - ({m})), "
                f"slice({arr}, 1, {m}))"
            )
        )(a[0], f"pmod(-({a[1]}), greatest(size({a[0]}), 1))")
    ),
    "arrayReduce": _array_reduce_sql,
    # slope between the min-x and max-x points of the group
    "boundingRatio": lambda a: (
        f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) "
        f"/ (max({a[0]}) - min({a[0]})))"
    ),
    # CH sumWithOverflow keeps the INPUT width and wraps; Spark sum
    # promotes to BIGINT/DOUBLE -- wider, value-equal until a true
    # 64-bit overflow (documented deviation)
    "sumWithOverflow": lambda a: f"sum({a[0]})",
    "skewPop": lambda a: f"skewness({a[0]})",
    "kurtPop": lambda a: f"(kurtosis({a[0]}) + 3.0D)",
    # date widening
    "toStartOfDay": lambda a: f"date_trunc('DAY', {a[0]})",
    "toStartOfWeek": lambda a: _to_start_of_week_sql(a),
    "dateAdd": lambda a: _date_add_sql(a),
    "dateSub": lambda a: _date_add_sql(a, "-"),
    "fromUnixTimestamp": lambda a: f"timestamp_seconds({a[0]})",
    # array widening.  arrayDifference: first element 0, then
    # adjacent deltas (element_at is 1-based, so index __i IS the
    # previous element; the CASE guards it from the __i = 0 probe)
    "arrayDifference": lambda a: (
        f"transform({a[0]}, (__x, __i) -> CASE WHEN __i = 0 THEN 0 "
        f"ELSE __x - element_at({a[0]}, __i) END)"
    ),
    "arrayCumSum": _array_cum_sum_sql,
    "arrayIntersect": lambda a: _fold_intersect(a),
    "arrayPushBack": lambda a: f"concat({a[0]}, array({a[1]}))",
    "arrayPushFront": lambda a: f"concat(array({a[1]}), {a[0]})",
    "arrayPopBack": lambda a: (
        f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))"
    ),
    "arrayPopFront": lambda a: (
        f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))"
    ),
    "multiSearchAny": lambda a: (
        f"exists({a[1]}, __n -> contains({a[0]}, __n))"
    ),
    "countEqual": lambda a: (
        f"size(filter({a[0]}, __y -> __y <=> ({a[1]})))"
    ),
    # CH lambda-first signature; NULL when nothing matches (CH: the
    # element-type default -- same documented deviation class as the
    # unknown-type postfix index)
    "arrayFirst": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), 1)"
        if len(a) == 2
        else (
            f"try_element_at(transform(filter("
            f"{_keep_first2(a[0], a[1], a[2])}, "
            f"__z -> CAST(__z.__p AS BOOLEAN)), __z -> __z.__e), 1)"
        )
    ),
    "arrayLast": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), -1)"
        if len(a) == 2
        else (
            f"try_element_at(transform(filter("
            f"{_keep_first2(a[0], a[1], a[2])}, "
            f"__z -> CAST(__z.__p AS BOOLEAN)), __z -> __z.__e), -1)"
        )
    ),
    # bitwise family
    "bitAnd": lambda a: f"(({a[0]}) & ({a[1]}))",
    "bitOr": lambda a: f"(({a[0]}) | ({a[1]}))",
    "bitXor": lambda a: f"(({a[0]}) ^ ({a[1]}))",
    "bitNot": lambda a: f"(~({a[0]}))",
    "bitShiftLeft": lambda a: f"shiftleft({a[0]}, {a[1]})",
    "bitShiftRight": lambda a: f"shiftright({a[0]}, {a[1]})",
    # string widening
    # CH aliases of the ASCII-only lower/upper (same translate form)
    "lcase": lambda a: f"translate({a[0]}, '{_ASCII_UP}', '{_ASCII_LO}')",
    "ucase": lambda a: f"translate({a[0]}, '{_ASCII_LO}', '{_ASCII_UP}')",
    "concatWithSeparator": lambda a: f"concat_ws({', '.join(a)})",
    "base64Encode": lambda a: f"base64({a[0]})",
    "base64Decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    "splitByString": lambda a: (
        f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))"
    ),
}

def _date_diff_sql(a: list[str], full_units: bool) -> str:
    """CH ``dateDiff(unit, s, e)`` counts crossed UNIT BOUNDARIES
    (2021-12-31 23:59 -> 2022-01-01 00:01 is 1 day/month/year);
    ``age(unit, s, e)`` counts COMPLETE elapsed units.  Spark's
    timestampdiff is the age contract; dateDiff additionally truncates
    both endpoints to the unit first -- complete units between unit
    starts == boundary crossings."""
    unit = a[0].strip().strip("'\"").lower()
    if unit not in _DATE_UNITS:
        raise ValueError(
            f"chsql: dateDiff/age unit {a[0]!r} is not one of "
            f"{sorted(_DATE_UNITS)}"
        )
    if full_units:
        return f"timestampdiff({unit.upper()}, {a[1]}, {a[2]})"
    return (
        f"timestampdiff({unit.upper()}, date_trunc('{unit.upper()}', {a[1]}), "
        f"date_trunc('{unit.upper()}', {a[2]}))"
    )


def _tuple_element_sql(a: list[str]) -> str:
    m = re.fullmatch(r"\s*(\d+)\s*", a[1])
    if not m:
        raise ValueError(
            "chsql: tupleElement needs a literal 1-based index (field "
            "names of dialect-built tuples are '1', '2', ...)"
        )
    return f"({a[0]}).`{m.group(1)}`"


def _cut_url_parameter_sql(a: list[str]) -> str:
    """SQL-text mirror of ch.cut_url_parameter, with the same
    documented deviation (ALL duplicate occurrences removed where CH
    removes the first).  The parameter name must be a string literal
    (it is spliced into a regex, so it needs escaping at compile
    time)."""
    m = re.fullmatch(r"\s*'([^']*)'\s*", a[1])
    if not m:
        raise ValueError(
            "chsql: cutURLParameter needs a literal parameter name"
        )
    n = re.escape(m.group(1)).replace("\\", "\\\\")
    return (
        f"regexp_replace(regexp_replace({a[0]}, "
        f"'([?&]){n}=[^&#]*&', '$1'), '[?&]{n}=[^&#]*', '')"
    )


def _array_resize_sql(a: list[str]) -> str:
    if len(a) == 2:
        raise ValueError(
            "chsql: arrayResize without an explicit extender fills CH "
            "element-type defaults, which need the element type -- "
            "pass the third argument (e.g. arrayResize(arr, n, 0))"
        )
    return (
        f"concat(slice({a[0]}, 1, CAST(least({a[1]}, size({a[0]})) AS INT)), "
        f"array_repeat({a[2]}, CAST(greatest(({a[1]}) - size({a[0]}), 0) AS INT)))"
    )


# URL family: SQL-text mirrors of functions/ch.py's url_* wrappers
# (the oracle-proven source of truth -- equality pinned by
# tests/test_chsql_vocab_r12.py::test_url_sql_matches_ch_functions).
# CH returns '' where a component is absent; parse_url returns NULL,
# so every mirror coalesces to ''.
_URL_HOST = "coalesce(parse_url({u}, 'HOST'), '')"

# --- URL family #2 templates (text twins of functions/ch.py's
# url_first_significant_subdomain / _cut_to / url_hierarchy /
# url_path_hierarchy; {u} filled at rewrite time).  TRANSFORM is
# emitted UPPERCASE (inert to the CH transform() decode mapping).
_URL_LABELS = "split(coalesce(parse_url({u}, 'HOST'), ''), '\\\\.')"
_INSIG_SQL = "('com', 'net', 'org', 'co', 'biz', 'gov', 'mil', 'edu', 'int')"
_FSS_SQL = (
    f"(CASE WHEN size({_URL_LABELS}) < 2 THEN '' "
    f"WHEN try_element_at({_URL_LABELS}, -2) IN {_INSIG_SQL} "
    f"AND size({_URL_LABELS}) >= 3 "
    f"THEN try_element_at({_URL_LABELS}, -3) "
    f"ELSE try_element_at({_URL_LABELS}, -2) END)"
)
_CUT_FSS_SQL = (
    f"(CASE WHEN size({_URL_LABELS}) < 2 THEN '' "
    f"WHEN try_element_at({_URL_LABELS}, -2) IN {_INSIG_SQL} "
    f"AND size({_URL_LABELS}) >= 3 "
    f"THEN array_join(slice({_URL_LABELS}, size({_URL_LABELS}) - 2, 3), '.') "
    f"ELSE array_join(slice({_URL_LABELS}, size({_URL_LABELS}) - 1, 2), '.') "
    f"END)"
)
_URL_B = (
    "concat(coalesce(parse_url({u}, 'PROTOCOL'), ''), '://', "
    "coalesce(parse_url({u}, 'HOST'), ''))"
)
_URL_P = "coalesce(parse_url({u}, 'PATH'), '')"
_URL_Q = "coalesce(parse_url({u}, 'QUERY'), '')"
_URL_SEGS = f"split({_URL_P}, '/')"
_URL_N = f"size({_URL_SEGS})"
_URL_PRE = (
    f"TRANSFORM(filter(sequence(1, {_URL_N}), "
    f"__i -> __i < {_URL_N} OR try_element_at({_URL_SEGS}, -1) != ''), "
    f"__i -> concat({_URL_B}, array_join(slice({_URL_SEGS}, 1, __i), '/'), "
    f"CASE WHEN __i < {_URL_N} THEN '/' ELSE '' END))"
)
_URL_HIER_SQL = (
    f"(CASE WHEN coalesce(parse_url({{u}}, 'HOST'), '') = '' "
    f"THEN CAST(array() AS ARRAY<STRING>) "
    f"WHEN {_URL_Q} != '' THEN concat({_URL_PRE}, "
    f"array(concat({_URL_B}, {_URL_P}, '?', {_URL_Q}))) "
    f"ELSE {_URL_PRE} END)"
)
_URL_PATH_HIER_SQL = (
    f"TRANSFORM(filter({_URL_HIER_SQL}, "
    f"__e -> __e != concat({_URL_B}, '/')), "
    f"__e -> substring(__e, CHAR_LENGTH({_URL_B}) + 1))"
)

_CALL_REWRITES.update(
    {
        "protocol": lambda a: f"coalesce(parse_url({a[0]}, 'PROTOCOL'), '')",
        "domain": lambda a: _URL_HOST.format(u=a[0]),
        "domainWithoutWWW": lambda a: (
            f"regexp_replace({_URL_HOST.format(u=a[0])}, '^www\\\\.', '')"
        ),
        "topLevelDomain": lambda a: (
            f"regexp_extract({_URL_HOST.format(u=a[0])}, "
            f"'\\\\.([^.]+)$', 1)"
        ),
        "path": lambda a: f"coalesce(parse_url({a[0]}, 'PATH'), '')",
        # branch-free pathFull: concat(NULL) is NULL, so an absent
        # query falls through coalesce to the bare path
        "pathFull": lambda a: (
            f"coalesce(concat(coalesce(parse_url({a[0]}, 'PATH'), ''), "
            f"'?', nullif(coalesce(parse_url({a[0]}, 'QUERY'), ''), '')), "
            f"coalesce(parse_url({a[0]}, 'PATH'), ''))"
        ),
        "queryString": lambda a: f"coalesce(parse_url({a[0]}, 'QUERY'), '')",
        "fragment": lambda a: f"coalesce(parse_url({a[0]}, 'REF'), '')",
        "extractURLParameter": lambda a: (
            f"coalesce(parse_url({a[0]}, 'QUERY', {a[1]}), '')"
        ),
        "cutQueryString": lambda a: (
            f"regexp_replace({a[0]}, '\\\\?[^#]*', '')"
        ),
        "cutFragment": lambda a: f"regexp_replace({a[0]}, '#.*$', '')",
        "cutWWW": lambda a: (
            f"regexp_replace({a[0]}, "
            f"'^([a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?)www\\\\.', '$1')"
        ),
        "cutURLParameter": _cut_url_parameter_sql,
        # port(url[, default]): trailing :digits of the AUTHORITY --
        # bracketed IPv6 inner colons are never at the end; the
        # nullif/coalesce form is branch-free (PLANS.md CASE penalty)
        "port": lambda a: (
            f"coalesce(CAST(nullif(regexp_extract(coalesce("
            f"parse_url({a[0]}, 'AUTHORITY'), ''), ':(\\\\d+)$', 1), '') "
            f"AS INT), {a[1] if len(a) > 1 else '0'})"
        ),
        # ----- URL family #2 (r11): text twins of the functions/ch
        # ----- url_first_significant_subdomain / _cut_to / hierarchy
        # ----- wrappers (equality pinned in the collisions battery)
        "firstSignificantSubdomain": lambda a: _FSS_SQL.format(u=a[0]),
        "cutToFirstSignificantSubdomain": lambda a: _CUT_FSS_SQL.format(
            u=a[0]
        ),
        "URLHierarchy": lambda a: _URL_HIER_SQL.format(u=a[0]),
        "URLPathHierarchy": lambda a: _URL_PATH_HIER_SQL.format(u=a[0]),
        # pure percent-decode: '+' is NOT a space in CH (pre-escaped
        # for Java's URLDecoder); encode is RFC-3986 with the three
        # Java differences fixed up (space/'*'/'~')
        "decodeURLComponent": lambda a: (
            f"url_decode(replace({a[0]}, '+', '%2B'))"
        ),
        "encodeURLComponent": lambda a: (
            f"replace(replace(replace(url_encode({a[0]}), "
            f"'+', '%20'), '*', '%2A'), '%7E', '~')"
        ),
        # the FORM variants use application/x-www-form-urlencoded
        # space<->'+' -- exactly Java's contract, so only the '*'/'~'
        # fixes remain on encode
        "decodeURLFormComponent": lambda a: f"url_decode({a[0]})",
        "encodeURLFormComponent": lambda a: (
            f"replace(replace(url_encode({a[0]}), '*', '%2A'), "
            f"'%7E', '~')"
        ),
        # 'k=v' pair array / parameter-name array ('' query -> [])
        "extractURLParameters": lambda a: (
            f"filter(split(coalesce(parse_url({a[0]}, 'QUERY'), ''), "
            f"'&'), __x -> __x != '')"
        ),
        "extractURLParameterNames": lambda a: (
            f"TRANSFORM(filter(split(coalesce(parse_url({a[0]}, "
            f"'QUERY'), ''), '&'), __x -> __x != ''), "
            f"__x -> regexp_extract(__x, '^([^=]*)', 1))"
        ),
        # '?query#fragment' with each piece present-gated (CH keeps
        # the separators; branch-free nullif/coalesce grammar)
        "queryStringAndFragment": lambda a: (
            f"concat(coalesce(concat('?', nullif(coalesce(parse_url("
            f"{a[0]}, 'QUERY'), ''), '')), ''), "
            f"coalesce(concat('#', nullif(coalesce(parse_url({a[0]}, "
            f"'REF'), ''), '')), ''))"
        ),
        "cutQueryStringAndFragment": lambda a: (
            f"regexp_replace({a[0]}, '[?#].*$', '')"
        ),
        # user:pass@host:port (Java AUTHORITY includes userinfo)
        "netloc": lambda a: (
            f"coalesce(parse_url({a[0]}, 'AUTHORITY'), '')"
        ),
        # ----- date widening #2 ----------------------------------
        "toYYYYMMDD": lambda a: (
            f"CAST(date_format({a[0]}, 'yyyyMMdd') AS INT)"
        ),
        "toStartOfHour": lambda a: f"date_trunc('HOUR', {a[0]})",
        "toStartOfMinute": lambda a: f"date_trunc('MINUTE', {a[0]})",
        # 30-minute slot, tz-free arithmetic (NTZ-safe: no unix_*)
        "timeSlot": lambda a: (
            f"timestampadd(MINUTE, -(minute({a[0]}) % 30), "
            f"date_trunc('MINUTE', {a[0]}))"
        ),
        "dateDiff": lambda a: _date_diff_sql(a, full_units=False),
        "age": lambda a: _date_diff_sql(a, full_units=True),
        # ----- math / array / string / tuple ---------------------
        "roundBankers": lambda a: f"bround({', '.join(a)})",
        "arrayProduct": lambda a: (
            f"aggregate({a[0]}, CAST(1.0 AS DOUBLE), "
            f"(__acc, __x) -> __acc * __x)"
        ),
        "alphaTokens": lambda a: (
            f"filter(split({a[0]}, '[^A-Za-z]+'), __x -> __x != '')"
        ),
        "arrayResize": _array_resize_sql,
        "tuple": lambda a: "named_struct(" + ", ".join(
            f"'{i + 1}', {x}" for i, x in enumerate(a)
        ) + ")",
        "tupleElement": _tuple_element_sql,
        # IPv4 numeric<->dotted-quad; malformed strings yield NULL
        # (CH IPv4StringToNum THROWS -- NULL propagates loudly in a
        # pipeline without killing the job; documented deviation)
        # shiftright() function spelling, not the `>>` operator: Spark
        # fails to PARSE `>>` in any expression that also contains an
        # inline struct(...).field access (empirically, Spark 4.1) --
        # and composed calls like IPv4NumToString(range.min) hit
        # exactly that
        "IPv4NumToString": lambda a: (
            f"concat(CAST((shiftright({a[0]}, 24) & 255) AS STRING), '.', "
            f"CAST((shiftright({a[0]}, 16) & 255) AS STRING), '.', "
            f"CAST((shiftright({a[0]}, 8) & 255) AS STRING), '.', "
            f"CAST((({a[0]}) & 255) AS STRING))"
        ),
        # additive NULL gate, never CASE around the fold (the measured
        # 10-50x branch penalty, PLANS.md): the fold runs
        # unconditionally; an out-of-grammar string adds NULL
        "IPv4StringToNum": lambda a: (
            f"(aggregate(transform(split({a[0]}, '\\\\.'), "
            f"__x -> CAST(__x AS BIGINT)), CAST(0 AS BIGINT), "
            f"(__acc, __x) -> __acc * 256 + __x) + CASE WHEN ({a[0]}) RLIKE "
            f"'^([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])"
            f"(\\\\.([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])){{3}}$' "
            f"THEN CAST(0 AS BIGINT) END)"
        ),
        # the engine's IPv4 REPRESENTATION is the UInt32 number (the
        # IPv4StringToNum form); toIPv4 lands on it, and the range
        # struct below carries numbers -- render with IPv4NumToString
        "toIPv4": lambda a: _CALL_REWRITES["IPv4StringToNum"]([a[0]]),
        # (min, max) of the CIDR block as a struct of numbers.  BIGINT
        # 1 before the shift: shiftleft over INT wraps at 32 bits,
        # silently breaking the bits=0 whole-space case
        "IPv4CIDRToRange": lambda a: (
            # literal bits outside 0..32 refuse: Spark's shift counts
            # wrap mod 64, so a negative or >32 bits would produce a
            # silently-garbage mask where CH errors (-?\d+ so negative
            # literals hit the guard too, ADVICE r12 #1)
            (_ for _ in ()).throw(
                ValueError(
                    f"chsql: IPv4CIDRToRange bits {a[1].strip()} is "
                    "outside 0..32 (CH errors here)"
                )
            )
            if re.fullmatch(r"-?\d+", a[1].strip())
            and not 0 <= int(a[1].strip()) <= 32
            else (
                lambda ip, low: (
                    f"struct((({ip}) & (4294967295 - {low})) AS min, "
                    f"(({ip}) | {low}) AS max)"
                )
            )(
                a[0],
                f"(shiftleft(CAST(1 AS BIGINT), 32 - ({a[1]})) - 1)",
            )
        ),
        # CH pads with NUL bytes and ERRORS when the value is longer
        # than n; rpad alone would silently TRUNCATE there (the raise
        # rides a cheap CASE branch; both branches are cheap scalar
        # ops).  FixedString(n) is n BYTES, so the guard and padding
        # are octet-based — 'éé' overflows n=3 and 'é' pads to 4
        # bytes with TWO NULs, matching CH on non-ASCII (ADVICE r12
        # #3; rpad/char_length counted characters)
        "toFixedString": lambda a: (
            f"(CASE WHEN octet_length({a[0]}) > ({a[1]}) THEN "
            f"raise_error('chsql: toFixedString value longer than the "
            f"fixed size (CH errors here)') "
            f"ELSE concat({a[0]}, repeat(chr(0), "
            f"({a[1]}) - octet_length({a[0]}))) END)"
        ),
        # CH char(n1, n2, ...) builds a multi-byte string; Spark's
        # char takes ONE code -- concat per argument (each arg mod 256
        # in both engines).  CHAR uppercase: the rescan escape.
        "char": lambda a: (
            f"CHAR({a[0]})"
            if len(a) == 1
            else "concat(" + ", ".join(f"CHAR({x})" for x in a) + ")"
        ),
        # set bits as ascending powers of two (63 magnitude bits; CH's
        # UInt64 top bit is out of BIGINT range -- documented).  List
        # form is CH's comma-joined STRING rendering of the same.
        "bitmaskToArray": lambda a: (
            f"filter(transform(sequence(0, 62), "
            f"__i -> shiftleft(CAST(1 AS BIGINT), __i)), "
            f"__b -> (({a[0]}) & __b) != 0)"
        ),
        "bitmaskToList": lambda a: (
            f"array_join(transform(filter(transform(sequence(0, 62), "
            f"__i -> shiftleft(CAST(1 AS BIGINT), __i)), "
            f"__b -> (({a[0]}) & __b) != 0), "
            f"__b -> CAST(__b AS STRING)), ',')"
        ),
        # alphanumeric runs (the CH 'default' tokenizer); unicode
        # letter/digit classes where CH is byte-ASCII -- documented
        # superset deviation on non-ASCII text
        "tokens": lambda a: (
            f"filter(split({a[0]}, '[^\\\\p{{L}}\\\\p{{N}}]+'), "
            f"__x -> __x != '')"
        ),
        # character n-grams, branch-free: sequence length clamps to 1
        # (sequence(1, 0) would count DOWN), the outer slice restores
        # the true count (0 for too-short strings)
        "ngrams": lambda a: (
            # a literal n < 1 refuses (CH errors; the slice form would
            # silently emit empty-string grams)
            (_ for _ in ()).throw(
                ValueError(
                    f"chsql: ngrams size {a[1].strip()} must be >= 1 "
                    "(CH errors here)"
                )
            )
            if re.fullmatch(r"-?\d+", a[1].strip())
            and int(a[1].strip()) < 1
            else (
                lambda s, n: (
                    f"slice(transform(sequence(1, "
                    f"greatest(char_length({s}) - ({n}) + 1, 1)), "
                    f"__i -> substring({s}, __i, {n})), 1, "
                    f"greatest(char_length({s}) - ({n}) + 1, 0))"
                )
            )(a[0], a[1])
        ),
    }
)

# the CH typed-empty-array constructors (concat/type-unification
# seeds); generated as one family so the spelling list stays flat
_CALL_REWRITES.update(
    {
        f"emptyArray{ch}": (
            lambda t: (lambda a: f"CAST(array() AS ARRAY<{t}>)")
        )(sp)
        for ch, sp in {
            "String": "STRING",
            "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
            "Int64": "BIGINT",
            "UInt8": "SMALLINT", "UInt16": "INT", "UInt32": "BIGINT",
            "UInt64": "BIGINT",
            "Float32": "FLOAT", "Float64": "DOUBLE",
            "Date": "DATE", "DateTime": "TIMESTAMP",
        }.items()
    }
)


# ----- vocab batch #3 (r12): tolerant casts, date arithmetic, ------
# ----- digests, bit family, regression/mode aggregates, array/map --

def _date_name_sql(a: list[str]) -> str:
    """CH ``dateName(part, d)``: the named date part AS A STRING
    ('2024', 'April', 'Tuesday').  Literal part names only -- a
    column-valued part would need a per-row format dispatch."""
    part = a[0].strip().strip("'\"").lower()
    forms = {
        "year": "date_format({d}, 'yyyy')",
        "quarter": "CAST(quarter({d}) AS STRING)",
        "month": "date_format({d}, 'MMMM')",
        "dayofyear": "CAST(dayofyear({d}) AS STRING)",
        "day": "CAST(day({d}) AS STRING)",
        "weekday": "date_format({d}, 'EEEE')",
        "hour": "CAST(hour({d}) AS STRING)",
        "minute": "CAST(minute({d}) AS STRING)",
        "second": "CAST(second({d}) AS STRING)",
    }
    if part not in forms:
        raise ValueError(
            f"chsql: dateName part {a[0]!r} is not one of {sorted(forms)}"
        )
    return forms[part].format(d=a[1])


def _has_substr_sql(a: list[str]) -> str:
    """CH ``hasSubstr(a, b)``: b occurs in a as a CONTIGUOUS ordered
    run (``hasAll`` is the set form).  Element compare is null-safe
    ``<=>`` (NULL elements match NULL, the CH all-values rule); an
    empty b matches everything, as in CH.  A slice shorter than b
    zips against NULL probes and fails -- no length pre-check
    needed."""
    arr, sub = a
    # explicit NULL gate: this build pins legacy sizeOfNull (-1), so
    # a NULL operand would otherwise reach slice() as a negative
    # length (runtime error) instead of propagating NULL
    return (
        f"CASE WHEN ({arr}) IS NULL OR ({sub}) IS NULL THEN NULL ELSE "
        f"exists(sequence(1, greatest(size({arr}) - size({sub}) + 1, 1)), "
        f"__i -> forall(zip_with(slice({arr}, __i, size({sub})), {sub}, "
        f"(__x, __y) -> __x <=> __y), __p -> __p)) END"
    )


def _ch_nulls_order(body: str) -> str:
    """ClickHouse sorts NULL (and NaN) LAST ascending and FIRST
    descending; Spark's defaults are the exact OPPOSITE -- a silent
    row-order divergence wherever a nullable sort key meets LIMIT.
    Append the explicit modifier to every top-level sort item that
    lacks one (explicit NULLS FIRST/LAST spellings pass through;
    WITH FILL items are handled by the fill path)."""
    out = []
    for item in _split_top(body):
        it = item.strip()
        masked = _mask(it)
        if (
            re.search(r"\bNULLS\s+(FIRST|LAST)\s*$", masked, re.I)
            or re.search(r"\bWITH\s+FILL\b", masked, re.I)
        ):
            out.append(it)
        elif re.search(r"\bDESC\s*$", masked, re.I):
            out.append(f"{it} NULLS FIRST")
        else:
            out.append(f"{it} NULLS LAST")
    return ", ".join(out)


def _dt64_precision(fn: str, a: list[str], idx: int) -> None:
    """Validate the DateTime64 precision argument (a literal digit;
    Spark carries micros regardless -- documented cap)."""
    if len(a) > idx and not re.fullmatch(r"\d", a[idx].strip()):
        raise ValueError(
            f"chsql: {fn} precision must be a literal digit 0-9, "
            f"got {a[idx]!r}"
        )
    return None


def _to_start_of_interval_sql(a: list[str]) -> str:
    """CH ``toStartOfInterval(d, INTERVAL n unit)``: floor onto the
    epoch-anchored n-unit grid.  Literal intervals only.  Scope
    mirrors where the epoch anchor is exactly expressible: any n for
    day/month/quarter/year (epoch day / month-number arithmetic, DATE
    result as CH), n dividing the parent unit for second/minute/hour
    (TIMESTAMP result as CH), week n=1 (Monday).  Other spellings
    refuse rather than guess the anchor."""
    im = re.match(
        r"^\s*INTERVAL\s+(\d+)\s+(\w+?)s?\s*$", a[1].strip(), re.I
    )
    if not im:
        raise ValueError(
            f"chsql: toStartOfInterval needs a literal INTERVAL n "
            f"unit, got {a[1]!r}"
        )
    n, unit = int(im.group(1)), im.group(2).lower()
    x = a[0]
    if n < 1:
        raise ValueError("chsql: toStartOfInterval needs n >= 1")
    if unit in ("second", "minute", "hour"):
        parent_span = {"second": 60, "minute": 60, "hour": 24}[unit]
        if parent_span % n:
            raise ValueError(
                f"chsql: toStartOfInterval {n} {unit} does not divide "
                f"the parent unit; only even divisors keep the CH "
                f"epoch anchor expressible"
            )
        return (
            f"timestampadd({unit.upper()}, -({unit}({x}) % {n}), "
            f"date_trunc('{unit.upper()}', {x}))"
        )
    if unit == "day":
        return (
            f"date_sub(CAST({x} AS DATE), "
            f"pmod(datediff(CAST({x} AS DATE), DATE'1970-01-01'), {n}))"
        )
    if unit == "week":
        if n != 1:
            raise ValueError(
                "chsql: toStartOfInterval supports 1-week intervals "
                "only (CH's multi-week anchor is engine-internal)"
            )
        return f"CAST(date_trunc('week', {x}) AS DATE)"
    if unit in ("month", "quarter", "year"):
        months = n * {"month": 1, "quarter": 3, "year": 12}[unit]
        mnum = f"((year({x}) - 1970) * 12 + month({x}) - 1)"
        return (
            f"add_months(DATE'1970-01-01', "
            f"{mnum} - pmod({mnum}, {months}))"
        )
    raise ValueError(
        f"chsql: toStartOfInterval unit {unit!r} is not one of "
        f"second/minute/hour/day/week/month/quarter/year"
    )


# CH tolerant-cast family ``to<T>OrNull`` / ``to<T>OrZero``:
# ``try_cast`` shares CH's strict-parse contract (NULL on parse OR
# range failure; '12.5' does NOT truncate into an Int64) but also
# accepts surrounding ASCII whitespace and non-string arguments --
# documented superset.  Unsigned targets ride the same widened
# storage types as the ``toUInt*`` hard casts and add CH's [0, max]
# range gate (a cheap comparison CASE, not the PLANS.md
# branch-penalty class; UInt64 is bounded at BIGINT max, the same
# documented narrowing as ``toUInt64``).  OrZero falls back to CH's
# zero default (0 / 1970-01-01).
_CH_TOLERANT_CASTS: dict[str, tuple[str, tuple[str, str] | None, str]] = {
    "Int8": ("TINYINT", None, "CAST(0 AS TINYINT)"),
    "Int16": ("SMALLINT", None, "CAST(0 AS SMALLINT)"),
    "Int32": ("INT", None, "CAST(0 AS INT)"),
    "Int64": ("BIGINT", None, "CAST(0 AS BIGINT)"),
    "UInt8": ("SMALLINT", ("0", "255"), "CAST(0 AS SMALLINT)"),
    "UInt16": ("INT", ("0", "65535"), "CAST(0 AS INT)"),
    "UInt32": ("BIGINT", ("0", "4294967295"), "CAST(0 AS BIGINT)"),
    "UInt64": (
        "BIGINT", ("0", "9223372036854775807"), "CAST(0 AS BIGINT)"
    ),
    "Float32": ("FLOAT", None, "CAST(0 AS FLOAT)"),
    "Float64": ("DOUBLE", None, "CAST(0 AS DOUBLE)"),
    "Date": ("DATE", None, "DATE'1970-01-01'"),
    "DateTime": ("TIMESTAMP", None, "TIMESTAMP'1970-01-01 00:00:00'"),
}


def _tolerant_cast_rewrites() -> dict:
    out = {}
    for ch, (sp, rng, zero) in _CH_TOLERANT_CASTS.items():
        if rng is None:
            ornull = (
                lambda a, sp=sp: f"try_cast({a[0]} AS {sp})"
            )
        else:
            lo, hi = rng
            ornull = lambda a, sp=sp, lo=lo, hi=hi: (
                f"CASE WHEN try_cast({a[0]} AS BIGINT) "
                f"BETWEEN {lo} AND {hi} "
                f"THEN CAST(try_cast({a[0]} AS BIGINT) AS {sp}) END"
            )
        out[f"to{ch}OrNull"] = ornull
        out[f"to{ch}OrZero"] = (
            lambda a, f=ornull, z=zero: f"coalesce({f(a)}, {z})"
        )
    return out


_CALL_REWRITES.update(_tolerant_cast_rewrites())

# CH per-unit date arithmetic addYears..subtractSeconds: the same
# timestampadd mapping (and the same documented type deviation) as
# dateAdd/dateSub -- output is TIMESTAMP even for DATE inputs where
# CH keeps Date for day-and-coarser units; cast at the call site
_CALL_REWRITES.update(
    {
        f"{verb}{unit.capitalize()}s": (
            lambda u, neg: (
                lambda a: f"timestampadd({u}, {neg}({a[1]}), {a[0]})"
            )
        )(unit.upper(), neg)
        for unit in (
            "year", "quarter", "month", "week",
            "day", "hour", "minute", "second",
        )
        for verb, neg in (("add", ""), ("subtract", "-"))
    }
)

# N-minute floors, the timeSlot pattern (tz-free, NTZ-safe)
_CALL_REWRITES.update(
    {
        name: (
            lambda n: (
                lambda a: (
                    f"timestampadd(MINUTE, -(minute({a[0]}) % {n}), "
                    f"date_trunc('MINUTE', {a[0]}))"
                )
            )
        )(n)
        for name, n in {
            "toStartOfFiveMinutes": 5,
            "toStartOfTenMinutes": 10,
            "toStartOfFifteenMinutes": 15,
        }.items()
    }
)

_CALL_REWRITES.update(
    {
        # CH toTime: keep the time-of-day, pin the date to 1970-01-02
        "toTime": lambda a: (
            f"to_timestamp(concat('1970-01-02 ', "
            f"date_format({a[0]}, 'HH:mm:ss')))"
        ),
        "monthName": lambda a: f"date_format({a[0]}, 'MMMM')",
        "dateName": _date_name_sql,
        # ----- math ------------------------------------------------
        "exp2": lambda a: f"power(CAST(2 AS DOUBLE), {a[0]})",
        "exp10": lambda a: f"power(CAST(10 AS DOUBLE), {a[0]})",
        # exact for n in 0..62 / 0..18 (5^n < 2^53 keeps the double
        # representation exact; beyond that CH's UInt64 overflows
        # BIGINT anyway)
        "intExp2": lambda a: (
            f"CAST(power(CAST(2 AS DOUBLE), {a[0]}) AS BIGINT)"
        ),
        "intExp10": lambda a: (
            f"CAST(power(CAST(10 AS DOUBLE), {a[0]}) AS BIGINT)"
        ),
        # CH max2/min2 always return Float64
        "max2": lambda a: (
            f"greatest(CAST({a[0]} AS DOUBLE), CAST({a[1]} AS DOUBLE))"
        ),
        "min2": lambda a: (
            f"least(CAST({a[0]} AS DOUBLE), CAST({a[1]} AS DOUBLE))"
        ),
        # ----- digests (CH returns FixedString bytes; hex() of the
        # ----- result matches CH's uppercase spelling exactly) ------
        # UNHEX uppercase: inert to the bare CH unhex() mapping (which
        # casts to STRING -- these must stay BINARY so hex() of them
        # matches CH byte-for-byte)
        "MD5": lambda a: f"UNHEX(md5({a[0]}))",
        "SHA1": lambda a: f"UNHEX(sha1({a[0]}))",
        "SHA224": lambda a: f"UNHEX(sha2({a[0]}, 224))",
        "SHA256": lambda a: f"UNHEX(sha2({a[0]}, 256))",
        "SHA512": lambda a: f"UNHEX(sha2({a[0]}, 512))",
        # ----- bit family ------------------------------------------
        "groupBitAnd": lambda a: f"bit_and({a[0]})",
        "groupBitOr": lambda a: f"bit_or({a[0]})",
        "groupBitXor": lambda a: f"bit_xor({a[0]})",
        "bitCount": lambda a: f"bit_count({a[0]})",
        # LSB is bit 0, the CH rule; UInt8 result -> INT (the `match`
        # convention)
        "bitTest": lambda a: (
            f"CAST((shiftright(CAST({a[0]} AS BIGINT), "
            f"CAST({a[1]} AS INT)) & 1) AS INT)"
        ),
        # ----- aggregates ------------------------------------------
        # exact mode: a deterministic strengthening of CH's
        # approximate heavy-hitter (ties unspecified in BOTH engines)
        "anyHeavy": lambda a: f"mode({a[0]})",
        # CH arg order is (x, y); Spark regr_* take (y, x).  Output
        # is the CH tuple -> named_struct('k', slope, 'b', intercept)
        "simpleLinearRegression": lambda a: (
            f"named_struct('k', regr_slope({a[1]}, {a[0]}), "
            f"'b', regr_intercept({a[1]}, {a[0]}))"
        ),
        # theta-sketch class: same fixed-memory approximate family
        "uniqTheta": lambda a: (
            f"approx_count_distinct("
            f"{a[0] if len(a) == 1 else 'struct(' + ', '.join(a) + ')'}, "
            f"0.01)"
        ),
        # ----- array / map -----------------------------------------
        # CH arg order (N, x) -> Spark array_repeat(x, N)
        "arrayWithConstant": lambda a: (
            f"array_repeat({a[1]}, CAST({a[0]} AS INT))"
        ),
        # function form of arr[i]: the same try_element_at mapping as
        # postfix call-result indexing (1-based, negative-from-end,
        # arr[0] -> NULL via nullif; out-of-range NULL where CH
        # fabricates the type default -- same documented deviation).
        # CH arrayElement also subscripts MAPS: a literal-string index
        # skips the INT coercion so map lookups stay lookups (a cast
        # would silently NULL every string key)
        "arrayElement": lambda a: (
            f"try_element_at({a[0]}, {a[1]})"
            if re.fullmatch(r"\s*'[^']*'\s*", a[1])
            else f"try_element_at({a[0]}, CAST(nullif(({a[1]}), 0) AS INT))"
        ),
        "hasSubstr": _has_substr_sql,
        # non-overlapping occurrence count (the replace rule IS the
        # CH non-intersecting rule); '' needle -> length+1 as in CH
        "countSubstrings": lambda a: (
            f"CAST(CASE WHEN CHAR_LENGTH({a[1]}) = 0 "
            f"THEN CHAR_LENGTH({a[0]}) + 1 "
            f"ELSE (CHAR_LENGTH({a[0]}) "
            f"- CHAR_LENGTH(replace({a[0]}, {a[1]}, ''))) "
            f"/ CHAR_LENGTH({a[1]}) END AS INT)"
        ),
        "mapKeys": lambda a: f"map_keys({a[0]})",
        "mapValues": lambda a: f"map_values({a[0]})",
        "mapContains": lambda a: f"map_contains_key({a[0]}, {a[1]})",
        "mapFromArrays": lambda a: f"map_from_arrays({a[0]}, {a[1]})",
        # ----- finiteness (boolean results, the isFinite family
        # ----- convention) -----------------------------------------
        "isNaN": lambda a: f"isnan(CAST({a[0]} AS DOUBLE))",
        "isInfinite": lambda a: (
            f"(NOT isnan(CAST({a[0]} AS DOUBLE)) "
            f"AND abs(CAST({a[0]} AS DOUBLE)) = "
            f"CAST('Infinity' AS DOUBLE))"
        ),
        "ifNotFinite": lambda a: (
            f"CASE WHEN NOT isnan(CAST({a[0]} AS DOUBLE)) "
            f"AND abs(CAST({a[0]} AS DOUBLE)) != "
            f"CAST('Infinity' AS DOUBLE) THEN {a[0]} ELSE {a[1]} END"
        ),
        "toStartOfInterval": _to_start_of_interval_sql,
        # CH sub-second clock/cast spellings: Spark TIMESTAMP is
        # MICROSECOND precision -- a literal precision 0-9 is
        # accepted, the value carries micros regardless (documented:
        # sub-6 asks get full micros, 7-9 truncate at micros)
        "now64": lambda a: _dt64_precision("now64", a, 0) or "now()",
        "toDateTime64": lambda a: (
            _dt64_precision("toDateTime64", a, 1)
            or f"CAST({a[0]} AS TIMESTAMP)"
        ),
        # -OrNull aggregate combinators: NULL over the empty/all-NULL
        # set -- EXACTLY Spark's native aggregate contract, so these
        # are the spellings where the two engines agree byte-for-byte
        "sumOrNull": lambda a: f"sum({a[0]})",
        "minOrNull": lambda a: f"min({a[0]})",
        "maxOrNull": lambda a: f"max({a[0]})",
        "avgOrNull": lambda a: f"avg({a[0]})",
        "anyOrNull": lambda a: f"any_value({a[0]}, true)",
        # CH sumCount -> (sum, count) tuple of non-NULL values
        "sumCount": lambda a: (
            f"named_struct('sum', sum({a[0]}), "
            f"'count', count({a[0]}))"
        ),
        # the 64-bit combined sketch: same rsd class as uniqCombined
        "uniqCombined64": lambda a: (
            f"approx_count_distinct("
            f"{a[0] if len(a) == 1 else 'struct(' + ', '.join(a) + ')'}, "
            f"0.005)"
        ),
        # function spellings of the LIKE operators (CH like/notLike/
        # ilike/notILike; NULL propagates in both engines)
        "like": lambda a: f"({a[0]} LIKE {a[1]})",
        "notLike": lambda a: f"(NOT ({a[0]} LIKE {a[1]}))",
        "ilike": lambda a: f"({a[0]} ILIKE {a[1]})",
        "notILike": lambda a: f"(NOT ({a[0]} ILIKE {a[1]}))",
        # ----- geo: the functions/ch.great_circle_distance formula
        # ----- verbatim (haversine, 6371 km mean sphere; CH's
        # ----- interpolated ellipsoidal radius differs <0.5%) -------
        "greatCircleDistance": lambda a: (
            f"(2.0D * 6371000.0D * asin(sqrt("
            f"pow(sin((radians({a[3]}) - radians({a[1]})) / 2), 2) "
            f"+ cos(radians({a[1]})) * cos(radians({a[3]})) "
            f"* pow(sin((radians({a[2]}) - radians({a[0]})) / 2), 2))))"
        ),
    }
)


def _structural_refusal(name: str, pointer: str):
    """A known CH function whose semantics need a STRUCTURAL plan
    (explode + multi-stage aggregation), not a single expression:
    refuse with the engine operator that implements it, instead of
    letting Spark raise an opaque 'undefined function'.  A
    single-expression compile would also be the wrong plan at scale
    (e.g. sumMap as an expression would collect the raw pair stream
    per group -- exactly what operators/maps.py avoids)."""

    def fn(a):
        raise ValueError(
            f"chsql: {name}() needs a structural plan and has no "
            f"single-expression Spark mapping; use {pointer}"
        )

    return fn


_STRUCTURAL_OPS = {
    # the Map combinators DO compile when each call is a whole aliased
    # top-level SELECT item (_rewrite_summap); what reaches this
    # refusal is any other placement (subquery/CTE/nested expression)
    "sumMap": "operators/maps.agg_map(how='sum'), or place sumMap(k, v)"
    " as a whole aliased top-level SELECT item",
    "minMap": "operators/maps.agg_map(how='min'), or place minMap(k, v)"
    " as a whole aliased top-level SELECT item",
    "maxMap": "operators/maps.agg_map(how='max'), or place maxMap(k, v)"
    " as a whole aliased top-level SELECT item",
    # windowFunnel DOES compile as a whole aliased top-level SELECT
    # item (its _STRUCT_AGGS entry); this refusal is any other
    # placement
    "windowFunnel": "operators/funnel.window_funnel, or place "
    "windowFunnel(W)(ts, cond1, ...) as a whole aliased top-level "
    "SELECT item",
    # both DO compile as whole aliased top-level SELECT items with
    # the supported pattern grammar; this refusal is any other
    # placement
    "sequenceMatch": "operators/funnel.sequence_match, or place "
    "sequenceMatch('(?1).*(?2)')(ts, cond1, ...) as a whole aliased "
    "top-level SELECT item",
    "sequenceCount": "operators/funnel.sequence_count_pairs, or place "
    "sequenceCount('(?1).*(?2)')(ts, cond1, cond2) as a whole aliased "
    "top-level SELECT item",
    # both DO compile as top-level SELECT items of a statement with
    # ORDER BY (_rewrite_running); this refusal is any other placement
    "runningDifference": "operators/series.running_difference, or "
    "place the call in the top-level SELECT of a statement with "
    "ORDER BY",
    "neighbor": "operators/series.neighbor, or place the call in the "
    "top-level SELECT of a statement with ORDER BY",
    # aggregates whose semantics need intra-group ORDER or multi-level
    # aggregation the statement cannot express (r12: named so a known
    # CH spelling never dies as Spark's opaque UNRESOLVED_ROUTINE)
    "deltaSum": "operators/series.delta_sum",
    # both DO compile as whole aliased top-level SELECT items; this
    # refusal is any other placement
    "intervalLengthSum": "operators/series.interval_length_sum, or "
    "place intervalLengthSum(start, end) as a whole aliased top-level "
    "SELECT item (numeric bounds; wrap timestamps in toUnixTimestamp)",
    "maxIntersections": "operators/series.max_intersections, or place "
    "maxIntersections(start, end) as a whole aliased top-level SELECT "
    "item",
    # entropy DOES compile as a whole aliased top-level SELECT item
    # (its _STRUCT_AGGS entry); this refusal is any other placement
    "entropy": "operators/stats.entropy, or place entropy(x) as a "
    "whole aliased top-level SELECT item",
}

_CALL_REWRITES.update(
    {name: _structural_refusal(name, ptr) for name, ptr in _STRUCTURAL_OPS.items()}
)


# CH hash functions whose OUTPUT VALUES are the contract (stored
# hashes, cross-system joins, SAMPLE BY keys): Spark has no
# implementation of these algorithms (or, for xxHash64, uses a
# different seed -- Spark's xxhash64 is XXH64(seed=42), CH's is
# seed=0), so any name-level mapping would return different numbers
# for every row -- the silent-wrong class.  Refuse by name with the
# honest alternatives instead of dying as UNRESOLVED_ROUTINE.
_CH_HASH_FNS = (
    "cityHash64", "sipHash64", "sipHash128", "halfMD5",
    "farmHash64", "farmFingerprint64", "intHash32", "intHash64",
    "xxHash32", "xxHash64", "metroHash64",
    "murmurHash2_32", "murmurHash2_64",
    "murmurHash3_32", "murmurHash3_64", "murmurHash3_128",
    "javaHash", "hiveHash", "jumpConsistentHash",
    "kostikConsistentHash", "CRC32", "CRC32IEEE", "CRC64",
    "URLHash",
)


def _hash_refusal(name: str):
    def fn(a):
        raise ValueError(
            f"chsql: {name}() has no Spark implementation producing "
            f"the same VALUES (engine-specific algorithm/seed); for "
            f"engine-local hashing use Spark's xxhash64()/hash()/"
            f"crc32()/md5() directly, for deterministic sampling or "
            f"sharding use operators/sampling.sample_mod or "
            f"operators/corpus.shard_assign"
        )

    return fn


_CALL_REWRITES.update({name: _hash_refusal(name) for name in _CH_HASH_FNS})


def _rand_constant_refusal(a):
    raise ValueError(
        "chsql: randConstant() (one random value shared by every row "
        "of the block) has no per-row Spark expression; compute the "
        "value driver-side and inline it as a literal"
    )


_CALL_REWRITES["randConstant"] = _rand_constant_refusal


# CH external-dictionary functions: there is no dictionary engine
# here -- the Spark-first shape for the same data flow is the one
# the reference itself uses for dimensions (CSV dim upload ->
# SCD-2 join, README.md:280-302): bind the dictionary source as a
# table and join.
_CH_DICT_FNS = (
    "dictGet", "dictGetOrDefault", "dictGetOrNull", "dictHas",
    "dictGetString", "dictGetUInt8", "dictGetUInt16", "dictGetUInt32",
    "dictGetUInt64", "dictGetInt8", "dictGetInt16", "dictGetInt32",
    "dictGetInt64", "dictGetFloat32", "dictGetFloat64", "dictGetDate",
    "dictGetDateTime", "dictGetUUID", "dictGetHierarchy", "dictIsIn",
)


def _dict_refusal(name: str):
    def fn(a):
        raise ValueError(
            f"chsql: {name}() needs a dictionary engine; model the "
            f"dictionary as a dimension table in run_sql's tables map "
            f"(sources/csvgz dim upload) and JOIN -- broadcast for "
            f"in-memory-dictionary-sized dims, operators/rangejoin "
            f"for SCD-2 validity-interval history"
        )

    return fn


_CALL_REWRITES.update({name: _dict_refusal(name) for name in _CH_DICT_FNS})


# presentation helpers whose CH output is a display STRING
# ('1.00 MiB', a unicode bar): format in the BI/driver layer, not in
# the distributed plan
_CH_DISPLAY_FNS = (
    "bar", "formatReadableSize", "formatReadableDecimalSize",
    "formatReadableQuantity", "formatReadableTimeDelta",
    "sparkbar", "largestTriangleThreeBuckets",
)


def _display_refusal(name: str):
    def fn(a):
        raise ValueError(
            f"chsql: {name}() is a presentation helper (returns a "
            f"display string); format the numeric result driver-side "
            f"or in the BI layer instead of in the distributed plan"
        )

    return fn


_CALL_REWRITES.update({name: _display_refusal(name) for name in _CH_DISPLAY_FNS})


# ---------------------------------------------------------------------------
# r11 vocab batch 3: Metrica report bucketing, numeric trunc (a
# COLLISION -- Spark's trunc() is date truncation, so a passthrough
# trunc(x, 2) would silently return NULL), parseDateTime, timeSlots,
# conditional argMax/argMin, multiSearch, misc cheap mappings
# ---------------------------------------------------------------------------


def _trunc_sql(a: list[str]) -> str:
    """CH ``trunc(x[, N])`` / ``truncate``: numeric truncation toward
    zero to N decimal places.  The 1-arg integer result lands in
    Spark's FLOOR/CEIL BIGINT (value-equal to CH, which keeps the
    input float type -- documented).  Emitted names UPPERCASE-inert."""
    x = a[0]
    if len(a) == 1:
        return f"(CASE WHEN ({x}) >= 0 THEN FLOOR({x}) ELSE CEIL({x}) END)"
    p = f"POWER(10, {a[1]})"
    return (
        f"(CASE WHEN ({x}) >= 0 THEN FLOOR(({x}) * {p}) / {p} "
        f"ELSE CEIL(({x}) * {p}) / {p} END)"
    )


def _time_slots_sql(a: list[str]) -> str:
    """CH ``timeSlots(start, duration[, size])``: array of slot-start
    DateTimes covering [start, start + duration], slot width ``size``
    seconds (default 1800).  NTZ-safe epoch arithmetic via
    timestampdiff/timestampadd (no unix_*)."""
    if len(a) > 2:
        sz_txt = a[2].strip()
        if not re.fullmatch(r"\d+", sz_txt) or int(sz_txt) == 0:
            raise ValueError(
                "chsql: timeSlots size must be a positive integer literal"
            )
        sz = int(sz_txt)
    else:
        sz = 1800
    s0 = (
        f"timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00', "
        f"CAST({a[0]} AS TIMESTAMP))"
    )
    end = f"({s0}) + CAST({a[1]} AS BIGINT)"
    return (
        f"TRANSFORM(sequence(({s0}) - pmod({s0}, {sz}), "
        f"({end}) - pmod({end}, {sz}), {sz}), "
        f"__s -> timestampadd(SECOND, __s, TIMESTAMP '1970-01-01 00:00:00'))"
    )


@_wants_schema_ctx
def _array_cum_sum_nonneg_sql(a: list[str], ctx: _SchemaCtx) -> str:
    """CH ``arrayCumSumNonNegative``: running sum whose ACCUMULATOR
    clamps to 0 at each step (later elements see the clamped value --
    NOT max(0, cumSum)).  Same prefix-aggregate shape and
    schema-picked accumulator as arrayCumSum."""
    acc = _acc_cast(a[0], ctx)
    return (
        f"transform({a[0]}, (__x, __i) -> aggregate(slice({a[0]}, 1, "
        f"__i + 1), CAST(0 AS {acc}), "
        f"(__acc, __y) -> GREATEST(CAST(0 AS {acc}), __acc + __y)))"
    )


# dotted-quad octet grammar shared with IPv4StringToNum's gate
_IPV4_RE_SQL = (
    "'^([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])"
    "(\\\\.([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])){3}$'"
)

_CALL_REWRITES.update(
    {
        # ----- Metrica report bucketing (CH rounding family) -------
        # previous power of two; <1 -> 0 (exact for ints < 2^53:
        # log2 of an exact power is an exact double)
        "roundToExp2": lambda a: (
            f"(CASE WHEN ({a[0]}) < 1 THEN 0 ELSE "
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(FLOOR(log2({a[0]})) AS INT)) END)"
        ),
        # the documented session-length buckets; below 1 -> 0
        "roundDuration": lambda a: (
            f"coalesce(array_max(filter(array(1, 10, 30, 60, 120, 180, "
            f"240, 300, 600, 1200, 1800, 3600, 7200, 18000, 36000), "
            f"__b -> __b <= ({a[0]}))), 0)"
        ),
        # the documented demographic age buckets
        "roundAge": lambda a: (
            f"(CASE WHEN ({a[0]}) < 1 THEN 0 WHEN ({a[0]}) < 18 THEN 17 "
            f"WHEN ({a[0]}) < 25 THEN 18 WHEN ({a[0]}) < 35 THEN 25 "
            f"WHEN ({a[0]}) < 45 THEN 35 WHEN ({a[0]}) < 55 THEN 45 "
            f"ELSE 55 END)"
        ),
        # floor to an element of the user-provided bucket array;
        # below the smallest bucket -> the smallest bucket (CH rule)
        "roundDown": lambda a: (
            f"coalesce(array_max(filter({a[1]}, __b -> __b <= ({a[0]}))), "
            f"array_min({a[1]}))"
        ),
        "trunc": _trunc_sql,
        "truncate": _trunc_sql,
        # ----- conditional argMax/argMin: rows failing the condition
        # ----- get a NULL ordering value, which max_by/min_by skip
        "argMaxIf": lambda a: (
            f"max_by({a[0]}, CASE WHEN {a[2]} THEN {a[1]} END)"
        ),
        "argMinIf": lambda a: (
            f"min_by({a[0]}, CASE WHEN {a[2]} THEN {a[1]} END)"
        ),
        # ----- datetime parsing (inverse of formatDateTime, same
        # ----- translated Java pattern).  Deviation: unparseable
        # ----- input is NULL (Spark to_timestamp) where strict CH
        # ----- parseDateTime throws -- i.e. both spellings land on
        # ----- the OrNull contract
        "parseDateTime": lambda a: (
            f"to_timestamp({a[0]}, "
            f"'{_fdt_sql_lit(a[1], 'parseDateTime')}')"
        ),
        "parseDateTimeOrNull": lambda a: (
            f"to_timestamp({a[0]}, "
            f"'{_fdt_sql_lit(a[1], 'parseDateTimeOrNull')}')"
        ),
        "toYYYYMMDDhhmmss": lambda a: (
            f"CAST(date_format({a[0]}, 'yyyyMMddHHmmss') AS BIGINT)"
        ),
        # epoch-relative unit counters (CH toRelative*Num), NTZ-safe
        "toRelativeDayNum": lambda a: (
            f"CAST(timestampdiff(DAY, TIMESTAMP '1970-01-01 00:00:00', "
            f"CAST({a[0]} AS TIMESTAMP)) AS INT)"
        ),
        "toRelativeHourNum": lambda a: (
            f"CAST(timestampdiff(HOUR, TIMESTAMP '1970-01-01 00:00:00', "
            f"CAST({a[0]} AS TIMESTAMP)) AS INT)"
        ),
        "toRelativeMinuteNum": lambda a: (
            f"CAST(timestampdiff(MINUTE, TIMESTAMP '1970-01-01 00:00:00', "
            f"CAST({a[0]} AS TIMESTAMP)) AS INT)"
        ),
        "toRelativeSecondNum": lambda a: (
            f"timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00', "
            f"CAST({a[0]} AS TIMESTAMP))"
        ),
        "timeSlots": _time_slots_sql,
        # ----- arrays / strings ------------------------------------
        "arrayShuffle": lambda a: f"shuffle({a[0]})",
        "arrayJaccardIndex": lambda a: (
            f"(CAST(size(array_intersect({a[0]}, {a[1]})) AS DOUBLE) "
            f"/ size(array_union({a[0]}, {a[1]})))"
        ),
        "arrayCumSumNonNegative": _array_cum_sum_nonneg_sql,
        "splitByRegexp": lambda a: f"split({a[1]}, {a[0]})",
        # positions of each needle (0 on miss, CH parity via locate)
        "multiSearchAllPositions": lambda a: (
            f"TRANSFORM({a[1]}, __n -> LOCATE(__n, {a[0]}))"
        ),
        "multiSearchFirstPosition": lambda a: (
            f"coalesce(array_min(filter(TRANSFORM({a[1]}, "
            f"__n -> LOCATE(__n, {a[0]})), __p -> __p > 0)), 0)"
        ),
        "tryBase64Decode": lambda a: (
            f"coalesce(CAST(try_to_binary({a[0]}, 'base64') AS STRING), '')"
        ),
        "concatAssumeInjective": lambda a: f"concat({', '.join(a)})",
        "widthBucket": lambda a: f"width_bucket({', '.join(a)})",
        # CH geoDistance's interpolated ellipsoidal radius differs
        # <0.5% from the mean-sphere haversine (same documented
        # deviation as greatCircleDistance)
        "geoDistance": lambda a: (
            f"(2.0D * 6371000.0D * asin(sqrt("
            f"pow(sin((radians({a[3]}) - radians({a[1]})) / 2), 2) "
            f"+ cos(radians({a[1]})) * cos(radians({a[3]})) "
            f"* pow(sin((radians({a[2]}) - radians({a[0]})) / 2), 2))))"
        ),
        "identity": lambda a: f"({a[0]})",
        "ignore": lambda a: "0",
        "isIPv4String": lambda a: (
            f"CAST(({a[0]}) RLIKE {_IPV4_RE_SQL} AS INT)"
        ),
        # ----- hex/bin: CH pads integers to the value's even-width
        # ----- byte form (hex(1) = '01', bin(1) = '00000001') where
        # ----- Spark prints minimal digits; the pad is a no-op on
        # ----- Spark's always-even string/binary hex, so one
        # ----- expression serves both argument types
        "hex": lambda a: (
            f"lpad(HEX({a[0]}), CHAR_LENGTH(HEX({a[0]})) "
            f"+ pmod(CHAR_LENGTH(HEX({a[0]})), 2), '0')"
        ),
        "bin": lambda a: (
            f"lpad(BIN({a[0]}), CHAR_LENGTH(BIN({a[0]})) "
            f"+ pmod(-CHAR_LENGTH(BIN({a[0]})), 8), '0')"
        ),
        # CH unhex/unbin LEFT-pad odd/ragged input (unhex('F') ==
        # unhex('0F')); Spark returns NULL there
        "unhex": lambda a: (
            f"CAST(UNHEX(lpad({a[0]}, CHAR_LENGTH({a[0]}) "
            f"+ pmod(CHAR_LENGTH({a[0]}), 2), '0')) AS STRING)"
        ),
        # via base-2 -> base-16 conv (64-bit cap, the Spark conv
        # contract; CH's arbitrary-length bitstrings are out of scope)
        "unbin": lambda a: (
            f"CAST(UNHEX(lpad(conv({a[0]}, 2, 16), "
            f"CHAR_LENGTH(conv({a[0]}, 2, 16)) "
            f"+ pmod(CHAR_LENGTH(conv({a[0]}, 2, 16)), 2), '0')) AS STRING)"
        ),
        # arrayFold((acc, x) -> ..., arr, init) == aggregate(arr,
        # init, lambda) (single-array form; CH's multi-array zip form
        # keeps the arity refusal)
        "arrayFold": lambda a: f"aggregate({a[1]}, {a[2]}, {a[0]})",
        # makeDate(y, m, d) / makeDate(y, day_of_year) (r12)
        "makeDate": lambda a: (
            f"make_date({', '.join(a)})"
            if len(a) == 3
            else f"date_add(make_date({a[0]}, 1, 1), "
            f"CAST(({a[1]}) AS INT) - 1)"
        ),
        "makeDateTime": lambda a: f"make_timestamp({', '.join(a[:6])})",
        # toWeek(d[, mode]) (r12): mode 0 (CH default) = MySQL WEEK 0
        # — Sunday-start, days before the year's first Sunday are week
        # 0 (floor toward -inf handles them); mode 3 = ISO.  The other
        # seven MySQL modes refuse by number.
        "toWeek": lambda a: (
            (_ for _ in ()).throw(
                ValueError(
                    f"chsql: toWeek mode {a[1].strip()} is not mapped "
                    "(modes 0 and 3 are; toISOWeek covers ISO)"
                )
            )
            if len(a) > 1 and a[1].strip() not in ("0", "3")
            else f"weekofyear(CAST({a[0]} AS DATE))"
            if len(a) > 1 and a[1].strip() == "3"
            else (
                # date_trunc spelling: lowercase trunc( is a CH
                # numeric-truncate rewrite key (cascade invariant)
                (
                    lambda d: (
                        f"CAST(floor((dayofyear({d}) - 1 - "
                        f"pmod(8 - dayofweek(date_trunc('year', {d})), "
                        f"7)) / 7.0) + 1 AS INT)"
                    )
                )(f"CAST({a[0]} AS DATE)")
            )
        ),
        # toYearWeek: only the ISO mode maps cleanly (mode 0's week-0
        # days roll back into the PREVIOUS year's numbering)
        "toYearWeek": lambda a: (
            f"CAST(CAST(year(date_add(CAST({a[0]} AS DATE), "
            f"3 - weekday({a[0]}))) AS INT) * 100 "
            f"+ weekofyear(CAST({a[0]} AS DATE)) AS INT)"
            if len(a) > 1 and a[1].strip() == "3"
            else (_ for _ in ()).throw(
                ValueError(
                    "chsql: toYearWeek is mapped for mode 3 (ISO) only "
                    "— the default mode's week-0 days take the "
                    "PREVIOUS year's last week number; use "
                    "toYearWeek(d, 3) or toISOYear/toISOWeek"
                )
            )
        ),
        # ISO-8601 year = calendar year of that week's Thursday
        # (weekday() is Monday=0, so +3-weekday lands on Thursday)
        "toISOYear": lambda a: (
            f"CAST(year(date_add(CAST({a[0]} AS DATE), "
            f"3 - weekday({a[0]}))) AS INT)"
        ),
        # first Monday of the ISO year = Monday of Jan-4's week
        "toStartOfISOYear": lambda a: (
            f"date_sub(make_date(year(date_add(CAST({a[0]} AS DATE), "
            f"3 - weekday({a[0]}))), 1, 4), "
            f"weekday(make_date(year(date_add(CAST({a[0]} AS DATE), "
            f"3 - weekday({a[0]}))), 1, 4)))"
        ),
        "positionCaseInsensitiveUTF8": lambda a: (
            f"LOCATE(LOWER({a[1]}), LOWER({a[0]}))"
        ),
        # CH regexpExtract(h, p[, index]) -- default group 1
        "regexpExtract": lambda a: (
            f"regexp_extract({a[0]}, {a[1]}, "
            f"{a[2] if len(a) > 2 else '1'})"
        ),
        "substringIndex": lambda a: f"substring_index({', '.join(a)})",
        "initcapUTF8": lambda a: f"INITCAP({a[0]})",
        "levenshteinDistance": lambda a: f"levenshtein({a[0]}, {a[1]})",
        "editDistance": lambda a: f"levenshtein({a[0]}, {a[1]})",
        # CH leaves elements past `limit` in UNSPECIFIED order; the
        # fully sorted array is a valid instance of that contract
        "arrayPartialSort": lambda a: f"sort_array({a[1]})",
        # RFC-4122 v4, string form (Spark has no UUID type; the CH
        # UUID column type maps to STRING throughout this engine)
        "generateUUIDv4": lambda a: "uuid()",
    }
)


# batch-3 refusals: blocking calls, sketchy string-distance sketches,
# geo/polygon (pointer to the Column-API wrappers), fuzzy parsing
_B3_REFUSALS = {
    "sleep": "blocking calls have no place in a distributed plan; "
    "remove the call",
    "sleepEachRow": "blocking calls have no place in a distributed "
    "plan; remove the call",
    "ngramDistance": "no Spark mapping; use "
    "operators/dedup.ngram_jaccard_pairs (corpus-scale n-gram "
    "similarity) or a Pandas-UDF scorer for per-row distance",
    "ngramSearch": "no Spark mapping; use "
    "operators/dedup.ngram_jaccard_pairs or a Pandas-UDF scorer",
    "pointInPolygon": "no Spark built-in; use a mapInPandas "
    "ray-casting UDF",
    "geohashEncode": "no compact SQL-text twin of the Morton bit "
    "compaction; use functions/ch.geohash_encode (Column API)",
    "geohashDecode": "use functions/ch.geohash_decode (Column API)",
    "geohashesInBox": "use functions/ch.geohash_encode over an "
    "exploded lat/lon grid",
    "parseDateTimeBestEffort": "best-effort multi-grammar sniffing is "
    "not reproducible engine-to-engine; use parseDateTime with an "
    "explicit %-format, or Spark try_to_timestamp with an explicit "
    "pattern",
    "parseDateTimeBestEffortOrNull": "use parseDateTime / "
    "try_to_timestamp with an explicit pattern",
    "groupArraySample": "CH's reservoir pick is nondeterministic; use "
    "groupArray over operators/sampling.sample_mod (deterministic)",
    "groupArrayInsertAt": "use groupArray of (pos, x) structs + "
    "array_sort/transform placement",
    "exponentialMovingAverage": "needs intra-group time order no "
    "aggregate can see; formulate as a window expression (sum of "
    "exp-decayed terms over an ORDER BY frame, the "
    "operators/series.running_difference pattern)",
    "studentTTest": "compute group moments with "
    "operators/stats.moments / stddev aggregates and evaluate the "
    "test statistic driver-side",
    "welchTTest": "compute group moments with operators/stats and "
    "evaluate the test statistic driver-side",
    "mannWhitneyUTest": "rank-based; formulate with a rank() window "
    "over the pooled sample and aggregate the rank sums",
    "cutToFirstSignificantSubdomainWithWWW": "the www edge semantics "
    "are CH-version-dependent; use cutToFirstSignificantSubdomain",
    "damerauLevenshteinDistance": "no Spark built-in (levenshtein "
    "lacks transpositions); use levenshteinDistance or a Pandas-UDF "
    "scorer",
    "jaroSimilarity": "no Spark built-in; use a Pandas-UDF scorer",
    "jaroWinklerSimilarity": "no Spark built-in; use a Pandas-UDF "
    "scorer",
    "stringJaccardIndex": "byte-set Jaccard; use "
    "arrayJaccardIndex(splitByChar('', a), splitByChar('', b)) or a "
    "Pandas-UDF scorer",
    "extractAllGroupsHorizontal": "no Spark built-in returns "
    "per-group arrays; compose regexp_extract_all per group index",
    "extractAllGroupsVertical": "no Spark built-in; compose "
    "regexp_extract_all per group index and arrays_zip the results",
    "toUUID": "Spark has no UUID type -- keep UUIDs as strings (the "
    "CH UUID column type maps to STRING throughout this engine); "
    "for the validation side use an RLIKE format gate",
    "serverUUID": "server introspection has no distributed-plan "
    "meaning; inline a literal driver-side",
}


def _b3_refusal(name: str, pointer: str):
    def fn(a):
        raise ValueError(f"chsql: {name}(): {pointer}")

    return fn


_CALL_REWRITES.update(
    {name: _b3_refusal(name, ptr) for name, ptr in _B3_REFUSALS.items()}
)


_FDT_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "H": "HH",
    "i": "mm", "S": "ss", "s": "ss", "j": "DDD", "Q": "q",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss", "R": "HH:mm",
}


def _format_datetime_sql(a: list[str]) -> str:
    """CH ``formatDateTime(dt, '%Y-%m-%d')`` (MySQL-style specifiers)
    -> Spark ``date_format`` with a translated Java pattern.  Literal
    format only; the supported subset is the unambiguous one — %M is
    REFUSED because CH switched its meaning (minute vs month name)
    across versions/settings, and %e (space-padded day) has no Java
    counterpart.  Literal letters in the format are single-quoted for
    Java; everything else passes through."""
    if len(a) != 2:
        raise ValueError("chsql: formatDateTime takes (datetime, 'format')")
    sql_lit = _fdt_sql_lit(a[1], "formatDateTime")
    return f"date_format(CAST({a[0]} AS TIMESTAMP), '{sql_lit}')"


def _fdt_sql_lit(fmt_arg: str, fn: str) -> str:
    """Translate a LITERAL CH/MySQL %-format into a Java
    datetime-pattern SQL literal (shared by formatDateTime and its
    parsing inverse parseDateTime)."""
    pat = fmt_arg.strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ValueError(f"chsql: {fn} needs a LITERAL format, got {fmt_arg!r}")
    fmt = pat[1:-1]
    out: list[str] = []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                raise ValueError(f"chsql: {fn} format ends mid-specifier")
            s = fmt[i + 1]
            if s == "%":
                out.append("%")
            elif s in _FDT_MAP:
                out.append(_FDT_MAP[s])
            else:
                raise ValueError(
                    f"chsql: {fn} specifier %{s} is not mapped "
                    f"(supported: %{', %'.join(sorted(_FDT_MAP))}, %%)"
                )
            i += 2
            continue
        if c.isalpha():
            # Java reserves ASCII letters: quote the whole literal RUN
            # (per-char quoting would emit '' between letters, which
            # Java reads as an escaped apostrophe)
            j = i
            while j < len(fmt) and fmt[j].isalpha():
                j += 1
            out.append(f"'{fmt[i:j]}'")
            i = j
            continue
        if c == "'":
            out.append("''")
        else:
            out.append(c)
        i += 1
    java = "".join(out)
    # the Java pattern itself contains quote characters: escape them
    # for the surrounding SQL string literal
    return java.replace("'", "''")


def _extract_sql(a: list[str]) -> str:
    """CH ``extract(haystack, 'pattern')``: first capture group when
    the LITERAL pattern has one (an unescaped ``(`` not starting
    ``(?``), else the whole match; '' on no match (regexp_extract's
    own rule).  Dynamic patterns raise: the group choice must be
    decidable at compile time.

    ANSI ``extract(unit FROM col)`` has ONE comma-free argument and
    passes through untouched (the module contract: plain ANSI SQL is
    never rewritten).  Emitted as uppercase ``EXTRACT`` so the
    case-sensitive rewrite scan does not re-match it (identical to
    Spark, which resolves function names case-insensitively)."""
    if len(a) == 1:
        return f"EXTRACT({a[0]})"
    pat = a[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ValueError(
            f"chsql: extract() needs a literal pattern, got {a[1]!r}"
        )
    group = 1 if re.search(r"(?<!\\)\((?!\?)", pat[1:-1]) else 0
    return f"regexp_extract(coalesce({a[0]}, ''), {a[1]}, {group})"


# --- CH parameterized aggregates: name(params)(args) --------------------
def _param_agg_sql(name: str, params: str, args: str) -> str:
    if name == "uniqUpTo":
        m = re.fullmatch(r"\s*(\d+)\s*", params)
        if not m:
            raise ValueError(
                f"chsql: uniqUpTo needs a literal integer parameter, got {params!r}"
            )
        return f"least(count(DISTINCT {args}), {int(m.group(1)) + 1})"
    if name in ("quantile", "quantileTDigest"):
        return f"percentile_approx({args}, {params}, 10000)"
    if name in ("quantileExact", "quantileExactLow"):
        # GK at huge accuracy returns an actual element at the rank --
        # the nearest-element (not interpolated) semantics CH's exact
        # quantiles have; operators/stats.quantile_exact is the
        # windowed oracle-checked form
        return f"percentile_approx({args}, {params}, 1000000)"
    if name in ("quantiles", "quantilesTDigest"):
        return f"percentile_approx({args}, array({params}), 10000)"
    # the timing variants are CH's millisecond-histogram sketch --
    # the same fixed-memory approximate class (documented: CH is
    # value-exact below 30s/1024-distinct, this stays approximate)
    if name == "quantileTiming":
        return f"percentile_approx({args}, {params}, 10000)"
    if name == "quantilesTiming":
        return f"percentile_approx({args}, array({params}), 10000)"
    if name == "quantileDeterministic":
        # (x, determinator): the determinator only pins CH's sample
        # RNG; percentile_approx is deterministic by construction, so
        # the determinism CONTRACT is honored with the argument
        # structurally unused (documented -- not a silent drop)
        parts = _split_top(args)
        if len(parts) != 2:
            raise ValueError(
                "chsql: quantileDeterministic takes (x, determinator)"
            )
        return f"percentile_approx({parts[0]}, {params}, 10000)"
    raise ValueError(
        f"chsql: parameterized aggregate {name!r} has no single-expression "
        "Spark mapping (topK, quantile*ExactWeighted, windowFunnel, "
        "sequenceMatch/Count and histogram compile as whole aliased "
        "top-level SELECT items, else operators/stats.heavy_hitters / "
        "operators/stats.quantile_exact_weighted / "
        "operators/stats.histogram; groupArrayMoving* "
        "-> operators/series.moving_agg)"
    )


# aggregate bases the -State/-Merge combinator guard recognizes (the
# CH spellings this dialect already knows, plain or via compiles)
_STATE_BASES = frozenset(
    {
        "sum", "min", "max", "avg", "any", "anyLast", "anyHeavy",
        "count", "uniq", "uniqExact", "uniqCombined", "uniqCombined64",
        "uniqHLL12", "uniqTheta", "groupArray", "groupUniqArray",
        "argMax", "argMin", "avgWeighted", "quantile", "quantiles",
        "quantileExact", "quantilesExact", "quantileTiming", "corr",
        "covarPop", "covarSamp", "stddevPop", "stddevSamp", "varPop",
        "varSamp", "topK", "topKWeighted", "sumMap", "minMap",
        "maxMap", "windowFunnel", "retention", "sequenceMatch",
        "sequenceCount", "histogram", "entropy", "deltaSum",
        "maxIntersections", "intervalLengthSum",
    }
)

_STATE_SUFFIX_RE = re.compile(
    r"\b(\w+?)(MergeState|SimpleState|State|Merge|ForEach|Resample)\s*\("
)


# whole CH function FAMILIES with no Spark surface, recognized by
# prefix so the several-hundred individual spellings refuse with one
# recipe each instead of dying as UNRESOLVED_ROUTINE
_FAMILY_REFUSALS = (
    # camelCase CH spellings ONLY: Spark's own snake_case functions
    # (aes_encrypt, bitmap_count, ...) must keep resolving
    (re.compile(r"\b(h3[A-Z]\w+|h3kRing|s2[A-Z]\w+|geoToH3|geoToS2|"
                r"s2ToGeo)\s*\("),
     "the H3/S2 geo-indexing libraries are not in this engine; use "
     "functions/ch.geohash_encode cells or a Pandas-UDF with a geo "
     "library where available"),
    (re.compile(r"\b(groupBitmap\w*|bitmap[A-Z]\w+)\s*\("),
     "CH roaring-bitmap states have no Spark surface; use "
     "uniqExact/count DISTINCT for cardinalities or array_intersect/"
     "array_union over collected key arrays for set algebra"),
    (re.compile(r"\b(encrypt|decrypt|tryDecrypt)\s*\("),
     "CH's encrypt/decrypt parameterization has no Spark twin; use "
     "Spark's aes_encrypt/aes_decrypt/try_aes_decrypt directly "
     "(mode string + key layout differ) or encrypt outside the query"),
    (re.compile(r"\b(stochasticLinearRegression\w*|"
                r"stochasticLogisticRegression\w*)\s*\("),
     "incremental GD training is not a SQL aggregate here; use "
     "simpleLinearRegression for the closed form or Spark ML"),
)


def _refuse_families(sql: str) -> None:
    masked = _mask(sql)
    for rx, recipe in _FAMILY_REFUSALS:
        m = rx.search(masked)
        if m:
            raise ValueError(f"chsql: {m.group(1)}(): {recipe}")


def _refuse_state_combinators(sql: str) -> None:
    """CH's ``-State``/``-Merge`` family manipulates partial
    aggregation STATE OBJECTS (materialized-view / AggregatingMergeTree
    flows).  Spark has no user-visible aggregation state surface --
    partial aggregation (map-side combine) happens internally -- so a
    known aggregate spelled with one of these suffixes refuses with
    the Spark-first recipe instead of dying as UNRESOLVED_ROUTINE."""
    for m in _STATE_SUFFIX_RE.finditer(_mask(sql)):
        base, suffix = m.group(1), m.group(2)
        if base in _STATE_BASES:
            raise ValueError(
                f"chsql: {base}{suffix}() manipulates CH partial-"
                f"aggregation state objects; Spark performs partial "
                f"aggregation internally (map-side combine) -- write "
                f"the plain {base}() over the raw rows, or for "
                f"incremental materialized-view flows keep a raw "
                f"ledger and re-aggregate (the operators/collapse CDC "
                f"pattern)"
            )


_PARAM_AGG_RE = re.compile(
    r"\b(quantilesTDigest|quantileTDigest|quantileExactLow|"
    r"quantilesExactWeighted|quantileExactWeighted|quantileExact|"
    r"quantilesTimingWeighted|quantileTimingWeighted|"
    r"quantilesTiming|quantileTiming|quantileDeterministic|"
    r"quantiles|quantile|uniqUpTo|topK|groupArrayMovingAvg|"
    r"groupArrayMovingSum|histogram)"
    r"\s*\("
)

# an -If combinator on a PARAMETRIZED aggregate (quantileExactIf(p)(x,
# cond)) would otherwise fall through to an opaque Spark
# ParseException on the (params)(args) call shape — refuse by name
_PARAM_AGG_IF_RE = re.compile(
    r"\b(quantile\w*|uniqUpTo|topK\w*|groupArrayMoving\w*|histogram)"
    r"If\s*\([^()]*\)\s*\("
)


def _rewrite_parametrized(sql: str) -> str:
    """``agg(params)(args)`` -> the mapped Spark aggregate.  A match
    without a second argument list is left alone (plain ``quantile(x)``
    is not CH syntax, but don't mangle lookalikes)."""
    m_if = _PARAM_AGG_IF_RE.search(_mask(sql))
    if m_if:
        raise ValueError(
            f"chsql: the -If combinator on the parametrized aggregate "
            f"{m_if.group(1)!r} is not compiled — filter the rows in "
            f"WHERE, or wrap the value argument yourself: "
            f"{m_if.group(1)}(p)(CASE WHEN cond THEN x END) "
            f"(the compiled aggregates skip NULLs)"
        )
    changed = True
    while changed:
        changed = False
        masked = _mask(sql)
        for m in _PARAM_AGG_RE.finditer(masked):
            p_open = masked.index("(", m.end(1))
            p_close = _match_paren(masked, p_open)
            k = p_close + 1
            while k < len(masked) and masked[k].isspace():
                k += 1
            if k >= len(masked) or masked[k] != "(":
                continue
            a_close = _match_paren(masked, k)
            repl = _param_agg_sql(
                m.group(1), sql[p_open + 1 : p_close], sql[k + 1 : a_close]
            )
            sql = sql[: m.start()] + repl + sql[a_close + 1 :]
            changed = True
            break
    return sql


# --- CH JSON family: SQL-text mirrors of functions/chjson.py ------------
# (chjson is the oracle-proven source of truth; equality of the two
# surfaces is pinned by test_chsql_json_matches_chjson)
def _json_path_sql(args: list[str]) -> str:
    """Literal CH path components ('key' strings, 1-based ints) ->
    a JSON path literal; non-literal components raise (CH paths are
    almost always literal, and a dynamic path can't be validated)."""
    out = "$"
    for raw in args:
        p = raw.strip()
        m = re.fullmatch(r"'([A-Za-z_][A-Za-z0-9_]*)'", p)
        if m:
            out += f".{m.group(1)}"
            continue
        if re.fullmatch(r"\d+", p):
            i = int(p)
            if i < 1:
                raise ValueError(f"chsql: CH JSON indices are 1-based, got {p}")
            out += f"[{i - 1}]"
            continue
        raise ValueError(
            f"chsql: JSON path components must be literal identifier "
            f"strings or 1-based integers, got {raw!r}"
        )
    return out


def _vat(j: str, path: str) -> str:
    return f"variant_get(try_parse_json({j}), '{path}', 'variant')"


_JSON_NUM_SQL = "'^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)'"


def _j_string(a):
    v = _vat(a[0], _json_path_sql(a[1:]))
    return (
        f"coalesce(CASE WHEN schema_of_variant({v}) = 'STRING' "
        f"THEN CAST({v} AS STRING) END, '')"
    )


def _j_int(a):
    v = _vat(a[0], _json_path_sql(a[1:]))
    return (
        f"coalesce(CASE WHEN schema_of_variant({v}) RLIKE {_JSON_NUM_SQL} "
        f"THEN CAST(CAST({v} AS DOUBLE) AS BIGINT) END, CAST(0 AS BIGINT))"
    )


def _j_float(a):
    v = _vat(a[0], _json_path_sql(a[1:]))
    return (
        f"coalesce(CASE WHEN schema_of_variant({v}) RLIKE {_JSON_NUM_SQL} "
        f"THEN CAST({v} AS DOUBLE) END, CAST(0.0 AS DOUBLE))"
    )


def _j_bool(a):
    v = _vat(a[0], _json_path_sql(a[1:]))
    return (
        f"coalesce(CASE WHEN schema_of_variant({v}) = 'BOOLEAN' "
        f"THEN CAST(CAST({v} AS BOOLEAN) AS INT) END, 0)"
    )


def _j_has(a):
    return f"CAST({_vat(a[0], _json_path_sql(a[1:]))} IS NOT NULL AS INT)"


def _j_raw(a):
    return f"coalesce(to_json({_vat(a[0], _json_path_sql(a[1:]))}), '')"


def _j_keys(a):
    v = _vat(a[0], _json_path_sql(a[1:]))
    return (
        f"array_sort(coalesce(json_object_keys(to_json({v})), "
        f"CAST(array() AS ARRAY<STRING>)))"
    )


def _j_length(a):
    v = _vat(a[0], _json_path_sql(a[1:]))
    t = f"schema_of_variant({v})"
    s = f"to_json({v})"
    return (
        f"coalesce(CASE WHEN {t} LIKE 'ARRAY%' THEN json_array_length({s}) "
        f"WHEN {t} LIKE 'OBJECT%' OR {t} = 'VARIANT' "
        f"THEN size(json_object_keys({s})) END, 0)"
    )


def _j_type(a):
    t = f"schema_of_variant({_vat(a[0], _json_path_sql(a[1:]))})"
    return (
        f"coalesce(CASE WHEN {t} LIKE 'OBJECT%' OR {t} = 'VARIANT' THEN 'Object' "
        f"WHEN {t} LIKE 'ARRAY%' THEN 'Array' "
        f"WHEN {t} = 'STRING' THEN 'String' "
        f"WHEN {t} = 'BOOLEAN' THEN 'Bool' "
        f"WHEN {t} = 'VOID' THEN 'Null' "
        f"WHEN {t} RLIKE '^(BIGINT|INT|SMALLINT|TINYINT)' THEN 'Int64' "
        f"WHEN {t} RLIKE '^(DOUBLE|FLOAT|DECIMAL)' THEN 'Double' END, '')"
    )


_CALL_REWRITES.update(
    {
        "JSONExtractString": _j_string,
        "JSONExtractInt": _j_int,
        "JSONExtractFloat": _j_float,
        "JSONExtractBool": _j_bool,
        "JSONExtractRaw": _j_raw,
        "JSONExtractKeys": _j_keys,
        "JSONHas": _j_has,
        "JSONLength": _j_length,
        "JSONType": _j_type,
        "visitParamExtractString": _j_string,
        "visitParamExtractInt": _j_int,
        "visitParamExtractFloat": _j_float,
        "visitParamExtractBool": _j_bool,
        "visitParamExtractRaw": _j_raw,
        "visitParamHas": _j_has,
    }
)

# CH count() with no argument counts rows, where Spark rejects the
# empty call.  Emitted UPPERCASE (inert to this case-sensitive table,
# like TRANSFORM/CHAR_LENGTH), so count(x) / count(DISTINCT x) pass
# through re-cased and the rescan terminates.
_CALL_REWRITES["count"] = lambda a: f"COUNT({', '.join(a) or '*'})"


# Declared arity (min, max; None = unbounded) for EVERY mapped
# rewrite, enforced at the dispatch point BEFORE the rewrite fn runs.
# This closes the silent-drop class (r9 verdict: e.g. arrayUniq(a, b)
# compiled to size(array_distinct(a)), ignoring b) symmetrically with
# the too-few-args refusals: a call outside its declared arity is
# refused with the expectation named, never partially honored.  Where
# CH itself accepts MORE forms than the mapping (timezone arguments,
# multi-array lambda variadics), the extra-arg call is refused rather
# than compiled with the argument ignored.
_ARITY: dict[str, tuple[int, int | None]] = {
    "arrayMap": (2, 3), "arrayFilter": (2, 3), "indexOf": (2, 2),
    "uniqExact": (1, None), "notEmpty": (1, 1), "empty": (1, 1),
    "toInt64": (1, 1), "toInt8": (1, 1), "toInt16": (1, 1),
    "toInt32": (1, 1), "toUInt8": (1, 1), "toUInt16": (1, 1),
    "toUInt32": (1, 1), "toUInt64": (1, 1), "toFloat32": (1, 1),
    "toFloat64": (1, 1), "toString": (1, 1), "toDateTime": (1, 1),
    "isFinite": (1, 1), "sumArray": (1, 1), "toMonday": (1, 1),
    "toDate": (1, 1), "toQuarter": (1, 1), "toDayOfWeek": (1, 1),
    "toDayOfYear": (1, 1), "toISOWeek": (1, 1),
    "toLastDayOfMonth": (1, 1), "toUnixTimestamp": (1, 1),
    "toStartOfQuarter": (1, 1), "toStartOfMonth": (1, 1),
    "toStartOfYear": (1, 1), "toYear": (1, 1), "toMonth": (1, 1),
    "toDayOfMonth": (1, 1), "toHour": (1, 1), "toMinute": (1, 1),
    "toSecond": (1, 1), "intDiv": (2, 2), "intDivOrZero": (2, 2),
    "modulo": (2, 2), "moduloOrZero": (2, 2), "plus": (2, 2),
    "minus": (2, 2), "multiply": (2, 2), "divide": (2, 2),
    "negate": (1, 1), "formatDateTime": (2, 2), "toYYYYMM": (1, 1),
    "countIf": (1, 1), "sumIf": (2, 2), "avgIf": (2, 2),
    "argMax": (2, 2), "argMin": (2, 2), "groupUniqArray": (1, 1),
    "groupArray": (1, 1), "any": (1, 1), "anyLast": (1, 1),
    "arrayStringConcat": (1, 2), "splitByChar": (2, 2),
    "arrayZip": (1, None), "arrayExists": (2, 3), "arrayAll": (2, 3),
    "arrayCount": (1, 3), "has": (2, 2), "arraySort": (1, 2),
    "arrayReverseSort": (1, 2), "arrayConcat": (1, None),
    "arrayUniq": (1, None), "arrayDistinct": (1, 1),
    "arraySum": (1, 2), "arrayMin": (1, 2), "arrayMax": (1, 2),
    "arrayAvg": (1, 2), "arrayReverse": (1, 1), "multiIf": (3, None),
    "ifNull": (2, 2), "assumeNotNull": (1, 1), "now": (0, 0),
    "today": (0, 0), "yesterday": (0, 0), "match": (2, 2),
    "countMatches": (2, 2), "startsWith": (2, 2), "endsWith": (2, 2),
    "leftPad": (2, 3), "rightPad": (2, 3), "trimBoth": (1, 1),
    "trimLeft": (1, 1), "trimRight": (1, 1), "lengthUTF8": (1, 1),
    "lowerUTF8": (1, 1), "upperUTF8": (1, 1), "substringUTF8": (2, 3),
    "positionUTF8": (2, 2), "positionCaseInsensitive": (2, 2),
    "uniq": (1, None), "uniqHLL12": (1, None), "uniqCombined": (1, None),
    "numbers": (1, 2), "extract": (1, 2),
    "position": (1, 3), "extractAll": (2, 2), "replaceAll": (3, 3),
    "replaceOne": (3, 3), "replaceRegexpAll": (3, 3),
    "replaceRegexpOne": (3, 3), "arraySlice": (2, 3),
    # refusal-only matchers/transformers (r12): any arity reaches the
    # named refusal, never a silent arg drop
    "COLUMNS": (1, 9), "APPLY": (1, 9), "untuple": (1, 9),
    "arrayFlatten": (1, 1), "arrayCompact": (1, 1),
    "arrayEnumerate": (1, 1), "hasAll": (2, 2), "hasAny": (2, 2),
    "range": (1, 3),
    # r12 vocabulary widening
    "minIf": (2, 2), "maxIf": (2, 2), "anyIf": (2, 2),
    "uniqExactIf": (2, 2), "avgWeighted": (2, 2), "median": (1, 1),
    "groupArrayIf": (2, 2), "groupUniqArrayIf": (2, 2),
    "minArray": (1, 1), "maxArray": (1, 1), "countArray": (1, 1),
    "avgArray": (1, 1), "groupArrayArray": (1, 1),
    "groupUniqArrayArray": (1, 1), "uniqArray": (1, 1),
    "uniqExactArray": (1, 1),
    "lagInFrame": (1, 3), "leadInFrame": (1, 3),
    "rowNumberInAllBlocks": (0, 0),
    "arrayRotateLeft": (2, 2), "arrayRotateRight": (2, 2),
    "arrayReduce": (2, 9),
    "stddevPop": (1, 1), "stddevSamp": (1, 1),
    "varPop": (1, 1), "varSamp": (1, 1),
    "covarPop": (2, 2), "covarSamp": (2, 2),
    "skewPop": (1, 1), "kurtPop": (1, 1),
    "toStartOfDay": (1, 1), "toStartOfWeek": (1, 2),
    "dateAdd": (3, 3), "dateSub": (3, 3), "fromUnixTimestamp": (1, 1),
    "arrayDifference": (1, 1), "arrayCumSum": (1, 1),
    "arrayIntersect": (2, None),
    "arrayPushBack": (2, 2), "arrayPushFront": (2, 2),
    "arrayPopBack": (1, 1), "arrayPopFront": (1, 1),
    "multiSearchAny": (2, 2), "countEqual": (2, 2),
    "arrayFirst": (2, 3), "arrayLast": (2, 3),
    "bitAnd": (2, 2), "bitOr": (2, 2), "bitXor": (2, 2),
    "bitNot": (1, 1), "bitShiftLeft": (2, 2), "bitShiftRight": (2, 2),
    "lcase": (1, 1), "ucase": (1, 1), "concatWithSeparator": (2, None),
    "base64Encode": (1, 1), "base64Decode": (1, 1),
    "splitByString": (2, 2),
    # JSON family: (json [, indices_or_keys...]) -- path args all used
    "JSONExtractString": (1, None), "JSONExtractInt": (1, None),
    "JSONExtractFloat": (1, None), "JSONExtractBool": (1, None),
    "JSONExtractRaw": (1, None), "JSONExtractKeys": (1, None),
    "JSONHas": (1, None), "JSONLength": (1, None), "JSONType": (1, None),
    "visitParamExtractString": (1, None), "visitParamExtractInt": (1, None),
    "visitParamExtractFloat": (1, None), "visitParamExtractBool": (1, None),
    "visitParamExtractRaw": (1, None), "visitParamHas": (1, None),
    # structural refusals: any arity reaches the semantic message
    "sumMap": (0, None), "minMap": (0, None), "maxMap": (0, None),
    "windowFunnel": (0, None), "sequenceMatch": (0, None),
    "sequenceCount": (0, None),
    # retention COMPILES (flat max-flag algebra); CH caps it at 32
    "retention": (1, 32),
    "runningDifference": (0, None), "neighbor": (0, None),
    "deltaSum": (0, None), "intervalLengthSum": (0, None),
    "maxIntersections": (0, None), "entropy": (0, None),
    # byte/ASCII collision class (bare CH spellings of names Spark
    # also has, with different semantics)
    "lower": (1, 1), "upper": (1, 1), "length": (1, 1),
    "round": (1, 2), "reverseUTF8": (1, 1),
    # rand family: the optional arg is CH's CSE dodge, ignored
    "rand": (0, 1), "rand64": (0, 1), "randCanonical": (0, 1),
    # hash refusals: any arity reaches the value-divergence message
    "randConstant": (0, None),
    # r11 batch 2: decode-transform, enumerate-uniq, left/right with
    # CH negative lengths, representation adapters, whitespace split
    "transform": (2, 4), "arrayEnumerateUniq": (1, 1),
    "left": (2, 2), "right": (2, 2),
    "leftUTF8": (2, 2), "rightUTF8": (2, 2),
    "toNullable": (1, 1), "toLowCardinality": (1, 1),
    "materialize": (1, 1), "splitByWhitespace": (1, 1),
    # URL family #2
    "firstSignificantSubdomain": (1, 1),
    "cutToFirstSignificantSubdomain": (1, 1),
    "URLHierarchy": (1, 1), "URLPathHierarchy": (1, 1),
    "decodeURLComponent": (1, 1), "encodeURLComponent": (1, 1),
    # r11 vocab batch 3
    "roundToExp2": (1, 1), "roundDuration": (1, 1), "roundAge": (1, 1),
    "roundDown": (2, 2), "trunc": (1, 2), "truncate": (1, 2),
    "argMaxIf": (3, 3), "argMinIf": (3, 3),
    "parseDateTime": (2, 2), "parseDateTimeOrNull": (2, 2),
    "toYYYYMMDDhhmmss": (1, 1),
    "toRelativeDayNum": (1, 1), "toRelativeHourNum": (1, 1),
    "toRelativeMinuteNum": (1, 1), "toRelativeSecondNum": (1, 1),
    "timeSlots": (2, 3),
    "arrayShuffle": (1, 1), "arrayJaccardIndex": (2, 2),
    "arrayCumSumNonNegative": (1, 1), "splitByRegexp": (2, 2),
    "multiSearchAllPositions": (2, 2), "multiSearchFirstPosition": (2, 2),
    "tryBase64Decode": (1, 1), "concatAssumeInjective": (1, None),
    "widthBucket": (4, 4), "geoDistance": (4, 4),
    "identity": (1, 1), "ignore": (0, None), "isIPv4String": (1, 1),
    # r11 polish: stable stats aliases, overflow sum, hex/bin family
    "stddevPopStable": (1, 1), "stddevSampStable": (1, 1),
    "varPopStable": (1, 1), "varSampStable": (1, 1),
    "covarPopStable": (2, 2), "covarSampStable": (2, 2),
    "boundingRatio": (2, 2), "sumWithOverflow": (1, 1),
    "hex": (1, 1), "bin": (1, 1), "unhex": (1, 1), "unbin": (1, 1),
    "arrayFold": (3, 3), "arrayPartialSort": (2, 2),
    # r11 batch 5: URL stragglers, ISO year, string search/distance
    "decodeURLFormComponent": (1, 1), "encodeURLFormComponent": (1, 1),
    "extractURLParameters": (1, 1), "extractURLParameterNames": (1, 1),
    "queryStringAndFragment": (1, 1), "cutQueryStringAndFragment": (1, 1),
    "netloc": (1, 1), "toISOYear": (1, 1), "toStartOfISOYear": (1, 1),
    "makeDate": (2, 3), "makeDateTime": (6, 6),
    "toWeek": (1, 2), "toYearWeek": (1, 2),
    "positionCaseInsensitiveUTF8": (2, 2), "regexpExtract": (2, 3),
    "locate": (2, 3), "generateUUIDv4": (0, 1),
    "substringIndex": (3, 3), "initcapUTF8": (1, 1),
    "levenshteinDistance": (2, 2), "editDistance": (2, 2),
}
_ARITY.update({name: (0, None) for name in _CH_HASH_FNS})
_ARITY.update({name: (0, None) for name in _CH_DICT_FNS})
_ARITY.update({name: (0, None) for name in _CH_DISPLAY_FNS})
_ARITY.update({name: (0, None) for name in _B3_REFUSALS})

_ARITY.update(
    {name: (0, 0) for name in _CALL_REWRITES if name.startswith("emptyArray")}
)

# vocab batch #2 (URL SQL names, dateDiff/age, scalars)
_ARITY.update(
    {
        "protocol": (1, 1), "domain": (1, 1), "domainWithoutWWW": (1, 1),
        "topLevelDomain": (1, 1), "path": (1, 1), "pathFull": (1, 1),
        "queryString": (1, 1), "fragment": (1, 1),
        "extractURLParameter": (2, 2), "cutQueryString": (1, 1),
        "cutFragment": (1, 1), "cutWWW": (1, 1), "cutURLParameter": (2, 2),
        "port": (1, 2),
        "toYYYYMMDD": (1, 1), "toStartOfHour": (1, 1),
        "toStartOfMinute": (1, 1), "timeSlot": (1, 1),
        "dateDiff": (3, 3), "age": (3, 3),
        "roundBankers": (1, 2), "arrayProduct": (1, 1),
        "alphaTokens": (1, 1), "arrayResize": (2, 3),
        "tuple": (1, None), "tupleElement": (2, 2),
        "IPv4NumToString": (1, 1), "IPv4StringToNum": (1, 1),
        "toIPv4": (1, 1), "IPv4CIDRToRange": (2, 2),
        "toFixedString": (2, 2), "char": (1, None),
        "tokens": (1, 1), "ngrams": (2, 2),
        "bitmaskToArray": (1, 1), "bitmaskToList": (1, 1),
    }
)

# vocab batch #3 (tolerant casts, date arithmetic, digests, bit
# family, regression/mode aggregates, array/map, finiteness, geo)
_ARITY.update(
    {
        name: (1, 1)
        for ch in _CH_TOLERANT_CASTS
        for name in (f"to{ch}OrNull", f"to{ch}OrZero")
    }
)
_ARITY.update(
    {
        f"{verb}{unit.capitalize()}s": (2, 2)
        for unit in (
            "year", "quarter", "month", "week",
            "day", "hour", "minute", "second",
        )
        for verb in ("add", "subtract")
    }
)
_ARITY.update(
    {
        "toStartOfFiveMinutes": (1, 1), "toStartOfTenMinutes": (1, 1),
        "toStartOfFifteenMinutes": (1, 1), "toTime": (1, 1),
        "monthName": (1, 1), "dateName": (2, 2),
        "exp2": (1, 1), "exp10": (1, 1),
        "intExp2": (1, 1), "intExp10": (1, 1),
        "max2": (2, 2), "min2": (2, 2),
        "MD5": (1, 1), "SHA1": (1, 1), "SHA224": (1, 1),
        "SHA256": (1, 1), "SHA512": (1, 1),
        "groupBitAnd": (1, 1), "groupBitOr": (1, 1),
        "groupBitXor": (1, 1), "bitCount": (1, 1), "bitTest": (2, 2),
        "anyHeavy": (1, 1), "simpleLinearRegression": (2, 2),
        "uniqTheta": (1, None),
        "arrayWithConstant": (2, 2), "arrayElement": (2, 2),
        "hasSubstr": (2, 2), "countSubstrings": (2, 2),
        "mapKeys": (1, 1), "mapValues": (1, 1), "mapContains": (2, 2),
        "mapFromArrays": (2, 2),
        "isNaN": (1, 1), "isInfinite": (1, 1), "ifNotFinite": (2, 2),
        "greatCircleDistance": (4, 4),
        "toStartOfInterval": (2, 2), "now64": (0, 1),
        "toDateTime64": (2, 2), "uniqCombined64": (1, None),
        "sumOrNull": (1, 1), "minOrNull": (1, 1), "maxOrNull": (1, 1),
        "avgOrNull": (1, 1), "anyOrNull": (1, 1), "sumCount": (1, 1),
        "like": (2, 2), "notLike": (2, 2),
        "ilike": (2, 2), "notILike": (2, 2),
        "count": (0, None),
    }
)

# a rewrite without a declared arity is a table-maintenance bug:
# fail at import, not at the first query that trips it
_undeclared = set(_CALL_REWRITES) - set(_ARITY)
assert not _undeclared, f"chsql rewrites missing _ARITY rows: {_undeclared}"
_orphaned = set(_ARITY) - set(_CALL_REWRITES)
assert not _orphaned, f"_ARITY rows without rewrites: {_orphaned}"
# the one-pass call scan below only finds plain identifiers
_unscannable = [
    n for n in _CALL_REWRITES if not re.fullmatch(r"[A-Za-z_]\w*", n)
]
assert not _unscannable, f"rewrite names the call scan misses: {_unscannable}"


def _check_arity(name: str, args: list[str]) -> None:
    lo, hi = _ARITY[name]
    if lo <= len(args) and (hi is None or len(args) <= hi):
        return
    want = (
        f"exactly {lo}"
        if hi == lo
        else f"at least {lo}" if hi is None else f"{lo} to {hi}"
    )
    raise ValueError(
        f"chsql: {name}() takes {want} argument(s), got {len(args)} — "
        f"refusing (a surplus argument would be silently ignored; a "
        f"missing one has no CH default)"
    )


# every identifier followed by "(": ONE compiled scan per pass for the
# whole table -- a pattern per name would overflow the re module's
# 512-entry compile cache and recompile every other chsql regex too
_CALL_SCAN = re.compile(r"\b([A-Za-z_]\w*)\s*\(")
_CALL_RANK = {name: i for i, name in enumerate(_CALL_REWRITES)}


def _rewrite_calls(sql: str, ctx: _SchemaCtx = _EMPTY_CTX) -> str:
    while True:
        masked = _mask(sql)
        best, m = len(_CALL_RANK), None
        for cand in _CALL_SCAN.finditer(masked):
            rank = _CALL_RANK.get(cand.group(1), best)
            if rank < best:  # earliest table entry, then leftmost call
                best, m = rank, cand
        if m is None:
            return sql
        name, fn = m.group(1), _CALL_REWRITES[m.group(1)]
        close = _match_paren(masked, m.end() - 1)
        args = _split_top(sql[m.end() : close])
        if len(args) == 1 and not args[0].strip():
            args = []  # empty parens: zero arguments
        _check_arity(name, args)
        try:
            repl = (
                fn(args, ctx)
                if getattr(fn, "_chsql_ctx", False)
                else fn(args)
            )
        except (IndexError, KeyError) as ex:
            # backstop: _ARITY should make this unreachable, but a
            # rewrite whose declared range is wider than its body
            # still refuses cleanly instead of leaking a Python crash
            # (the r7-advised extract() IndexError bug class)
            raise ValueError(
                f"chsql: {name}() called with {len(args)} "
                f"argument(s) — unsupported arity for the "
                f"mapped CH function"
            ) from ex
        sql = sql[: m.start()] + repl + sql[close + 1 :]  # then rescan


_NUM_TRAILING_DOT = re.compile(r"(?<![\w.])(\d+)\.(?![\d\w.])")


def _rewrite_literals(sql: str) -> str:
    """``100.`` / ``0.`` -> double literals (Spark parses a bare
    trailing-dot number as DECIMAL, which poisons float arithmetic
    and cross-engine hashes)."""
    masked = _mask(sql)
    out, last = [], 0
    for m in _NUM_TRAILING_DOT.finditer(masked):
        out.append(sql[last : m.start()])
        out.append(m.group(1) + ".0D")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _rewrite_array_literals(sql: str) -> str:
    """CH array LITERALS ``[e1, e2, ...]`` -> ``array(e1, e2, ...)``
    (Spark SQL has no bracket literal; it previously reached the
    parser verbatim and died with PARSE_SYNTAX_ERROR — r11 self-found
    gap).  Masked scan, innermost-first so nesting converts; a ``[``
    IMMEDIATELY preceded by an identifier / ``)`` / ``]`` / backtick
    is INDEXING and stays for ``_rewrite_indexing`` /
    ``_rewrite_postfix_indexing``.  Adjacency is deliberate: with a
    whitespace-skip, every literal after a keyword (``SELECT [1,2]``)
    would be misread as indexing the keyword; conversely a
    space-separated index (``f(x) [1]``, not idiomatic CH) converts
    to a literal and fails LOUDLY at the Spark parser."""
    while True:
        masked = _mask(sql)
        changed = False
        for m in re.finditer(r"\[([^\[\]]*)\]", masked):
            j = m.start() - 1
            if j >= 0 and (masked[j].isalnum() or masked[j] in "_`)]"):
                continue
            inner = sql[m.start() + 1 : m.end() - 1]
            sql = sql[: m.start()] + "array(" + inner + ")" + sql[m.end() :]
            changed = True
            break
        if not changed:
            return sql


# CH functions with a statically-known array element type, for the
# out-of-range TYPE DEFAULT of postfix indexing (CH arr[oob] yields
# the element default: '' for strings, 0 for numbers)
_POSTFIX_DEFAULTS = {
    "splitbychar": "''",
    "splitbystring": "''",
    "splitbywhitespace": "''",
    "splitbyregexp": "''",
    "alphatokens": "''",
    "extractall": "''",
    "range": "CAST(0 AS BIGINT)",
}


def _rewrite_postfix_indexing(sql: str) -> str:
    """CH 1-based element access on CALL-RESULT arrays —
    ``f(...)[i]`` (including array literals already rewritten to
    ``array(...)`` and chained ``f(x)[i][j]``) — via
    ``try_element_at``: natively 1-based with negative-from-the-end,
    exactly CH's index rule; ``nullif(i, 0)`` absorbs the one index
    Spark rejects outright (CH ``arr[0]`` yields the type default).
    Previously the bracket reached Spark verbatim as ZERO-based
    element access — a silent off-by-one (r11 self-found,
    ``splitByChar(...)[1]`` returned the second piece).

    Out-of-range: the CH element-type default where the callee's
    return type is statically known (_POSTFIX_DEFAULTS), otherwise
    NULL — documented deviation from CH's type default, the honest
    choice absent schema knowledge (NULL propagates loudly through
    comparisons instead of fabricating a value of the wrong type)."""
    while True:
        masked = _mask(sql)
        for m in re.finditer(r"\)\[", masked):
            open_b = m.start() + 1
            close_b = _match_paren(masked, open_b)
            # matching ( of the ) the bracket chains onto
            depth, j = 0, m.start()
            while j >= 0:
                if masked[j] == ")":
                    depth += 1
                elif masked[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if j < 0:
                continue  # unbalanced: leave for the parser to report
            start = j
            while start - 1 >= 0 and (
                masked[start - 1].isalnum() or masked[start - 1] in "_.`"
            ):
                start -= 1
            callee = sql[start:j].strip("`").lower().rsplit(".", 1)[-1]
            expr = sql[start : m.start() + 1]
            idx = sql[open_b + 1 : close_b]
            access = (
                f"try_element_at({expr}, CAST(nullif(({idx}), 0) AS INT))"
            )
            default = _POSTFIX_DEFAULTS.get(callee)
            repl = f"coalesce({access}, {default})" if default else access
            sql = sql[:start] + repl + sql[close_b + 1 :]
            break
        else:
            return sql


_IDENT_BRACKET = re.compile(r"(`[^`]+`|[A-Za-z_][\w]*(?:\.[\w]+)*)\s*\[")


def _schema_ctx(views: dict[str, DataFrame]) -> _SchemaCtx:
    """One walk over the queried tables' schemas, keyed by view name.
    A column name two tables share takes the later table's element
    default."""
    floats, arrays, halfup = set(), set(), set()
    defaults: dict[str, str] = {}
    weeks: dict[str, str] = {}
    for view, df in views.items():
        schema = df.schema
        date_col = _warehouse.week_of(schema)
        if date_col:
            weeks[view] = date_col
        for f in schema.fields:
            dt = f.dataType
            if isinstance(dt, T.ArrayType):
                arrays.add(f.name)
                et = dt.elementType
                if isinstance(et, (T.FloatType, T.DoubleType, T.DecimalType)):
                    floats.add(f.name)
                if isinstance(et, T.StringType):
                    defaults[f.name] = "''"
                elif isinstance(et, T.NumericType):
                    defaults[f.name] = f"CAST(0 AS {et.simpleString()})"
            elif isinstance(dt, T.NumericType) and not isinstance(
                dt, (T.FloatType, T.DoubleType)
            ):
                halfup.add(f.name)
    return _SchemaCtx(
        float_array_cols=frozenset(floats),
        array_cols=frozenset(arrays),
        halfup_cols=frozenset(halfup),
        elem_defaults=defaults,
        week_of=weeks,
    )


# ---------------------------------------------------------------------------
# week bounds: a date column's range bounds become `_week` partition bounds
# ---------------------------------------------------------------------------
# A week-partitioned table (sources/warehouse) stores toMonday(date) as
# the `_week` partition column.  Spark prunes directories only for
# predicates on `_week`, and inlines a date bound's literal into the
# generated code of the scan's Filter, so every new interval compiles
# afresh.  A bound on the date column that falls on a week boundary is
# EXACTLY a bound on `_week` (d >= Monday <=> _week >= Monday; d <=
# Sunday <=> _week <= that Sunday's Monday; > Sunday / < Monday are
# the day-shifted forms), and is replaced by it: Spark then evaluates
# it only as a PartitionFilter.  Any other bound (equality included)
# keeps its predicate and gains the implied `_week` bound.  Rows with a
# NULL date have a NULL `_week`, so both forms drop them.

_DATE_LIT = re.compile(
    r"DATE\s*'(\d{4}-\d{2}-\d{2})'"
    r"|CAST\s*\(\s*'(\d{4}-\d{2}-\d{2})'\s+AS\s+DATE\s*\)"
    r"|toDate\s*\(\s*'(\d{4}-\d{2}-\d{2})'\s*\)",
    re.I,
)
_QUAL_COL = re.compile(r"(?:(`[^`]+`|\w+)\s*\.\s*)?(`[^`]+`|\w+)")
_CONJ_TOKENS = re.compile(r"[()\[\]]|\b(?:CASE|END|AND|OR|BETWEEN)\b", re.I)
_CMP_OP = re.compile(r">=|<=|==|<>|!=|=|>|<")
_FLIP = {">=": "<=", "<=": ">=", ">": "<", "<": ">", "=": "="}
_REL = r"(`[^`]+`|\w+)"
_FROM_REL = re.compile(rf"{_REL}(?:\s+(?:AS\s+)?{_REL})?", re.I)
_STAR_SELECT = re.compile(
    r"\s*SELECT\s+\*(?:\s+EXCEPT\s*\(([^()]*)\))?\s*(?:,|(?=FROM\b))", re.I
)
_CLAUSE_AFTER_FROM = re.compile(
    r"\b(?:WHERE|GROUP|HAVING|ORDER|LIMIT|QUALIFY|UNION|WINDOW)\b", re.I
)


def _scan_mask(s: str) -> str:
    """``_mask`` plus blanked backticked identifiers (`a and b`)."""
    return re.sub(r"`[^`]*`", lambda m: "`" + " " * (len(m.group(0)) - 2) + "`", _mask(s))


def _unparen(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and _match_paren(_scan_mask(s), 0) == len(s) - 1:
        s = s[1:-1].strip()
    return s


def _conjuncts(body: str) -> list[tuple[int, int]] | None:
    """Spans of ``body``'s top-level AND conjuncts (a BETWEEN's AND and
    CASE ... END bodies excluded); None when a top-level OR makes
    ``body`` no conjunction."""
    spans, depth, start, between = [], 0, 0, False
    for m in _CONJ_TOKENS.finditer(_scan_mask(body)):
        t = m.group(0).upper()
        if t in ("(", "[", "CASE"):
            depth += 1
        elif t in (")", "]", "END"):
            depth -= 1
        elif depth == 0:
            if t == "OR":
                return None
            if t == "BETWEEN":
                between = True
            elif between:
                between = False
            else:
                spans.append((start, m.start()))
                start = m.end()
    spans.append((start, len(body)))
    return spans


def _leaf_conjuncts(body: str, off: int = 0) -> list[tuple[int, int]]:
    """Absolute spans of the conjuncts of ``body``, parenthesized
    conjunctions flattened."""
    out = []
    for s, e in _conjuncts(body) or []:
        text = body[s:e]
        inner = _unparen(text)
        parts = _conjuncts(inner) if inner != text.strip() else None
        if parts and len(parts) > 1:
            at = s + text.index(inner)
            out.extend(_leaf_conjuncts(inner, off + at))
        else:
            out.append((off + s, off + e))
    return out


def _top_level_split(text: str, pat: re.Pattern) -> tuple[str, str, str] | None:
    """(left, match, right) around the first depth-0 match of ``pat``."""
    masked = _scan_mask(text)
    for m in pat.finditer(masked):
        depth = masked.count("(", 0, m.start()) - masked.count(")", 0, m.start())
        if depth == 0:
            return text[: m.start()], m.group(0), text[m.end() :]
    return None


def _date_lit(text: str) -> datetime.date | None:
    m = _DATE_LIT.fullmatch(_unparen(text))
    if not m:
        return None
    try:
        return datetime.date.fromisoformat(next(g for g in m.groups() if g))
    except ValueError:
        return None


def _week_ref(text: str, bind: Mapping[str | None, str]) -> str | None:
    """The ``_week`` reference standing for ``text`` when ``text`` is a
    (qualified) column that resolves to a marked table's date column."""
    m = _QUAL_COL.fullmatch(_unparen(text))
    if not m:
        return None
    qual, name = m.groups()
    date_col = bind.get(qual.strip("`").lower() if qual else None)
    if date_col is None or name.strip("`").lower() != date_col.lower():
        return None
    return f"{qual}.{_warehouse.WEEK_COL}" if qual else _warehouse.WEEK_COL


def _week_bound(conj: str, bind: Mapping[str | None, str]) -> str | None:
    """Replacement text for one conjunct: the exact `_week` bound when
    the date bound is week-aligned, else the implied `_week` bound AND
    the conjunct; None when the conjunct bounds no marked date column."""
    text = _unparen(conj)
    bt = _top_level_split(text, re.compile(r"\bBETWEEN\b", re.I))
    if bt:
        week = _week_ref(bt[0], bind)
        ab = _top_level_split(bt[2], re.compile(r"\bAND\b", re.I))
        if week is None or ab is None:
            return None
        lo, hi = _date_lit(ab[0]), _date_lit(ab[2])
        if lo is None or hi is None:
            return None
        new = f"{week} BETWEEN {_date_sql(_monday(lo))} AND {_date_sql(_monday(hi))}"
        exact = lo.weekday() == 0 and hi.weekday() == 6
        return new if exact else f"{new} AND {text}"
    cmp_ = _top_level_split(text, _CMP_OP)
    if cmp_ is None:
        return None
    left, op, right = cmp_
    op = "=" if op == "==" else op
    if op not in _FLIP:
        return None
    week, d = _week_ref(left, bind), _date_lit(right)
    if week is None:
        week, d, op = _week_ref(right, bind), _date_lit(left), _FLIP[op]
    if week is None or d is None:
        return None
    try:
        if op == ">":
            op, d = ">=", d + datetime.timedelta(days=1)
        elif op == "<":
            op, d = "<=", d - datetime.timedelta(days=1)
    except OverflowError:
        return None
    new = f"{week} {op} {_date_sql(_monday(d))}"
    exact = (op == ">=" and d.weekday() == 0) or (op == "<=" and d.weekday() == 6)
    return new if exact else f"{new} AND {text}"


def _monday(d: datetime.date) -> datetime.date:
    return d - datetime.timedelta(days=d.weekday())


def _date_sql(d: datetime.date) -> str:
    return f"DATE '{d.isoformat()}'"


def _week_binding(
    frm: str, week_of: Mapping[str, str]
) -> dict[str | None, str]:
    """Qualifier (lower case; None for an unqualified column) -> date
    column, when a FROM clause reads one marked table, directly or
    through ``SELECT *`` subqueries (the ARRAY JOIN hoist) that keep its
    date column and `_week`.  A join binds nothing."""
    body = re.sub(r"^FROM\s+", "", _collapse_ws(frm), flags=re.I)
    if not week_of or not body:
        return {}
    one = _FROM_REL.fullmatch(body)
    if one:
        rel, alias = (g.strip("`") if g else g for g in one.groups())
        if rel not in week_of:
            return {}
        bind = {None: week_of[rel], rel.lower(): week_of[rel]}
        if alias:
            bind[alias.lower()] = week_of[rel]
        return bind
    if body.startswith("("):
        close = _match_paren(_scan_mask(body), 0)
        am = re.fullmatch(rf"\s*(?:(?:AS\s+)?{_REL})?\s*", body[close + 1 :], re.I)
        inner = body[1:close]
        sm = _STAR_SELECT.match(inner)
        fm = _find_clause(inner, "FROM")
        if not (am and sm and fm):
            return {}
        end = _CLAUSE_AFTER_FROM.search(_scan_mask(inner), fm.end())
        bind = _week_binding(inner[fm.start() : end.start() if end else None], week_of)
        date_col = bind.get(None)
        if date_col is None:
            return {}
        # the projection must pass the date column and _week through
        kept = f"{sm.group(1) or ''} {inner[sm.end() : fm.start()]}"
        names = f"{re.escape(date_col)}|{_warehouse.WEEK_COL}"
        if re.search(rf"(?<![\w.])`?(?:{names})`?(?![\w.])", kept, re.I):
            return {}
        out = {None: date_col}
        if am.group(1):
            out[am.group(1).strip("`").lower()] = date_col
        return out
    return {}


def _week_bounds(where_body: str, frm: str, week_of: Mapping[str, str]) -> str:
    """``where_body`` with each top-level AND conjunct that bounds a
    marked table's date column by a DATE literal rewritten by
    _week_bound (section comment).  Unchanged text when none fires."""
    bind = _week_binding(frm, week_of)
    if not bind:
        return where_body
    out, last = [], 0
    for s, e in _leaf_conjuncts(where_body):
        new = _week_bound(where_body[s:e], bind)
        if new is None:
            continue
        text = where_body[s:e]
        lead = text[: len(text) - len(text.lstrip())]
        trail = text[len(text.rstrip()) :]
        out.append(where_body[last:s] + f"{lead}{new}{trail}")
        last = e
    out.append(where_body[last:])
    return "".join(out)


_AJ_CLAUSE = re.compile(r"\b(LEFT\s+)?ARRAY\s+JOIN\b", re.I)
_AJ_END = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|SETTINGS|FORMAT)\b",
    re.I,
)


def _rewrite_array_join(sql: str, ctx: _SchemaCtx) -> str:
    """CH ``[LEFT] ARRAY JOIN <expr> [AS alias]`` CLAUSE (the dialect
    already supports the arrayJoin() function): hoisted into an inner
    explode projection over the whole FROM target, so WHERE/GROUP
    BY/HAVING run post-expansion — the CH rule for the clause form
    (the FUNCTION form's WHERE runs pre-expansion, also CH parity).

    Scope (refusals are explicit): without ``AS`` an item must be a
    plain column (CH replaces the column with its element — compiled
    as ``* EXCEPT (col)``); ``LEFT`` (empty arrays keep one row with
    the ELEMENT TYPE DEFAULT, '' / 0) needs the element type, i.e. a
    plain array column of a provided table (every zipped item, in
    the multi-array form).  MULTIPLE arrays (r12) zip positionally:
    one explode over ``arrays_zip`` of pre-projected attributes, the
    per-row equal-size guard in the WHERE (CH throws on unequal
    sizes; assert_true here — never arrays_zip's silent NULL
    padding); LEFT keeps all-empty rows as one defaults row."""
    defaults = ctx.elem_defaults
    while True:
        masked = _mask(sql)
        m = _AJ_CLAUSE.search(masked)
        if m is None:
            return sql
        depth: list[int] = []
        d = 0
        for c in masked:
            depth.append(d)
            if c in "([":
                d += 1
            elif c in ")]":
                d -= 1
        d0 = depth[m.start()]
        froms = [
            fm
            for fm in re.finditer(r"\bFROM\b", masked[: m.start()], re.I)
            if depth[fm.start()] == d0
        ]
        if not froms:
            raise ValueError("chsql: ARRAY JOIN without a governing FROM")
        fm = froms[-1]
        target = sql[fm.end() : m.start()].strip()
        end = len(sql)
        for km in _AJ_END.finditer(masked, m.end()):
            if depth[km.start()] == d0:
                end = km.start()
                break
        for i in range(m.end(), end):
            if masked[i] in ")]" and depth[i] == d0:
                end = i  # enclosing subquery closes before any clause
                break
        items = _split_top(sql[m.end() : end])
        if not items or not items[0].strip():
            raise ValueError("chsql: ARRAY JOIN with no array item")
        if len(items) > 1:
            # r12: CH zips multiple arrays positionally.  Compiled as
            # ONE explode over arrays_zip of pre-projected attributes
            # (never a Generate over an HOF) with a per-row size
            # guard: CH THROWS on unequal sizes, so unequal sizes
            # raise here too (assert_true), instead of arrays_zip's
            # silent NULL padding.  LEFT multi-array keeps all-empty
            # rows with each array's element-type default (plain
            # columns of provided tables only).
            parts: list[tuple[str, str, bool]] = []  # (expr, alias, replace)
            for raw in items:
                it = raw.strip()
                am = re.search(r"\s+AS\s+(`[^`]+`|\w+)\s*$", it, re.I)
                if am:
                    parts.append((it[: am.start()].strip(), am.group(1), False))
                elif re.fullmatch(r"`[^`]+`|\w+", it):
                    parts.append((it, it, True))
                else:
                    raise ValueError(
                        "chsql: ARRAY JOIN without AS replaces a "
                        "COLUMN with its element — alias expressions "
                        "with AS"
                    )
            left_multi = bool(m.group(1))
            if left_multi:
                # LEFT multi-array: all-empty rows keep ONE row with
                # each array's CH element-type default -- needs every
                # item to be a plain array column of a provided table
                missing = [
                    e for (e, _, _) in parts
                    if defaults.get(e.strip("`")) is None
                ]
                if missing:
                    raise ValueError(
                        "chsql: LEFT ARRAY JOIN fills CH element-type "
                        "defaults, so every zipped item must be a "
                        "plain array column of a provided table "
                        f"(element type unknown for {missing[0]!r})"
                    )
            zn = [f"__ajz{i}" for i in range(len(parts))]
            adds = ", ".join(
                f"({e}) AS {z}" for (e, _, _), z in zip(parts, zn)
            )
            s1 = f"SELECT *, {adds} FROM {target}"
            # NULL-size normalization must be the IS NULL form, not
            # coalesce: under the engine's pinned
            # spark.sql.legacy.sizeOfNull=true, size(NULL) is -1
            sz = [
                f"(CASE WHEN {z} IS NULL THEN 0 ELSE size({z}) END)"
                for z in zn
            ]
            guard = (
                "assert_true("
                + " AND ".join(f"{sz[0]} = {s}" for s in sz[1:])
                + ", 'chsql: ARRAY JOIN arrays must have equal sizes')"
            )
            zipped = f"arrays_zip({', '.join(zn)})"
            if left_multi:
                filler = ", ".join(
                    f"'{z}', {defaults[e.strip('`')]}"
                    for (e, _, _), z in zip(parts, zn)
                )
                zipped = (
                    f"CASE WHEN {sz[0]} = 0 "
                    f"THEN array(named_struct({filler})) "
                    f"ELSE {zipped} END"
                )
            # the guard rides the WHERE (summap pattern: an EXCEPTed
            # assert column would be pruned away and never evaluate)
            s2 = (
                f"SELECT *, "
                f"explode({zipped}) AS __ajze "
                f"FROM ({s1}) WHERE {guard} IS NULL"
            )
            excepts = ", ".join(
                zn + ["__ajze"] + [e for (e, _, rep) in parts if rep]
            )
            fields = ", ".join(
                f"__ajze.{z} AS {alias}"
                for (_, alias, _), z in zip(parts, zn)
            )
            s3 = f"(SELECT * EXCEPT ({excepts}), {fields} FROM ({s2}))"
            sql = sql[: fm.end()] + f" {s3} " + sql[end:]
            continue
        item = items[0].strip()
        am = re.search(r"\s+AS\s+(`[^`]+`|\w+)\s*$", item, re.I)
        left = bool(m.group(1))
        if am:
            alias = am.group(1)
            expr = item[: am.start()].strip()
            replace_col = False
        else:
            expr = item
            if not re.fullmatch(r"`[^`]+`|\w+", expr):
                raise ValueError(
                    "chsql: ARRAY JOIN without AS replaces a COLUMN "
                    "with its element — alias expressions with AS"
                )
            alias = expr
            replace_col = True
        if left:
            dflt = defaults.get(expr.strip("`"))
            if dflt is None:
                raise ValueError(
                    "chsql: LEFT ARRAY JOIN fills CH element-type "
                    "defaults, so it needs a plain array column of a "
                    "provided table (element type unknown for "
                    f"{expr!r})"
                )
            gen = (
                f"explode(CASE WHEN {expr} IS NULL OR size({expr}) = 0 "
                f"THEN array({dflt}) ELSE {expr} END)"
            )
        else:
            gen = f"explode({expr})"
        proj = (
            f"* EXCEPT ({expr}), {gen} AS {alias}"
            if replace_col
            else f"*, {gen} AS {alias}"
        )
        sql = (
            sql[: fm.end()]
            + f" (SELECT {proj} FROM {target}) "
            + sql[end:]
        )


# output-name shapes an ORDER BY/unaliased item may take: a (possibly
# qualified) identifier or an integer position
_PLAIN_OUT_RE = re.compile(r"(`[^`]+`|\w+)(\s*\.\s*(`[^`]+`|\w+))*")

# r20 shared-scan compile for multi-frame structural statements
# (_rewrite_summap docstring).  Module flag so an A/B or a test can
# pin the legacy inline (scan-per-frame) compile.
_SHARED_SCAN = True


def _norm_expr(e: str) -> str:
    """Whitespace-collapsed, backtick-stripped text for expr equality
    (group-key matching only -- NOT identifier resolution)."""
    return _collapse_ws(e).replace("`", "")


def _ident_tokens(texts: list[str]) -> set[str]:
    """Lower-cased identifier-shaped tokens of every text (literals
    masked).  A SUPERSET of the column references (function names and
    keywords ride along), used only to decide which base-view columns
    the shared-scan projection may DROP -- keeping extra columns is
    safe, dropping a referenced one is not, and every real column
    reference necessarily appears as one of these tokens."""
    out: set[str] = set()
    for t in texts:
        if not t:
            continue
        for m in re.finditer(r"`([^`]+)`|\b([A-Za-z_]\w*)\b", _mask(t)):
            out.add((m.group(1) or m.group(2)).lower())
    return out


def _flat_strs(x) -> list[str]:
    """Every string anywhere inside a (possibly nested) payload tuple."""
    if isinstance(x, str):
        return [x]
    if isinstance(x, (list, tuple)):
        return [s for y in x for s in _flat_strs(y)]
    return []


class _ChainScan(NamedTuple):
    """The group-key prologue every structural chain starts from (all
    but ``sql`` are empty without a GROUP BY)."""

    sql: str  # SELECT <key> AS __smg<i>, ..., <cols> FROM ... [WHERE ...]
    lead: str  # "__smg0, __smg1, "
    part: str  # "PARTITION BY __smg0, __smg1 "
    group: str  # " GROUP BY __smg0, __smg1"


def _chain_scan(
    gk: list[str], cols: str, from_txt: str, where_txt: str | None,
) -> _ChainScan:
    """Project the group keys as ``__smg<i>`` ahead of the chain's own
    ``cols`` over the statement's FROM/WHERE (or the shared base)."""
    gk_sel = "".join(f"{e} AS __smg{i}, " for i, e in enumerate(gk))
    sql = f"SELECT {gk_sel}{cols} {from_txt}" + (
        f" {where_txt}" if where_txt else ""
    )
    if not gk:
        return _ChainScan(sql, "", "", "")
    names = ", ".join(f"__smg{i}" for i in range(len(gk)))
    return _ChainScan(
        sql, f"{names}, ", f"PARTITION BY {names} ", f" GROUP BY {names}"
    )


def _summap_chain(
    how: str, karg: str, varg: str, gk: list[str], from_txt: str,
    where_txt: str | None,
) -> str:
    """One sumMap/minMap/maxMap aggregation chain as nested-subquery
    SQL: project (group keys, keys[], values[]) -> size-guard +
    posexplode -> hash-aggregate (group, key) with map-side partial
    combine -> pack sorted (k, v) structs per group.  The text twin of
    operators/maps.agg_map (same stages, same edge semantics: unequal
    sizes RAISE, all-empty groups survive as ([], []) via the OUTER
    filler row).  The keys/values arrays are projected to attributes
    BEFORE the Generate so posexplode never wraps a higher-order
    expression (the measured ~20x interpreted-eval trap, PLANS.md)."""
    g = _chain_scan(
        gk, f"({karg}) AS __smka, ({varg}) AS __smva", from_txt, where_txt
    )
    a, lead = g.sql, g.lead
    guard = (
        "assert_true((CASE WHEN __smka IS NULL THEN 0 ELSE size(__smka) END)"
        " = (CASE WHEN __smva IS NULL THEN 0 ELSE size(__smva) END), "
        f"'chsql {how}Map: size(keys) != size(values)')"
    )
    b = (
        f"SELECT {lead}__smk, element_at(__smva, __smp + 1) AS __smv, "
        f"(__smp IS NULL) AS __smf FROM ({a}) "
        f"LATERAL VIEW OUTER posexplode(__smka) __smlv AS __smp, __smk "
        f"WHERE {guard} IS NULL"
    )
    c = (
        f"SELECT {lead}__smk, __smf, {how}(__smv) AS __smvv FROM ({b}) "
        f"GROUP BY {lead}__smk, __smf"
    )
    return (
        f"SELECT {lead}sort_array(collect_list(CASE WHEN NOT __smf THEN "
        f"named_struct('k', __smk, 'v', __smvv) END)) AS __smkv "
        f"FROM ({c}){g.group}"
    )


def _topk_chain(
    n: int, xarg: str, warg: str | None, gk: list[str], from_txt: str,
    where_txt: str | None,
) -> str:
    """One ``topK(N)(x)`` / ``topKWeighted(N)(x, w)`` chain: project
    the value (and weight) -> hash-aggregate (group, value) counts
    with map-side partial combine -> per-group rank filter -> pack
    the array ordered by (frequency DESC, value ASC).

    CH's topK is an APPROXIMATE filtered-space-saving sketch with
    unspecified order; this compile is EXACT with a deterministic
    order -- a documented deviation on the safe side (the exact
    answer is in the sketch's error envelope).  NULL values are
    skipped, as CH aggregates skip NULLs; a group whose values are
    all NULL still appears, with [].

    Scale shape: the window ranks the REDUCED (group, distinct value)
    stream, partitioned by group; the global (no GROUP BY) spelling
    avoids the single-partition window entirely via ORDER BY + LIMIT
    (TakeOrdered)."""
    wsel = f", ({warg}) AS __tkw" if warg else ""
    agg = "sum(__tkw)" if warg else "count(1)"
    g = _chain_scan(gk, f"({xarg}) AS __tkx{wsel}", from_txt, where_txt)
    a, lead = g.sql, g.lead
    pack = (
        "transform(sort_array(collect_list(CASE WHEN NOT __tkf THEN "
        "named_struct('c', -__tkc, 'x', __tkx) END)), __s -> __s.x) "
        "AS __tkarr"
    )
    if not gk:
        b = (
            f"SELECT __tkx, {agg} AS __tkc FROM ({a}) "
            f"WHERE __tkx IS NOT NULL GROUP BY __tkx"
        )
        c = f"SELECT __tkx, __tkc FROM ({b}) ORDER BY __tkc DESC, __tkx ASC LIMIT {n}"
        return (
            f"SELECT transform(sort_array(collect_list(named_struct("
            f"'c', -__tkc, 'x', __tkx))), __s -> __s.x) AS __tkarr FROM ({c})"
        )
    # grouped: the (__tkx IS NULL) filler flag keeps all-NULL groups
    # alive through the inner join (same pattern as the sumMap filler)
    b = (
        f"SELECT {lead}__tkx, (__tkx IS NULL) AS __tkf, {agg} AS __tkc "
        f"FROM ({a}) GROUP BY {lead}__tkx"
    )
    c = (
        f"SELECT {lead}__tkx, __tkf, __tkc, row_number() OVER "
        f"({g.part}ORDER BY __tkf ASC, __tkc DESC, "
        f"__tkx ASC) AS __tkr FROM ({b})"
    )
    c2 = f"SELECT * FROM ({c}) WHERE __tkr <= {n} OR __tkf"
    return f"SELECT {lead}{pack} FROM ({c2}){g.group}"


def _qew_chain(
    ps: list[float], xarg: str, warg: str, scalar: bool, gk: list[str],
    from_txt: str, where_txt: str | None,
) -> str:
    """``quantileExactWeighted(p)(x, w)`` / ``quantilesExactWeighted``
    chain: the text twin of operators/stats.quantile_exact_weighted
    (oracle-proven, 'low' variant) -- exact quantiles of the multiset
    where each value appears w times, WITHOUT expanding it: hash-agg
    the (group, value) weights map-side, then one window over the
    COMPRESSED distribution (|group x distinct value| rows, never raw
    rows); value covers expanded 0-based ranks [cum_before,
    cum_before + w - 1], quantile = value covering floor(p * (n-1)).

    Invalid rows (NULL value / weight <= 0 -- CH ignores them) fold
    to a (NULL, weight 0) filler distribution row so all-invalid
    groups survive with a NULL quantile (the engine's NULL-over-NaN
    convention, as avgWeighted)."""
    g = _chain_scan(
        gk, f"({xarg}) AS __qv0, CAST(({warg}) AS BIGINT) AS __qw0",
        from_txt, where_txt,
    )
    a, lead, part = g.sql, g.lead, g.part
    b = (
        f"SELECT {lead}__qvm AS __qv, sum(__qwm) AS __qw FROM ("
        f"SELECT {lead}CASE WHEN __qv0 IS NOT NULL AND __qw0 > 0 "
        f"THEN __qv0 END AS __qvm, "
        f"CASE WHEN __qv0 IS NOT NULL AND __qw0 > 0 THEN __qw0 "
        f"ELSE CAST(0 AS BIGINT) END AS __qwm FROM ({a})"
        f") GROUP BY {lead}__qvm"
    )
    c = (
        f"SELECT {lead}__qv, __qw, coalesce(sum(__qw) OVER ({part}"
        f"ORDER BY __qv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
        f"PRECEDING), CAST(0 AS BIGINT)) AS __cb, "
        f"sum(__qw) OVER ({part.rstrip()}) AS __qn FROM ({b})"
    )
    picks = []
    for p in ps:
        r = (
            f"CAST(floor({p!r} * CAST(__qn - 1 AS DOUBLE)) AS BIGINT)"
        )
        picks.append(
            f"max(CASE WHEN {r} >= __cb AND {r} < __cb + __qw "
            f"THEN __qv END)"
        )
    out = picks[0] if scalar else "array(" + ", ".join(picks) + ")"
    return f"SELECT {lead}{out} AS __qq FROM ({c}){g.group}"


def _entropy_chain(
    xarg: str, gk: list[str], from_txt: str, where_txt: str | None,
) -> str:
    """``entropy(x)`` chain: the text twin of
    ``operators/stats.entropy`` (oracle-proven via ``type_entropy``)
    -- Shannon entropy (bits) of the value distribution per group,
    as a two-level aggregate: hash-agg (group, value) counts with
    map-side partial combine compress the input to |distinct values|
    rows, then the probability window and final ``-sum(p * log2(p))``
    run over that COMPRESSED frame; the raw rows are never
    re-shuffled.  Exactly the operator's float form (window p, not
    the algebraically-equal log2(n) shortcut) so both paths round
    identically.  NULL is kept as a category, as the operator's
    groupBy does -- a documented strengthening of CH's Nullable
    aggregate skip."""
    g = _chain_scan(gk, f"({xarg}) AS __ex", from_txt, where_txt)
    a, lead = g.sql, g.lead
    b = f"SELECT {lead}__ex, count(1) AS __ec FROM ({a}) GROUP BY {lead}__ex"
    c = (
        f"SELECT {lead}CAST(__ec AS DOUBLE) / sum(__ec) OVER "
        f"({g.part.rstrip()}) "
        f"AS __ep FROM ({b})"
    )
    return f"SELECT {lead}(-sum(__ep * log2(__ep))) AS __he FROM ({c}){g.group}"


def _window_funnel_chain(
    win_s: int, ts: str, conds: list[str], mode: str | None, gk: list[str],
    from_txt: str, where_txt: str | None,
) -> str:
    """``windowFunnel(W)(ts, c1..ck)`` chain: the text twin of
    ``operators/funnel.window_funnel``'s default mode (oracle-proven
    via ``funnel_depths``) -- deepest consecutive-step chain within W
    seconds of its anchoring step-1 event, via the same backward DP:
    ``__n{s}_{d}`` = earliest epoch-us completion of steps s..d
    strictly after this row, each layer one projection of conditional
    window-mins over a RANGE(1, unbounded) frame -- k-1 nested
    projections, k(k-1)/2 window expressions, ONE hash(group)
    exchange end-to-end; never per-user arrays.

    Deviation (the operator's own, documented there): steps bind
    STRICTLY after the previous step (CH ``strict_increase``); CH's
    default equal-timestamp chaining depends on CH block order and is
    not reproduced.  The global (no GROUP BY) spelling is a
    single-partition window -- CH's global windowFunnel is likewise
    one group; use a GROUP BY key at scale.  ``mode='strict_order'``
    continues the same scan in _window_funnel_strict_chain."""
    k = len(conds)
    csel = ", ".join(
        f"CAST(({c}) AS BOOLEAN) AS __c{i}" for i, c in enumerate(conds, 1)
    )
    g = _chain_scan(
        gk, f"unix_micros(CAST(({ts}) AS TIMESTAMP)) AS __u, {csel}",
        from_txt, where_txt,
    )
    if mode == "strict_order":
        return _window_funnel_strict_chain(win_s, k, g)
    cur, part = g.sql, g.part
    wspec = (
        f"OVER ({part}ORDER BY __u RANGE BETWEEN 1 FOLLOWING "
        f"AND UNBOUNDED FOLLOWING)"
    )
    for s in range(k, 1, -1):
        items = [
            f"min(CASE WHEN __c{s} THEN "
            f"{'__u' if s == d else f'__n{s + 1}_{d}'} END) {wspec} "
            f"AS __n{s}_{d}"
            for d in range(max(s, 2), k + 1)
        ]
        cur = f"SELECT *, {', '.join(items)} FROM ({cur})"
    terms = "".join(
        f" + (CASE WHEN __n2_{d} <= __u + {win_s * 1_000_000} "
        f"THEN 1 ELSE 0 END)"
        for d in range(2, k + 1)
    )
    depth = f"CASE WHEN __c1 THEN 1{terms} ELSE 0 END"
    return (
        f"SELECT {g.lead}CAST(max({depth}) AS INT) AS __wfd "
        f"FROM ({cur}){g.group}"
    )


def _window_funnel_strict_chain(win_s: int, k: int, g: _ChainScan) -> str:
    """``windowFunnel(W, 'strict_order')(ts, c1..ck)`` chain: the text
    twin of ``operators/funnel._strict_order_funnel`` (property-tested
    vs the pure-python reference; driver entry ``funnel_strict``) --
    a chain breaks when ANY interleaving event appears, and every
    step-1 event still anchors its own candidate chain.  Same plan:
    collapse events to distinct instants (RANGE(0,0) peer-max flags +
    a lag-based first-of-instant filter), backward run-length LEAD DP
    (__d{s} = consecutive-chain length expecting condition s), and the
    window cap as 1 + count of following instants within W (a strict
    chain occupies CONSECUTIVE instants).  ONE hash(group) exchange;
    k+3 projection layers; no per-user arrays.  Tie rule (the
    operator's, deterministic where CH depends on block order):
    events sharing one timestamp form one instant and any matching
    event advances the chain.  ``g`` is _window_funnel_chain's scan
    of (__u, __c1..__ck)."""
    cur, order = g.sql, f"OVER ({g.part}ORDER BY __u"
    flags = ", ".join(
        f"max(CASE WHEN __c{s} THEN 1 END) {order} RANGE BETWEEN "
        f"CURRENT ROW AND CURRENT ROW) = 1 AS __f{s}"
        for s in range(1, k + 1)
    )
    cur = f"SELECT *, {flags} FROM ({cur})"
    cur = (
        f"SELECT *, lag(__u) {order}) AS __pu FROM ({cur})"
    )
    cur = (
        f"SELECT * FROM ({cur}) WHERE __pu IS NULL OR __pu != __u"
    )
    cur = (
        f"SELECT *, CASE WHEN __f{k} THEN 1 ELSE 0 END AS __d{k} "
        f"FROM ({cur})"
    )
    for s in range(k - 1, 0, -1):
        cur = (
            f"SELECT *, CASE WHEN __f{s} THEN 1 + lead(__d{s + 1}, 1, 0) "
            f"{order}) ELSE 0 END AS __d{s} FROM ({cur})"
        )
    cur = (
        f"SELECT *, count(1) {order} RANGE BETWEEN 1 FOLLOWING AND "
        f"{win_s * 1_000_000} FOLLOWING) AS __iw FROM ({cur})"
    )
    depth = f"CASE WHEN __f1 THEN least(__d1, __iw + 1) ELSE 0 END"
    return (
        f"SELECT {g.lead}CAST(max({depth}) AS INT) AS __wfd "
        f"FROM ({cur}){g.group}"
    )


def _seq_pattern_parse(
    pat: str, n_conds: int, fn: str
) -> tuple[list[int], list[int | None]]:
    """Parse the CH sequence pattern grammar the engine supports
    (operators/funnel module docstring): ``(?i)`` step references
    joined by ``.*`` (any gap) or ``(?t<=N)`` (adjacent within N
    seconds).  Returns (refs, gaps) where ``refs[s]`` is the 1-based
    condition index of step s+1.  Other pattern atoms (strict
    adjacency, ``(?t>N)``, alternation) refuse with the operator
    pointer -- never a silent approximation."""
    pos, refs, gaps = 0, [], []
    expect_step = True
    while pos < len(pat):
        if expect_step:
            m = re.match(r"\(\?(\d+)\)", pat[pos:])
            if not m:
                raise ValueError(
                    f"chsql: {fn} pattern {pat!r}: expected a step "
                    f"reference (?i) at position {pos}; the compiled "
                    "grammar is (?i) atoms joined by .* or (?t<=N) -- "
                    "operators/funnel for anything else"
                )
            r = int(m.group(1))
            if not 1 <= r <= n_conds:
                raise ValueError(
                    f"chsql: {fn} pattern references (?{r}) but only "
                    f"{n_conds} condition(s) were passed"
                )
            refs.append(r)
        else:
            m = re.match(r"\.\*|\(\?t<=(\d+)\)", pat[pos:])
            if not m:
                raise ValueError(
                    f"chsql: {fn} pattern {pat!r}: expected .* or "
                    f"(?t<=N) at position {pos}; strict adjacency and "
                    "(?t>N) have no compile -- operators/funnel"
                )
            gaps.append(int(m.group(1)) if m.group(1) else None)
        pos += m.end()
        expect_step = not expect_step
    if expect_step or not refs:
        raise ValueError(
            f"chsql: {fn} pattern {pat!r} must start and end with a "
            "(?i) step reference"
        )
    return refs, gaps


def _seq_match_chain(
    refs: list[int], gaps: list[int | None], ts: str, conds: list[str],
    gk: list[str], from_txt: str, where_txt: str | None,
) -> str:
    """``sequenceMatch('(?1).*(?2)...')(ts, c1..cn)`` chain: the text
    twin of ``operators/funnel.sequence_match`` (oracle-proven via
    ``sequence_match_gaps``) -- EXACT backward DP, not greedy:
    ``__e{s}`` = earliest completion time of steps s..k STARTING
    strictly after this row, each layer one conditional window-min
    over a bounded RANGE frame ((1, gap_us] -- or unbounded without a
    constraint); a group matches iff any row completes the full
    chain.  k layers, ONE hash(group) exchange, no per-user arrays."""
    k = len(refs)
    csel = ", ".join(
        f"CAST(({conds[r - 1]}) AS BOOLEAN) AS __c{s}"
        for s, r in enumerate(refs, 1)
    )
    g = _chain_scan(
        gk, f"unix_micros(CAST(({ts}) AS TIMESTAMP)) AS __u, {csel}",
        from_txt, where_txt,
    )
    cur, part = g.sql, g.part
    cur = (
        f"SELECT *, CASE WHEN __c{k} THEN __u END AS __e{k} FROM ({cur})"
    )
    for s in range(k - 1, 0, -1):
        gap = gaps[s - 1]
        hi = (
            f"{gap * 1_000_000} FOLLOWING"
            if gap is not None
            else "UNBOUNDED FOLLOWING"
        )
        cur = (
            f"SELECT *, CASE WHEN __c{s} THEN min(__e{s + 1}) OVER "
            f"({part}ORDER BY __u RANGE BETWEEN 1 FOLLOWING AND {hi}) "
            f"END AS __e{s} FROM ({cur})"
        )
    return (
        f"SELECT {g.lead}CAST(max(CASE WHEN "
        f"__e1 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS __sqm "
        f"FROM ({cur}){g.group}"
    )


def _seq_count_chain(
    refs: list[int], _gaps: list[int | None], ts: str, conds: list[str],
    gk: list[str], from_txt: str, where_txt: str | None,
) -> str:
    """``sequenceCount('(?i).*(?j)')(ts, c1, ...)`` chain: the text
    twin of ``operators/funnel.sequence_count_pairs`` (oracle-proven
    via ``sequence_count``) -- greedy non-overlapping first->second
    counting collapsed to run-length algebra: label rows 1/2 (second
    taken as ``second AND NOT first``), compact consecutive duplicate
    labels via the running last-non-NULL window, drop one leading 2,
    floor(len/2).  One hash(group) exchange.  Ties at one timestamp
    break arbitrarily, exactly the CH block-order latitude the
    operator documents (pass tiebreak_col there for determinism)."""
    first, second = conds[refs[0] - 1], conds[refs[1] - 1]
    g = _chain_scan(
        gk,
        f"unix_micros(CAST(({ts}) AS TIMESTAMP)) AS __u, CASE WHEN "
        f"({first}) THEN 1 WHEN ({second}) AND NOT ({first}) THEN 2 END "
        "AS __lab",
        from_txt, where_txt,
    )
    a, lead, part = g.sql, g.lead, g.part
    b = (
        f"SELECT {lead}__u, __lab, last(__lab, true) OVER ({part}"
        f"ORDER BY __u ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
        f"PRECEDING) AS __prev FROM ({a})"
    )
    c = (
        f"SELECT {lead}__u, __lab, CASE WHEN __lab IS NOT NULL AND "
        f"(__prev IS NULL OR __prev != __lab) THEN 1 ELSE 0 END "
        f"AS __keep FROM ({b})"
    )
    d = (
        f"SELECT {lead}sum(__keep) AS __m, "
        f"min_by(CASE WHEN __keep = 1 THEN __lab END, "
        f"CASE WHEN __keep = 1 THEN __u END) AS __lab0 FROM ({c}){g.group}"
    )
    return (
        f"SELECT {lead}CAST(floor((__m - (CASE WHEN __lab0 = 2 THEN 1 "
        f"ELSE 0 END)) / 2) AS BIGINT) AS __sqc FROM ({d})"
    )


def _ils_chain(
    s: str, e: str, gk: list[str], from_txt: str, where_txt: str | None,
) -> str:
    """``intervalLengthSum(start, end)`` chain: the text twin of
    ``operators/series.interval_length_sum``'s NUMERIC path
    (oracle-proven via ``interval_coverage``) -- total length of the
    UNION of [start, end] intervals per group, overlaps counted once:
    order by (start, end), running max of PREVIOUS ends marks what is
    already covered, each row contributes
    ``greatest(0, end - greatest(start, prev_max_end))``; the sibling
    per-group sum reuses the same hash(group) partitioning -- ONE
    exchange.  Timestamp columns: wrap both args in
    ``toUnixTimestamp`` (the CH idiom) or use the operator's exact
    integer-microsecond path; raw timestamp arithmetic is refused by
    Spark's analyzer, never silently approximated."""
    g = _chain_scan(gk, f"({s}) AS __s, ({e}) AS __e", from_txt, where_txt)
    a, lead, part = g.sql, g.lead, g.part
    b = (
        f"SELECT {lead}__s, __e, max(__e) OVER ({part}ORDER BY __s, __e "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __pe "
        f"FROM ({a})"
    )
    c = (
        f"SELECT {lead}greatest(__e - greatest(__s, coalesce(__pe, __s)), "
        f"0) AS __cv FROM ({b})"
    )
    return f"SELECT {lead}sum(__cv) AS __ils FROM ({c}){g.group}"


def _mxi_chain(
    s: str, e: str, gk: list[str], from_txt: str, where_txt: str | None,
) -> str:
    """``maxIntersections(start, end)`` chain: the text twin of
    ``operators/series.max_intersections`` (oracle-proven via
    ``peak_concurrency``) -- peak number of intervals open at once,
    half-open [start, end) with the deterministic end-before-start tie
    rule: +1/-1 events, running sum ordered by (point, delta), per-
    group max.  One explode of a 2-struct array (plain expressions,
    not a higher-order lambda, so the Generate stays codegen'd)
    replaces the operator's two-scan union; one hash(group) exchange.
    Type-agnostic: ordering + integer deltas only, so timestamps work
    directly."""
    g = _chain_scan(gk, f"({s}) AS __s, ({e}) AS __e", from_txt, where_txt)
    a, lead, part = g.sql, g.lead, g.part
    ev = (
        f"SELECT {lead}__mx.p AS __pt, __mx.d AS __d FROM ({a}) "
        f"LATERAL VIEW explode(array(named_struct('p', __s, 'd', 1), "
        f"named_struct('p', __e, 'd', -1))) __mit AS __mx"
    )
    w = (
        f"SELECT {lead}sum(__d) OVER ({part}ORDER BY __pt, __d ROWS "
        f"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __open "
        f"FROM ({ev})"
    )
    return f"SELECT {lead}CAST(max(__open) AS BIGINT) AS __mxi FROM ({w}){g.group}"


def _hist_chain(
    nbins: int, x: str, gk: list[str], from_txt: str,
    where_txt: str | None,
) -> str:
    """``histogram(N)(x)`` chain: the text twin of
    ``operators/stats.histogram`` (oracle-proven via
    ``price_histogram``) -- the deterministic equi-width variant of
    CH's adaptive-bin sketch (the operator's documented deviation):
    bounds from one column-pruned min/max pre-aggregate over the
    WHOLE input (1-row broadcast cross join, as the operator), bin i
    covers [lo + i*w, lo + (i+1)*w) with the max folded into the last
    bin, NULLs ignored, hi <= lo degenerates to a single zero-width
    bin 0.  Output: ARRAY<STRUCT<lower, upper, height>> sorted by
    bin.  Two pruned scans + one hash aggregate + the per-group pack;
    groups whose values are all NULL drop, as the operator's
    pre-group filter does."""
    g = _chain_scan(gk, f"CAST(({x}) AS DOUBLE) AS __v", from_txt, where_txt)
    a, lead = g.sql, g.lead
    src = (
        f"SELECT * FROM ({a}) CROSS JOIN (SELECT min(__v) AS __hlo, "
        f"max(__v) AS __hhi FROM ({a})) __hb"
    )
    width = f"((__hhi - __hlo) / {float(nbins)!r})"
    raw = f"CAST(floor((__v - __hlo) / {width}) AS BIGINT)"
    bin_id = (
        f"(CASE WHEN __hhi <= __hlo THEN 0 ELSE "
        f"greatest(0, least({raw}, {nbins - 1})) END)"
    )
    binned = (
        f"SELECT {lead}{bin_id} AS __bin, "
        f"__hlo + {bin_id} * {width} AS __blo, "
        f"__hlo + ({bin_id} + 1) * {width} AS __bhi "
        f"FROM ({src}) WHERE __v IS NOT NULL"
    )
    counts = (
        f"SELECT {lead}__bin, __blo, __bhi, count(1) AS __n FROM "
        f"({binned}) GROUP BY {lead}__bin, __blo, __bhi"
    )
    pack = (
        "transform(sort_array(collect_list(named_struct('b', __bin, "
        "'lower', __blo, 'upper', __bhi, 'height', __n))), __hs -> "
        "named_struct('lower', __hs.lower, 'upper', __hs.upper, "
        "'height', __hs.height)) AS __hg"
    )
    return f"SELECT {lead}{pack} FROM ({counts}){g.group}"


def _int_param(text: str) -> int | None:
    """A literal non-negative integer parameter, or None."""
    m = re.fullmatch(r"\s*(\d+)\s*", text)
    return int(m.group(1)) if m else None


# Payload builders, one per family: (name, parameter text or None,
# arguments) -> the chain's leading arguments, raising the family's
# refusals.  Arguments arrive stripped, so an empty one is falsy.


def _map_payload(name: str, _params: None, args: list[str]) -> tuple:
    if len(args) != 2 or not all(args):
        raise ValueError(
            f"chsql: {name} takes (keys_array, values_array) -- the "
            "single-tuple CH form is not mapped"
        )
    return name.removesuffix("Map"), args[0], args[1]


def _topk_payload(name: str, params: str, args: list[str]) -> tuple:
    n = _int_param(params)
    if not n:
        raise ValueError(
            f"chsql: {name} needs a literal positive integer parameter, "
            f"got {params!r}"
        )
    want = 2 if name == "topKWeighted" else 1
    if len(args) != want or not all(args):
        raise ValueError(
            f"chsql: {name} takes exactly {want} argument(s) after the "
            "parameter list"
        )
    return n, args[0], args[1] if want == 2 else None


def _qew_payload(name: str, params: str, args: list[str]) -> tuple:
    try:
        ps = [float(p) for p in _split_top(params)]
    except ValueError:
        ps = []
    if not ps or not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError(
            f"chsql: {name} needs literal quantile level(s) in [0, 1], "
            f"got {params!r}"
        )
    scalar = name == "quantileExactWeighted"
    if scalar and len(ps) != 1:
        raise ValueError(
            "chsql: quantileExactWeighted takes ONE level; use "
            "quantilesExactWeighted for a list"
        )
    if len(args) != 2 or not all(args):
        raise ValueError(
            f"chsql: {name} takes (value, weight) after the level list"
        )
    return ps, args[0], args[1], scalar


def _entropy_payload(_name: str, _params: None, args: list[str]) -> tuple:
    if len(args) != 1 or not args[0]:
        raise ValueError(
            "chsql: entropy takes exactly one argument (the value whose "
            "distribution is measured)"
        )
    return (args[0],)


def _funnel_payload(_name: str, params: str, args: list[str]) -> tuple:
    ps = _split_top(params)
    win_s = _int_param(ps[0])
    if win_s is None:
        raise ValueError(
            "chsql: windowFunnel needs a literal window length in "
            f"seconds, got {params!r}"
        )
    mode = None
    if len(ps) > 1:
        mode = ps[1].strip("'")
        if mode not in ("strict_increase", "strict_order"):
            raise ValueError(
                f"chsql: windowFunnel mode {mode!r} has no SQL compile "
                "(the default compile IS strict_increase binding; "
                "'strict_order' compiles the instant-collapse chain) -- "
                "operators/funnel.window_funnel for anything else"
            )
    if len(args) < 2 or not all(args):
        raise ValueError(
            "chsql: windowFunnel takes (timestamp, cond1, ...) -- at "
            "least one condition"
        )
    if len(args) - 1 > 12:
        raise ValueError(
            "chsql: windowFunnel SQL compile caps at 12 steps (k(k-1)/2 "
            "window layers); use operators/funnel.window_funnel directly"
        )
    return win_s, args[0], args[1:], mode


def _sequence_payload(name: str, params: str, args: list[str]) -> tuple:
    ps = _split_top(params)
    pm = re.fullmatch(r"'([^']*)'", ps[0])
    if len(ps) != 1 or not pm:
        raise ValueError(
            f"chsql: {name} needs ONE literal pattern string parameter, "
            f"got {params!r}"
        )
    if len(args) < 2 or not all(args):
        raise ValueError(
            f"chsql: {name} takes (timestamp, cond1, ...) after the "
            "pattern -- at least one condition"
        )
    refs, gaps = _seq_pattern_parse(pm.group(1), len(args) - 1, name)
    if len(refs) > 32:
        raise ValueError(
            f"chsql: {name} pattern exceeds the CH cap of 32 steps"
        )
    if name == "sequenceCount" and (len(refs) != 2 or gaps != [None]):
        raise ValueError(
            "chsql: sequenceCount compiles the '(?i).*(?j)' pair form "
            "only; use operators/funnel.sequence_count_pairs (longer "
            "patterns have no run-length collapse)"
        )
    return refs, gaps, args[0], args[1:]


def _span_payload(name: str, _params: None, args: list[str]) -> tuple:
    if len(args) != 2 or not all(args):
        raise ValueError(f"chsql: {name} takes exactly (start, end)")
    return args[0], args[1]


def _histogram_payload(_name: str, params: str, args: list[str]) -> tuple:
    nbins = _int_param(params)
    if not nbins:
        raise ValueError(
            "chsql: histogram needs a literal positive bin count, got "
            f"{params!r}"
        )
    if len(args) != 1 or not args[0]:
        raise ValueError(
            "chsql: histogram takes exactly one value argument after the "
            "bin count"
        )
    return nbins, args[0]


class _StructAgg(NamedTuple):
    """One family of the statement-level structural compiler."""

    parametric: bool  # spelled name(params)(args), not name(args)
    alias_note: str  # tail of the alias refusal
    payload: Callable[[str, str | None, list[str]], tuple]
    chain: Callable[..., str]  # chain(*payload, gk, from_txt, where_txt)
    out: str  # the output column over frame tag {t}


_MAP_AGGS = ("sumMap", "minMap", "maxMap")
# every aggregate the statement-level structural compiler claims, by
# CH name (_rewrite_summap docstring: adding a family)
_STRUCT_AGGS: dict[str, _StructAgg] = {
    **dict.fromkeys(_MAP_AGGS, _StructAgg(
        False, " -- the result is a STRUCT(keys, values) column",
        _map_payload, _summap_chain,
        "named_struct('keys', transform({t}.__smkv, __sms -> __sms.k), "
        "'values', transform({t}.__smkv, __sms -> __sms.v))",
    )),
    **dict.fromkeys(("topK", "topKWeighted"), _StructAgg(
        True, " -- the result is an ARRAY column", _topk_payload, _topk_chain,
        "{t}.__tkarr",
    )),
    **dict.fromkeys(
        ("quantileExactWeighted", "quantilesExactWeighted"),
        _StructAgg(True, "", _qew_payload, _qew_chain, "{t}.__qq"),
    ),
    "entropy": _StructAgg(False, "", _entropy_payload, _entropy_chain, "{t}.__he"),
    "windowFunnel": _StructAgg(
        True, "", _funnel_payload, _window_funnel_chain, "{t}.__wfd"
    ),
    "sequenceMatch": _StructAgg(
        True, "", _sequence_payload, _seq_match_chain, "{t}.__sqm"
    ),
    "sequenceCount": _StructAgg(
        True, "", _sequence_payload, _seq_count_chain, "{t}.__sqc"
    ),
    "intervalLengthSum": _StructAgg(False, "", _span_payload, _ils_chain, "{t}.__ils"),
    "maxIntersections": _StructAgg(False, "", _span_payload, _mxi_chain, "{t}.__mxi"),
    "histogram": _StructAgg(
        True, " -- the result is an ARRAY of (lower, upper, height) structs",
        _histogram_payload, _hist_chain, "{t}.__hg",
    ),
}
_STRUCT_AGG_GATE = re.compile(rf"\b({'|'.join(_STRUCT_AGGS)})\s*\(")
_CALL_HEAD_RE = re.compile(r"([A-Za-z_]\w*)\s*\(")


def _struct_item(expr: str, alias: str | None) -> tuple[str, tuple] | None:
    """``(name, payload)`` when the select item ``expr`` is, as a whole,
    one call of a _STRUCT_AGGS family; None otherwise (the item then
    stays an ordinary one).  Refuses a missing alias first, then
    whatever the family's payload builder refuses."""
    masked = _mask(expr)
    m = _CALL_HEAD_RE.match(masked)
    agg = _STRUCT_AGGS.get(m.group(1)) if m else None
    if agg is None:
        return None
    name, open_ = m.group(1), m.end() - 1
    close = _match_paren(masked, open_)
    params = None
    if agg.parametric:
        j = close + 1
        while j < len(expr) and expr[j].isspace():
            j += 1
        if j == len(expr) or expr[j] != "(":
            return None
        params, open_ = expr[open_ + 1 : close], j
        close = _match_paren(masked, j)
    if close != len(expr.rstrip()) - 1:
        return None
    if alias is None:
        raise ValueError(
            f"chsql: alias the {name}(...){'(...)' if agg.parametric else ''} "
            f"item (AS name){agg.alias_note}"
        )
    return name, agg.payload(name, params, _split_top(expr[open_ + 1 : close]))


def _rewrite_summap(
    sql: str,
    view_cols: dict[str, list[str]] | None = None,
    shared_out: list[tuple[str, str]] | None = None,
    week_of: Mapping[str, str] = MappingProxyType({}),
) -> str:
    """Compile CH's structural aggregates -- the _STRUCT_AGGS families
    (sumMap/minMap/maxMap, topK/topKWeighted, quantile(s)ExactWeighted,
    entropy, windowFunnel, sequenceMatch/sequenceCount,
    intervalLengthSum, maxIntersections, histogram) -- when each call
    is a whole ALIASED item of the top-level SELECT list.  The
    canonical Metrica shape is a map aggregate over a Nested pair
    (``Goals.ID``/``Goals.Revenue``, SURVEY.md 1.2): the output is a
    STRUCT(keys ARRAY, values ARRAY) with the keys sorted ascending
    and values element-wise aggregated -- CH returns the same pair as
    a tuple; field access is ``alias.keys`` / ``alias.values`` here.

    One table drives every family.  _struct_item claims an item (the
    call is the whole item, the alias is present) and hands the
    parameter text and arguments to the entry's payload builder, which
    raises the family's refusals; each claimed item becomes one FRAME,
    ``entry.chain(*payload, gk, from, where)``, keyed by the GROUP BY
    expressions as ``__smg<i>``; the final SELECT reads ``entry.out``
    from that frame.  Adding a family is one _STRUCT_AGGS entry plus its
    chain, which starts from _chain_scan.  Placements this compiler
    leaves alone reach the pointer refusals of _rewrite_calls
    (_STRUCTURAL_OPS) and _rewrite_parametrized, so a new family also
    names its operator there.

    Plan shapes (PLANS.md "sumMap compile"):

    - FAST PATH (no HAVING, every other SELECT item is a group key):
      the frame chain IS the statement -- for a map aggregate, one
      scan and two hash aggregates, exactly operators/maps.agg_map's
      plan.
    - RESIDUAL PATH (other aggregates or HAVING present): the
      non-map items compute in a residual GROUP BY over the same
      FROM/WHERE, then a null-safe equi-join on the group keys merges
      the two aggregate streams.

    SHARED SCAN (r20): with two or more frames (residual + one chain
    per structural item) the inline form re-evaluates FROM/WHERE once
    PER FRAME -- at scale that is N full scans of the fact table for
    one statement.  When ``shared_out`` is given and the FROM is one
    plain relation, the frames instead read a shared base view: this
    function appends ``(view_name, base_select_sql)`` pairs to
    ``shared_out`` and run_sql materializes each base exactly once
    (localCheckpoint) before compiling the statement.  ``view_cols``
    (view name -> column list) lets the base project only the columns
    the frames reference, so the one scan stays column-pruned.  With
    ``shared_out=None`` (the pure-text path, kept for tests) the
    inline multi-scan form is emitted unchanged.

    Occurrences anywhere else (subquery, CTE, HAVING, nested in an
    expression) keep the structural refusal -- this function simply
    leaves them for _rewrite_calls to report."""
    masked = _mask(sql)
    if not _STRUCT_AGG_GATE.search(masked):
        return sql
    branches = _split_union_all(sql)
    if len(branches) > 1:
        return " UNION ALL ".join(
            _rewrite_summap(b, view_cols, shared_out, week_of) for b in branches
        )
    try:
        spans = _segment(sql)
    except ValueError:
        return sql
    sel_start, sel_end = spans["SELECT"]
    if any(
        m.start() < sel_start or m.start() >= sel_end
        for m in _STRUCT_AGG_GATE.finditer(masked)
    ):
        return sql  # in a CTE / subquery / later clause: refusal path
    select_body = sql[sel_start + len("SELECT") : sel_end]
    if re.match(r"\s*DISTINCT\b", select_body, re.I):
        raise ValueError("chsql: sumMap family cannot combine with DISTINCT")
    parsed, resolved = _select_aliases(select_body)

    def clause_body(name: str) -> str | None:
        if name not in spans:
            return None
        s, e = spans[name]
        kw = r"\s+".join(name.split())
        return re.sub(rf"^{kw}\s+", "", sql[s:e].strip(), flags=re.I)

    # ---- classify select items -------------------------------------
    # struct_items: (idx, CH name, payload, alias), one frame each
    struct_items: list[tuple[int, str, tuple, str]] = []
    other: list[tuple[int, str, str | None]] = []
    for idx, (expr, alias) in enumerate(parsed):
        claimed = _struct_item(expr, alias)
        if claimed:
            struct_items.append((idx, *claimed, alias))
            continue
        if any(
            m.group(1) in _MAP_AGGS
            for m in _STRUCT_AGG_GATE.finditer(_mask(expr))
        ):
            raise ValueError(
                "chsql: sumMap/minMap/maxMap compile only as a whole "
                "aliased top-level SELECT item; found one nested in "
                f"{_collapse_ws(expr)!r} -- use operators/maps.agg_map"
            )
        other.append((idx, expr, alias))
    if not struct_items:
        return sql

    # ---- clauses ----------------------------------------------------
    frm = sql[spans["FROM"][0] : spans["FROM"][1]].strip()
    where_b = clause_body("WHERE")
    prewhere_b = clause_body("PREWHERE")
    if prewhere_b:  # CH scan-stage hint == one more conjunct
        where_b = f"({prewhere_b}) AND ({where_b})" if where_b else prewhere_b
    group_b = clause_body("GROUP BY")
    having_b = clause_body("HAVING")
    order_c = sql[spans["ORDER BY"][0] : spans["ORDER BY"][1]].strip() \
        if "ORDER BY" in spans else None
    limit_c = sql[spans["LIMIT"][0] : spans["LIMIT"][1]].strip() \
        if "LIMIT" in spans else None
    if group_b and re.search(r"\bWITH\s+TOTALS\b", group_b, re.I):
        raise ValueError("chsql: sumMap family cannot combine with WITH TOTALS")
    if group_b and re.search(r"\b(GROUPING\s+SETS|ROLLUP|CUBE)\b", _mask(group_b), re.I):
        raise ValueError(
            "chsql: sumMap family compiles over a plain GROUP BY "
            "(no GROUPING SETS/ROLLUP/CUBE)"
        )

    def _inline(body: str | None, what: str) -> str | None:
        if body is None:
            return None
        out = inline_aliases(body, resolved)
        if _STRUCT_AGG_GATE.search(_mask(out)):
            raise ValueError(
                f"chsql: {what} cannot reference the sumMap/topK-"
                "family aggregate (compute it in an outer query)"
            )
        return out

    where_b = _inline(where_b, "WHERE")
    if where_b:
        where_b = _week_bounds(where_b, frm, week_of)
    having_b = _inline(having_b, "HAVING")
    gk: list[str] = []
    seen_gk: set[str] = set()
    for g in _split_top(_inline(group_b, "GROUP BY") or ""):
        if not g:
            continue
        if re.fullmatch(r"\d+", g.strip()):
            raise ValueError(
                "chsql: positional GROUP BY is not supported with the "
                "sumMap family -- spell the expression"
            )
        if _norm_expr(g) not in seen_gk:
            seen_gk.add(_norm_expr(g))
            gk.append(g.strip())
    where_txt = f"WHERE CAST(({where_b}) AS BOOLEAN)" if where_b else None

    # ---- output naming ----------------------------------------------
    out_names: dict[int, str] = {}
    for idx, expr, alias in other:
        if alias:
            out_names[idx] = alias
        else:
            pm = _PLAIN_OUT_RE.fullmatch(expr.strip())
            if not pm:
                raise ValueError(
                    "chsql: with the sumMap family every computed "
                    f"SELECT item needs an alias; add AS to "
                    f"{_collapse_ws(expr)!r}"
                )
            out_names[idx] = re.split(r"\s*\.\s*", expr.strip())[-1].strip("`")
    for idx, _fn, _payload, alias in struct_items:
        out_names[idx] = alias

    # ---- ORDER BY items must be output columns ----------------------
    if order_c:
        body = re.sub(r"^ORDER\s+BY\s+", "", order_c, flags=re.I)
        names = set(out_names.values())
        for item in _split_top(body):
            head = re.sub(
                r"\s+(ASC|DESC)\b.*$|\s+WITH\s+FILL\b.*$", "", item.strip(),
                flags=re.I | re.S,
            ).strip()
            if not (
                head.strip("`") in names or re.fullmatch(r"\d+", head)
            ):
                raise ValueError(
                    "chsql: with the sumMap family ORDER BY items must "
                    f"be output columns; {head!r} is not one of "
                    f"{sorted(names)}"
                )

    # ---- fast path?  (every non-map item IS a group key) -------------
    gk_norm = {_norm_expr(g): i for i, g in enumerate(gk)}
    fast = having_b is None and all(
        _norm_expr(expr) in gk_norm for _idx, expr, _al in other
    )

    # ---- shared scan (r20): one materialized base for 2+ frames -----
    # Each frame below embeds FROM/WHERE verbatim, so the inline form
    # scans the source once per frame (guide §2.1/§6 read
    # amplification).  When the caller can materialize (shared_out
    # given), the FROM is a single plain relation, and there are at
    # least two frames, project the referenced columns (plus the
    # WHERE) into one base view the frames re-read.  Qualified
    # references keep resolving because the base view is re-aliased
    # with the original relation/alias name.
    n_frames = (0 if fast else 1) + len(struct_items)
    use_frm, use_where = frm, where_txt
    if shared_out is not None and n_frames >= 2:
        sf_m = re.fullmatch(
            r"FROM\s+(`[^`]+`|\w+)(?:\s+(?:AS\s+)?(`[^`]+`|\w+))?",
            _collapse_ws(frm),
            re.I,
        )
        if sf_m:
            rel, al = sf_m.group(1), sf_m.group(2)
            proj = "*"
            rel_key = rel.strip("`")
            # pruning is skipped under a WITH prefix: CH scalar
            # aliases substitute textually AFTER this rewrite, so
            # token extraction here could miss columns they expand to
            if (
                view_cols is not None
                and rel_key in view_cols
                and not re.match(r"\s*WITH\b", sql, re.I)
            ):
                refd = _ident_tokens(
                    list(gk)
                    + [expr for _i, expr, _a in other]
                    + [having_b or ""]
                    + [
                        s
                        for _i, _k, payload, _a in struct_items
                        for s in _flat_strs(payload)
                    ]
                )
                kept = [
                    c for c in view_cols[rel_key] if c.lower() in refd
                ]
                if kept and len(kept) < len(view_cols[rel_key]):
                    proj = ", ".join(f"`{c}`" for c in kept)
            view = f"__chsql_sb{len(shared_out)}"
            shared_out.append(
                (
                    view,
                    f"SELECT {proj} {frm}"
                    + (f" {where_txt}" if where_txt else ""),
                )
            )
            use_frm, use_where = f"FROM {view} {al or rel}", None

    frames: list[tuple[str, str]] = []
    if not fast:
        r_items = "".join(
            f", {expr} AS __smr{j}" for j, (_idx, expr, _al) in enumerate(other)
        )
        gk_sel = ", ".join(f"{e} AS __smg{i}" for i, e in enumerate(gk))
        resid = (
            f"SELECT {gk_sel}{r_items}" if gk_sel else f"SELECT 1 AS __smone{r_items}"
        ) + f" {use_frm}" + (f" {use_where}" if use_where else "")
        if gk:
            resid += " GROUP BY " + ", ".join(gk)
        if having_b:
            resid += f" HAVING CAST(({having_b}) AS BOOLEAN)"
        frames.append(("__smr", resid))
    for n, (_idx, fn, payload, _alias) in enumerate(struct_items):
        chain = _STRUCT_AGGS[fn].chain(*payload, gk, use_frm, use_where)
        frames.append((f"__smm{n}", chain))

    base_tag = frames[0][0]
    from_out = f"FROM ({frames[0][1]}) {base_tag}"
    for tag, text in frames[1:]:
        if gk:
            cond = " AND ".join(
                f"{base_tag}.__smg{i} <=> {tag}.__smg{i}"
                for i in range(len(gk))
            )
            from_out += f" JOIN ({text}) {tag} ON {cond}"
        else:
            from_out += f" CROSS JOIN ({text}) {tag}"

    # ---- final select in original item order --------------------------
    items_out: list[str] = []
    item_frame = {
        idx: (f"__smm{n}", fn)
        for n, (idx, fn, _p, _a) in enumerate(struct_items)
    }
    other_pos = {idx: j for j, (idx, _e, _a) in enumerate(other)}
    for idx, (expr, _alias) in enumerate(parsed):
        name = out_names[idx]
        if idx in item_frame:
            tag, fn = item_frame[idx]
            out_col = _STRUCT_AGGS[fn].out.format(t=tag)
            items_out.append(f"{out_col} AS `{name}`")
        elif fast:
            items_out.append(
                f"{base_tag}.__smg{gk_norm[_norm_expr(expr)]} AS `{name}`"
            )
        else:
            items_out.append(f"__smr.__smr{other_pos[idx]} AS `{name}`")
    out = f"{sql[:sel_start]}SELECT {', '.join(items_out)} {from_out}"
    if order_c:
        out += f" {order_c}"
    if limit_c:
        out += f" {limit_c}"
    return out


_RUNNING_GATE = re.compile(r"\b(runningDifference|neighbor)\s*\(")


def _rewrite_running(sql: str) -> str:
    """Compile ``runningDifference(x)`` / ``neighbor(x, off[, dflt])``
    in the top-level SELECT list as window expressions over the
    statement's FINAL ``ORDER BY`` -- a deterministic strengthening of
    CH's processing-block order (which CH itself documents as
    unreliable and recommends pinning with ORDER BY in a subquery).

    Mappings (the operators/series twins):

    - ``runningDifference(x)`` -> ``coalesce(x - lag(x, 1) OVER
      (ORDER BY <order>), x - x)`` -- the trailing ``x - x`` is the
      typed zero CH yields for the first row.
    - ``neighbor(x, off)`` -> lead/lag by the LITERAL offset;
      out-of-range is NULL where CH fabricates the type default (the
      same documented deviation as postfix indexing); the 3-arg form
      coalesces onto the explicit default exactly as CH does.

    Scale note: the window is a single global sort -- the CH idiom
    applies these to POST-AGGREGATION frames (per-day series), where
    |rows| = |axis values|; for fact-scale per-key deltas use
    operators/series.running_difference (partitioned window).
    Statements without ORDER BY, WITH FILL combinations, nesting, and
    occurrences outside the top-level SELECT keep the structural
    refusal/pointer."""
    masked = _mask(sql)
    if not _RUNNING_GATE.search(masked):
        return sql
    branches = _split_union_all(sql)
    if len(branches) > 1:
        return " UNION ALL ".join(_rewrite_running(b) for b in branches)
    try:
        spans = _segment(sql)
    except ValueError:
        return sql
    sel_start, sel_end = spans["SELECT"]
    if any(
        m.start() < sel_start or m.start() >= sel_end
        for m in _RUNNING_GATE.finditer(masked)
    ):
        return sql  # subquery / CTE / later clause: refusal path
    if "ORDER BY" not in spans:
        raise ValueError(
            "chsql: runningDifference/neighbor need the statement's "
            "ORDER BY (CH computes them in unspecified block order; "
            "this engine compiles the deterministic final-order form) "
            "-- add ORDER BY, or use operators/series."
            "running_difference / neighbor for per-key windows"
        )
    o_s, o_e = spans["ORDER BY"]
    order_body = re.sub(
        r"^ORDER\s+BY\s+", "", sql[o_s:o_e].strip(), flags=re.I
    )
    if re.search(r"\bWITH\s+FILL\b", _mask(order_body), re.I):
        raise ValueError(
            "chsql: runningDifference/neighbor cannot combine with "
            "WITH FILL (compose operators/series.fill_series + "
            "running_difference via the operator API)"
        )
    if "GROUP BY" in spans:
        g_s, g_e = spans["GROUP BY"]
        if re.search(r"\bWITH\s+TOTALS\b", _mask(sql[g_s:g_e]), re.I):
            raise ValueError(
                "chsql: runningDifference/neighbor cannot combine "
                "with WITH TOTALS (the totals row has no position in "
                "the window order)"
            )
    select_body = sql[sel_start + len("SELECT") : sel_end]
    _, aliases = _select_aliases(select_body)
    # OVER cannot see output aliases: inline them into the window
    # order; CH NULL direction applies to the window order too
    ob = _ch_nulls_order(inline_aliases(order_body, aliases))
    while True:
        masked = _mask(sql)
        sel_start, sel_end = _segment(sql)["SELECT"]
        m = next(
            (
                m
                for m in _RUNNING_GATE.finditer(masked)
                if sel_start <= m.start() < sel_end
            ),
            None,
        )
        if m is None:
            return sql
        open_idx = sql.index("(", m.end(1))
        close = _match_paren(masked, open_idx)
        inner = sql[open_idx + 1 : close]
        if _RUNNING_GATE.search(_mask(inner)):
            raise ValueError(
                "chsql: nested runningDifference/neighbor is not "
                "supported (a window cannot contain a window)"
            )
        args = [a.strip() for a in _split_top(inner)]
        name = m.group(1)
        if name == "runningDifference":
            if len(args) != 1 or not args[0]:
                raise ValueError(
                    "chsql: runningDifference takes exactly 1 argument"
                )
            x = args[0]
            repl = (
                f"coalesce(({x}) - lag({x}, 1) OVER (ORDER BY {ob}), "
                f"({x}) - ({x}))"
            )
        else:
            if len(args) not in (2, 3) or not all(args):
                raise ValueError(
                    "chsql: neighbor takes (x, offset[, default])"
                )
            x = args[0]
            try:
                off = int(args[1])
            except ValueError:
                raise ValueError(
                    f"chsql: neighbor offset must be an integer "
                    f"literal, got {args[1]!r}"
                ) from None
            if off == 0:
                win = f"({x})"
            elif off > 0:
                win = f"lead({x}, {off}) OVER (ORDER BY {ob})"
            else:
                win = f"lag({x}, {-off}) OVER (ORDER BY {ob})"
            repl = (
                f"coalesce({win}, ({args[2]}))" if len(args) == 3 else win
            )
        sql = sql[: m.start()] + repl + sql[close + 1 :]


def _rewrite_indexing(sql: str, ctx: _SchemaCtx) -> str:
    """``col[idx]`` -> CH 1-based type-default access (ch.array_at
    CASE form) for columns with known array element types."""
    defaults = ctx.elem_defaults
    while True:
        masked = _mask(sql)
        for m in _IDENT_BRACKET.finditer(masked):
            name = m.group(1).strip("`")
            if name not in defaults:
                continue
            open_idx = sql.index("[", m.end(1))
            close = _match_paren(masked, open_idx)
            col = m.group(1)
            idx = sql[open_idx + 1 : close]
            # full CH index rule (ch.array_at_signed): 1-based from
            # the front, negative from the back, default otherwise
            repl = (
                f"(CASE WHEN (({idx}) >= 1 AND ({idx}) <= size({col})) "
                f"OR (({idx}) <= -1 AND -({idx}) <= size({col})) "
                f"THEN element_at({col}, CAST(({idx}) AS INT)) "
                f"ELSE {defaults[name]} END)"
            )
            sql = sql[: m.start()] + repl + sql[close + 1 :]
            break
        else:
            return sql


# ---------------------------------------------------------------------------
# clause surgery
# ---------------------------------------------------------------------------

_CLAUSE_STARTS = [
    ("PREWHERE",), ("WHERE",), ("GROUP", "BY"), ("HAVING",), ("QUALIFY",),
    ("ORDER", "BY"), ("LIMIT",),
]


def _segment(sql: str) -> dict[str, tuple[int, int]]:
    """Top-level clause spans: name -> (start of keyword, end of
    clause body).  SELECT list span stored under 'SELECT'."""
    spans: dict[str, tuple[int, int]] = {}
    marks: list[tuple[int, str]] = []
    sel = _find_clause(sql, "SELECT")
    frm = _find_clause(sql, "FROM")
    if not sel or not frm:
        raise ValueError("chsql: need a top-level SELECT ... FROM")
    marks.append((sel.start(), "SELECT"))
    marks.append((frm.start(), "FROM"))
    for kws in _CLAUSE_STARTS:
        m = _find_clause(sql, *kws)
        if m:
            marks.append((m.start(), " ".join(kws)))
    marks.sort()
    for i, (pos, name) in enumerate(marks):
        end = marks[i + 1][0] if i + 1 < len(marks) else len(sql)
        spans[name] = (pos, end)
    return spans


def _select_aliases(select_body: str) -> tuple[list[tuple[str, str | None]], dict[str, str]]:
    """Parse the select list -> ([(expr, alias|None)...], resolved
    alias->expr with earlier aliases inlined into later defs)."""
    items = _split_top(select_body)
    parsed: list[tuple[str, str | None]] = []
    resolved: dict[str, str] = {}
    for item in items:
        m = re.search(r"\s+AS\s+(`[^`]+`|\w+)\s*$", item, re.I)
        if m:
            alias = m.group(1).strip("`")
            expr = item[: m.start()].strip()
        else:
            alias, expr = None, item.strip()
        expr = inline_aliases(expr, resolved)
        parsed.append((expr, alias))
        if alias:
            resolved[alias] = expr
    return parsed, resolved


@dataclass(frozen=True)
class TableMeta:
    """Declared engine metadata for a queried table -- what ClickHouse
    reads from the table's DDL to serve the read-time clauses:

    - ``FROM t FINAL`` needs (key, version, sign): the
      VersionedCollapsingMergeTree declaration
      (/root/reference/ddl/visits.sql:229-233) whose read-time
      collapse operators/collapse.collapsed() implements (A11).
    - ``SAMPLE k`` needs ``sample_by``: the declared SAMPLE BY column
      (/root/reference/ddl/hits.sql:119, ddl/visits.sql:239).

    Pass as ``run_sql(..., table_meta={"visits": TableMeta(...)})``;
    tables without metadata keep the refusal (the clause cannot be
    honored faithfully without the declaration, exactly as CH errors
    on a table whose engine/DDL lacks it)."""

    key: tuple[str, ...] = ()
    version: str | None = None
    sign: str | None = None
    sample_by: str | None = None


_ENGINE_RE = re.compile(r"\bENGINE\s*=\s*(\w+)", re.I)
_IDENT_RE = re.compile(r"`([^`]+)`|([A-Za-z_]\w*)")


def _plain_ident(txt: str) -> str | None:
    m = _IDENT_RE.fullmatch(txt.strip())
    return (m.group(1) or m.group(2)) if m else None


def table_meta_from_ddl(ddl: str) -> TableMeta:
    """Parse a ClickHouse ``CREATE TABLE`` DDL into the
    :class:`TableMeta` the FINAL/SAMPLE compilation needs -- the same
    declarations CH itself reads:

    - ``ENGINE = [Replicated]VersionedCollapsingMergeTree(...,
      sign, version)`` -> (sign, version): the LAST TWO engine args
      (the Replicated form prefixes the zk path and replica;
      /root/reference/ddl/visits.sql:229-233).  A
      ``[Replicated]CollapsingMergeTree(sign)`` yields sign only --
      its FINAL keeps insertion order, which a DataFrame cannot see,
      so the FINAL gate stays refused for it (version is None).
    - ``ORDER BY (c1, c2, ...)`` -> the collapse key, accepted only
      when every component is a plain identifier (an expression
      component like ``intHash32(x)`` clears the key: FINAL then
      refuses rather than collapsing on the wrong granularity).
    - ``SAMPLE BY col`` -> sample_by when a plain identifier
      (/root/reference/ddl/hits.sql:119).

    Engines without a version key (MergeTree etc.) yield sign=None /
    version=None: SAMPLE still compiles, FINAL refuses -- matching CH,
    where FINAL on a plain MergeTree is a no-op/error depending on
    version."""
    sql = strip_comments(ddl)
    masked = _mask(sql)
    sign = version = sample_by = None
    key: tuple[str, ...] = ()
    em = _ENGINE_RE.search(masked)
    if em:
        engine = em.group(1)
        args: list[str] = []
        paren = re.compile(r"\(").search(masked, em.end())
        # the engine's argument list is the next '(' (CH allows a
        # newline between name and args); PARTITION/ORDER/SAMPLE
        # clauses all start with a keyword, so a '(' here is the args
        between = masked[em.end() : paren.start()] if paren else ""
        if paren and not between.strip():
            close = _match_paren(masked, paren.start())
            args = _split_top(sql[paren.start() + 1 : close])
        base = re.sub(r"^Replicated", "", engine)
        if base == "VersionedCollapsingMergeTree" and len(args) >= 2:
            sign = _plain_ident(args[-2])
            version = _plain_ident(args[-1])
        elif base == "CollapsingMergeTree" and args:
            sign = _plain_ident(args[-1])
    om = re.search(r"\bORDER\s+BY\s*", masked, re.I)
    if om:
        if masked[om.end() : om.end() + 1] == "(":
            close = _match_paren(masked, om.end())
            comps = _split_top(sql[om.end() + 1 : close])
        else:
            tail = re.match(r"[^\s(]+", masked[om.end() :])
            comps = [sql[om.end() : om.end() + tail.end()]] if tail else []
        idents = [_plain_ident(c) for c in comps]
        if idents and all(idents):
            key = tuple(idents)  # type: ignore[arg-type]
    sm = re.search(r"\bSAMPLE\s+BY\s+(`[^`]+`|\w+)", masked, re.I)
    if sm:
        sample_by = _plain_ident(sql[sm.start(1) : sm.end(1)])
    return TableMeta(key=key, version=version, sign=sign, sample_by=sample_by)


# CH sample space: the declared key's value modulo this denominator,
# kept when below round(fraction * denominator).  A contiguous range,
# so samples are monotone (SAMPLE 0.1 is a subset of SAMPLE 0.2) and
# consistent by key across tables sharing the declared column --
# ClickHouse's SAMPLE contract.  The reference's SAMPLE BY columns are
# already hashes (CounterUserIDHash), so no re-hash here; the filter
# stays a pure pushdown-able scan predicate and the DuckDB-portable
# form is `pmod(col, D) < thresh`.
_SAMPLE_DENOM = 1_000_000

# the FINAL / SAMPLE k [OFFSET m] decoration right after a table
# reference (empty when the reference is bare)
_TABLE_DECO = re.compile(
    r"(?:\s+(FINAL)\b)?(?:\s+SAMPLE\s+([\d./]+)(\s+OFFSET\s+[\d./]+)?)?",
    re.I,
)


def _parse_sample_fraction(txt: str) -> int:
    """``0.1`` / ``3/10`` -> threshold in the _SAMPLE_DENOM space.
    The integer form (``SAMPLE 10000`` = approximate ROW COUNT) needs
    table statistics CH keeps and Spark does not: refused."""
    try:
        frac = Fraction(txt.replace(" ", ""))
    except (ValueError, ZeroDivisionError) as ex:
        raise ValueError(f"chsql: SAMPLE {txt!r} is not a valid fraction") from ex
    if frac == 1:
        # ADVICE r11 #4: SAMPLE 1 is valid CH and reads ALL rows; the
        # full-range threshold keeps the declared-SAMPLE-BY
        # requirement (CH still errors on an unsampled table) while
        # filtering nothing
        return _SAMPLE_DENOM
    if frac > 1:
        raise ValueError(
            f"chsql: SAMPLE {txt} — the integer form is an approximate "
            "row-count target (needs table statistics); use a fraction "
            "in (0, 1]"
        )
    if frac <= 0:
        raise ValueError(f"chsql: SAMPLE {txt} must be a fraction in (0, 1]")
    return max(1, round(frac * _SAMPLE_DENOM))


def _scan_table_decorations(
    sql: str, tables: dict[str, DataFrame]
) -> tuple[str, dict[str, dict]]:
    """Find ``FROM/JOIN <table> [FINAL] [SAMPLE f]`` decorations at
    the table's relation slots (``_table_slots``: a column or alias
    that spells the table's name is no reference), strip them from the
    SQL, and return per-table flags.  A table that appears BOTH
    decorated and bare is refused: the decoration is applied to the
    registered view, so mixed use would silently decorate the bare
    reference too (register the table under two names to mix)."""
    deco: dict[str, dict] = {}
    for name in tables:
        out, last, flags, bare = [], 0, {}, False
        masked = _mask(sql)
        for slot, relation in _table_slots(masked, name):
            if not relation:
                continue
            m = _TABLE_DECO.match(masked, slot.end())
            final_kw, sample_txt, offset_txt = m.groups()
            if not final_kw and not sample_txt:
                bare = True
                continue
            m_flags = {}
            if final_kw:
                m_flags["final"] = True
            if sample_txt:
                # SAMPLE k [OFFSET m]: the [m*D, m*D + k*D) slice of
                # the sample space -- OFFSET shifts the contiguous
                # range, clipped at the top as CH clips (SAMPLE 1/2
                # OFFSET 3/4 reads the last quarter)
                thresh = _parse_sample_fraction(sample_txt)
                lo = 0
                if offset_txt:
                    off_frac_txt = offset_txt.split(None, 1)[1]
                    try:
                        off = Fraction(off_frac_txt.replace(" ", ""))
                    except (ValueError, ZeroDivisionError) as ex:
                        raise ValueError(
                            f"chsql: SAMPLE OFFSET {off_frac_txt!r} is "
                            f"not a valid fraction"
                        ) from ex
                    if not (0 <= off < 1):
                        raise ValueError(
                            f"chsql: SAMPLE OFFSET {off_frac_txt} must "
                            f"be a fraction in [0, 1)"
                        )
                    lo = round(off * _SAMPLE_DENOM)
                m_flags["sample"] = (lo, min(lo + thresh, _SAMPLE_DENOM))
            if flags and m_flags != flags:
                # ADVICE r11 #3: two decorated references with
                # DIFFERENT flags would silently share the last-wins
                # view — the same silent-wrong class as decorated+bare
                raise ValueError(
                    f"chsql: table {name!r} carries conflicting "
                    f"FINAL/SAMPLE decorations; the decoration applies "
                    f"to the whole registered view — pass the table "
                    f"twice under two names to mix"
                )
            flags = m_flags
            out.append(sql[last : m.start()])
            last = m.end()
        if not flags:
            continue
        if bare:
            raise ValueError(
                f"chsql: table {name!r} is referenced both with and "
                f"without FINAL/SAMPLE; the decoration applies to the "
                f"whole registered view — pass the table twice under "
                f"two names to mix decorated and bare reads"
            )
        out.append(sql[last:])
        sql = "".join(out)
        deco[name] = flags
    return sql, deco


def _apply_decorations(
    df: DataFrame, name: str, flags: dict, meta: TableMeta | None
) -> DataFrame:
    """SAMPLE filters first (pure scan predicate, pushes below the
    collapse window), then FINAL collapses -- matching CH, which
    samples the stored parts and collapses what it read, each
    partition on its own."""
    if "sample" in flags:
        if meta is None or not meta.sample_by:
            raise ValueError(
                f"chsql: SAMPLE needs table {name!r}'s declared SAMPLE BY "
                f"key; declare TableMeta(sample_by=...) in table_meta, or "
                f"use operators/sampling.sample_by / sources/warehouse's "
                f"SAMPLE BY layout"
            )
        lo, hi = flags["sample"]
        space = F.pmod(F.col(meta.sample_by), F.lit(_SAMPLE_DENOM))
        # keep the single-sided predicate when un-offset (the shape
        # the pushed-scan plan assertion pins); both forms reach the
        # parquet scan as DataFilters
        cond = space < F.lit(hi)
        if lo:
            cond = (space >= F.lit(lo)) & cond
        df = df.where(cond)
    if "final" in flags:
        if meta is None or not (meta.key and meta.version and meta.sign):
            raise ValueError(
                f"chsql: FINAL collapses rows by table {name!r}'s declared "
                f"(ORDER BY key, version, sign); declare "
                f"TableMeta(key=..., version=..., sign=...) in table_meta, "
                f"or pre-collapse with operators/collapse.collapsed (A11) — "
                f"or rename the alias if FINAL was meant as a table alias"
            )
        # CH collapses only within a partition: a week-partitioned
        # table's FINAL is keyed by (key, _week), which also lets the
        # statement's _week bounds reach the scan below the windows
        key = meta.key
        if _warehouse.week_of(df.schema):
            key = (*key, _warehouse.WEEK_COL)
        df = _collapse_op.collapsed(
            df, key=key, version=meta.version, sign=meta.sign
        )
    return df


def run_sql(
    spark: SparkSession,
    query: str,
    tables: dict[str, DataFrame],
    params: dict[str, str] | None = None,
    table_meta: dict[str, TableMeta] | None = None,
) -> DataFrame:
    """Compile + run a ClickHouse-dialect query (module docstring for
    the supported surface).  ``tables`` maps each table name AS
    WRITTEN in the query to its DataFrame; ``params`` maps ``{{name}}``
    placeholders to SQL fragments; ``table_meta`` declares per-table
    engine metadata enabling ``FINAL`` and ``SAMPLE`` (TableMeta)."""
    sql = strip_comments(query)
    for name, val in (params or {}).items():
        sql = sql.replace("{{" + name + "}}", val)
    # CH GLOBAL is a pure distribution hint (ship the right side to
    # every shard; Spark/AQE plans its own exchanges) -- stripped
    # FIRST so the strictness pre-compiler and the [NOT] IN subquery
    # forms see clean text
    sql = _sub_outside_literals(
        r"\bGLOBAL\s+(?=(ANY|ALL|ASOF|SEMI|ANTI|LEFT|RIGHT|INNER|FULL"
        r"|CROSS|JOIN|IN|NOT)\b)",
        "",
        sql,
        re.I,
    )
    # CH PASTE JOIN (24.x) is a POSITIONAL row-by-row join; Spark
    # would parse PASTE as the left table's ALIAS and the bare `JOIN
    # r` as a condition-free inner join -- a silent CROSS PRODUCT.
    # Refuse by name (r12).
    if re.search(r"\bPASTE\s+JOIN\b", _mask(sql), re.I):
        raise ValueError(
            "chsql: PASTE JOIN (positional row pairing) is not "
            "compiled — a passthrough silently degrades to a cross "
            "product.  Pair by an explicit key, or build positions "
            "with row_number() OVER (ORDER BY <total order>) on both "
            "sides and equi-join them"
        )
    # CH `ALL [LEFT|INNER|...] JOIN` is the DEFAULT multiplicity made
    # explicit (keep every match) == Spark's join semantics already;
    # stripped like GLOBAL, else Spark parses ALL as the left alias
    # and the real alias/ON resolution breaks.  The lookahead keeps
    # UNION ALL / GROUP BY ALL / count(ALL x) untouched (none are
    # followed by a join keyword).
    sql = _sub_outside_literals(
        r"\bALL\s+(?=(LEFT|RIGHT|INNER|FULL|JOIN)\b)",
        "",
        sql,
        re.I,
    )
    # CH JOIN strictness modifiers (ASOF nearest-key / ANY
    # at-most-one) compile through plans/chjoin's pre-compiler (r12:
    # folded into the core front-end; the refusal below it is now the
    # backstop for shapes the pre-compiler cannot bind).  Local
    # import: chjoin imports this module.
    from . import chjoin as _chjoin

    if _chjoin._ANY_MOD.search(_mask(sql)):
        sql, tables = _chjoin.compile_strictness_joins(spark, sql, tables)
    sql, decorations = _scan_table_decorations(sql, tables)
    views: dict[str, DataFrame] = {}
    for i, (name, df) in enumerate(sorted(tables.items(), key=lambda kv: -len(kv[0]))):
        view = f"__chsql_t{i}"
        if name in decorations:
            df = _apply_decorations(
                df, name, decorations[name], (table_meta or {}).get(name)
            )
        df.createOrReplaceTempView(view)
        views[view] = df
        sql = _replace_name(sql, name, view)
    view_cols = {view: list(df.columns) for view, df in views.items()}
    ctx = _schema_ctx(views)
    sql = _rewrite_indexing(sql, ctx)
    sql = _rewrite_array_literals(sql)
    sql = _rewrite_postfix_indexing(sql)
    sql = _rewrite_array_join(sql, ctx)
    # shared_bases collects (view name, base SELECT) pairs the
    # structural compiler wants materialized ONCE instead of scanning
    # the source once per aggregate frame (see _rewrite_summap)
    shared_bases: list[tuple[str, str]] = []
    sql = _rewrite_summap(
        sql, view_cols, shared_bases if _SHARED_SCAN else None, ctx.week_of
    )

    def _post_rewrites(text: str) -> str:
        # every text-level rewrite that runs AFTER the structural
        # compiler must also apply to the extracted base texts --
        # they were part of this same statement until a moment ago
        text = _rewrite_running(text)
        _refuse_state_combinators(text)
        _refuse_families(text)
        text = _rewrite_parametrized(text)
        text = _rewrite_calls(text, ctx)
        text = _rewrite_literals(text)
        return _collapse_ws(text).rstrip(";").rstrip()

    sql = _post_rewrites(sql)
    shared_bases = [(v, _post_rewrites(t)) for v, t in shared_bases]
    # trailing CH decorations with no Spark counterpart: FORMAT picks
    # a CLI wire format (the DataFrame IS the result set here) and
    # SETTINGS tunes CH execution knobs -- both stripped, masked-scan
    # so string literals can't fake a match
    masked = _mask(sql)
    m = re.search(r"\sFORMAT\s+\w+\s*$", masked, re.I)
    if m:
        sql = sql[: m.start()].rstrip()
        masked = masked[: m.start()].rstrip()
    m = re.search(r"\sSETTINGS\s+\w+\s*=[^;]*$", masked, re.I)
    if m:
        sql = sql[: m.start()].rstrip()

    # CH WITH prefix: scalar aliases substituted textually (the CH
    # `WITH expr AS name` form), subquery CTEs carried as a Spark
    # WITH prefix into every compiled statement
    masked = _mask(sql)
    # the shared-scan base texts were lifted out of this statement, so
    # the read-decoration refusals below must scan them too (a SAMPLE/
    # FINAL/ANY JOIN inside the lifted FROM/WHERE refused before the
    # lift and must keep refusing, not surface as a Spark parse error)
    _shared_masked = [_mask(t) for _v, t in shared_bases]
    # CH `SAMPLE k` reads a deterministic slice of a table's declared
    # SAMPLE BY key; a bare DataFrame has no such key, so the clause
    # cannot be honored faithfully -- refuse with the operator pointer
    # instead of Spark's opaque parse error
    if any(
        re.search(r"\bSAMPLE\s+[\d./]", mt, re.I)
        for mt in [masked] + _shared_masked
    ):
        # direct `FROM table SAMPLE f` was compiled above when the
        # table declares TableMeta(sample_by=...); what remains here
        # is a placement with no declared key (subquery, undeclared
        # table) -- refuse
        raise ValueError(
            "chsql: SAMPLE needs the table's declared SAMPLE BY key; "
            "declare TableMeta(sample_by=...) in run_sql's table_meta, "
            "or use operators/sampling.sample_by (deterministic hash "
            "sample) / sources/warehouse's SAMPLE BY layout"
        )
    # CH `FROM t FINAL` collapses/deduplicates ON READ per the table
    # engine's version key; Spark would silently parse FINAL as a
    # table ALIAS and skip the collapse — the worst silent-wrong
    # class, so refuse (rename the alias if FINAL was meant as one)
    if any(
        re.search(
            r"(\bFROM\s+|\bJOIN\s+|,\s*)(`[^`]+`|\w+)\s+FINAL\b", mt, re.I
        )
        or re.search(r"\)\s+FINAL\b", mt, re.I)
        for mt in [masked] + _shared_masked
    ):
        # direct `FROM table FINAL` was compiled above when the table
        # declares TableMeta(key, version, sign); what remains is a
        # target with no declaration (Spark would silently parse FINAL
        # as a table ALIAS and skip the collapse — the worst
        # silent-wrong class)
        raise ValueError(
            "chsql: FINAL collapses rows by the table engine's version "
            "key on read; declare TableMeta(key=..., version=..., "
            "sign=...) in run_sql's table_meta, or pre-collapse with "
            "operators/collapse.collapsed (A11) — or rename the alias "
            "if FINAL was meant as a table alias"
        )
    for bad, hint in (
        ("ANY", "dedupe the build side or use argMax per key"),
        ("ASOF", "operators/rangejoin.asof_join is the engine's form"),
    ):
        # CH accepts the modifier BEFORE or AFTER the direction word
        # (`ANY LEFT JOIN` == `LEFT ANY JOIN`): refuse both spellings
        if any(
            re.search(
                rf"\b{bad}\s+(LEFT\s+|RIGHT\s+|INNER\s+|FULL\s+)?JOIN\b",
                mt,
                re.I,
            )
            or re.search(
                rf"\b(LEFT|RIGHT|INNER|FULL)\s+{bad}\s+JOIN\b", mt, re.I
            )
            for mt in [masked] + _shared_masked
        ):
            raise ValueError(
                f"chsql: CH {bad} JOIN changes row multiplicity and is not "
                f"mapped; {hint}"
            )
    _with_scalars: list[tuple[str, str]] = []
    cte_prefix, sql = _extract_with(sql, _with_scalars)

    # materialize each shared-scan base exactly once (eager
    # localCheckpoint: the N aggregate frames then re-read the stored
    # partitions instead of re-running the scan N times; recomputed
    # from the inputs on EVERY run_sql call -- nothing persists across
    # invocations, and the bench's release_storage unpersists it).
    # CH scalar WITH aliases substitute textually into the main text
    # above; the lifted base texts need the same substitution.
    for view, btxt in shared_bases:
        for name, expr in _with_scalars:
            btxt = _sub_outside_literals(
                rf"(?<![\w`]){re.escape(name)}(?![\w`])", f"({expr})", btxt
            )
        stmt = f"{cte_prefix} {btxt}" if cte_prefix else btxt
        spark.sql(stmt).localCheckpoint().createOrReplaceTempView(view)

    # CH binds LIMIT (and ORDER BY) to EACH branch of a top-level
    # UNION ALL; ANSI binds them to the union.  Compile branches
    # separately (tables/rewrites already applied above).
    branches = _split_union_all(sql)
    if len(branches) > 1:
        out = _compile_single(spark, branches[0], cte_prefix, ctx.week_of)
        for b in branches[1:]:
            out = out.unionAll(_compile_single(spark, b, cte_prefix, ctx.week_of))
        return out
    return _compile_single(spark, sql, cte_prefix, ctx.week_of)


def _extract_with(
    sql: str, scalars_out: list[tuple[str, str]] | None = None
) -> tuple[str, str]:
    """Split a leading CH ``WITH`` into (spark CTE prefix, remaining
    query).  Two CH item shapes: ``name AS (subquery)`` stays a CTE
    (ANSI, Spark-native); ``expr AS name`` is CH's SCALAR alias --
    substituted textually as ``(expr)`` into the rest of the query
    (Spark has no scalar WITH).  Scalar aliases may not reference each
    other (CH allows it; not reproduced -- raises via the final
    unresolved-name error).  ``scalars_out`` (if given) receives the
    (name, expr) scalar pairs so run_sql can apply the same
    substitution to shared-scan base texts lifted out of the
    statement."""
    if not re.match(r"\s*WITH\b", sql, re.I):
        return "", sql
    sel = _find_clause(sql, "SELECT")
    if not sel:
        raise ValueError("chsql: WITH without a top-level SELECT")
    head = sql[re.match(r"\s*WITH\b", sql, re.I).end() : sel.start()]
    ctes: list[str] = []
    scalars: list[tuple[str, str]] = []
    for item in _split_top(head):
        it = item.strip()
        if not it:
            continue
        if re.match(r"^(`[^`]+`|\w+)\s+AS\s*\(", it, re.I) and it.endswith(")"):
            ctes.append(it)
            continue
        m3 = re.search(r"\s+AS\s+(`[^`]+`|\w+)\s*$", it, re.I)
        if m3:
            scalars.append((m3.group(1).strip("`"), it[: m3.start()].strip()))
            continue
        raise ValueError(f"chsql: unsupported WITH item {it!r}")
    rest = sql[sel.start() :]
    for name, expr in scalars:
        # literal-safe: a scalar alias named inside a '...' string
        # must stay text
        rest = _sub_outside_literals(
            rf"(?<![\w`]){re.escape(name)}(?![\w`])", f"({expr})", rest
        )
    if scalars_out is not None:
        scalars_out.extend(scalars)
    return ("WITH " + ", ".join(ctes)) if ctes else "", rest


def _array_join_calls(txt: str | None) -> list[tuple[int, int, str]]:
    """(start, end, arg-text) span of every ``arrayJoin(...)`` call."""
    if not txt:
        return []
    out = []
    masked = _mask(txt)
    for m in re.finditer(r"\barrayJoin\s*\(", masked):
        open_idx = masked.index("(", m.start())
        close = _match_paren(masked, open_idx)
        out.append((m.start(), close + 1, txt[open_idx + 1 : close]))
    return out


def _compile_single(
    spark: SparkSession,
    sql: str,
    cte_prefix: str = "",
    week_of: Mapping[str, str] = MappingProxyType({}),
) -> DataFrame:
    """Clause surgery + alias inlining + WITH TOTALS for ONE already
    pre-rewritten SELECT (no comments/params/table names/unions).
    ``cte_prefix`` (a Spark ``WITH name AS (...)`` chain from
    _extract_with) is prepended to every statement compiled here;
    ``week_of`` (_SchemaCtx) enables _week_bounds on the WHERE."""

    def _sql(text: str) -> DataFrame:
        return spark.sql(f"{cte_prefix} {text}" if cte_prefix else text)
    spans = _segment(sql)
    sel_start, sel_end = spans["SELECT"]
    select_body = sql[sel_start + len("SELECT") : sel_end]
    # CH `SELECT DISTINCT ON (keys) ...` IS `LIMIT 1 BY keys`
    # (clickhouse docs equate them) -- strip the modifier here and
    # fold it into the LIMIT BY compile below
    distinct_on = None
    dm = re.match(r"\s*DISTINCT\s+ON\s*\(", select_body, re.I)
    if dm:
        close = _match_paren(_mask(select_body), dm.end() - 1)
        distinct_on = select_body[dm.end() : close].strip()
        select_body = select_body[close + 1 :]
    parsed, aliases = _select_aliases(select_body)
    select_txt = ", ".join(
        f"{expr} AS `{alias}`" if alias else expr for expr, alias in parsed
    )

    def clause(name: str) -> str | None:
        if name not in spans:
            return None
        s, e = spans[name]
        return sql[s:e]

    frm = clause("FROM")
    where = clause("WHERE")
    group = clause("GROUP BY")
    having = clause("HAVING")
    qualify = clause("QUALIFY")
    order = clause("ORDER BY")
    limit = clause("LIMIT")

    # CH NULL ordering (NULLS LAST asc / FIRST desc -- Spark defaults
    # are the opposite); WITH FILL bodies keep their spelling for the
    # fill parser
    if order and re.search(r"\bCOLLATE\b", _mask(order), re.I):
        raise ValueError(
            "chsql: ORDER BY ... COLLATE is not mapped (CH's ICU "
            "collation names have no stable Spark collator "
            "equivalent) — order by a normalized key instead, e.g. "
            "lower(col) or a locale-folded expression"
        )
    if order and not re.search(r"\bWITH\s+FILL\b", _mask(order), re.I):
        o_body = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.I)
        order = "ORDER BY " + _ch_nulls_order(o_body)

    # PREWHERE is CH's scan-stage filter hint; semantics == one more
    # WHERE conjunct (Catalyst pushes filters to the scan on its own)
    prewhere = clause("PREWHERE")
    if prewhere:
        pw_body = re.sub(r"^PREWHERE\s+", "", prewhere, flags=re.I)
        if where:
            w_body = re.sub(r"^WHERE\s+", "", where, flags=re.I)
            where = f"WHERE ({pw_body}) AND ({w_body})"
        else:
            where = f"WHERE {pw_body}"

    with_totals = False
    if group:
        m = re.search(r"\bWITH\s+TOTALS\b", group, re.I)
        if m:
            with_totals = True
            group = group[: m.start()].strip()

    def _inline(c: str | None) -> str | None:
        if c is None:
            return None
        kw_m = re.match(r"(WHERE|GROUP BY|HAVING)\s+", c, re.I)
        body = c[kw_m.end():] if kw_m else c
        head = c[: kw_m.end()] if kw_m else ""
        return head + inline_aliases(body, aliases)

    where, group, having = _inline(where), _inline(group), _inline(having)
    if where:
        kw_m = re.match(r"WHERE\s+", where, re.I)
        where = where[: kw_m.end()] + _week_bounds(where[kw_m.end() :], frm, week_of)

    # CH predicate truthiness: WHERE/HAVING accept UInt8 (nonzero =
    # true), so `WHERE notEmpty(x)` is idiomatic CH.  Spark requires
    # BOOLEAN; CAST(int AS BOOLEAN) is exactly the nonzero rule.
    # Applies to the TOP-LEVEL WHERE/HAVING only -- inside a
    # pass-through subquery write the comparison explicitly
    # (notEmpty(x) = 1).
    def _as_predicate(c: str | None) -> str | None:
        if c is None:
            return None
        kw_m = re.match(r"(WHERE|HAVING)\s+", c, re.I)
        body = c[kw_m.end() :] if kw_m else c
        head = c[: kw_m.end()] if kw_m else ""
        return f"{head}CAST(({body}) AS BOOLEAN)"

    where, having = _as_predicate(where), _as_predicate(having)

    # ---- CH arrayJoin: hoist into an exploding inner projection ----
    aj_found = {
        k: _array_join_calls(v)
        for k, v in (
            ("select", select_txt), ("where", where), ("group", group),
            ("having", having), ("order", order),
        )
    }
    if any(aj_found.values()):
        if aj_found["where"]:
            raise ValueError(
                "chsql: arrayJoin in WHERE is not supported (WHERE runs "
                "before the expansion here)"
            )
        if with_totals:
            raise ValueError("chsql: arrayJoin cannot combine with WITH TOTALS")
        args = {
            _collapse_ws(a) for calls in aj_found.values() for (_, _, a) in calls
        }
        if len(args) > 1:
            raise ValueError(
                "chsql: one distinct arrayJoin expression per SELECT, got "
                + " | ".join(sorted(args))
            )
        arg = args.pop()
        alias = "__aj"  # reuse the select list's explicit alias if bound
        for expr, al in parsed:
            c = _array_join_calls(expr)
            if al and c and expr.strip() == expr[c[0][0] : c[0][1]]:
                alias = al
                break

        def _subst_aj(txt: str | None) -> str | None:
            for s, e, _ in reversed(_array_join_calls(txt)):
                txt = txt[:s] + f"`{alias}`" + txt[e:]
            return txt

        select_txt = _subst_aj(select_txt)
        group, having, order = _subst_aj(group), _subst_aj(having), _subst_aj(order)
        inner = " ".join(
            p for p in (f"SELECT *, explode({arg}) AS `{alias}`", frm, where) if p
        )
        frm, where = f"FROM ({inner})", None

    # CH `QUALIFY <pred>` (window-function filter, CH 23.x+): Spark
    # has no QUALIFY -- compile as a wrapping subquery that computes
    # the predicate as a hidden boolean select item at the SAME query
    # level (so window functions see the post-GROUP-BY rows, CH's
    # contract) and filters on it outside.  Select aliases inline
    # (CH resolves them in QUALIFY) and UInt8 truthiness applies as
    # in WHERE/HAVING.  Everything downstream (ORDER BY, LIMIT [BY],
    # WITH FILL, DISTINCT ON) composes over the rewritten frame.
    if qualify:
        q_body = re.sub(r"^QUALIFY\s+", "", qualify, flags=re.I)
        if _array_join_calls(q_body):
            raise ValueError(
                "chsql: arrayJoin in QUALIFY is not supported (hoist "
                "the expansion into the select list first)"
            )
        if with_totals:
            raise ValueError(
                "chsql: QUALIFY cannot combine with WITH TOTALS (the "
                "totals row has no window position to filter on)"
            )
        if re.match(r"\s*DISTINCT\b", select_txt, re.I):
            raise ValueError(
                "chsql: QUALIFY with SELECT DISTINCT is not compiled "
                "(CH applies DISTINCT after QUALIFY; wrap the QUALIFY "
                "query in a subquery and SELECT DISTINCT from it)"
            )
        q_body = inline_aliases(q_body, aliases)
        inner = " ".join(
            p
            for p in (
                f"SELECT {select_txt}, CAST(({q_body}) AS BOOLEAN) AS __qual",
                frm, where, group, having,
            )
            if p
        )
        select_txt = "* EXCEPT (__qual)"
        frm, where, group, having = f"FROM ({inner})", "WHERE __qual", None, None

    # CH `ORDER BY axis WITH FILL [FROM f] [TO t] [STEP s]
    # [INTERPOLATE (cols)]`: densify the aggregated axis via
    # operators/series.fill_series (spanned_fill_series when FROM/TO
    # present: the grid is phase-anchored at FROM, strictly below TO,
    # and original rows OUTSIDE the span are kept, the CH rule).
    # Dialect scope: ONE sort column when FILL is present; non-axis
    # columns fill with their TYPE DEFAULTS (0 / '' / false);
    # INTERPOLATE columns carry the last seen value instead.
    # FROM/TO bounds take integer or toDate('...')/DATE '...'
    # literals (an expression bound would need evaluation before
    # planning).
    fill_spec = None
    if order and re.search(r"\bWITH\s+FILL\b", order, re.I):
        if with_totals:
            raise ValueError("chsql: WITH FILL cannot combine with WITH TOTALS")
        body = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.I)
        if len(_split_top(body)) != 1:
            raise ValueError("chsql: WITH FILL supports a single sort column")
        # toDate('...') reaches this clause already rewritten to
        # CAST('...' AS DATE) (the call pass runs first)
        _bound = (
            r"-?\d+|CAST\s*\(\s*'[^']+'\s+AS\s+DATE\s*\)"
            r"|toDate\s*\(\s*'[^']+'\s*\)|DATE\s*'[^']+'"
        )
        fm = re.match(
            r"^\s*(\S+)\s*(ASC|DESC)?\s*WITH\s+FILL"
            rf"(?:\s+FROM\s+({_bound}))?"
            rf"(?:\s+TO\s+({_bound}))?"
            r"(?:\s+STEP\s+(INTERVAL\s+\d+\s+\w+|\d+))?"
            r"(?:\s+INTERPOLATE\s*\(([^)]*)\))?\s*$",
            body, re.I,
        )
        if not fm:
            raise ValueError(
                f"chsql: unsupported WITH FILL spelling {body!r} "
                "(bounds must be integer or toDate/DATE literals)"
            )
        axis = fm.group(1).strip("`")
        desc = bool(fm.group(2)) and fm.group(2).upper() == "DESC"

        def _bound_value(txt: str | None):
            if txt is None:
                return None
            if re.fullmatch(r"-?\d+", txt):
                return int(txt)
            dm = re.search(r"'([^']+)'", txt)
            try:
                return datetime.date.fromisoformat(dm.group(1))
            except ValueError as ex:
                raise ValueError(
                    f"chsql: WITH FILL bound {txt!r} is not a valid "
                    f"YYYY-MM-DD date"
                ) from ex

        frm_b, to_b = _bound_value(fm.group(3)), _bound_value(fm.group(4))
        step_txt = fm.group(5)
        interp = [
            c.strip().strip("`") for c in (fm.group(6) or "").split(",") if c.strip()
        ]
        if any(re.search(r"\sAS\s", c, re.I) for c in interp):
            raise ValueError(
                "chsql: INTERPOLATE (col AS expr) is not supported; "
                "carry-forward only"
            )
        if step_txt:
            im = re.match(r"INTERVAL\s+(\d+)\s+(\w+)", step_txt, re.I)
            step = f"{im.group(1)} {im.group(2).lower()}" if im else step_txt
        else:
            step = None  # decided from the axis dtype below
        fill_spec = (axis, desc, step, interp, frm_b, to_b)
        order = None

    # CH `LIMIT [off,] n BY keys [LIMIT ...]`: first n rows (after
    # off) of each key group in the query's ORDER BY order, applied
    # BEFORE the trailing global LIMIT (operators/series.limit_by
    # semantics, compiled as a rank window over the aggregated frame)
    limit_by = None
    if limit:
        bm = re.match(
            r"LIMIT\s+(?:(\d+)\s*,\s*)?(\d+)\s+BY\s+(.+?)(?:\s+LIMIT\s+(.+))?$",
            limit, re.I | re.S,
        )
        if bm:
            if fill_spec:
                # WITH FILL consumed the ORDER BY above; name the real
                # conflict instead of claiming the ORDER BY is missing
                raise ValueError(
                    "chsql: LIMIT BY cannot combine with WITH FILL "
                    "(compose operators/series.limit_by + fill_series "
                    "via the operator API instead)"
                )
            if not order:
                raise ValueError(
                    "chsql: LIMIT BY requires an ORDER BY (the per-key "
                    "rank is otherwise nondeterministic)"
                )
            if with_totals:
                raise ValueError("chsql: LIMIT BY cannot combine with WITH TOTALS")
            limit_by = (int(bm.group(1) or 0), int(bm.group(2)), bm.group(3).strip())
            limit = f"LIMIT {bm.group(4)}" if bm.group(4) else None

    # DISTINCT ON (keys) == LIMIT 1 BY keys; unlike the spelled-out
    # LIMIT BY an ORDER BY is optional in CH (the pick is then
    # first-in-block-order, nondeterministic) -- without one this
    # engine picks the smallest row by the output columns in select
    # order (ASC NULLS FIRST), the same documented deterministic
    # refinement as the ANY-join build side (plans/chjoin.py)
    if distinct_on:
        if limit_by:
            raise ValueError(
                "chsql: DISTINCT ON cannot combine with LIMIT BY "
                "(DISTINCT ON (keys) already IS LIMIT 1 BY keys)"
            )
        if fill_spec:
            raise ValueError(
                "chsql: DISTINCT ON cannot combine with WITH FILL"
            )
        if with_totals:
            raise ValueError(
                "chsql: DISTINCT ON cannot combine with WITH TOTALS"
            )
        limit_by = (0, 1, distinct_on)

    # CH `LIMIT n WITH TIES`: the first n rows of the ORDER BY plus
    # every row tied with the n-th -- a rank() window filter (Spark's
    # WindowGroupLimit pushes it into the sort)
    with_ties = None
    if limit:
        tm = re.match(
            r"LIMIT\s+(?:(\d+)\s*,\s*)?(\d+)\s+WITH\s+TIES\s*$", limit, re.I
        )
        if tm:
            if tm.group(1):
                raise ValueError(
                    "chsql: LIMIT offset, n WITH TIES is not compiled "
                    "(the offset row's tie group is ambiguous); use a "
                    "rank window explicitly"
                )
            if fill_spec or not order:
                raise ValueError(
                    "chsql: LIMIT WITH TIES requires a plain ORDER BY "
                    "(CH errors without one; ties are defined by it)"
                )
            if limit_by or with_totals:
                raise ValueError(
                    "chsql: LIMIT WITH TIES cannot combine with "
                    "LIMIT BY / DISTINCT ON / WITH TOTALS"
                )
            with_ties = int(tm.group(2))
            limit = None
    if limit:
        lm = re.match(r"LIMIT\s+(\d+)\s*,\s*(\d+)\s*$", limit, re.I)
        if lm:
            off, n = int(lm.group(1)), int(lm.group(2))
            limit = f"LIMIT {n}" + (f" OFFSET {off}" if off else "")

    def assemble(parts: list[str | None]) -> str:
        return " ".join(p for p in parts if p)

    if limit_by:
        off, nby, keys = limit_by
        if order:
            order_body = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.I)
        else:  # ORDER-BY-less DISTINCT ON: deterministic smallest row
            names = [
                al or (_plain_ident(ex) or "")
                for ex, al in parsed
            ]
            if not all(names):
                raise ValueError(
                    "chsql: DISTINCT ON without ORDER BY needs every "
                    "select item to be a plain column or carry an "
                    "alias (the deterministic pick orders by the "
                    "output columns) — add an ORDER BY or aliases"
                )
            order_body = ", ".join(
                f"`{n}` ASC NULLS FIRST" for n in names
            )
        sub = assemble(["SELECT", select_txt, frm, where, group, having])
        rn = (
            f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY {keys} "
            f"ORDER BY {order_body}) AS __rn FROM ({sub})) "
            f"WHERE __rn > {off} AND __rn <= {off + nby}"
        )
        kept = _sql(rn).drop("__rn")
        view = "__chsql_limit_by"
        kept.createOrReplaceTempView(view)
        return spark.sql(assemble([f"SELECT * FROM {view}", order, limit]))

    if with_ties:
        order_body = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.I)
        sub = assemble(["SELECT", select_txt, frm, where, group, having])
        rk = (
            f"SELECT * FROM (SELECT *, rank() OVER (ORDER BY {order_body}) "
            f"AS __rk FROM ({sub})) WHERE __rk <= {with_ties}"
        )
        kept = _sql(rk).drop("__rk")
        view = "__chsql_with_ties"
        kept.createOrReplaceTempView(view)
        return spark.sql(assemble([f"SELECT * FROM {view}", order]))

    main = assemble(
        ["SELECT", select_txt, frm, where, group, having, order,
         None if fill_spec else limit]
    )
    detail = _sql(main)

    if fill_spec:
        from ..operators.series import fill_series, spanned_fill_series

        axis, desc, step, interp, frm_b, to_b = fill_spec
        dtypes = {f.name: f.dataType for f in detail.schema.fields}
        if axis not in dtypes:
            raise ValueError(f"chsql: WITH FILL axis {axis!r} not in the output")
        if step is None:
            step = (
                "1 day"
                if isinstance(dtypes[axis], (T.DateType, T.TimestampType))
                else "1"
            )
        fills: dict[str, object] = {}
        for f in detail.schema.fields:
            if f.name == axis or f.name in interp:
                continue
            if isinstance(f.dataType, T.NumericType):
                fills[f.name] = 0
            elif isinstance(f.dataType, T.StringType):
                fills[f.name] = ""
            elif isinstance(f.dataType, T.BooleanType):
                fills[f.name] = False
        if frm_b is not None or to_b is not None:
            for b in (frm_b, to_b):
                if b is None:
                    continue
                b_is_date = isinstance(b, datetime.date)
                ax_is_date = isinstance(dtypes[axis], T.DateType)
                if b_is_date != ax_is_date:
                    raise ValueError(
                        f"chsql: WITH FILL bound {b!r} does not match "
                        f"axis {axis!r} type {dtypes[axis].simpleString()}"
                    )
            filled = spanned_fill_series(
                detail, axis, step=step, fill=fills, interpolate=interp,
                frm=frm_b, to=to_b,
            )
        else:
            filled = fill_series(
                detail, axis, step=step, fill=fills, interpolate=interp
            )
        filled = filled.orderBy(F.col(axis).desc() if desc else F.col(axis))
        if limit:
            lm2 = re.match(r"LIMIT\s+(\d+)(?:\s+OFFSET\s+(\d+))?\s*$", limit, re.I)
            if lm2:
                n2, off2 = int(lm2.group(1)), int(lm2.group(2) or 0)
                if off2:
                    filled = filled.offset(off2)
                filled = filled.limit(n2)
        return filled
    if not with_totals:
        return detail

    # totals: global aggregate over pre-HAVING rows, group keys -> NULL
    group_exprs = [
        g.strip().strip("()").strip()
        for g in _split_top(re.sub(r"^GROUP BY\s+", "", group, flags=re.I))
    ]
    totals_items = []
    for (expr, alias), field in zip(parsed, detail.schema.fields):
        if expr.strip().strip("()").strip() in group_exprs:
            expr = f"CAST(NULL AS {field.dataType.simpleString()})"
        totals_items.append(f"{expr} AS `{field.name}`")
    totals = _sql(assemble(["SELECT", ", ".join(totals_items), frm, where]))
    return detail.unionAll(totals)


# ---------------------------------------------------------------------------
# Yandex Query dialect pieces (README.md:190-301): `conn`.`path` WITH
# (format, compression, Schema=(...)) reads, binding inserts
# ---------------------------------------------------------------------------

# YQ spells types case-insensitively (uint64, string, datetime...);
# normalize onto the ClickHouse grid and reuse sources/chtypes.
_YQ_TYPES = {
    "uint8": "UInt8", "uint16": "UInt16", "uint32": "UInt32",
    "uint64": "UInt64", "int8": "Int8", "int16": "Int16",
    "int32": "Int32", "int64": "Int64", "float": "Float32",
    "double": "Float64", "string": "String", "utf8": "String",
    "date": "Date", "datetime": "DateTime", "timestamp": "DateTime",
    "bool": "Bool",
}


def parse_yq_schema(body: str) -> T.StructType:
    """``Schema = (Name Type [not null], ...)`` -> StructType via the
    chtypes CH grid (YQ's UInt64 rides the same lossless DECIMAL(20,0)
    policy)."""
    from ..sources import chtypes

    fields = []
    for item in _split_top(body):
        m = re.match(r"\s*(\w+)\s+(\w+)(\s+not\s+null)?\s*$", item, re.I)
        if not m:
            raise ValueError(f"chsql: unsupported YQ schema item {item!r}")
        name, typ, notnull = m.group(1), m.group(2), bool(m.group(3))
        ch_name = _YQ_TYPES.get(typ.lower())
        if ch_name is None:
            raise ValueError(f"chsql: unsupported YQ type {typ!r}")
        dt, _ = chtypes.ch_to_spark(ch_name)
        fields.append(T.StructField(name, dt, not notnull))
    return T.StructType(fields)


_WITH_OPTS = re.compile(r"(\w+)\s*=\s*(?:'([^']*)'|(\w+))")


def _parse_with_block(body: str) -> tuple[dict[str, str], str | None]:
    """(options, schema body) from a YQ ``WITH (...)`` block."""
    schema_body = None
    m = re.search(r"\bSchema\s*=\s*\(", body, re.I)
    if m:
        close = _match_paren(_mask(body), m.end() - 1)
        schema_body = body[m.end() : close]
        body = body[: m.start()] + body[close + 1 :]
    # findall yields '' (not None) for the non-participating alternative
    opts = {k.lower(): (v1 or v2) for k, v1, v2 in _WITH_OPTS.findall(body)}
    return opts, schema_body


_FROM_BINDING = re.compile(
    r"\bFROM\s+(`[^`]+`\s*\.\s*`[^`]+`)\s+WITH\s*\(", re.I
)
_INSERT_BINDING = re.compile(
    r"^\s*insert\s+into\s+(`[^`]+`\s*\.\s*`[^`]+`)\s+WITH\s*\(", re.I
)


def _binding(
    stmt: str, m: re.Match, url_map: dict[str, str], kind: str
) -> tuple[str, dict[str, str], str | None, int]:
    """(spelling, options, schema body, index of the closing paren) of
    the YQ binding ``m`` matched; the spelling must have a ``url_map``
    entry and the format must be csv_with_names."""
    spelling = re.sub(r"\s*\.\s*", ".", m.group(1).strip())
    if spelling not in url_map:
        raise ValueError(f"chsql: no url_map entry for {spelling!r}")
    close = _match_paren(_mask(stmt), m.end() - 1)
    opts, schema_body = _parse_with_block(stmt[m.end() : close])
    if opts.get("format", "").lower() != "csv_with_names":
        raise ValueError(
            f"chsql: unsupported {kind} format {opts.get('format')!r}"
        )
    return spelling, opts, schema_body, close


def _bind_reads(
    spark: SparkSession,
    sql: str,
    url_map: dict[str, str],
    tables: dict[str, DataFrame],
) -> str:
    """Rewrite each ``FROM `conn`.`path` WITH (format=csv_with_names,
    ..., Schema=(...))`` read to ``FROM <synthetic name>`` and bind that
    name in ``tables`` to a schema-on-read frame over
    ``url_map[spelling]``."""
    from ..sources import csvgz

    n = 0
    while m := _FROM_BINDING.search(_mask(sql)):
        spelling, _, schema_body, close = _binding(sql, m, url_map, "binding")
        if schema_body is None:
            raise ValueError("chsql: binding read requires Schema=(...)")
        name = f"__chsql_b{n}"
        n += 1
        tables[name] = csvgz.read_csv(
            spark, url_map[spelling], parse_yq_schema(schema_body)
        )
        sql = sql[: m.start()] + f"FROM {name} " + sql[close + 1 :]
    return sql


# ---------------------------------------------------------------------------
# multi-statement scripts (the reference's S3 workflow, README.md:135-167)
# ---------------------------------------------------------------------------

# names and sources are matched as the script spells them: a source
# such as ``hits_<id трансфера>`` contains a space
_CREATE_S3 = re.compile(
    r"^\s*create\s+table\s+(\S+?)(?:\s+on\s+cluster\s+.+?)?\s+as\s+(.+?)\s+"
    r"ENGINE\s*=\s*S3\(\s*'([^']+)'\s*,\s*'([^']+)'\s*,\s*'([^']+)'\s*\)",
    re.I | re.S,
)
_INSERT = re.compile(
    r"^\s*insert\s+into\s+(.+?)\s+(?:settings\s+[^\s,]+(?:\s*,\s*\S+)*\s+)?"
    r"(select\b.*)$",
    re.I | re.S,
)


def _split_statements(script: str) -> list[str]:
    masked = _mask(script)
    parts, last = [], 0
    for i, c in enumerate(masked):
        if c == ";":
            parts.append(script[last:i])
            last = i + 1
    parts.append(script[last:])
    return [p.strip() for p in parts if p.strip()]


def _split_union_all(sql: str) -> list[str]:
    masked = _mask(sql)
    parts, last = [], 0
    for m in re.finditer(r"\bUNION\s+ALL\b", masked, re.I):
        depth = masked.count("(", 0, m.start()) - masked.count(")", 0, m.start())
        if depth == 0:
            parts.append(sql[last : m.start()])
            last = m.end()
    parts.append(sql[last:])
    return [p.strip() for p in parts]


def _s3_frame(spark: SparkSession, dir_: str, schema: T.StructType) -> DataFrame:
    """The S3 table stored under ``dir_``, listed now; a table with no
    objects yet reads as empty (CH's S3 table over zero objects).  A
    schema copied from a warehouse table drops its week mark: the
    objects' ``_week`` is a plain column, not a partition."""
    from ..sources import csvgz

    schema = _warehouse.unmarked(schema)
    if glob.glob(dir_ + "/*.csv.gz"):
        return csvgz.read_csv(spark, dir_ + "/*.csv.gz", schema)
    return (
        spark.createDataFrame([], schema)
        .withColumn("_path", F.lit(None).cast("string"))
        .withColumn("_file", F.lit(None).cast("string"))
    )


def run_script(
    spark: SparkSession,
    script: str,
    tables: dict[str, DataFrame],
    url_map: dict[str, str],
    params: dict[str, str] | None = None,
) -> DataFrame | None:
    """Execute a multi-statement ClickHouse script covering the
    reference's S3 export workflow VERBATIM (README.md:135-167) and its
    YQ bindings (README.md:190-216):

    - ``CREATE TABLE x [ON CLUSTER ...] AS src ENGINE = S3(url,
      'CSVWithNames', 'gzip') [SETTINGS ...]`` -- registers an
      S3-backed CSV-gz table, under ``x`` and (when ``x`` is
      db-qualified) its bare name: the schema comes from ``src``, a
      caller table or an earlier S3 table (schema-on-read, never
      inferred); the object URL maps to a local/object-store
      directory through ``url_map``.
    - ``INSERT INTO x [SETTINGS s3_create_new_file_on_insert=1]
      SELECT ...`` -- one new csv.gz object per insert with the
      ClickHouse naming convention (sources/csvgz.insert_csv).
    - ``FROM `conn`.`path` WITH (format=csv_with_names, ...,
      Schema=(...))`` reads and ``INSERT INTO `conn`.`path` WITH
      (format='csv_with_names', ...) SELECT ...`` writes, each path
      mapped through ``url_map`` by its spelling.
    - ``SELECT``s over caller, S3 and binding tables, with
      ClickHouse's virtual ``_path``/``_file`` columns on S3 tables
      and PER-BRANCH ``LIMIT`` inside top-level ``UNION ALL``.

    Every SELECT (a statement, or an INSERT's source) compiles through
    :func:`run_sql`, whose ``tables`` map binds the caller's tables,
    every S3 table (read from its directory when the statement runs,
    so it sees the objects earlier inserts wrote) and the statement's
    binding reads.  Returns the LAST statement's DataFrame when it is a
    SELECT, else None.
    """
    from ..sources import csvgz

    text = strip_comments(script)
    for name, val in (params or {}).items():
        text = text.replace("{{" + name + "}}", val)
    # S3 table spelling -> (dir, object basename, schema)
    s3: dict[str, tuple[str, str, T.StructType]] = {}
    last_df: DataFrame | None = None

    def _compile(sql: str) -> DataFrame:
        # one read per S3 table, bound under each of its spellings
        frames = {m: _s3_frame(spark, m[0], m[2]) for m in set(s3.values())}
        bound = {**tables, **{n: frames[m] for n, m in s3.items()}}
        sql = _bind_reads(spark, sql, url_map, bound)
        return run_sql(spark, sql, bound)

    for stmt in _split_statements(text):
        last_df = None
        mb = _INSERT_BINDING.match(stmt)
        if mb:
            spelling, opts, _, close = _binding(stmt, mb, url_map, "insert")
            df = _compile(stmt[close + 1 :].strip())
            path_part = spelling.rsplit(".`", 1)[-1].strip("`")
            base = [s for s in path_part.split("/") if s][-1] if path_part.strip("/") else "out"
            csvgz.insert_csv(
                df, url_map[spelling], base,
                compression=opts.get("compression", "none"),
            )
            continue
        m = _CREATE_S3.match(stmt)
        if m:
            name, src, url, fmt, codec = m.groups()
            if fmt.lower() != "csvwithnames" or codec.lower() != "gzip":
                raise ValueError(f"chsql: unsupported S3 format {fmt!r}/{codec!r}")
            if url not in url_map:
                raise ValueError(f"chsql: no url_map entry for {url!r}")
            if src in s3:
                schema = s3[src][2]
            elif src in tables:
                schema = tables[src].schema
            else:
                raise ValueError(
                    f"chsql: CREATE TABLE source {src!r} is neither a "
                    f"caller table nor an S3 table of this script"
                )
            meta = (url_map[url], url.rsplit("/", 1)[-1].split(".")[0], schema)
            s3[name] = meta
            if "." in name:
                s3[name.split(".", 1)[1]] = meta
            continue
        m = _INSERT.match(stmt)
        if m:
            target, select_sql = m.groups()
            if target not in s3:
                raise ValueError(f"chsql: INSERT into unknown S3 table {target!r}")
            df = _compile(select_sql)
            csvgz.insert_csv(df, s3[target][0], s3[target][1])
            continue
        # a SELECT (run_sql itself applies CH's per-branch LIMIT
        # binding for top-level UNION ALL)
        last_df = _compile(stmt)
    return last_df
