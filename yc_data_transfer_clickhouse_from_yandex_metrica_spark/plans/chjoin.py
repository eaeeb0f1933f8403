"""ClickHouse ASOF / ANY join strictness modifiers, compiled onto the
engine's operators by :func:`plans.chsql.run_sql`.

ClickHouse SQL extends the JOIN clause with a *strictness* word that
changes row multiplicity — the two this module compiles:

- ``ASOF [LEFT] JOIN``: nearest-key temporal join — each left row is
  matched with the single right row of the same key whose time column
  is the LATEST one satisfying the inequality in the ON clause.  The
  standard Metrica-SQL way to do nearest-timestamp enrichment, the
  same temporal-join family as the reference's SCD-2 validity join
  (/root/reference/README.md:280-302).  Compiled onto
  ``operators/rangejoin.asof_join`` (join-free union+window, ONE
  shuffle on the key, right side may be as large as the left).
- ``ANY [LEFT|INNER] JOIN``: at-most-one-match join — each left row
  joins at most one right row per key.  Compiled as a deterministic
  keep-one-per-key dedup of the build (right) side followed by a
  plain equi join: exactly ClickHouse's LimitBy-1-on-build-side
  contract.  The per-key ``row_number`` shuffle is on the join key —
  the same exchange the join itself needs, so at 100 TB with
  key-bucketed tables both collapse into zero extra shuffles.

Documented deviations (both strict REFINEMENTS of CH's contract, same
class as the module-level ``groupArray``/``anyLast`` notes in
plans/chsql.py):

- CH ANY picks the FIRST match in block-read order — indeterminate on
  a distributed read.  This compile picks the smallest right row by
  lexicographic order of its non-key columns in schema order
  (``ASC NULLS FIRST``), which is deterministic and reproducible; an
  oracle mirrors it with ``QUALIFY row_number() OVER (PARTITION BY
  key ORDER BY ... ASC NULLS FIRST) = 1``.
- ASOF determinism requires unique (key, right-time) pairs on the
  right side, same caveat as the underlying operator
  (operators/rangejoin.py asof_join docstring).

Both ``ON`` conjunctions and the CH ``USING (c1, ..., cn)`` form are
compiled (USING: shared-name columns; for ASOF the LAST column is
the nearest-match axis with ``left >= right``, the rest equalities —
CH's contract; the rewritten statement always uses the parenthesized
spelling, which Spark requires).

All four CH ASOF comparators compile (r12, closing the r11 refusal):
``>=`` (latest right at-or-before left, ties match — the default),
``>`` (strictly before), and the reversed ``<=`` / ``<`` (earliest
right at-or-after / strictly after), each normalized left-hand-first
and passed to the operator's ``inequality`` argument.

Refusal surface (the refuse-not-silent-wrong policy of chsql's
FINAL/SAMPLE gates): RIGHT/FULL strictness joins, subquery join
sides, more than one strictness join per statement, and expression
(non-column) ON terms all raise with a pointer instead of silently
joining with the wrong multiplicity.

Layering note: this is a PRE-compiler that ``chsql.run_sql`` calls
first, on the raw statement and its table map.
:func:`compile_strictness_joins` executes the strictness join through
the DataFrame operator, binds the result as a synthetic table and
rewrites the statement to reference it; ``run_sql`` then compiles
the remainder.  chsql's own ASOF/ANY refusals are the backstop for
shapes this pre-compiler cannot bind.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import rangejoin
from . import chsql

_VIEW = "__chjoin0"

_DIRS = r"LEFT|RIGHT|INNER|FULL"
# FINAL and SAMPLE are table DECORATIONS, never aliases: without the
# exclusion `FROM visits FINAL ASOF JOIN p` parsed FINAL as the left
# alias and the collapse was silently dropped (ADVICE r11 #1) — a
# decorated strictness-join side now falls through to the specific
# refusal in compile_strictness_joins
_NOT_ALIAS = rf"(?!(?:ASOF|ANY|{_DIRS}|JOIN|GLOBAL|ON|FINAL|SAMPLE)\b)"
_JOIN_HEAD = re.compile(
    rf"\bFROM\s+(?P<lt>\w+)(?:\s+(?:AS\s+)?(?P<la>{_NOT_ALIAS}\w+))?\s+"
    rf"(?:(?P<m1>ASOF|ANY)\s+(?:(?P<d1>{_DIRS})\s+)?"
    rf"|(?P<d2>{_DIRS})\s+(?P<m2>ASOF|ANY)\s+)"
    rf"JOIN\s+(?P<rt>\w+)"
    rf"(?:\s+(?:AS\s+)?(?P<ra>(?!ON\b|USING\b|FINAL\b|SAMPLE\b)\w+))?\s+"
    rf"(?P<conn>ON|USING)\s*",
    re.I,
)
_DECORATION = re.compile(r"\b(FINAL|SAMPLE)\b", re.I)
_ANY_MOD = re.compile(
    rf"\b(?:ASOF|ANY)\s+(?:(?:{_DIRS})\s+)?JOIN\b"
    rf"|\b(?:{_DIRS})\s+(?:ASOF|ANY)\s+JOIN\b",
    re.I,
)
_ON_END = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|WINDOW"
    r"|QUALIFY|SETTINGS|FORMAT)\b",
    re.I,
)
_TERM = re.compile(r"\s*(.+?)\s*(>=|<=|==|=|>|<)\s*(.+?)\s*$", re.S)
_REF = re.compile(r"(?:(\w+)\s*\.\s*)?(\w+)$")


def _split_and(s: str) -> list[str]:
    """Split on depth-0 ``AND`` (masked scan, returns original text)."""
    masked = chsql._mask(s)
    parts, depth, last = [], 0, 0
    for m in re.finditer(r"[()]|\bAND\b", masked, re.I):
        if m.group(0) == "(":
            depth += 1
        elif m.group(0) == ")":
            depth -= 1
        elif depth == 0:
            parts.append(s[last : m.start()])
            last = m.end()
    parts.append(s[last:])
    return [p.strip() for p in parts]


class _Side:
    """Name-resolution context for one join side."""

    def __init__(self, table: str, alias: str | None, df: DataFrame):
        self.table, self.alias, self.df = table, alias, df
        self.quals = {table} | ({alias} if alias else set())
        self.cols = set(df.columns)

    @property
    def name(self) -> str:
        return self.alias or self.table


def _resolve(ref: str, left: _Side, right: _Side) -> tuple[str, str]:
    """``(side, column)`` for an ON-clause reference; refuses
    expressions, unknown qualifiers/columns, and ambiguous bare
    names (CH errors on all of these too)."""
    m = _REF.fullmatch(ref.strip())
    if not m:
        raise ValueError(
            f"chjoin: ON term side {ref!r} is not a plain column "
            "reference; only `[alias.]column` terms are compiled"
        )
    qual, col = m.group(1), m.group(2)
    if qual is not None:
        for side, tag in ((left, "l"), (right, "r")):
            if qual in side.quals:
                if col not in side.cols:
                    raise ValueError(
                        f"chjoin: {qual}.{col} not a column of {side.table}"
                    )
                return tag, col
        raise ValueError(f"chjoin: unknown qualifier {qual!r} in ON clause")
    in_l, in_r = col in left.cols, col in right.cols
    if in_l and in_r:
        raise ValueError(
            f"chjoin: bare ON column {col!r} is ambiguous (in both sides)"
        )
    if in_l:
        return "l", col
    if in_r:
        return "r", col
    raise ValueError(f"chjoin: ON column {col!r} found on neither side")


def _parse_on(
    conj: str, left: _Side, right: _Side
) -> tuple[list[tuple[str, str]], tuple[str, str, str] | None]:
    """Parse the ON conjunction into equality pairs ``(lcol, rcol)``
    plus at most one inequality ``(lcol, op, rcol)`` normalized to
    left-hand-side-first."""
    eqs: list[tuple[str, str]] = []
    ineq: tuple[str, str, str] | None = None
    _FLIP = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
    for term in _split_and(conj):
        m = _TERM.fullmatch(term)
        if not m:
            raise ValueError(
                f"chjoin: unsupported ON term {term!r}; terms must be "
                "`ref OP ref` joined by AND"
            )
        a, op, b = m.group(1), m.group(2), m.group(3)
        (sa, ca), (sb, cb) = _resolve(a, left, right), _resolve(b, left, right)
        if sa == sb:
            raise ValueError(
                f"chjoin: ON term {term!r} references only one side"
            )
        if sa == "r":  # normalize to (left, op, right)
            sa, ca, sb, cb = sb, cb, sa, ca
            if op not in ("=", "=="):
                op = _FLIP[op]
        if op in ("=", "=="):
            eqs.append((ca, cb))
        else:
            if ineq is not None:
                raise ValueError(
                    "chjoin: ASOF takes exactly one inequality in ON"
                )
            ineq = (ca, op, cb)
    return eqs, ineq


def _sub_qual(sql: str, qual: str, repl: str) -> str:
    """Rewrite ``qual.`` prefixes outside string literals."""
    return chsql._sub_outside_literals(
        rf"(?<![\w`.]){re.escape(qual)}\s*\.\s*(?=[\w`])", repl, sql
    )


def _sub_bare(sql: str, name: str, repl: str) -> str:
    """Rewrite bare identifier ``name`` outside literals, skipping
    qualified uses (preceded by ``.``) and alias definitions
    (preceded by ``AS``) — an output alias sharing a right column's
    name must keep naming the output."""
    masked = chsql._mask(sql)
    out, last = [], 0
    for m in re.finditer(rf"(?<![\w`.]){re.escape(name)}(?![\w`])", masked):
        if re.search(r"\bAS\s*$", masked[: m.start()], re.I):
            continue
        out.append(sql[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _toplevel_aliases(masked: str) -> set[str]:
    """``AS name`` tokens at paren depth 0 of a MASKED statement.

    Output aliases are the only top-level ``AS``: ``CAST(x AS DATE)``
    and every function-internal ``AS`` sit inside parens, so depth
    filtering strictly SHRINKS the ambiguity-refusal exemption set —
    it can only add refusals, never silence one (ADVICE r12 #2: a
    whole-statement scan let a both-side column named like a CAST
    type escape the bare-reference refusal and resolve left).

    Depth is clamped at 0 so a stray ``)`` in malformed input cannot
    push later genuinely-top-level aliases to a fake negative depth
    and grow the exemption set (ADVICE r14 #2 — the only-shrinks
    guarantee must hold even on unbalanced text)."""
    out: set[str] = set()
    depth = 0
    for m in re.finditer(r"[()]|\bAS\s+(`?)(\w+)\1", masked, re.I):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth = max(0, depth - 1)
        elif depth == 0:
            out.add(m.group(2))
    return out


def _has_bare_ref(sql: str, name: str) -> bool:
    """True when ``name`` appears as a BARE column reference (plain or
    backtick-quoted) outside literals — not qualified by ``.``, not an
    ``AS`` output-alias definition.  Same scan rules as ``_sub_bare``."""
    masked = chsql._mask(sql)
    pat = rf"(?<![\w`.])(?:{re.escape(name)}|`{re.escape(name)}`)(?![\w`])"
    return any(
        not re.search(r"\bAS\s*$", masked[: m.start()], re.I)
        for m in re.finditer(pat, masked)
    )


def _keep_one_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic CH-ANY build side: one row per key, the smallest
    by the remaining columns in schema order (ASC NULLS FIRST — the
    documented refinement of CH's first-in-block-order pick).  One
    ``row_number`` shuffle on the join key, reused by the join."""
    others = [c for c in df.columns if c not in set(keys)]
    order = (
        [F.col(c).asc_nulls_first() for c in others]
        if others
        else [F.lit(1).asc()]
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _asof_frame(
    left: _Side, right: _Side, eqs, ineq, how: str
) -> tuple[DataFrame, dict[str, str]]:
    """Run the ASOF join; returns (frame, prefixed-right-name map).
    Output columns: every left column under its own name + every
    right column as ``<rightname>__<col>``."""
    l_time, op, r_time = ineq
    prefix = {c: f"{right.name}__{c}" for c in right.df.columns}
    clash = sorted(set(prefix.values()) & set(left.df.columns))
    if clash:
        raise ValueError(
            f"chjoin: left columns {clash} collide with the prefixed "
            "right columns; rename one side"
        )
    key = [F.col(lc).alias(f"k{i}") for i, (lc, _) in enumerate(eqs)]
    rkey = [F.col(rc).alias(f"k{i}") for i, (_, rc) in enumerate(eqs)]
    lt = left.df.withColumn("__asof_k", F.struct(*key))
    rt = right.df.select(
        F.struct(*rkey).alias("__asof_k"),
        *[F.col(c).alias(prefix[c]) for c in right.df.columns],
    )
    out = rangejoin.asof_join(
        lt,
        rt,
        key="__asof_k",
        left_time=l_time,
        right_time=prefix[r_time],
        value_cols=list(prefix.values()),
        how=how,
        inequality=op,
    )
    return out.drop("__asof_k"), prefix


def compile_strictness_joins(
    spark: SparkSession, sql: str, tables: dict[str, DataFrame]
) -> tuple[str, dict[str, DataFrame]]:
    """Compile the statement's ASOF/ANY join (if any) into a bound
    synthetic table; returns the rewritten statement plus the updated
    table map.  Statements without a strictness join pass through
    byte-identical."""
    masked = chsql._mask(sql)
    m = _JOIN_HEAD.search(masked)
    if m is None:
        if _ANY_MOD.search(masked):
            if _DECORATION.search(masked):
                raise ValueError(
                    "chjoin: FINAL/SAMPLE on an ASOF/ANY join side is "
                    "not compiled (the strictness compile runs before "
                    "the decoration scan, so the collapse/sample would "
                    "be silently dropped) — pre-collapse the side via "
                    "operators/collapse.collapsed() (or sample it) and "
                    "bind the result as the join table instead"
                )
            raise ValueError(
                "chjoin: ASOF/ANY JOIN found but not in the compiled "
                "`FROM table [AS a] <MOD> JOIN table [AS b] ON ...` "
                "shape (subquery sides and comma-FROM are not mapped)"
            )
        return sql, tables
    if _ANY_MOD.search(masked, m.end()):
        raise ValueError(
            "chjoin: one ASOF/ANY join per statement is compiled; "
            "split the query or pre-join with the operators"
        )
    mod = (m.group("m1") or m.group("m2")).upper()
    direction = (m.group("d1") or m.group("d2") or "INNER").upper()
    lt, la = m.group("lt"), m.group("la")
    rt, ra = m.group("rt"), m.group("ra")
    for name in (lt, rt):
        if name not in tables:
            raise ValueError(
                f"chjoin: join side {name!r} is not a bound table"
            )
    left = _Side(lt, la, tables[lt])
    right = _Side(rt, ra, tables[rt])
    conn = m.group("conn").upper()
    if conn == "USING":
        # CH USING: shared-name columns; for ASOF the LAST column is
        # the nearest-match axis (left >= right), the rest equalities
        if masked[m.end() : m.end() + 1] == "(":
            close = chsql._match_paren(masked, m.end())
            cols = [c.strip() for c in chsql._split_top(sql[m.end() + 1 : close])]
            on_end = close + 1
        else:
            mm = re.match(r"\w+", masked[m.end() :])
            if not mm:
                raise ValueError("chjoin: USING needs a column list")
            cols = [mm.group(0)]
            on_end = m.end() + mm.end()
        for c in cols:
            if not re.fullmatch(r"\w+", c):
                raise ValueError(
                    f"chjoin: USING column {c!r} must be a plain identifier"
                )
            for side in (left, right):
                if c not in side.cols:
                    raise ValueError(
                        f"chjoin: USING column {c!r} not on table "
                        f"{side.table!r}"
                    )
        if mod == "ASOF":
            if len(cols) < 2:
                raise ValueError(
                    "chjoin: ASOF ... USING needs at least one equality "
                    "column plus the trailing ASOF column"
                )
            eqs = [(c, c) for c in cols[:-1]]
            ineq = (cols[-1], ">=", cols[-1])
        else:
            eqs = [(c, c) for c in cols]
            ineq = None
    else:
        end = _ON_END.search(masked, m.end())
        on_end = end.start() if end else len(sql)
        conj = sql[m.end() : on_end]
        eqs, ineq = _parse_on(conj, left, right)
    if not eqs:
        raise ValueError("chjoin: at least one ON equality is required")
    if direction in ("RIGHT", "FULL"):
        raise ValueError(
            f"chjoin: {mod} {direction} JOIN is not compiled; swap the "
            "sides (LEFT/INNER are mapped)"
        )

    rest = dict(tables)
    rest.pop(lt, None)
    rest.pop(rt, None)
    if mod == "ASOF":
        if ineq is None:
            raise ValueError(
                "chjoin: ASOF needs one inequality ON term "
                "(left_time >= right_time)"
            )
        frame, prefix = _asof_frame(
            left, right, eqs, ineq, how=direction.lower()
        )
        out_sql = sql[: m.start()] + f"FROM {_VIEW} " + sql[on_end:]
        # a bare reference to a column present on BOTH sides would
        # silently resolve to the left copy after the rewrite, where
        # CH errors on the ambiguous name — refuse BEFORE the qual
        # substitution strips left qualifiers to bare (ADVICE r11 #4).
        # Exempt: USING columns (CH coalesces them — the left copy IS
        # the joined value) and same-named ON equality keys (equal by
        # construction on every match).  The ASOF time column is NOT
        # exempt in the ON form: its two sides genuinely differ.
        exempt = (
            set(cols)
            if conn == "USING"
            else {lc for lc, rc in eqs if lc == rc}
        )
        # names defined as OUTPUT aliases are alias references under
        # CH's resolution order (alias beats column), not ambiguous —
        # `SELECT a.ts AS ts ... ORDER BY ts` orders by the alias.
        # Depth-0 only: CAST(x AS DATE) must not exempt a both-side
        # column named `date` (ADVICE r12 #2).
        # Known over-refusal (deliberate, r14 review): an alias defined
        # INSIDE a parenthesized scope (CTE body, IN-subquery) no
        # longer exempts, so a both-side column name referenced only
        # within that inner scope refuses even though it resolves
        # locally there.  Scoping the bare-ref scan to match would
        # need real subquery-scope analysis — masking `(SELECT ...)`
        # spans instead would silently PASS a correlated reference to
        # an outer both-side column, the exact silent-wrong class this
        # gate exists to refuse.  Rename or qualify the inner column;
        # pinned in test_chjoin.py::test_subquery_alias_refusal_is_
        # deliberate.
        exempt |= _toplevel_aliases(chsql._mask(out_sql))
        for col in sorted((left.cols & set(right.df.columns)) - exempt):
            if _has_bare_ref(out_sql, col):
                raise ValueError(
                    f"chjoin: bare column {col!r} is ambiguous after an "
                    "ASOF join (present on both sides); qualify it with "
                    "the table name or alias"
                )
        for q in sorted(right.quals, key=len, reverse=True):
            out_sql = _sub_qual(out_sql, q, f"{right.name}__")
        for q in sorted(left.quals, key=len, reverse=True):
            out_sql = _sub_qual(out_sql, q, "")
        for col in right.df.columns:  # bare right-only references
            if col not in left.cols:
                out_sql = _sub_bare(out_sql, col, prefix[col])
    else:  # ANY
        if ineq is not None:
            raise ValueError(
                "chjoin: ANY JOIN takes equality ON terms only"
            )
        frame = _keep_one_per_key(right.df, [rc for _, rc in eqs])
        head = f"FROM {lt} "
        if la:
            head += f"AS {la} "
        if conn == "USING":
            # always parenthesized: Spark rejects the bare CH form
            head += (
                f"{direction} JOIN {_VIEW} AS {right.name} "
                f"USING ({', '.join(c for c, _ in eqs)}) "
            )
            out_sql = sql[: m.start()] + head + sql[on_end:]
        else:
            head += f"{direction} JOIN {_VIEW} AS {right.name} ON "
            out_sql = sql[: m.start()] + head + sql[m.end() :]
        rest[lt] = left.df
        # the right table name now only survives as the join alias;
        # a second reference to the original table would silently
        # read the deduped view — refuse instead.  Self-joins are
        # exempt: rt == lt stays bound to the ORIGINAL frame (the
        # rest[lt] rebind below), so the left FROM and any later
        # reference read the un-deduped table, which is correct.
        if ra and rt != lt and re.search(
            rf"(?<![\w`.]){re.escape(rt)}(?![\w`])",
            chsql._mask(out_sql[m.start() :]).replace(_VIEW, ""),
        ) and rt != right.name:
            raise ValueError(
                f"chjoin: table {rt!r} referenced again outside the ANY "
                "JOIN; bind a second copy under another name"
            )
    rest[_VIEW] = frame
    return out_sql, rest
