"""Text analysis for large-scale training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting -- all pure built-in ``pyspark.sql.functions``
(whole-stage codegen, no Python in the hot path), designed so the same
arithmetic is expressible in ANSI SQL for the DuckDB oracle.

At 100TB these are embarrassingly parallel map-side expressions: no
shuffle, full column pruning (only ``text`` is read), parquet scan
pushdown intact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ch

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic.  Deliberately small + fixed: the point is the *operator*
# (argmax over per-language evidence), not lexicon quality.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "ru": ("i", "v", "ne", "na", "chto", "eto"),  # translit
}
# Priority order for deterministic tie-breaking (first wins on equal score).
LANG_PRIORITY: tuple[str, ...] = ("en", "de", "fr", "ru")


def tokens_sql(text: str, lower: bool = True) -> str:
    """SQL text of :func:`tokens` over the column named ``text``: one
    parsed string instead of a py4j round trip per composed call."""
    c = ch.ident(text)
    if lower:
        c = f"lower({c})"
    # null-first: NULL text must behave like '' (yield []), not ride
    # the ELSE branch into split(NULL) -> size() == -1 (the legacy
    # sizeOfNull trap -- same bug class the r7 agg_map size guard
    # fixed)
    cleaned = f"coalesce(trim(regexp_replace({c}, '[^a-z0-9]+', ' ')), '')"
    return (
        f"CASE WHEN length({cleaned}) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({cleaned}, r'\\s+') END"
    )


def tokens(text: str, lower: bool = True) -> Column:
    """Normalized word tokens: lowercase, strip non-alphanumerics, split.

    Exactly mirrored by the oracle SQL
    ``regexp_split_to_array(trim(lower(regexp_replace(text,
    '[^a-z0-9]+', ' ', 'g'))), '\\s+')``.
    """
    return F.expr(tokens_sql(text, lower))


def token_count(text: str) -> Column:
    return F.size(tokens(text)).cast("long")


# GPT2-style pre-tokenizer shape: contractions, letter runs, digit
# runs, non-space symbol runs, then whitespace.  No \p classes so the
# identical pattern runs in Spark (Java regex) and DuckDB (RE2).
_BPE_PIECE = "'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


def bpe_token_estimate(text: Column | str) -> Column:
    """LLM-tokenizer-shaped token count (BPE-ish): count pre-tokenizer
    pieces, then charge one extra token per 8 characters of piece
    length beyond the first 8 (long words split into subwords).  A
    deterministic, pure-regexp estimator of training-token cost --
    the unit data budgets are denominated in; NOT a real BPE encode
    (no vocab in this container; swap in tiktoken via mapInPandas for
    exact counts, batch shape stays).
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.coalesce(c, F.lit(""))  # NULL text counts like '', not NULL
    pieces = F.regexp_count(c, F.lit(_BPE_PIECE))
    # long-piece surcharge: ceil(len/8)-1 summed over pieces equals
    # (total piece chars + continuation) approximated via total
    # alnum-run length: use length of text stripped of whitespace
    dense_len = F.length(F.regexp_replace(c, "\\s+", ""))
    surcharge = F.greatest(
        F.floor((dense_len - pieces * F.lit(4)) / F.lit(8)), F.lit(0)
    )
    return (pieces + surcharge).cast("long")


def stopword_ratio(toks: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    stops = STOPWORDS[lang]
    hits = F.size(F.filter(toks, lambda t: t.isin(*stops)))
    return hits.cast("double") / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def mean_token_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return total.cast("double") / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def alnum_ratio(text: Column | str) -> Column:
    """Share of characters that are alphanumeric or space (punctuation /
    symbol density is 1 - this)."""
    c = F.col(text) if isinstance(text, str) else text
    kept = F.length(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""))
    return kept.cast("double") / F.nullif(F.length(c).cast("double"), F.lit(0.0))


def _quality_from(sw: Column, mlen: Column, alnum: Column, n: Column) -> Column:
    """The quality arithmetic over already-built signal columns.  Single
    definition shared by :func:`quality_score` (self-contained column)
    and :func:`text_stats` (staged projections) so the two paths cannot
    drift -- the oracle SQL mirrors exactly this expression tree."""
    len_ok = F.least(n / F.lit(20.0), F.lit(1.0))
    mlen_ok = F.when((mlen >= 3.0) & (mlen <= 8.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.least(
        F.greatest(
            F.lit(0.25) * F.least(sw * 5.0, F.lit(1.0))
            + F.lit(0.25) * mlen_ok
            + F.lit(0.25) * alnum
            + F.lit(0.25) * len_ok,
            F.lit(0.0),
        ),
        F.lit(1.0),
    )


def quality_score(text: str, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: stopword presence (fluency
    proxy), sane mean word length, alphanumeric density, non-trivial
    length.  Fixed arithmetic so the DuckDB oracle can reproduce it
    bit-for-bit (after rounding)."""
    t = tokens(text)
    sw = F.coalesce(stopword_ratio(t, lang), F.lit(0.0))
    mlen = F.coalesce(mean_token_len(t), F.lit(0.0))
    alnum = F.coalesce(alnum_ratio(text), F.lit(0.0))
    n = F.size(t).cast("double")
    return _quality_from(sw, mlen, alnum, n)


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: F.coalesce(stopword_ratio(toks, lang), F.lit(0.0)) for lang in LANG_PRIORITY}


def _langid_chain(scores: dict[str, Column]) -> Column:
    """Argmax-with-priority CASE chain over per-language score columns.
    Shared by :func:`lang_id` and :func:`text_stats`; note every score
    is referenced by several CASE branches, so callers must pass CHEAP
    columns (field refs / plain arithmetic) -- passing lambda-HOF
    subtrees re-evaluates them per reference (HOFs are interpreted and
    exempt from codegen subexpression elimination)."""
    best: Column = F.lit("und")
    best_score: Column = F.lit(0.0)
    # iterate in reverse priority: earlier langs overwrite on >= score
    for lang in reversed(LANG_PRIORITY):
        s = scores[lang]
        cond = s > 0.0
        better = cond & (s >= best_score)
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, s).otherwise(best_score)
    return best


def lang_id(text: str) -> Column:
    """Predicted language = argmax of per-language stopword evidence,
    ties broken by LANG_PRIORITY order; 'und' (undetermined) when no
    language scores > 0.  Chained CASE so the oracle SQL is identical."""
    t = tokens(text)
    return _langid_chain(lang_scores(t))


def fingerprint_md5(toks: Column) -> Column:
    """Content fingerprint: md5 over normalized token stream.  Portable
    (same value in any engine with md5) -- the oracle-checked variant."""
    return F.md5(F.concat_ws(" ", toks))


def fingerprint_rolling(toks: Column, mod: int = 1_000_000_007) -> Column:
    """Order-sensitive polynomial rolling hash over tokens.

    h := (h*31 + ascii(first_char)*131 + len(token)) mod p, folded
    JVM-side with ``F.aggregate``.  Cheap doc identity for shard-local
    dedup; verified against a pure-Python reference in tests.
    """
    p = F.lit(mod)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda h, t: F.pmod(
            h * F.lit(31) + F.ascii(F.substring(t, 1, 1)) * F.lit(131) + F.length(t),
            p,
        ),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals, token-level.

    Per document (cf. Rae et al., "Scaling Language Models: ... Gopher",
    2021, table A1 -- the repetition filters, re-expressed over tokens
    since the corpus has no line structure):

    - ``dup_token_ratio``   : 1 - distinct_tokens / n_tokens
    - ``top_bigram_frac``   : tokens covered by the single most frequent
                              bigram = max(bigram count) * 2 / n_tokens
    - ``dup_trigram_frac``  : fraction of trigram occurrences whose
                              trigram appears more than once

    Formulation is the shingle pattern from operators.dedup: posexplode
    tokens -> LEAD window for 2/3-grams (never an HOF under a Generate).
    All three signals then derive from a SINGLE per-(id, trigram) count
    aggregate (tail positions kept as null-t1/t2 rows so token totals
    stay exact): the expensive part of the lineage -- token explode,
    window sort, gram-count shuffle -- is one identical subtree under
    every branch, which Spark's ReuseExchange materializes once; the
    follow-up aggregates run over the already-tiny per-gram counts.
    No text moves after the explode, so the shape holds at 100TB.
    Docs with zero tokens are kept (all ratios 0.0).
    """
    idx = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    g = idx.select(
        "id",
        "t",
        F.lead("t", 1).over(w).alias("t1"),
        F.lead("t", 2).over(w).alias("t2"),
    )
    # null-position exclusions are CASE expressions inside the
    # aggregates, NOT .where() filters: a filter on a grouping key gets
    # pushed below the shared aggregate, making the three branch
    # subtrees non-identical and defeating ReuseExchange (verified in
    # the static plan: filters -> 3 window sorts, CASEs -> 1).
    counts3 = g.groupBy("id", "t", "t1", "t2").count()
    tstats = counts3.groupBy("id").agg(
        F.sum("count").alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        F.sum(
            F.when(F.col("t2").isNotNull() & (F.col("count") > 1), F.col("count")).otherwise(0)
        ).alias("dup3"),
        F.sum(F.when(F.col("t2").isNotNull(), F.col("count")).otherwise(0)).alias("n3"),
    )
    s2 = (
        counts3.groupBy("id", "t", "t1")
        .agg(F.sum("count").alias("c2"))
        .groupBy("id")
        .agg(F.max(F.when(F.col("t1").isNotNull(), F.col("c2"))).alias("top2"))
    )
    base = df.select(F.col(id_col).alias("id"))
    joined = base.join(tstats, "id", "left").join(s2, "id", "left")
    nt = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    dup_tok = F.when(
        nt > 0,
        1.0 - F.col("n_distinct").cast("double") / nt.cast("double"),
    ).otherwise(F.lit(0.0))
    top2 = F.when(
        F.col("top2").isNotNull() & (nt > 0),
        F.col("top2").cast("double") * 2.0 / nt.cast("double"),
    ).otherwise(F.lit(0.0))
    dup3 = F.when(
        F.coalesce(F.col("n3"), F.lit(0)) > 0,
        F.col("dup3").cast("double") / F.col("n3").cast("double"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col("id").alias(id_col),
        nt.alias("n_tokens"),
        ch.round_to(dup_tok, 4).alias("dup_token_ratio"),
        ch.round_to(top2, 4).alias("top_bigram_frac"),
        ch.round_to(dup3, 4).alias("dup_trigram_frac"),
    )


# PII scrub patterns: conservative ASCII regex syntax that parses
# identically in Java (Spark) and RE2 (DuckDB) -- no lookaround, no \p
# classes.  Order matters and is applied sequentially (emails first so
# their digit/dot substrings are gone before phone/IPv4 matching).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    # separator-required 4x4 card numbers only: a bare 16-digit run is
    # as likely a legit identifier, and false redaction destroys data
    ("card", r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b"),
    # SSN (3-2-4) before phone (3-3-4): the shapes are disjoint, the
    # order just keeps the counting stages stable
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("phone", r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    # full-form IPv6 only (8 colon groups); compressed '::' forms need
    # lookaround to avoid eating times like 12:30 and are out of scope
    ("ipv6", r"\b[0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4}){7}\b"),
)


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    repl: str = "[REDACTED]",
    out_col: str = "text_clean",
    count_col: str = "n_pii",
) -> DataFrame:
    """Redact emails, US-style phone numbers, and IPv4 literals.

    Adds ``out_col`` (scrubbed text) and ``count_col`` (total matches
    redacted).  Patterns are applied in PII_PATTERNS order, each one
    counting and replacing on the PREVIOUS stage's output so overlapping
    matches are never double-counted.  Pure regexp_replace /
    regexp_extract_all map-side expressions: no shuffle, codegen-friendly,
    and the identical regexes run under DuckDB for the oracle.
    """
    cur: Column = F.col(text_col)
    total: Column = F.lit(0).cast("long")
    for _, pat in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).cast("long")
        cur = F.regexp_replace(cur, pat, repl.replace("$", r"\$"))
    return df.withColumn(count_col, total).withColumn(out_col, cur)


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats frame: token count, stopword ratio, mean token
    length, alnum ratio, quality score, predicted language, fingerprint.

    Staged projections, not one wide select: the stopword filters and
    the token-length fold are lambda higher-order functions, which are
    (a) evaluated interpreted and (b) exempt from codegen subexpression
    elimination -- the naive single-select form inlines 43 ArrayFilter
    nodes per row (every lang_id CASE branch re-embeds the filters it
    references) and measured 2.1x slower at sf0.1.  Here each HOF is
    named once in its own projection (4 filters + 1 fold + 1 tokenize)
    and the final stage is cheap arithmetic over those columns;
    CollapseProject keeps the stages apart because the producers are
    non-cheap and multiply-referenced.  Still map-side, zero exchange,
    no Python (plan-pinned); output is bit-identical to the naive form
    (pure subexpression naming -- the arithmetic helpers are shared,
    and tests/test_properties_text.py pins staged == naive).
    """
    base = df.select(
        F.col(id_col), F.col(text_col), tokens(text_col).alias("__toks")
    )
    tk = F.col("__toks")
    staged = base.select(
        id_col,
        text_col,
        "__toks",
        F.size(tk).alias("__n"),
        *[
            F.size(F.filter(tk, lambda x: x.isin(*STOPWORDS[lang]))).alias(
                f"__h_{lang}"
            )
            for lang in LANG_PRIORITY
        ],
        F.aggregate(tk, F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias(
            "__tlen"
        ),
    )
    nd = F.col("__n").cast("double")

    def ratio(h: str) -> Column:
        return F.col(h).cast("double") / F.nullif(nd, F.lit(0.0))

    sw = F.coalesce(ratio("__h_en"), F.lit(0.0))
    mlen = F.coalesce(
        F.col("__tlen").cast("double") / F.nullif(nd, F.lit(0.0)), F.lit(0.0)
    )
    alnum = F.coalesce(alnum_ratio(text_col), F.lit(0.0))
    scores = {lang: F.coalesce(ratio(f"__h_{lang}"), F.lit(0.0)) for lang in LANG_PRIORITY}
    return staged.select(
        F.col(id_col),
        F.col("__n").cast("long").alias("n_tokens"),
        bpe_token_estimate(text_col).alias("n_tokens_bpe"),
        ch.round_to(sw, 4).alias("stop_ratio"),
        ch.round_to(mlen, 4).alias("mean_tok_len"),
        ch.round_to(alnum, 4).alias("alnum_ratio"),
        ch.round_to(_quality_from(sw, mlen, alnum, nd), 4).alias("quality"),
        _langid_chain(scores).alias("pred_lang"),
        fingerprint_md5(tk).alias("fingerprint"),
    )
