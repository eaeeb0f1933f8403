"""Deduplication family for training-data pipelines.

Five strategies, all shuffle-disciplined for 100TB:

- exact          : group on content hash; survivor = min id.  One
                   shuffle on a 64-bit hash (never on the raw text).
- ngram_jaccard  : EXACT similar-pair mining via inverted index
                   (explode shingles -> join on shingle -> count
                   common).  No O(n^2) cross join; cost bounded by
                   shingle bucket sizes.
- minhash_lsh    : MinHash signatures + banded LSH candidate
                   generation, candidates verified with exact Jaccard.
                   The scale path: pair generation touches only
                   same-band-bucket docs.
- simhash        : 64-bit SimHash, 4x16-bit chunk blocking (guarantees
                   all pairs with hamming distance <= 3 become
                   candidates), exact hamming verify.
- embedding      : cosine near-dup via sign-LSH bucketing + exact
                   cosine verify (see operators.similarity for the
                   vector primitives).

Everything is built from built-in functions -- no Python UDFs;
xxhash64 (stable, seedable) is the only hash primitive.  The exact,
MinHash, SimHash, contamination and cluster plans (and the shingle
index they share with ``streaming.cdc``'s near-dup stream) are built
from SQL text, one ``selectExpr``/``F.expr`` string per logical unit:
every composed Column call is a py4j round trip (in PySpark 4.1 each
also captures its call site), and a Python-lambda HOF several, which
made plan BUILDING a large share of a small pass.

At interactive sizes a pass is dominated by fixed per-job costs, so
the pair miners do each piece of per-document work once:
``minhash_lsh_pairs`` materializes one per-document state (shingle
set plus MINs) that both band sides and both verify joins read.
``connected_components`` propagates labels with one
join and one aggregate per round and one job per two-round cycle.

Algorithms (public literature): MinHash resemblance sketches per
Broder, "On the resemblance and containment of documents" (SEQUENCES
1997) with banded LSH per Leskovec/Rajaraman/Ullman, *Mining of
Massive Datasets* ch.3; SimHash per Charikar, "Similarity estimation
techniques from rounding algorithms" (STOC 2002) with the
pigeonhole-chunk blocking of Manku/Jain/Sarma, "Detecting
near-duplicates for web crawling" (WWW 2007); connected components by
iterative min-label propagation (cf. Kiveris et al., "Connected
components in MapReduce and beyond", SoCC 2014, whose
large-star/small-star variant is the log-round alternative when
cluster diameters are large).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import ch
from .text import tokens_sql


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------
def dedup_exact(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct content.

    Shuffles on ``xxhash64(content)`` -- at 100TB this avoids moving
    wide text as the shuffle key; the full columns ride along only for
    the in-bucket tie-break (hash collisions are resolved exactly by
    grouping on the real content inside each hash bucket).
    """
    cols = ", ".join(ch.ident(c) for c in content_cols)
    return (
        df.selectExpr("*", f"xxhash64({cols}) AS __h")
        .selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY __h, {cols} "
            f"ORDER BY {ch.ident(id_col)}) AS __rn",
        )
        .where("__rn = 1")
        .drop("__h", "__rn")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-GLOBAL paragraph-level dedup (the C4 three-sentence-span
    / Dolma paragraph-dedup shape): split every document on ``sep``;
    a paragraph occurring anywhere else in the corpus survives only at
    its FIRST occurrence (smallest (id, position)); later occurrences
    are removed and each document is reassembled from its surviving
    paragraphs in original order.  Documents left with no paragraphs
    come back as empty strings (kept, so pipeline bookkeeping never
    loses rows).

    Shuffle discipline: the first-occurrence decision shuffles ONLY
    (xxhash64(paragraph), id, pos) triples -- ~20-byte rows, one
    window over hash(paragraph-hash); the paragraph TEXT is shuffled
    once, by the (id, pos) join that attaches the keep decision back
    to the exploded paragraphs, then once more into the per-document
    reassembly group.  A 64-bit paragraph-hash collision wrongly
    removes a paragraph with probability ~n^2/2^65 (same accepted
    epsilon as dedup_exact's bucket key; the keep-join compares only
    positions, so a collision never mixes text between documents).

    Empty paragraphs (consecutive separators) participate like any
    other: the corpus keeps exactly one.  That matches the SQL-window
    oracle's ``string_split`` semantics.
    """
    import re as _re

    # literal separator (split() takes a regex): parity with the SQL
    # oracle's string_split
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "para"
        ),
    )
    idx = paras.select("id", "pos", F.xxhash64("para").alias("__h"))
    w = Window.partitionBy("__h").orderBy("id", "pos")
    keep = (
        idx.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("id", "pos")
    )
    kept = paras.join(keep, ["id", "pos"])
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("__text")
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("__text", F.lit("")).alias(text_col),
        )
    )


# --------------------------------------------------------------------------
# shingles
# --------------------------------------------------------------------------
def _shingle_index(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle-hash) inverted-index rows, NOT per-doc distinct.

    MAP-SIDE shingling (r19 opt): explode(arrays_zip(k shifted slices
    of the token array)) -> concat -> xxhash64, zero exchanges -- the
    token TEXT never rides a shuffle (the previous posexplode -> LEAD
    window formulation shuffled the whole token stream by doc id just
    to look ahead k-1 positions; at corpus scale the token stream IS
    the corpus).  Downstream per-doc aggregates (minhash mins,
    collect_set) do their own map-side partial aggregation, so the
    first shuffle anywhere moves per-doc states, not tokens.  Verified
    row-identical to the window formulation.

    arrays_zip + slice are plain codegen expressions under the
    Generate; do NOT replace them with a higher-order-function
    shingle builder (transform/aggregate lambdas under a Generate
    drop the pipeline to interpreted eval, ~20x slower, measured).

    The shingle is carried as xxhash64 so joins shuffle 8-byte keys
    instead of strings; a 64-bit collision (~1e-11 at realistic
    shingle cardinality) is the accepted exactness epsilon.  Docs with
    fewer than k tokens emit no rows -- same contract as the
    SQL-window oracle.
    """
    base = df.selectExpr(
        f"{ch.ident(id_col)} AS id", f"{tokens_sql(text_col)} AS tk"
    ).where(f"size(tk) >= {k}")
    slices = ", ".join(f"slice(tk, {i + 1}, size(tk) - {k - 1})" for i in range(k))
    # arrays_zip names the fields of unnamed arguments "0".."k-1"
    gram = ", ".join(f"g.`{i}`" for i in range(k))
    return base.selectExpr("id", f"explode(arrays_zip({slices})) AS g").selectExpr(
        "id", f"xxhash64(concat_ws(' ', {gram})) AS sh"
    )


def _shingle_sets(idx: DataFrame) -> DataFrame:
    """(id, shset) with shset the distinct shingle-hash array per doc.

    Exchange-free on top of _shingle_index (already partitioned by
    id); collect_set both dedupes and builds the verify-side array.
    """
    return idx.groupBy("id").agg(F.expr("collect_set(sh) AS shset"))


# --------------------------------------------------------------------------
# exact n-gram Jaccard pair mining
# --------------------------------------------------------------------------
# Default document-frequency cap for the inverted index.  The bucket
# join examines C(df, 2) pairs per shingle, so ONE boilerplate shingle
# shared by 10^6 web documents would alone contribute ~5*10^11
# candidate pairs; capping df bounds any shingle's cost at
# C(5000, 2) ~ 1.25*10^7.  A shingle in > 5000 documents is template
# boilerplate, not authorship signal -- true near-dups above any useful
# threshold still meet through their rarer shingles.  Pass
# ``max_df=None`` for the fully exact index.
DEFAULT_MAX_DF = 5000

_UNSET = object()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = _UNSET,  # type: ignore[assignment]
    prefix_filter: bool = False,
    salt_df: int | None = 256,
    salt_groups: int = 16,
) -> DataFrame:
    """All unordered pairs with word-k-gram Jaccard >= threshold.
    EXACT (the prefix filter is lossless; only ``max_df`` trades
    exactness for a bucket-size bound).

    Default path: inverted-index count-join -- |pairs examined| = sum
    over shingles of C(bucket, 2), one bucket shuffle, no cross join.

    ``prefix_filter=True`` switches candidate generation to the
    PPJoin-style prefix filter (Xiao et al., WWW 2008): under a global
    shingle order (ascending document frequency, ties by hash), two
    sets with J(A,B) >= t MUST share a shingle among their first
    ``|S| - ceil(t*|S|) + 1``, so only those prefixes enter the index;
    candidates are verified with exact Jaccard on the full sets.
    MEASURED trade-off (PLANS.md): the prefix costs two extra shuffles
    (df-count join + rank window) and does NOT help when candidate
    volume comes from true near-dup clusters (replicas share their
    RARE shingles, so prefix buckets scale with cluster size anyway --
    184s vs 186s at the 16x probe, and 2.6x slower at sf0.1).  Use it
    only when candidate inflation comes from mid-frequency boilerplate
    shingles shared across NON-duplicate docs; for dup-heavy corpora
    the scale path is minhash_lsh_pairs.

    ``max_df`` drops shingles with document frequency above the cap
    from the index (both modes); with a cap set, the prefix path keeps
    scores exact but may miss pairs whose overlap is mostly hot
    shingles, while the full-index path reports tight lower-bound
    scores (hot shingles stay in denominators).  Defaults to
    ``DEFAULT_MAX_DF`` (5000): at web scale an uncapped index is
    bucket-quadratic on boilerplate shingles; ``max_df=None`` restores
    the fully exact index for bounded corpora.

    ``salt_df``/``salt_groups``: EXACT grid-salted pair expansion for
    hot shingles (default path only).  A shingle bucket of df docs
    puts all C(df,2) candidate pairs in ONE shuffle task (the bucket
    is one join key); at the df cap that is a 1.25e7-pair straggler,
    and even at sf0.1 the top buckets carry 3.4x the mean partition
    work (measured, round 7).  Shingles with df >= ``salt_df`` are
    split into ``salt_groups`` id-hash groups; each unordered group
    pair (i <= j) becomes its own join cell keyed (sh, i, j), so the
    bucket's quadratic work spreads over C(s+1,2) tasks while every
    candidate pair still appears EXACTLY once: a doc serves as the
    left side of cells (g, j>=g) and the right side of cells
    (i<=g, g); a cross-group pair meets only in cell
    (min(g_a,g_b), max(g_a,g_b)) with the smaller-group doc on the
    left, and diagonal cells keep the id_a < id_b half.  Replication
    cost is (s+1) index rows per hot (id, sh) -- 16-byte rows, paid
    only above ``salt_df`` where it is far below the C(df,2) task
    saving.  ``salt_df=None`` disables salting.
    """
    if max_df is _UNSET:
        max_df = DEFAULT_MAX_DF
    per_doc = _shingle_sets(_shingle_index(df, id_col, text_col, k))
    # each index row carries its doc's distinct-shingle count (nsh, a
    # small int riding the 16-byte shuffle row): after the bucket join
    # aggregates |common|, both set sizes are already present as
    # first(nsh) -- no size-attach joins, one shuffle fewer
    idx = per_doc.select(
        "id", F.size("shset").alias("nsh"), F.explode("shset").alias("sh")
    )
    if not prefix_filter and (max_df is not None or salt_df is not None):
        # document frequency as ONE count window over the bucket key
        # (r19 opt), replacing a separate groupBy(sh) aggregate plus
        # up to two broadcast joins (the >max_df anti-join and the
        # >=salt_df flag join).  The window shuffle on sh is the very
        # partitioning the pair join needs anyway; the per-bucket
        # count is linear in bucket size (a boilerplate shingle's df
        # rows land in one task, but counting them is O(df) -- the
        # quadratic pair work below stays salted).  Scale win: the old
        # hot/salted frames were driver-built broadcasts whose size
        # grew with the number of hot shingles (unbounded at web
        # scale); the window keeps everything executor-side.
        wsh = Window.partitionBy("sh")
        idx = idx.withColumn("__df", F.count(F.lit(1)).over(wsh))
        if max_df is not None:
            idx = idx.where(F.col("__df") <= max_df)
    if prefix_filter:
        if max_df is not None:
            dfreq0 = idx.groupBy("sh").agg(F.count("*").alias("df"))
            hot = dfreq0.where(F.col("df") > max_df).select("sh")
            idx = idx.join(F.broadcast(hot), "sh", "left_anti")
        dfreq = idx.groupBy("sh").agg(F.count("*").alias("df"))
        ranked = idx.join(dfreq, "sh").withColumn(
            "__rnk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("df").asc(), F.col("sh").asc()
                )
            ),
        )
        probe = ranked.where(
            F.col("__rnk")
            <= F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh")) + 1
        ).select("id", "sh")
        pa = probe.alias("a")
        pb = probe.alias("b")
        cands = (
            pa.join(
                pb,
                (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        sa = per_doc.select(F.col("id").alias("id_a"), F.col("shset").alias("sa"))
        sb = per_doc.select(F.col("id").alias("id_b"), F.col("shset").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = (F.size("sa") + F.size("sb")).cast("double") - inter
        return (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("jaccard", inter / union)
            .where(F.col("jaccard") >= F.lit(threshold))
            .select(
                "id_a", "id_b", ch.round_to(F.col("jaccard"), 4).alias("jaccard")
            )
        )
    if salt_df is not None:
        # hot flag comes straight off the window count -- no broadcast
        # join.  One flagged, materialized index (lazy localCheckpoint):
        # the cold and hot branches below would otherwise each recompute
        # the shingle lineage for their own exchange.
        idx = idx.select(
            "id", "nsh", "sh", (F.col("__df") >= salt_df).alias("__hot")
        ).localCheckpoint(eager=False)
        cold = idx.where(~F.col("__hot")).drop("__hot")
        hot_idx = idx.where(F.col("__hot")).drop("__hot")
        s = int(salt_groups)
        g = F.pmod(F.xxhash64("id", F.lit(0x5A17)), F.lit(s)).cast("int")
        lefts = hot_idx.select(
            "id", "nsh", "sh",
            g.alias("ci"),
            F.explode(F.sequence(g, F.lit(s - 1))).alias("cj"),
        )
        rights = hot_idx.select(
            "id", "nsh", "sh",
            F.explode(F.sequence(F.lit(0), g)).alias("ci"),
            g.alias("cj"),
        )
        # The grid only spreads work if the join's exchange actually
        # partitions by the CELL key.  Left alone, two mechanisms
        # silently re-concentrate every cell of a hot shingle into one
        # task (r20, measured at the 10x probe: ONE task emitting
        # C(5000,2) = 12.5M pairs, 39.5 s vs the 4.5 s stage median):
        # (a) the index arrives hash-partitioned by (sh) from the df
        # window, which SATISFIES ClusteredDistribution(sh, ci, cj),
        # so the planner may skip the re-shuffle entirely; (b) the
        # hot side is tiny in BYTES (the explosion happens at the
        # join's OUTPUT), so AQE's byte-based partition coalescing
        # merges the salted exchange back to ~1 partition.  An
        # explicit-width repartition on the full cell key defeats
        # both: user-specified partitioning is neither elided nor
        # AQE-coalesced.  Width = the session's shuffle parallelism
        # (the same scale knob every other exchange uses).
        n_cells = int(
            hot_idx.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        lefts = lefts.repartition(n_cells, "sh", "ci", "cj")
        rights = rights.repartition(n_cells, "sh", "ci", "cj")
        ca = cold.hint("shuffle_hash").alias("a")
        cb = cold.hint("shuffle_hash").alias("b")
        cold_pairs = ca.join(
            cb, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
        ).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.nsh").alias("nsh_a"), F.col("b.nsh").alias("nsh_b"),
        )
        ha = lefts.hint("shuffle_hash").alias("a")
        hb = rights.hint("shuffle_hash").alias("b")
        a_lt_b = F.col("a.id") < F.col("b.id")
        hot_pairs = ha.join(
            hb,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cj") == F.col("b.cj"))
            # off-diagonal cells pair distinct groups (ids disjoint);
            # diagonal cells keep the ordered half to avoid dup/self
            & ((F.col("a.ci") != F.col("a.cj")) | a_lt_b),
        ).select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            F.when(a_lt_b, F.col("a.nsh")).otherwise(F.col("b.nsh")).alias("nsh_a"),
            F.when(a_lt_b, F.col("b.nsh")).otherwise(F.col("a.nsh")).alias("nsh_b"),
        )
        pair_rows = cold_pairs.unionByName(hot_pairs)
    else:
        a = idx.hint("shuffle_hash").alias("a")
        b = idx.hint("shuffle_hash").alias("b")
        pair_rows = a.join(
            b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
        ).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.nsh").alias("nsh_a"), F.col("b.nsh").alias("nsh_b"),
        )
    return (
        pair_rows.groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("common"),
            F.first("nsh_a").alias("nsh_a"),
            F.first("nsh_b").alias("nsh_b"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("nsh_a") + F.col("nsh_b") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", ch.round_to(F.col("jaccard"), 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def minhash_mins(
    idx: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """MinHash signature as flat columns m0..m{n-1} from an (id, sh)
    inverted index: for seed i, min over a doc's shingle-hashes of
    xxhash64(sh, i).

    Formulated as a single hash-aggregate with ``num_hashes`` MIN
    columns so the whole thing stays in whole-stage codegen with
    map-side partial aggregation -- the shuffle moves one
    8*num_hashes-byte row per doc, and no per-row array objects are
    ever built.  (A nested transform/array_min over the shingle array
    computes the same values but drops to interpreted eval -- ~100x
    slower per doc; don't go back to it.)
    """
    return idx.groupBy("id").agg(F.expr(f"{_mins_struct(num_hashes)} AS s")).selectExpr(
        "id", "s.*"
    )


def _mins_struct(num_hashes: int) -> str:
    """The MinHash MIN aggregates as ONE parsed ``named_struct`` string
    (not ~4 py4j round trips per column): the same flat MIN buffers,
    gathered into a struct per doc and expanded by ``s.*``."""
    mins = ", ".join(f"'m{i}', min(xxhash64(sh, {i}))" for i in range(num_hashes))
    return f"named_struct({mins})"


def minhash_bands(
    mins: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(id, band, bh) LSH band rows from a ``minhash_mins`` frame:
    band hash = xxhash64 over that band's r = num_hashes/bands
    min-columns.  Rows carry ONLY 24 bytes -- the join key material,
    never signatures or text.  Shared by the batch pair miner and the
    streaming near-dup ingest path (same banding => same collision
    probability math)."""
    r = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band', {j}, 'bh', "
        f"xxhash64({', '.join(f'm{j * r + i}' for i in range(r))}))"
        for j in range(bands)
    )
    return mins.selectExpr("id", f"inline(array({structs}))")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs via MinHash banded LSH + exact-Jaccard verify.

    bands=16 x rows=4 over 64 hashes: P(candidate) for a pair at
    s=0.9 is 1-(1-0.9^4)^16 ~ 1-2e-12 -- recall is effectively exact
    above the default threshold, and every candidate is verified with
    true Jaccard, so precision IS exact.

    The per-document state -- the distinct shingle set plus the
    ``num_hashes`` MINs -- is ONE aggregate over the shingle index,
    materialized once with an eager ``localCheckpoint`` (one job) and
    read by both band sides and both verify joins.  Left as lineage,
    the tokenize -> shingle -> aggregate pipeline ran twice (once for
    the sets, once for the MINs) and, on a cached input, the band
    exchange was not reused either.
    """
    # shingle strings are hashed to 64-bit longs ONCE; everything
    # downstream (signature, banding, verify-intersect) works on longs.
    # The raw (non-distinct) index feeds the aggregate directly --
    # collect_set dedupes and MIN is duplicate-insensitive.
    state = (
        _shingle_index(df, id_col, text_col, k)
        .groupBy("id")
        .agg(
            F.expr("collect_set(sh) AS shset"),
            F.expr(f"{_mins_struct(num_hashes)} AS s"),
        )
        .selectExpr("id", "shset", "s.*")
        .localCheckpoint(eager=True)
    )
    # banded rows carry ONLY (id, band, band-hash): the LSH join
    # shuffles 24 bytes/row, and the shingle sets are attached per-side
    # AFTER candidate pairs exist (|candidates| << |docs| x bands at
    # any realistic dup rate)
    banded = minhash_bands(state, num_hashes, bands)
    # shuffle_hash both sides over the checkpointed state: the band
    # exchange is materialized once and the other side reuses it
    # (broadcast would run the band Generate twice, build and probe)
    a = banded.hint("shuffle_hash").alias("a")
    b = banded.hint("shuffle_hash").alias("b")
    cands = (
        a.join(b, F.expr("a.band = b.band AND a.bh = b.bh AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cands.join(state.selectExpr("id AS id_a", "shset AS sh_a"), "id_a").join(
        state.selectExpr("id AS id_b", "shset AS sh_b"), "id_b"
    )
    inter = "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
    union = f"CAST(size(sh_a) + size(sh_b) AS DOUBLE) - {inter}"
    return (
        pairs.selectExpr("id_a", "id_b", f"{inter} / ({union}) AS jaccard")
        .where(f"jaccard >= {float(threshold)!r}D")
        .withColumn("jaccard", ch.round_to("jaccard", 4))
    )


# --------------------------------------------------------------------------
# Cross-table contamination check (train vs benchmark n-gram overlap)
# --------------------------------------------------------------------------
def contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: float = 0.5,
) -> DataFrame:
    """Benchmark documents contaminated by the training set: for each
    bench doc, the max fraction of its k-gram shingles found in any
    single train doc, reported when >= min_overlap.

    Asymmetric by design (overlap is normalized by the BENCH doc's
    shingle count -- a benchmark question fully contained in a long
    training doc scores 1.0).  Same inverted-index join discipline as
    ngram_jaccard_pairs: cost bounded by shingle-bucket sizes, both
    sides shuffled as 8-byte hashes.  Returns (bench_id, train_id,
    overlap) for the argmax train doc, ties broken by min train id.
    """
    t_idx = (
        _shingle_sets(_shingle_index(train, id_col, text_col, k))
        .selectExpr("id AS tid", "explode(shset) AS sh")
        .hint("shuffle_hash")
    )
    b_idx = (
        _shingle_sets(_shingle_index(bench, id_col, text_col, k))
        .selectExpr("id AS bid", "size(shset) AS bn", "explode(shset) AS sh")
        .hint("shuffle_hash")
    )
    overlaps = (
        b_idx.join(t_idx, "sh")
        .groupBy("bid", "tid")
        .agg(F.expr("count(*) AS common"), F.expr("first(bn) AS bn"))
        .selectExpr("bid", "tid", "CAST(common AS DOUBLE) / CAST(bn AS DOUBLE) AS overlap")
        .where(f"overlap >= {float(min_overlap)!r}D")
    )
    return (
        overlaps.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY bid ORDER BY overlap DESC, tid) AS __rn",
        )
        .where("__rn = 1")
        .selectExpr("bid AS bench_id", "tid AS train_id", "overlap")
        .withColumn("overlap", ch.round_to("overlap", 4))
    )


# --------------------------------------------------------------------------
# Connected components over near-dup pairs -> dedup clusters
# --------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; component =
    min id reachable through the pair graph.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbours; converges in
    graph-diameter rounds.  Near-dup clusters from LSH mining are
    near-cliques (diameter ~2-3), so this beats the log-round
    large-star/small-star contraction in practice.

    The edges are built once: both orientations of every pair plus a
    self-loop per endpoint, deduplicated, partitioned by ``dst`` and
    checkpointed.  A round is then ONE join of the edges with the
    labels and ONE ``min`` aggregate by ``src``: the self-loop makes a
    node's own label one of its candidates, and the same aggregate
    yields its previous label as ``min(CASE WHEN src = dst THEN c
    END)``, so spotting a change needs no second join.  Two rounds
    make a cycle, which ends in an eager ``localCheckpoint`` that cuts
    the lineage (plans stay constant-size) and carries the cycle's
    change count as a ``DataFrame.observe`` metric: ONE job per cycle,
    and the driver sees only the count, never the data.  The loop
    exits on the first cycle that changes nothing, or after
    ``max_iter`` cycles (graph diameter <= 2 * ``max_iter``).
    """
    # localCheckpoint cuts lineage each generation (a persist()-only
    # variant doubles the logical plan per iteration -- analysis time
    # explodes by iteration ~6, measured).  Checkpoint blocks are
    # released by the ContextCleaner once unreferenced; dropping the
    # Python handles + one gc pass at the end hands every intermediate
    # generation back promptly, otherwise LATER queries in the session
    # degrade under the leaked storage (also measured).
    import gc

    # every edge row from ONE pass over pairs (r19 opt): a generator
    # over a struct array instead of a union of selects.  The union
    # form embeds the pair-mining lineage once per branch in the edges
    # job and exchange reuse does NOT merge the branches (measured: 4
    # ShuffledHashJoin / 11 Exchange in the union plan vs 2 / ~6 for
    # the generator; the pair join -- the expensive post-checkpoint
    # step of the LSH miners -- executed once per branch).
    a, b = ch.ident(a_col), ch.ident(b_col)
    edges = (
        pairs.selectExpr(
            f"inline(array(named_struct('src', {a}, 'dst', {b}), "
            f"named_struct('src', {b}, 'dst', {a}), "
            f"named_struct('src', {a}, 'dst', {a}), "
            f"named_struct('src', {b}, 'dst', {b})))"
        )
        .repartition("dst")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def propagate(lbl: DataFrame | None) -> DataFrame:
        # no labels yet: every node's label is its own id, so the first
        # round needs no join at all
        cand = (
            edges.selectExpr("src", "dst", "dst AS c")
            if lbl is None
            else edges.join(lbl.selectExpr("id AS dst", "comp AS c"), "dst")
        )
        return (
            cand.groupBy("src")
            .agg(
                F.expr("min(c) AS comp"),
                F.expr("min(CASE WHEN src = dst THEN c END) AS prev"),
            )
            .selectExpr("src AS id", "comp", "prev")
        )

    # TWO propagation rounds per checkpoint cycle: the eager checkpoint
    # is the fixed cost of a cycle (it dwarfs the joins at interactive
    # scale).  Only the outer round counts changes, and that is enough:
    # an outer round that changes nothing found its input (the inner
    # round's labels) already a fixpoint, so the loop never exits early.
    labels = None
    for _ in range(max_iter):
        obs = Observation()
        new_labels = (
            propagate(propagate(labels))
            .observe(obs, F.expr("count_if(comp < prev) AS n"))
            # never NULL (a node's self-loop is a candidate); coalesce
            # keeps the column non-nullable where the ids are
            .selectExpr("id", "coalesce(comp, id) AS comp")
            .localCheckpoint(eager=True)
        )
        prev, labels = labels, new_labels
        del prev, new_labels
        if obs.get["n"] == 0:
            break
    if labels is None:  # max_iter < 1: every node is its own component
        labels = edges.where("src = dst").selectExpr("src AS id", "dst AS comp")
    del edges
    gc.collect()
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster assignment for every document: (id, component, is_canonical).

    Documents in no pair form singleton clusters (component = own id).
    The canonical survivor of each cluster is its min id -- the same
    keep-smallest rule as dedup_exact, so exact and near dedup compose.
    """
    comps = connected_components(pairs)
    return (
        df.selectExpr(f"{ch.ident(id_col)} AS id")
        .join(comps, "id", "left")
        .selectExpr(
            f"id AS {ch.ident(id_col)}",
            "coalesce(comp, id) AS component",
            "coalesce(comp, id) = id AS is_canonical",
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
# 64-bit term hash from the first 16 hex chars of md5, built as two
# 32-bit conv() halves OR-ed together (conv of 8 hex chars fits a
# signed long; the OR reassembles the exact unsigned bit pattern in
# two's complement).  Portable: DuckDB reproduces the identical bits
# from md5 hex nibbles, so simhash output becomes oracle-checkable.
_MD5_TERM_HASH = (
    "shiftleft(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), 32) | "
    "CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)"
)


def simhash_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    nbits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sim) with sim the nbits-bit Charikar SimHash as ONE long.

    Same pattern as minhash_mins: explode distinct token hashes, then
    nbits flat SUM(+-1 vote) aggregate columns in a single codegen
    hash-aggregate, then pack sign bits with shiftleft -- no per-row
    arrays, no interpreted lambdas (the nested zip_with/transform
    formulation of the same math ran ~30x slower).  Bit i of sim is 1
    iff sum over distinct tokens of sign(bit i of hash(token)) > 0.

    hash_fn: "xxhash64" (default -- fastest, JVM-native) or "md5"
    (term hash = first 64 bits of md5 hex; bit-identical to what ANSI
    SQL / DuckDB can compute from md5 nibbles, making the whole
    simhash output oracle-checkable).  Both paths share every
    downstream step; only the 64-bit term hash differs.
    """
    if hash_fn == "xxhash64":
        th = "xxhash64(t)"
    elif hash_fn == "md5":
        th = _MD5_TERM_HASH
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    # per-doc dedup is MAP-SIDE (r19 opt): array_distinct before the
    # explode replaces a .distinct() on the exploded (id, th) rows --
    # that distinct was a full shuffle of the token stream; now the
    # only shuffle is the vote aggregate's per-doc partial states.
    # Dedup domain moves from hash space to token-string space, which
    # is what the md5-path SQL oracle does too (SELECT DISTINCT doc,
    # token); the two differ only on an intra-document 64-bit term
    # hash collision (~1e-11), the family's accepted epsilon.
    idx = df.selectExpr(
        f"{ch.ident(id_col)} AS id",
        f"explode(array_distinct({tokens_sql(text_col)})) AS t",
    ).selectExpr("id", f"{th} AS th")
    # the nbits vote SUMs as ONE parsed named_struct string (as
    # minhash_mins): one py4j call instead of a few per bit
    votes = ", ".join(
        f"'v{i}', sum(if(bit_get(th, {i}) = 1, 1, -1))" for i in range(nbits)
    )
    packed = " + ".join(
        f"shiftleft(CAST(if(s.v{i} > 0, 1, 0) AS LONG), {i})" for i in range(nbits)
    )
    return (
        idx.groupBy("id")
        .agg(F.expr(f"named_struct({votes}) AS s"))
        .selectExpr("id", f"{packed} AS sim")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    nbits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Blocking: split the 64-bit hash into (max_hamming+1) chunks; by
    pigeonhole any pair within the distance budget agrees on at least
    one full chunk, so joining on (chunk_idx, chunk_value) finds ALL
    such pairs -- exact w.r.t. the hash, then verified by true hamming
    = bit_count(a XOR b) on the packed longs.

    hash_fn: see simhash_hashes -- "md5" yields an oracle-checkable
    (ANSI-SQL-reproducible) pair set; "xxhash64" is the fast default.
    """
    nchunks = max_hamming + 1
    width = nbits // nchunks
    docs = simhash_hashes(df, id_col, text_col, nbits, hash_fn=hash_fn)
    # a 64-bit chunk (max_hamming=0) masks with all bits set: -1, since
    # 2**64 - 1 is no BIGINT literal
    mask = (1 << width) - 1 if width < 64 else -1
    structs = ", ".join(
        f"named_struct('ci', {c}, 'cv', shiftrightunsigned(sim, {c * width}) & {mask})"
        for c in range(nchunks)
    )
    chunked = docs.selectExpr("id", "sim", f"inline(array({structs}))")
    a = chunked.hint("shuffle_hash").alias("a")
    b = chunked.hint("shuffle_hash").alias("b")
    return (
        a.join(b, F.expr("a.ci = b.ci AND a.cv = b.cv AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b", "bit_count(a.sim ^ b.sim) AS hamming")
        .where(f"hamming <= {int(max_hamming)}")
        .dropDuplicates(["id_a", "id_b"])
    )
