"""Similarity search over embedding columns (array<float>).

Primitives are higher-order-function expressions (zip_with + aggregate
dot products -- JVM, codegen'd, no Python) wherever their size allows.
Two stages run as Arrow numpy kernels instead: the sign-LSH signatures
(always; bit-identical to ``sign_signature``, which stays as their
reference), and IVF assignment and probing once the centroid set
passes ``_ARROW_AUTO_ELEMS`` doubles, where a centroid literal stops
paying for itself and then stops parsing at all (``assign_lists``).
Size is the only selector.  The expressions are built from one SQL
text form of the vector math (``_dot_sql``/``_norm_sql``/
``_cosine_sql``), one string per logical unit, because each composed
Column or Python-lambda HOF call is a py4j round trip; the public
``as_double``/``cosine`` wrap the same text.  Three levels:

- brute_topk      : exact cosine top-k, query side broadcast.  The
                    correctness baseline; fine when |queries| is small
                    (cost |Q| x |N|, embarrassingly parallel).
- signlsh_pairs   : near-duplicate pairs via random-hyperplane sign
                    LSH bucketing + exact cosine verify.  The 100TB
                    pair-mining path: only same-bucket pairs touched.
- ivf_topk        : IVF-style ANN -- coarse quantize to centroids,
                    probe nprobe nearest lists.  Approximate; the
                    scale path for large |Q|.

Hyperplanes/centroids are deterministic (seeded) so runs reproduce.
Every IVF structure here is an in-memory DataFrame or driver-side
list: the module writes no index to storage.  A caller that answers
repeated batches keeps the ``assign_lists`` frame itself and passes it
as ``ivf_topk(assigned=...)``.

Algorithms (public literature): random-hyperplane sign LSH per
Charikar (STOC 2002); IVF coarse quantization in the style of
Jegou/Douze/Schmid, "Product quantization for nearest neighbor
search" (TPAMI 2011) / the FAISS IVF-Flat index family, reduced here
to its bucketing skeleton (no PQ codes -- exact residual scoring).
"""

from __future__ import annotations

import hashlib
import threading
from typing import Iterator
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ch

# Auto-switch point between the SQL-literal centroid form (JVM
# codegen'd HOF fold — zero Python, best for tiny centroid sets) and
# the broadcast-numpy + Arrow-UDF form.  MEASURED crossover
# (the literal vs broadcast-UDF crossover sweep, PLANS.md r17,
# 200k rows x dim 16): the literal fold scales linearly in nlist x dim
# (0.42 s at 128 elems -> 19.6 s at 16k) while the arrow path stays
# flat (~0.4-0.6 s — BLAS matmul is trivial at these sizes; the cost
# is the constant Arrow transfer of N rows), with break-even at
# ~256 elems.  1024 keeps a safety margin for the python-worker
# startup on tiny inputs and keeps the pinned registry entries
# (nlist=8 x dim=64 = 512) on the fully-JVM literal plan.
_ARROW_AUTO_ELEMS = 1024


# The vector math, as SQL text: every plan below is built from these
# strings, one per logical unit, because each composed Column or
# Python-lambda HOF call is a py4j round trip.  Arguments are SQL
# expressions (column references or lambda variables).
def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"


def _cosine_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / nullif({_norm_sql(a)} * {_norm_sql(b)}, 0D)"


def _as_double_sql(vec_col: str) -> str:
    return f"transform({ch.ident(vec_col)}, x -> CAST(x AS DOUBLE))"


def as_double(vec_col: str) -> Column:
    """The array column ``vec_col`` with every element cast to DOUBLE."""
    return F.expr(_as_double_sql(vec_col))


def cosine(a: str, b: str) -> Column:
    """Cosine of the array columns ``a`` and ``b``; NULL for a
    zero-norm side."""
    return F.expr(_cosine_sql(ch.ident(a), ch.ident(b)))


def brute_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Queries are broadcast (small side); candidates scan stays fully
    partition-parallel; per-query ranking is one shuffle on query_id.
    Deterministic tie-break: (cos desc, neighbor id asc).
    """
    v = vectors.selectExpr(
        f"{ch.ident(id_col)} AS nn_id", f"{_as_double_sql(vec_col)} AS nv"
    ).selectExpr("*", f"{_norm_sql('nv')} AS nnorm")
    q = queries.selectExpr(
        f"{ch.ident(query_id_col)} AS query_id", f"{_as_double_sql(vec_col)} AS qv"
    ).selectExpr("*", f"{_norm_sql('qv')} AS qnorm")
    joined = v.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where("nn_id != query_id")
    return _top_k(joined, k)


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Score candidate pairs (query_id, qv, qnorm, nn_id, nv, nnorm)
    exactly and keep the top k per query (cos desc, neighbor id asc
    ties).  The norms come precomputed, once per vector rather than
    once per pair."""
    return (
        pairs.selectExpr(
            "query_id",
            "nn_id",
            f"{_dot_sql('nv', 'qv')} / nullif(nnorm * qnorm, 0D) AS cos",
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank",
        )
        .where(f"rank <= {int(k)}")
        .selectExpr("query_id", "nn_id AS neighbor_id", "cos", "rank")
        .withColumn("cos", ch.round_to("cos", 4))
    )


def _hyperplanes(dim: int, nplanes: int, seed: int = 42) -> str:
    """Deterministic +-1 hyperplanes as ONE literal array-of-arrays:
    nplanes*dim per-element ``F.lit`` calls cost a py4j round-trip
    each (~0.75 s for 16x64, measured -- it made plan CONSTRUCTION
    dominate dedup_embedding's wall time)."""
    rng = np.random.RandomState(seed)
    return _centroid_literal(rng.choice([-1.0, 1.0], size=(nplanes, dim)))


def sign_signature(vec_col: str, dim: int, nplanes: int = 16, seed: int = 42) -> Column:
    """Sign-LSH signature: integer whose bit j = [dot(vec, plane_j) > 0].

    Two vectors that are positive scalar multiples get IDENTICAL
    signatures (recall 1.0 for exact-duplicate embeddings); cosine-
    close pairs collide with prob (1 - theta/pi)^nplanes per table.

    Expression form (interpreted lambda HOFs: nplanes dots per row,
    each a dim-length zip_with+fold) over the DOUBLE array column
    ``vec_col``.  ``signlsh_pairs`` computes the same signatures
    through the Arrow kernel below (one numpy pass per batch,
    bit-identical -- the kernel reproduces this fold's exact IEEE
    operation order); this form stays as the semantic reference and
    the equality oracle for the kernel's property tests.
    """
    bits = (
        f"transform({_hyperplanes(dim, nplanes, seed)}, p -> "
        f"CASE WHEN {_dot_sql(ch.ident(vec_col), 'p')} > 0 THEN 1L ELSE 0L END)"
    )
    return F.expr(
        f"aggregate({bits}, named_struct('v', 0L, 'm', 1L), "
        "(acc, b) -> named_struct('v', acc.v + b * acc.m, 'm', acc.m * 2), "
        "acc -> acc.v)"
    )


def _sign_signatures_kernel(
    dim: int, nplanes: int, ntables: int, seed0: int = 42
):
    """Arrow kernel: all ``ntables`` sign-LSH signatures of a vector in
    one vectorized pass -- ``array<long>`` of length ntables, table t
    seeded ``seed0 + t`` exactly like the expression path.  Returns a
    function of the vector column's NAME (its NULL guard is SQL text).

    Bit-identical to :func:`sign_signature` by construction:

    - the accumulation loops over dimensions in index order, so each
      plane dot performs the same IEEE additions in the same order as
      the expression fold (``((0 + x0*p0) + x1*p1) + ...``) -- numpy's
      pairwise-summation dot would round differently and could flip a
      sign on a near-zero dot;
    - NaN dots (NaN elements; inf - inf) set the bit: Spark SQL
      comparison semantics order NaN ABOVE every value, so the
      expression's ``dot > 0`` is TRUE for NaN (measured: an all-NaN
      vector signs 0xFFFF), unlike IEEE/numpy where NaN compares
      false -- the kernel ORs ``isnan`` in explicitly;
    - NULL vectors, wrong-length vectors, and vectors with a NULL
      ELEMENT produce signature 0: the expression's zip_with pads
      with NULLs, one NULL product poisons the whole fold to SQL NULL
      (not NaN), and ``NULL > 0`` is false for every bit.  The
      returned wrapper normalizes has-null-element vectors to NULL
      before the kernel, because Arrow->pandas conversion would
      otherwise collapse NULL elements into NaN and flip those bits
      to 1 under the NaN rule.
    """
    from pyspark.sql.functions import pandas_udf

    d, npl, nt, s0 = int(dim), int(nplanes), int(ntables), int(seed0)

    @pandas_udf("array<long>")
    def _sigs(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # heavyweight init once per task (guide §4.5): the plane
        # matrix is rebuilt from the same seeds the expression
        # literals use
        planes = np.concatenate(
            [
                np.random.RandomState(s0 + t).choice(
                    [-1.0, 1.0], size=(npl, d)
                )
                for t in range(nt)
            ],
            axis=0,
        )  # (nt*npl, d)
        weights = np.int64(1) << np.arange(npl, dtype=np.int64)
        for vs in it:
            n = len(vs)
            mat, ok = _valid_rows(vs, d, require_finite=False)
            acc = np.zeros((n, nt * npl), dtype=np.float64)
            with np.errstate(invalid="ignore", over="ignore"):
                for j in range(d):  # strict left-fold order per plane
                    acc += mat[:, j, None] * planes[None, :, j]
                # Spark comparison semantics: NaN > 0 is TRUE
                bits = ((acc > 0) | np.isnan(acc)).astype(np.int64)
            bits[~ok] = 0
            sig = (bits.reshape(n, nt, npl) * weights).sum(
                axis=2, dtype=np.int64
            )
            yield pd.Series(list(sig))

    def call(vec_col: str) -> Column:
        # NULL-element vectors fold to SQL NULL in the expression form
        # (signature 0); normalize them to a NULL vector here so the
        # kernel's ok-mask handles them (Arrow would deliver the NULL
        # elements as NaN, which signs 1 under the NaN rule above)
        v = ch.ident(vec_col)
        return _sigs(F.expr(
            f"CASE WHEN exists({v}, x -> x IS NULL) "
            f"THEN CAST(NULL AS array<double>) ELSE {v} END"
        ))

    return call


def signlsh_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nplanes: int = 16,
    ntables: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket by sign-LSH signature
    (ntables independent tables), verify candidates with exact cosine.

    Precision exact (verify step); recall 1.0 for scaled-copy dups and
    1-(1-(1-theta/pi)^nplanes)^ntables for merely-close pairs.
    """
    base = vectors.selectExpr(
        f"{ch.ident(id_col)} AS id", f"{_as_double_sql(vec_col)} AS v"
    )
    # banded rows carry ONLY (id, tbl, sig): the bucket self-join
    # shuffles 20 bytes/row; vectors are attached per side AFTER the
    # candidate pairs exist (|candidates| << |vectors| x ntables)
    # r20: one Arrow batch pass computes every table's signature
    # (bit-identical to sign_signature -- see _sign_signatures_kernel);
    # the expression form evaluated ntables*nplanes interpreted lambda
    # dots per row (guide §4).  posexplode's position IS the table
    # index (array built in seed order).  The kernel is NOT a lambda
    # HOF, so sitting under the Generate is safe: ArrowEvalPython
    # materializes the array column before the explode consumes it.
    kern = _sign_signatures_kernel(dim, nplanes, ntables, seed0=42)
    sigs = base.select("id", kern("v").alias("sigs")).selectExpr(
        "id", "posexplode(sigs) AS (tbl, sig)"
    )
    # shuffle_hash on BOTH sides: broadcast would compute the signature
    # lineage twice (build + probe); the shuffled join materializes the
    # sig exchange once and reuses it -- measured 4.4x at sf0.1, and at
    # scale both sides are large so a shuffle join is the right plan
    # anyway
    a = sigs.hint("shuffle_hash").alias("a")
    b = sigs.hint("shuffle_hash").alias("b")
    cands = (
        a.join(b, F.expr("a.tbl = b.tbl AND a.sig = b.sig AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.selectExpr("id AS id_a", "v AS va")
    vb = base.selectExpr("id AS id_b", "v AS vb")
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .selectExpr("id_a", "id_b", f"{_cosine_sql('va', 'vb')} AS cos")
        .where(f"cos >= {float(threshold)!r}D")
        .withColumn("cos", ch.round_to("cos", 4))
    )


def train_centroids(
    vectors: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_per_list: int = 64,
    lloyd_iters: int = 2,
) -> list[list[float]]:
    """Spherical k-means centroids from a bounded deterministic sample.

    One distributed pass: TakeOrdered of nlist*train_per_list rows by
    xxhash64(id) (a deterministic pseudo-random sample, spread across
    the data -- NOT the lowest ids, which are arbitrarily biased).  The
    sample is tiny (independent of |vectors|), so the Lloyd iterations
    run driver-side in numpy -- the same split MLlib's KMeansModel uses
    (distributed assignment, driver-held centroids).  Seeds are the
    first nlist sample rows in hash order; empty clusters keep their
    previous centroid; everything is seed-deterministic so runs
    reproduce bit-for-bit.  Returns [] when the input holds no vector
    with a positive norm (ivf_topk then short-circuits to an empty
    result instead of crashing).
    """
    train_rows = (
        vectors.selectExpr(
            f"xxhash64(CAST({ch.ident(id_col)} AS STRING)) AS h",
            f"{ch.ident(id_col)} AS id",
            f"{_as_double_sql(vec_col)} AS v",
        )
        .orderBy("h", "id")
        .limit(nlist * train_per_list)
        .select("v")
        .collect()
    )
    if not train_rows:
        return []
    x = np.array([r["v"] for r in train_rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]  # spherical: cosine == dot
    if not len(x):
        return []
    cents = x[: min(nlist, len(x))].copy()
    for _ in range(lloyd_iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return [[float(v) for v in row] for row in cents]


def _centroid_literal(centroids: list[list[float]]) -> str:
    """Centroids as ONE SQL literal array-of-arrays (the _hyperplanes
    lesson: per-element F.lit costs a py4j round trip each; a single
    SQL string parses JVM-side).  The ``D`` suffix keeps elements
    DOUBLE: a bare ``1.0`` parses as DECIMAL(2,1) and would poison
    downstream arithmetic."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
        for row in centroids
    ) + ")"


def _unit_matrix(centroids: list[list[float]]) -> "np.ndarray":
    """Validated, row-normalized centroid matrix (nlist x dim).
    Refuses empty lists and zero-norm rows loudly (train_centroids
    never emits either — its centroids are means of unit vectors,
    re-normalized each Lloyd step).  Accepts a list-of-lists or a 2-D
    ndarray; the per-element Python arithmetic is deliberately kept
    (NOT vectorized) so normalized values stay bit-identical across
    rounds — the registry's pinned hashes ride on them."""
    if len(centroids) == 0:
        raise ValueError(
            "empty centroid list: assignment needs at least one list"
        )
    norms = [sum(x * x for x in row) ** 0.5 for row in centroids]
    if any(n == 0 for n in norms):
        raise ValueError(
            "zero-norm centroid row(s) at indices "
            f"{[i for i, n in enumerate(norms) if n == 0]}: "
            "cosine assignment is undefined for them"
        )
    return np.array(
        [[x / n for x in row] for row, n in zip(centroids, norms)],
        dtype=np.float64,
    )


def _use_arrow(centroids: list[list[float]]) -> bool:
    """Literal vs broadcast-UDF form, by size alone: the broadcast form
    once nlist x dim passes the measured crossover
    (``_ARROW_AUTO_ELEMS``).  Accepts a list-of-lists or a 2-D
    ndarray."""
    dim = len(centroids[0]) if len(centroids) else 0
    return len(centroids) * dim > _ARROW_AUTO_ELEMS


def _valid_rows(
    vs, dim: int, require_finite: bool = True
) -> tuple["np.ndarray", "np.ndarray"]:
    """(matrix, ok-mask) for a pandas Series of array cells.  A row is
    usable if it is a ``dim``-length vector (and finite, when
    ``require_finite``); everything else (NULL vector, wrong length)
    mirrors the literal path's NULL-score ordering and falls to the
    caller's first-candidate default.  Fast path: a batch of uniform
    non-null rows stacks in one vectorized call (the common shape on
    the N-row build this path exists to serve); the per-row loop only
    runs for batches holding NULLs or ragged lengths."""
    n = len(vs)
    try:
        stacked = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
    except (TypeError, ValueError):
        stacked = None
    if stacked is not None and stacked.shape == (n, dim):
        ok = (
            np.isfinite(stacked).all(axis=1)
            if require_finite
            else np.ones(n, dtype=bool)
        )
        return stacked, ok
    ok = np.zeros(n, dtype=bool)
    mat = np.zeros((n, dim), dtype=np.float64)
    for i, v in enumerate(vs):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape != (dim,):
            continue
        if require_finite and not np.isfinite(a).all():
            continue
        mat[i] = a
        ok[i] = True
    return mat, ok


# (applicationId, kind, content digest) -> Broadcast.  One broadcast
# per centroid payload per SparkContext (r17 advice #4): the arrow
# paths used to create a fresh SparkContext broadcast of the full
# centroid payload on every call and never release it, so repeated
# Arrow-form ivf_topk calls against a large-nlist centroid set piled
# up multi-hundred-MB broadcast blocks on executors until driver GC
# happened to reclaim them.  Content-keyed (sha256 over the raw
# float64/int64 bytes — cheaper than re-serializing and re-shipping
# the same payload) and LRU-bounded; evicted entries are
# unpersist()ed, NOT destroy()ed, so any still-lazy DataFrame holding
# one simply re-fetches from the driver on next use.  The cache is
# check-then-act state under one lock: a multithreaded driver racing
# two misses would otherwise double-create — and half-leak — the
# full-payload broadcast the memo exists to prevent (r18 review).
_BCAST_CACHE_MAX = 4
_bcast_cache: "OrderedDict[tuple, object]" = OrderedDict()
_cache_lock = threading.Lock()
# content-key -> Event while a broadcast is being created: concurrent
# misses on the same payload wait for the creator instead of
# double-broadcasting, and the GLOBAL lock is never held across the
# O(payload) broadcast serialization itself (r18 review #5: a
# seconds-long 'assign' broadcast would otherwise stall every other
# thread's microsecond cache lookup).
_bcast_pending: dict[tuple, "threading.Event"] = {}


def _cached_broadcast(spark, kind: str, arrays, factory):
    """Memoized ``sparkContext.broadcast(factory())`` keyed by the
    content of ``arrays`` (each a contiguous ndarray) within one
    application.  ``factory`` runs only on a miss, never under the
    global lock, and never twice for one payload."""
    app = spark.sparkContext.applicationId
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(repr((kind, a.dtype.str, a.shape)).encode())
        h.update(a.tobytes())
    key = (app, kind, h.hexdigest())
    while True:
        with _cache_lock:
            bc = _bcast_cache.get(key)
            if bc is not None:
                _bcast_cache.move_to_end(key)
                break
            ev = _bcast_pending.get(key)
            if ev is None:
                ev = threading.Event()
                _bcast_pending[key] = ev
                creating = True
            else:
                creating = False
        if not creating:
            ev.wait()
            continue  # re-check the cache (creator may have failed)
        # one try/finally owns the whole creator path: ANY exit —
        # broadcast failure, or a BaseException (KeyboardInterrupt,
        # py4j error in the eviction unpersist) inside the insert
        # block — must clear the pending entry and wake the waiters,
        # or every thread hashing to this payload hangs forever in
        # ev.wait() (r18 review pass 3)
        try:
            bc = spark.sparkContext.broadcast(factory())
            with _cache_lock:
                _bcast_cache[key] = bc
                while len(_bcast_cache) > _BCAST_CACHE_MAX:
                    _, old = _bcast_cache.popitem(last=False)
                    try:
                        old.unpersist(False)
                    except Exception:
                        pass  # a dead SparkContext's broadcasts are gone
        finally:
            with _cache_lock:
                _bcast_pending.pop(key, None)
            ev.set()
        break
    return bc


def _arrow_assign(
    base: DataFrame,
    unit: "np.ndarray",
    members: list[list[int]] | None,
    reps: "np.ndarray | None",
) -> DataFrame:
    """cid assignment via a BROADCAST numpy centroid matrix consumed by
    an Arrow-batched pandas UDF — the large-nlist path where a centroid
    literal would blow past the SQL parser/py4j/codegen (r16 advice #4:
    the 65k-list x 1024-dim target is a multi-hundred-MB expression in
    literal form).  Semantics mirror the literal path: exact argmax
    (``members is None``) or two-level coarse-then-member argmax, ties
    to the lowest cid, and any row that is not a finite dim-length
    vector of the wrong LENGTH (or NULL) lands in the first candidate
    list (the literal path's all-scores-NULL ordering), while
    non-finite ELEMENTS flow through the score domain: numpy argmax
    returns the first-NaN index when a NaN is present, which is
    exactly Spark's NaN-greatest array_max + first-occurrence
    array_position, so NaN/inf rows assign identically to the literal
    path too (r17 review).  Scores are numpy dots — summation order
    differs from the JVM fold, so a near-exact tie (< 1 ulp apart) may
    assign differently than the literal path; harmless for IVF
    semantics (every vector still lands in exactly one list)."""
    from pyspark.sql.functions import pandas_udf

    spark = base.sparkSession
    members_np = (
        None
        if members is None
        else [np.asarray(m, dtype=np.int64) for m in members]
    )
    fp_arrays = [unit] + (
        [] if members_np is None else [*members_np, reps]
    )
    bc = _cached_broadcast(
        spark,
        "assign",
        fp_arrays,
        lambda: {"unit": unit, "members": members_np, "reps": reps},
    )

    @pandas_udf("long")
    def _assign(vs: pd.Series) -> pd.Series:
        p = bc.value
        u, mem, rp = p["unit"], p["members"], p["reps"]
        mat, ok = _valid_rows(vs, u.shape[1], require_finite=False)
        fallback = 0 if mem is None else int(mem[0][0])
        out = np.full(len(vs), fallback, dtype=np.int64)
        idx = np.where(ok)[0]
        if len(idx):
            with np.errstate(invalid="ignore", over="ignore"):
                if mem is None:
                    out[idx] = np.argmax(mat[idx] @ u.T, axis=1)
                else:
                    gids = np.argmax(mat[idx] @ rp.T, axis=1)
                    for g in np.unique(gids):
                        sel = idx[gids == g]
                        cids = mem[g]
                        within = np.argmax(mat[sel] @ u[cids].T, axis=1)
                        out[sel] = cids[within]
        return pd.Series(out)

    return base.select("nn_id", "nv", _assign(F.col("nv")).alias("cid"))


def _arrow_probe_frame(
    queries: DataFrame,
    unit: "np.ndarray",
    nprobe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qv, cid) probe fan-out via the broadcast matrix — the
    query-side twin of ``_arrow_assign`` for nlist past the literal
    budget.  Per row: top-``nprobe`` cids by cosine desc, cid asc
    (against unit centroids the dot ranks identically to cosine).
    Rows that are not finite dim-length vectors mirror the literal
    comparator's NULL ordering and probe cids [0..nprobe-1]."""
    from pyspark.sql.functions import pandas_udf

    spark = queries.sparkSession
    bc = _cached_broadcast(spark, "probe", [unit], lambda: unit)
    np_ = int(nprobe)

    @pandas_udf("array<long>")
    def _probe(vs: pd.Series) -> pd.Series:
        u = bc.value
        # require_finite stays ON here: the literal comparator's
        # ordering over mixed NaN scores is non-transitive (NaN
        # compares false both ways), so non-finite QUERY vectors have
        # no well-defined probe order in EITHER path; the conservative
        # cid-asc default below matches the literal path's all-NULL
        # ordering and is deterministic
        mat, ok = _valid_rows(vs, u.shape[1])
        default = list(range(np_))
        out: list[list[int]] = [default] * len(vs)
        idx = np.where(ok)[0]
        if len(idx):
            scores = mat[idx] @ u.T
            # stable argsort on -score: score desc, cid asc ties —
            # exactly the literal comparator's ordering
            order = np.argsort(-scores, axis=1, kind="stable")[:, :np_]
            for r, row in zip(idx, order):
                out[r] = [int(c) for c in row]
        return pd.Series(out)

    q = queries.selectExpr(
        f"{ch.ident(query_id_col)} AS query_id", f"{_as_double_sql(vec_col)} AS qv"
    )
    return q.select(
        "query_id", "qv", F.explode(_probe(F.col("qv"))).alias("cid")
    )


def _score_array(vec: str, cents_unit: str) -> str:
    """Per-centroid dot scores of one vector against the unit
    centroid literal; NULL dots (NULL vector elements) coalesce to
    -inf so they never win the argmax.  Materialize this into a
    column of its own projection so array_max and array_position
    share one evaluation."""
    return (
        f"transform({cents_unit}, c -> "
        f"coalesce({_dot_sql(vec, 'c')}, CAST('-Infinity' AS DOUBLE)))"
    )


def _argmax_cid(scores: str) -> str:
    """cid of the max score (first occurrence — cos desc, cid asc
    ties), as native O(nlist) scans: array_max + array_position.
    Both the original per-row array_sort (O(nlist log nlist)
    comparator lambdas) and a struct-aggregate running max made the
    N-row index build the dominant IVF cost — probe_ivf r16 measured
    43 s (aggregate) vs 8 s (this form) for 100k rows x nlist=1024;
    the sort form timed out outright at 400k.  Zero-norm vectors
    score 0.0 against every centroid and land in list 0 (first max),
    matching the sort form's tie-break."""
    return f"CAST(array_position({scores}, array_max({scores})) - 1 AS BIGINT)"


def _coarse_partition(
    unit: "np.ndarray", groups: int, iters: int = 10
) -> list[list[int]]:
    """Driver-side spherical k-means over the (tiny) centroid matrix:
    member cid lists per coarse group, empty groups dropped.  All
    numpy on nlist rows — microseconds next to any distributed work;
    deterministic (first-`groups` seeds, argmax ties to lowest)."""
    import numpy as np

    g = min(int(groups), len(unit))
    coarse = unit[:g].copy()
    assign = None
    for _ in range(iters):
        assign = np.argmax(unit @ coarse.T, axis=1)
        for j in range(g):
            members = unit[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    coarse[j] = m / n
    assign = np.argmax(unit @ coarse.T, axis=1)
    out = [[int(c) for c in np.where(assign == j)[0]] for j in range(g)]
    return [m for m in out if m]


def _coarse_cells(
    unit: "np.ndarray", coarse_groups: int
) -> tuple[list[list[int]], list[list[float]]]:
    """Two-level assignment cells: the member cids of each coarse cell
    and its representative, the renormalized member mean (the k-means
    cells' own centroids, rebuilt from the final membership so
    expression and partition agree)."""
    members = _coarse_partition(unit, coarse_groups)
    reps = []
    for m in members:
        mean = unit[m].mean(axis=0)
        n = float(np.linalg.norm(mean))
        reps.append((mean / n if n > 0 else unit[m[0]]).tolist())
    return members, reps


def assign_lists(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_groups: int | None = None,
) -> DataFrame:
    """IVF index build: (nn_id, nv, cid) — every vector tagged with
    its nearest-centroid list id in ONE map-side pass (no join, no
    shuffle, no sort).

    This is the expensive linear-in-N step of IVF, and it is a
    property of the CORPUS, not of any query: a caller answering
    repeated query batches builds it once, keeps the frame (cached or
    stored wherever it likes) and passes it to
    ``ivf_topk(assigned=...)``, paying only the candidate-list work per
    batch.  Rebuilding per query call (the default when ``assigned``
    is omitted) re-pays the full scan every time.

    ``coarse_groups=None`` (default) is the EXACT argmax: O(nlist)
    dots per row.  ``coarse_groups=g`` switches to two-level
    (IMI-style) assignment: the centroids are grouped driver-side by
    spherical k-means into <= g coarse cells; each row picks its
    nearest coarse cell, then its nearest centroid WITHIN that cell —
    O(g + nlist/g) dots per row, minimized at g ~ sqrt(nlist) (a
    ~16x per-row saving at nlist=1024).  APPROXIMATE: a vector whose
    true nearest centroid sits in a different coarse cell lands in a
    neighboring list instead — harmless for IVF semantics (every
    vector is in exactly one list; queries probe nprobe lists either
    way), measured ~96% agreement with exact assignment on clustered
    data, lower on structureless noise (probe_ivf r16).  ``coarse_groups=1`` degenerates
    to the exact argmax bit-for-bit (one cell holding every centroid,
    original cid order).  This is the 100 TB build path once
    N x nlist dots stop being affordable (1e9 vectors x 65k lists =
    6.5e13 dots exact vs ~5e11 two-level).

    The size of the centroid set picks the expression form.  Up to
    ``_ARROW_AUTO_ELEMS`` doubles (nlist x dim) the centroids are one
    SQL literal (JVM codegen, zero Python — best for small centroid
    sets); past it they ship as a broadcast numpy matrix consumed by
    an Arrow-batched pandas UDF.  The threshold is the MEASURED
    crossover: the literal fold's per-row cost is linear in nlist x
    dim while the arrow path rides BLAS and stays flat — 35x at 1024 x
    16 (probe_ivf --arrow, PLANS.md r17) — and the r16 advice's 65k x
    1024 target is ~1.3 GB of SQL text in literal form,
    parser-impossible outright.  Small sets stay literal: the Arrow
    form's Python workers and batch transfer are a fixed cost (forced
    at 16 lists x 32 dims it made a perfbench curation pass ~1.5x
    slower on a 4-core host)."""
    if coarse_groups is not None and coarse_groups < 1:
        raise ValueError(f"coarse_groups must be >= 1, got {coarse_groups}")
    base = vectors.selectExpr(
        f"{ch.ident(id_col)} AS nn_id", f"{_as_double_sql(vec_col)} AS nv"
    )
    arrow = _use_arrow(centroids)
    if coarse_groups is None or min(int(coarse_groups), len(centroids)) >= len(
        centroids
    ):
        if arrow:
            return _arrow_assign(base, _unit_matrix(centroids), None, None)
        # unit centroids, normalized driver-side: the row norm cancels
        # out of the argmax, so a plain dot ranks identically to cosine
        # (zero-norm centroids are refused by _unit_matrix)
        cents_unit = _centroid_literal(_unit_matrix(centroids).tolist())
        scored = base.selectExpr(
            "nn_id", "nv", f"{_score_array('nv', cents_unit)} AS __scores"
        )
        return scored.selectExpr("nn_id", "nv", f"{_argmax_cid('__scores')} AS cid")

    unit = _unit_matrix(centroids)
    members, reps = _coarse_cells(unit, coarse_groups)
    if arrow:
        return _arrow_assign(
            base, unit, members, np.array(reps, dtype=np.float64)
        )
    member_vec_lit = "array(" + ",".join(
        _centroid_literal([unit[c] for c in m]) for m in members
    ) + ")"
    member_cid_lit = "array(" + ",".join(
        "array(" + ",".join(f"{c}L" for c in m) + ")" for m in members
    ) + ")"
    scored = base.selectExpr(
        "nn_id", "nv", f"{_score_array('nv', _centroid_literal(reps))} AS __gs"
    )
    # gid is 0-based; element_at is 1-based
    picked = scored.selectExpr(
        "nn_id", "nv", f"CAST({_argmax_cid('__gs')} + 1 AS INT) AS __g1"
    ).selectExpr(
        "nn_id",
        "nv",
        f"element_at({member_cid_lit}, __g1) AS __cids",
        f"{_score_array('nv', f'element_at({member_vec_lit}, __g1)')} AS __ms",
    )
    return picked.selectExpr(
        "nn_id",
        "nv",
        f"element_at(__cids, CAST({_argmax_cid('__ms')} + 1 AS INT)) AS cid",
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize vectors to nlist k-means centroids
    (trained by `train_centroids` on a bounded hash sample unless
    passed in pre-trained), then answer each query from its nprobe
    nearest lists only.  Approximate by design; rows-only correctness
    check (the exact baseline is brute_topk).  Pytest gates recall@10
    >= 0.9 vs brute on clustered data (nprobe=2/nlist=8) and >= 0.5 on
    the unclustered test embeddings, where ~nprobe/nlist is the
    structural ceiling for any IVF.

    Training runs EAGERLY at call time (the bounded TakeOrdered
    sample); callers issuing repeated queries over the same vectors
    should pre-train once via ``train_centroids`` and pass
    ``centroids=`` to avoid retraining per call.  A supplied
    ``centroids`` list defines the lists outright -- ``nlist`` is a
    training-only parameter and is ignored in that case.

    ``assigned=`` goes one step further: pass a kept
    ``assign_lists(vectors, centroids)`` frame and the
    call skips the linear-in-N assignment scan entirely -- per batch
    it pays only the probe join and the candidate-list cosines
    (~|Q| * N * nprobe/nlist rows; probe_ivf r16 measures the law).
    The caller must pass the SAME centroids the frame was built with
    (cid spaces must agree) — ``assigned`` without ``centroids``
    refuses, because freshly-trained centroids would probe a cid
    space the index was not built in; ``vectors`` is then only used
    for its schema in the empty-centroid degenerate."""
    if assigned is not None and (centroids is None or len(centroids) == 0):
        # one invariant, both spellings: a built index necessarily has
        # a non-empty cid space, so centroids=None (training fresh ones
        # would silently probe a foreign cid space) and an explicitly
        # EMPTY list (r16 advice #3 — not the no-trainable-vectors
        # degenerate) are both caller bugs
        raise ValueError(
            "assigned= requires the non-empty centroid list the index "
            "was built with: training fresh ones here would silently "
            "probe a different cid space, and empty centroids alongside "
            "a built index cannot be the training degenerate"
        )
    if nprobe < 1:
        # min(nprobe, nlist)=0 would build F.sequence(1, 0) = [1, 0]
        # and crash at element_at(..., 0); refuse with types instead
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if centroids is None:
        centroids = train_centroids(vectors, nlist, id_col, vec_col)
    if len(centroids) == 0:
        # no trainable vectors: empty result with the stable schema
        return (
            queries.select(F.col(query_id_col).alias("query_id"))
            .withColumn(
                "neighbor_id", F.lit(None).cast(vectors.schema[id_col].dataType)
            )
            .withColumn("cos", F.lit(None).cast("double"))
            .withColumn("rank", F.lit(None).cast("int"))
            .where(F.lit(False))
        )
    # Assignment is a pure map-side Project (see assign_lists): the
    # pre-r13 formulation (crossJoin(broadcast) + row_number window
    # partitioned by vector id) pushed |N| x nlist rows through a
    # shuffle -- a 1024x inflation at nlist=1024, the exact kind of
    # hidden exchange that kills a 100 TB run.
    nprobe = min(int(nprobe), len(centroids))
    if assigned is None:
        assigned = assign_lists(vectors, centroids, id_col, vec_col)
    probes = _build_probes(queries, centroids, nprobe, query_id_col, vec_col)
    return _rank_candidates(probes, assigned, k)


def _build_probes(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe fan-out, literal or broadcast form by the same size rule
    as ``assign_lists`` — the query side is |Q|-bounded in rows, but
    its centroid LITERAL is nlist x dim either way, so large nlist
    needs the broadcast path here too."""
    if _use_arrow(centroids):
        return _arrow_probe_frame(
            queries, _unit_matrix(centroids), nprobe, query_id_col, vec_col
        )
    return _probe_frame(
        queries, _centroid_literal(centroids), nprobe, query_id_col, vec_col
    )


def _best_cids(vec: str, cents: str, n: int) -> str:
    """cids of the n nearest centroids (cos desc, cid asc), as a
    codegen'd expression: zip (dist, cid) structs, sort with a
    comparator, slice.  No join, no window, no shuffle.  Used on the
    QUERY side only (|Q| rows) -- the N-row assignment scan uses the
    O(nlist) argmax in ``assign_lists`` instead of this
    O(nlist log nlist) sort."""
    scored = (
        f"transform({cents}, (c, i) -> "
        f"named_struct('d', {_cosine_sql(vec, 'c')}, 'cid', CAST(i AS BIGINT)))"
    )
    ordered = (
        f"array_sort({scored}, (l, r) -> CASE WHEN l.d > r.d THEN -1 "
        "WHEN l.d < r.d THEN 1 ELSE CAST(l.cid - r.cid AS INT) END)"
    )
    return f"transform(slice({ordered}, 1, {int(n)}), s -> s.cid)"


def _probe_frame(
    queries: DataFrame,
    cents: str,
    nprobe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qv, cid): each query row fanned out to its nprobe
    nearest lists.  Explodes a PURE sequence and indexes into the
    sorted-cid array in the Project above it: explode(<HOF expr>)
    would put the higher-order function under the Generate and drop
    the operator to interpreted eval (the verify-skill shingle
    lesson)."""
    q = queries.selectExpr(
        f"{ch.ident(query_id_col)} AS query_id", f"{_as_double_sql(vec_col)} AS qv"
    )
    return q.selectExpr(
        "query_id", "qv", f"explode(sequence(1, {int(nprobe)})) AS __i"
    ).selectExpr(
        "query_id", "qv", f"element_at({_best_cids('qv', cents, nprobe)}, __i) AS cid"
    )


def _rank_candidates(probes: DataFrame, assigned: DataFrame, k: int) -> DataFrame:
    """Join probe rows to their lists and keep the exact top-k per
    query (see ``_top_k``); both norms are computed before the join."""
    return _top_k(
        probes.selectExpr("*", f"{_norm_sql('qv')} AS qnorm")
        .join(assigned.selectExpr("*", f"{_norm_sql('nv')} AS nnorm"), "cid")
        .where("nn_id != query_id"),
        k,
    )
