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

Algorithms (public literature): random-hyperplane sign LSH per
Charikar (STOC 2002); IVF coarse quantization in the style of
Jegou/Douze/Schmid, "Product quantization for nearest neighbor
search" (TPAMI 2011) / the FAISS IVF-Flat index family, reduced here
to its bucketing skeleton (no PQ codes -- exact residual scoring).
"""

from __future__ import annotations

import hashlib
import json
import threading
import weakref
from typing import Iterator
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor, as_completed

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

_CENTROID_SIDECAR = "_centroids.json"


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


# id(ndarray) -> (weakref to the keyed array, its unit matrix): the
# sidecar cache hands the SAME ndarray object back per (path, mtime),
# but every serving call used to re-run the O(nlist x dim) Python
# normalization below — ~6.7e7 interpreter float ops per call at the
# 65k x 1024 target.  Identity-keyed so the memo NEVER changes which
# bits come out (same input object -> the matrix the loop computed
# once); the weakref check defeats id() reuse after GC.  List inputs
# (the registry entries' path) never touch the memo.
_UNIT_CACHE_MAX = 4
_unit_cache: "OrderedDict[int, tuple]" = OrderedDict()


def _unit_matrix(centroids: list[list[float]]) -> "np.ndarray":
    """Validated, row-normalized centroid matrix (nlist x dim).
    Refuses empty lists and zero-norm rows loudly (train_centroids
    never emits either — its centroids are means of unit vectors,
    re-normalized each Lloyd step).  Accepts a list-of-lists or a 2-D
    ndarray; the per-element Python arithmetic is deliberately kept
    (NOT vectorized) so normalized values stay bit-identical across
    rounds — the registry's pinned hashes ride on them — and ndarray
    inputs are memoized by object identity so repeated serving calls
    against one cached sidecar pay the loop once."""
    if len(centroids) == 0:
        raise ValueError(
            "empty centroid list: assignment needs at least one list"
        )
    is_nd = isinstance(centroids, np.ndarray)
    if is_nd:
        with _cache_lock:
            hit = _unit_cache.get(id(centroids))
            if hit is not None and hit[0]() is centroids:
                _unit_cache.move_to_end(id(centroids))
                return hit[1]
    norms = [sum(x * x for x in row) ** 0.5 for row in centroids]
    if any(n == 0 for n in norms):
        raise ValueError(
            "zero-norm centroid row(s) at indices "
            f"{[i for i, n in enumerate(norms) if n == 0]}: "
            "cosine assignment is undefined for them"
        )
    unit = np.array(
        [[x / n for x in row] for row, n in zip(centroids, norms)],
        dtype=np.float64,
    )
    # identity-keyed memos downstream (_bcast_id_cache) would be
    # silently poisoned by in-place mutation; freeze so it raises
    # instead (r19 advice #3) — values are unchanged, so the pinned
    # registry hashes are unaffected.
    unit.setflags(write=False)
    if is_nd:
        with _cache_lock:
            _unit_cache[id(centroids)] = (weakref.ref(centroids), unit)
            while len(_unit_cache) > _UNIT_CACHE_MAX:
                _unit_cache.popitem(last=False)
    return unit


def _use_arrow(centroids: list[list[float]]) -> bool:
    """Literal vs broadcast-UDF form, by size alone: the broadcast form
    once nlist x dim passes the measured crossover
    (``_ARROW_AUTO_ELEMS``).  Accepts a list-of-lists or a 2-D
    ndarray (the sidecar cache hands back the latter — r17 advice
    #3)."""
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
# per centroid-payload IDENTITY per SparkContext (r17 advice #4): the
# arrow paths used to create a fresh SparkContext broadcast of the
# full centroid payload on every call and never release it, so
# repeated build/serving batches against a large-nlist index piled up
# multi-hundred-MB broadcast blocks on executors until driver GC
# happened to reclaim them.  Content-keyed (sha256 over the raw
# float64/int64 bytes — cheaper than re-serializing and re-shipping
# the same payload) and LRU-bounded; evicted entries are
# unpersist()ed, NOT destroy()ed, so any still-lazy DataFrame holding
# one simply re-fetches from the driver on next use.
_BCAST_CACHE_MAX = 4
_bcast_cache: "OrderedDict[tuple, object]" = OrderedDict()
# identity-keyed first tier (the _unit_matrix pattern): a serving hot
# path that hands the SAME cached sidecar array back per call must
# not pay an O(payload) content hash per call just to find the
# broadcast it already owns.  Entries hold weakrefs to the keyed
# arrays (id() reuse after GC misses) and the broadcast; the content
# cache below still owns unpersist-on-evict, so an id-tier entry that
# outlives its content entry just hands back a lazily re-fetched
# broadcast.  All three serving caches share one lock: they are
# check-then-act state, and a multithreaded driver (a thread pool of
# concurrent serving calls on one session) racing two misses would
# otherwise double-create — and half-leak — the full-payload
# broadcast the memo exists to prevent (r18 review).
_cache_lock = threading.Lock()
_bcast_id_cache: "OrderedDict[tuple, tuple]" = OrderedDict()
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
    application; an identity tier short-circuits the content hash
    when the same array OBJECT repeats (the cached-sidecar serving
    case).  ``factory`` runs only on a miss, never under the global
    lock, and never twice for one payload."""
    app = spark.sparkContext.applicationId
    # identity tier: single-array payloads only — those are the
    # objects that actually repeat (the memoized unit matrix of a
    # cached sidecar).  Coarse-assign payloads rebuild members/reps
    # per call; inserting their dead-on-arrival ids would churn the
    # hot probe entry out of this tiny LRU (r18 review #6).
    id_key = (app, kind, id(arrays[0])) if len(arrays) == 1 else None
    if id_key is not None:
        with _cache_lock:
            hit = _bcast_id_cache.get(id_key)
            if hit is not None and hit[0]() is arrays[0]:
                _bcast_id_cache.move_to_end(id_key)
                return hit[1]
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
    if id_key is not None:
        with _cache_lock:
            _bcast_id_cache[id_key] = (weakref.ref(arrays[0]), bc)
            while len(_bcast_id_cache) > _BCAST_CACHE_MAX:
                _bcast_id_cache.popitem(last=False)
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
    property of the CORPUS, not of any query: at 100 TB build it once
    at ingest and persist it partitioned (or bucketed) by ``cid`` —
    repeated query batches then pass it to ``ivf_topk(assigned=...)``
    and pay only the candidate-list work, with partition pruning
    cutting the scan to the probed lists.  Rebuilding per query call
    (the default when ``assigned`` is omitted) re-pays the full scan
    every time — fine for one-shot calls, wasteful for serving.

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

    ``assigned=`` goes one step further (the serving posture): pass
    the persisted ``assign_lists(vectors, centroids)`` frame and the
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
        # degenerate) are both caller bugs; mirrors ivf_topk_pruned
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


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf —
    works uniformly for file:/, hdfs:/ and s3a:/ index locations."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _qualified(spark, path: str) -> str:
    """Hadoop-qualified, dot-segment-normalized absolute form of
    ``path``, for alias-proof location compares.  makeQualified
    resolves scheme/authority/relative; ``Path.toUri()`` (the ENCODED
    URI object — never the raw string, which URI() would reject for
    a space or any RFC-illegal character) then ``normalize()``
    collapses '.'/'..' segments, which Hadoop Path does NOT (r18
    review: '/a/b/../idx' would otherwise alias '/a/idx' past a
    prefix check).  Symlinks remain the caller's responsibility
    (neither layer stats the filesystem)."""
    fs, p = _hadoop_fs(spark, path)
    return str(
        fs.makeQualified(p).toUri().normalize().toString()
    ).rstrip("/")


def _refuse_overlap(src_q: str, dst_q: str, why: str) -> None:
    """Refuse equal or nested QUALIFIED paths (one shared guard for
    rebuild and promote — both destroy data if the two locations
    alias)."""
    if (
        src_q == dst_q
        or dst_q.startswith(src_q + "/")
        or src_q.startswith(dst_q + "/")
    ):
        raise ValueError(f"dest {dst_q} overlaps the source index {src_q}: {why}")


def _is_file_not_found(e: Exception) -> bool:
    """True iff the py4j-wrapped Java exception IS (or is caused by) a
    ``java.io.FileNotFoundException`` — matched by CLASS, walking both
    the cause chain and each link's superclass chain (object stores
    throw scheme-specific FNF subclasses).  Substring-matching the
    rendered trace is wrong in both directions (r19 advice #1): py4j
    renders the full cause chain, so a permission error whose *message*
    mentions FNF would be misread as 'no sidecar' — for the ingest
    progress read that silently disables the replay guard for the
    batch.  A non-py4j exception (no ``java_exception``) is never FNF."""
    jexc = getattr(e, "java_exception", None)
    seen = 0
    while jexc is not None and seen < 16:  # defensive cycle bound
        cls = jexc.getClass()
        while cls is not None:
            if cls.getName() == "java.io.FileNotFoundException":
                return True
            cls = cls.getSuperclass()
        jexc = jexc.getCause()
        seen += 1
    return False


def _sidecar_status(fs, src):
    """FileStatus of a sidecar, or None if absent — ONE filesystem
    round-trip (fs.exists + getFileStatus would be two HEADs per
    serving-path cache miss on an object store; r18 review #5b)."""
    try:
        return fs.getFileStatus(src)
    except Exception as e:  # py4j wraps java FileNotFoundException
        if _is_file_not_found(e):
            return None
        raise


def _read_json_stream(spark, fs, src) -> dict | None:
    """Parse one sidecar file; None if it vanished between status and
    open (the atomic rewrite's delete->rename gap)."""
    try:
        stream = fs.open(src)
    except Exception as e:
        if _is_file_not_found(e):
            return None
        raise
    try:
        raw = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8"))


def _sidecar_status_or_torn(fs, src):
    """FileStatus of a sidecar with racing-publish recovery: one
    status probe on the hot (present) path; on absence, probe the
    ``.tmp`` and then RE-PROBE the destination — on EITHER tmp branch
    — so a live publish whose rename lands between any two probes is
    read, never misread as absent (r19 review pass 2: the one-sided
    re-check missed the rename landing between the dest and tmp
    probes, exactly the replay-guard reset this guard exists to
    close).  Returns the FileStatus, or None (genuinely absent:
    destination and ``.tmp`` both missing on a settled view), or
    raises IOError when TORN — ``.tmp`` present, destination still
    missing after the re-probe.

    A crash in ``_write_json_sidecar``'s delete->rename gap leaves
    exactly that torn state (r19 advice #2), and for
    ``_ingest_progress.json`` reading it as 'fresh index' would
    silently reset the streaming replay/lineage guards — replayed
    batch ids would re-append.  Fail safe: refuse loudly.  A reader
    racing the tmp-write phase of a live cross-process publish can
    still refuse spuriously — transient, retryable, and strictly
    safer than the silent guard reset; in-process racers are already
    serialized by the per-index ingest lock.  Costs extra RPCs only
    on the already-rare absent path, never on a successful read."""
    status = _sidecar_status(fs, src)
    if status is not None:
        return status
    tmp_present = _sidecar_status(fs, src.suffix(".tmp")) is not None
    status = _sidecar_status(fs, src)  # a live rename may have landed
    if status is not None:
        return status
    if tmp_present:
        raise IOError(
            f"sidecar {src} is missing but {src}.tmp exists: either a "
            "publish crashed between delete and rename, or another "
            "process is publishing right now — retry first; if the "
            "state persists, inspect the .tmp (rename a complete one "
            "into place to recover, or delete it to deliberately "
            "reset this sidecar's state)"
        )
    return None


def _read_json_sidecar(spark, path: str, name: str) -> dict | None:
    """Parse one ``_name.json`` sidecar inside an index directory, or
    None if absent.  One reader for every sidecar (r18 review #8);
    a torn publish (dest missing, ``.tmp`` present) refuses instead
    of reporting absence (r19 advice #2)."""
    fs, _ = _hadoop_fs(spark, path)
    src = spark._jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "/" + name
    )
    if _sidecar_status_or_torn(fs, src) is None:
        return None
    return _read_json_stream(spark, fs, src)


def _write_json_sidecar(spark, path: str, name: str, payload: dict) -> None:
    """Write one sidecar ATOMICALLY: temp file + delete + rename, so a
    reader never sees a truncated/empty file (r18 review #3: a crash
    between fs.create's truncate and the write used to leave a
    0-byte sidecar that wedged every later read on JSONDecodeError).
    The delete->rename gap can only lose the OLD file, never publish a
    partial one — and a crash INSIDE that gap leaves the completed
    ``.tmp`` next to the missing destination, which readers refuse as
    a torn publish (``_sidecar_status_or_torn``) instead of misreading
    as a fresh/pre-sidecar state (r19 advice #2: for the ingest-progress
    sidecar 'absent' would silently reset the replay/lineage guards).
    The next successful write self-heals: it overwrites the stale
    ``.tmp`` and republishes."""
    fs, _ = _hadoop_fs(spark, path)
    root = path.rstrip("/")
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    dest = jvm_path(root + "/" + name)
    tmp = jvm_path(root + "/" + name + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    fs.delete(dest, False)
    if not fs.rename(tmp, dest):
        raise IOError(f"could not publish sidecar {name} at {path}")


def _write_centroid_sidecar(
    spark, path: str, centroids: list[list[float]]
) -> None:
    """Persist the build centroids NEXT TO the index (r16 advice #1):
    ``_centroids.json`` inside the index directory.  The underscore
    prefix makes Spark's parquet reader skip it as a hidden file, and
    co-location means the index can never be served against a foreign
    cid space — ``ivf_topk_pruned`` loads or cross-checks it before
    probing.  Written through the Hadoop FileSystem API so the sidecar
    lands wherever the index does (local, HDFS, S3)."""
    _write_json_sidecar(
        spark, path, _CENTROID_SIDECAR,
        {"centroids": [[float(x) for x in row] for row in centroids]},
    )


# (index path -> (sidecar mtime, parsed centroids)): repeated serving
# batches against the same index must not re-read and re-parse the
# sidecar per call — at a 65k x 1024 index that is >1 GB of JSON
# through py4j on the hot path (r17 review).  mtime-keyed so an index
# rebuild (write_ivf_index overwrites the sidecar) invalidates.
# Entries are compact float64 ndarrays, NOT nested Python float lists
# (r17 advice #3: at 65k x 1024 a boxed-float entry is multiple GB vs
# ~0.5 GB contiguous), and the cache is LRU-bounded so a process
# serving many distinct index paths cannot retain them all for its
# lifetime.
_SIDECAR_CACHE_MAX = 4
_sidecar_cache: "OrderedDict[str, tuple[int, np.ndarray]]" = OrderedDict()


def read_centroid_sidecar(spark, path: str) -> "np.ndarray | None":
    """The ``_centroids.json`` sidecar of a persisted index as an
    (nlist x dim) float64 ndarray, or None for a pre-sidecar index
    directory.  Parsed once per (path, mtime) per process; every
    downstream consumer (``_unit_matrix``, ``_use_arrow``, the
    centroid literals) accepts the ndarray form directly."""
    fs, _ = _hadoop_fs(spark, path)
    key = path.rstrip("/")
    src = spark._jvm.org.apache.hadoop.fs.Path(key + "/" + _CENTROID_SIDECAR)
    # one RPC on the hot path (status doubles as exists); the absent
    # branch runs the torn-publish / racing-rename recovery (r19
    # advice #2 + review pass 2) and hands back the fresh status
    status = _sidecar_status_or_torn(fs, src)
    if status is None:
        return None
    mtime = int(status.getModificationTime())
    with _cache_lock:
        hit = _sidecar_cache.get(key)
        if hit is not None and hit[0] == mtime:
            _sidecar_cache.move_to_end(key)
            return hit[1]
    parsed = _read_json_stream(spark, fs, src)
    if parsed is None:
        # the atomic rewrite's delete->rename gap: treat as absent
        return None
    cents = np.asarray(parsed["centroids"], dtype=np.float64)
    # all three serving caches (_sidecar_cache, _unit_cache,
    # _bcast_id_cache) key on this object's IDENTITY — a consumer
    # mutating it in place would poison every memo (same id, changed
    # content) with no error.  Freeze it so mutation raises instead
    # (r19 advice #3).
    cents.setflags(write=False)
    with _cache_lock:
        # a racing parse of the same (key, mtime) already cached its
        # array: return THAT one so every caller shares one object
        # (the identity-keyed unit/broadcast tiers ride on it)
        hit = _sidecar_cache.get(key)
        if hit is not None and hit[0] == mtime:
            _sidecar_cache.move_to_end(key)
            return hit[1]
        _sidecar_cache[key] = (mtime, cents)
        while len(_sidecar_cache) > _SIDECAR_CACHE_MAX:
            _sidecar_cache.popitem(last=False)
    return cents


def _cid_dirs(spark, path: str):
    """(FileSystem, {cid: hadoop Path of its directory}) from ONE root
    listing — the single cid= walker every consumer builds on (r18
    reviews #5/#7).  O(number of lists), never O(number of files); a
    missing root returns an empty dict."""
    fs, hpath = _hadoop_fs(spark, path)
    out = {}
    if not fs.exists(hpath):
        return fs, out
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("cid=")):
            continue
        try:
            out[int(name[4:])] = status.getPath()
        except ValueError:
            continue
    return fs, out


def _persisted_cids(spark, path: str) -> list[int]:
    """cid partition values of a persisted index, from the DIRECTORY
    LISTING alone (``cid=N`` partition dirs) — no Spark job, no data
    read, no per-file stats (this runs on the SERVING path's
    pre-sidecar guard, where an O(files) walk would mean millions of
    object-store list calls per query batch — r18 review #7).  The
    cheap max-cid sanity check for pre-sidecar indexes."""
    return sorted(_cid_dirs(spark, path)[1])


def _check_files_per_list(files_per_list) -> None:
    """Shared domain check (helper + the streaming API's fail-fast
    pre-check — one copy, r19 review pass 6)."""
    if files_per_list is not None and files_per_list < 1:
        raise ValueError(
            f"files_per_list must be >= 1 or None, got {files_per_list}"
        )


# hash-collision slack for explicit-width bounded writes: n distinct
# (cid, salt) keys into 4n buckets.  Collisions do not vanish —
# expected same-task key PAIRS are ~n/8, so at large n thousands of
# tasks still carry 2 key groups — but the per-pair probability drops
# from the width==n regime where ~1/e of tasks sit empty while the
# max-loaded task serializes 3-4 whole lists; at 4n the max load is
# ~2 (r19 review passes 6-7).  The cost is ~78%-empty task slots,
# which are scheduler-cheap next to a straggler rewriting multiple
# few-hundred-MB lists.
_WIDTH_SLACK = 4


def _bounded_by_list(
    assigned: DataFrame, files_per_list, keys: int | None = None
):
    """Bound the ``partitionBy("cid")`` output to at most
    ``files_per_list`` data files per list via a (cid, salted id)
    repartition — ``compact_ivf_index`` rides the same helper.
    Without it every upstream task writes one file into every cid it
    touches — tasks x nlist files, the classic dynamic-partitioning
    small-files trap (r19 probe --promote measured 25,269 files for
    a 400k-row / 256-list rebuild, ~16 rows per file, before this
    bound).  The price is one shuffle of the assigned rows; that is
    the same shuffle a post-hoc compaction would pay, minus ever
    having written the fragmented layout.

    The per-cid file bound holds for ANY partition count (all rows of
    one (cid, salt) pair hash to one task), which lets each caller
    pick the right sizing:

    - ``keys=None`` (appends, streaming micro-batches): no explicit
      count, so the session's shuffle sizing and AQE coalescing —
      which an explicit count would disable — right-size a 10k-row
      hourly batch to a handful of tasks instead of an nlist-wide,
      mostly-empty stage (r19 review pass 4).
    - explicit ``keys`` = the distinct (cid, salt) count (full-corpus
      build: nlist x files_per_list; compaction: dirty-lists x
      target): restores the fan-out AQE cannot create — coalescing
      only MERGES partitions, so a corpus-scale write left at
      ``spark.sql.shuffle.partitions`` would funnel the whole corpus
      through ~200 tasks and spill (r19 review pass 5).  The actual
      width is ``keys x _WIDTH_SLACK`` so hash collisions (two whole
      lists serialized through one straggler task) stay rare.

    ``files_per_list=None`` skips the shuffle entirely (map-side
    write, unbounded files) for callers that schedule
    ``compact_ivf_index`` in the ingest gap instead."""
    _check_files_per_list(files_per_list)
    if files_per_list is None:
        return assigned
    salt = F.pmod(F.xxhash64(F.col("nn_id")), F.lit(int(files_per_list)))
    if keys is None:
        return assigned.repartition(F.col("cid"), salt)
    if keys < 1:
        # loud, not clamped: a mis-computed key count silently funneling
        # the corpus through one task is the spill this helper prevents
        raise ValueError(f"keys must be >= 1 or None, got {keys}")
    return assigned.repartition(int(keys) * _WIDTH_SLACK, F.col("cid"), salt)


def write_ivf_index(
    vectors: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_groups: int | None = None,
    files_per_list: int | None = 1,
) -> None:
    """Persist the ``assign_lists`` index PARTITIONED BY cid — the
    serving layout: each inverted list is its own directory, so a
    probed-list predicate prunes at the SCAN (only nprobe/nlist of
    the index bytes are ever read; see ``ivf_topk_pruned``).  List
    sizes are ~N/nlist rows; pick nlist so a list is a few hundred MB
    and files stay bounded.  ``files_per_list`` (default 1) bounds
    the per-list file count via a salted repartition — one shuffle,
    vs the tasks x nlist small-files explosion of a raw
    ``partitionBy`` write (``_bounded_by_list``); pass None to write
    map-side (no shuffle) and compact later.  ``coarse_groups``
    passes through to ``assign_lists`` — the two-level build is how
    this write stays affordable once N x nlist dots are not (queries
    are unaffected: they probe by centroid either way).  The build
    centroids are persisted alongside as ``_centroids.json`` so
    serving can never silently probe a foreign cid space (r16 advice
    #1)."""
    spark = vectors.sparkSession
    assigned = assign_lists(vectors, centroids, id_col, vec_col, coarse_groups)
    # full-corpus write: explicit nlist-wide fan-out (the operator
    # sized nlist to the corpus; AQE cannot SPLIT a narrow shuffle)
    keys = (
        None if files_per_list is None else len(centroids) * files_per_list
    )
    _bounded_by_list(assigned, files_per_list, keys).write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(path)
    _write_centroid_sidecar(spark, path, centroids)


def append_ivf_index(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_groups: int | None = None,
    files_per_list: int | None = 1,
) -> None:
    """Append NEW vectors to an existing persisted index — the 100 TB
    ingest posture: a daily/hourly batch pays only its own
    assignment scan (linear in the BATCH, not the corpus) and lands as
    extra files inside the existing ``cid=`` partition directories, so
    serving needs no refresh step and keeps pruning identically.
    Assignment uses the index's OWN sidecar centroids — the only cid
    space the index can correctly grow in; an explicit centroid list
    is deliberately NOT accepted (the mismatch foot-gun
    ``ivf_topk_pruned`` refuses at read time would here corrupt the
    index at write time).  Callers own id uniqueness across batches
    (same as any append-mode sink); re-clustering (drift) is a
    rebuild via ``write_ivf_index``, not an append.  List-size skew
    from drifted data shows up as growing probed-list scan cost, the
    same signal FAISS users watch (``index_stats`` exposes it; the
    rebuild pays: probe_ivf --rebuild, PLANS.md r18, measured
    re-training on the grown corpus restoring skew 6.00 -> 3.99 and
    drift-query candidates from 1.47x to 1.07x of the no-drift
    fraction-law reference); the sidecar mtime is untouched so
    serving caches stay valid.  ``files_per_list`` (default 1)
    bounds THIS BATCH's files per list via a salted repartition —
    an hourly cadence then grows each list one file per batch
    (compact when the sum crosses the threshold), instead of
    batch-tasks x nlist files per append; None skips the shuffle."""
    spark = vectors.sparkSession
    cents = read_centroid_sidecar(spark, path)
    if cents is None:
        raise ValueError(
            f"no {_CENTROID_SIDECAR} sidecar at {path}: append requires "
            "an index built by write_ivf_index (appending with foreign "
            "centroids would corrupt the cid space)"
        )
    assigned = assign_lists(vectors, cents, id_col, vec_col, coarse_groups)
    _bounded_by_list(assigned, files_per_list).write.mode(
        "append"
    ).partitionBy("cid").parquet(path)


# ingest-progress sidecar for append_ivf_index_stream: records the
# checkpoint lineage and last applied micro-batch id.  Underscore
# prefix = hidden from Spark's parquet reader, co-located with the
# index like _centroids.json.
_INGEST_SIDECAR = "_ingest_progress.json"
_REBUILD_SIDECAR = "_rebuild_source.json"


def _read_ingest_progress(spark, path: str) -> dict | None:
    return _read_json_sidecar(spark, path, _INGEST_SIDECAR)


def _write_ingest_progress(spark, path: str, progress: dict) -> None:
    _write_json_sidecar(spark, path, _INGEST_SIDECAR, progress)


def _checkpoint_query_id(spark, checkpoint_dir: str) -> str | None:
    """The streaming query's UNIQUE id from ``<ckpt>/metadata``
    (written by Spark at query start, preserved across resumes), or
    None for a checkpoint directory that has never started.  This is
    the identity that distinguishes a RESUMED checkpoint from one
    deleted and recreated at the same path — the latter restarts
    batch ids at 0 (r18 review: location-only lineage would then skip
    new batches as 'replays', permanent data loss)."""
    meta = _read_json_sidecar(spark, checkpoint_dir, "metadata")
    return None if meta is None else meta.get("id")


# per-index-path locks: one driver's concurrent ingest streams (or a
# thread pool retrying batches) serialize their read-check-append-
# write cycle per index, so two streams racing a FRESH index cannot
# both apply batch 0 before either publishes progress — the loser now
# dies at ITS batch 0 (r18 review).  Cross-PROCESS racers remain the
# documented non-transactional-sink caveat.
_ingest_locks: dict[str, "threading.Lock"] = {}


def _ingest_apply(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    lineage: str,
    query_id: str | None,
    id_col: str,
    vec_col: str,
    coarse_groups: int | None,
    files_per_list: int | None = 1,
) -> bool:
    """One micro-batch of ``append_ivf_index_stream`` (module-level so
    the replay/lineage semantics are unit-testable).  Returns True if
    the batch was appended, False if skipped as a replay.  The
    lineage — checkpoint location AND query id — is RE-CHECKED here
    under a per-index lock, not only at start: two streams started
    against a FRESH index both pass the start-time pre-check, and
    without this locked re-check the loser's batches would compare
    ids against the winner's lineage and be silently swallowed."""
    spark = batch_df.sparkSession
    with _cache_lock:
        lock = _ingest_locks.setdefault(
            path.rstrip("/"), threading.Lock()
        )
    with lock:
        seen = _read_ingest_progress(spark, path)
        if seen is not None:
            if seen.get("checkpoint") != lineage:
                raise RuntimeError(
                    f"index at {path} is being fed by checkpoint "
                    f"lineage {seen.get('checkpoint')!r}, not "
                    f"{lineage!r}: two streams are racing this index "
                    "— stop one; batch ids from different lineages "
                    "are not comparable"
                )
            recorded_qid = seen.get("query_id")
            if (
                recorded_qid is not None
                and query_id is not None
                and query_id != recorded_qid
            ):
                raise RuntimeError(
                    f"checkpoint feeding {path} was recreated (query "
                    f"id {query_id!r} vs recorded {recorded_qid!r}): "
                    "its batch ids restarted at 0 and would be "
                    "skipped as replays — restore the original "
                    "checkpoint or rebuild the index"
                )
            if batch_id <= seen.get("last_batch", -1):
                return False  # replay of an already-applied batch
        append_ivf_index(
            batch_df, path, id_col, vec_col, coarse_groups, files_per_list,
        )
        _write_ingest_progress(
            spark, path,
            {
                "checkpoint": lineage,
                "query_id": query_id,
                "last_batch": int(batch_id),
            },
        )
    return True


def append_ivf_index_stream(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_groups: int | None = None,
    available_now: bool = True,
    files_per_list: int | None = 1,
):
    """Continuous IVF ingest: a streaming embedding source appended to
    a persisted index one micro-batch at a time — the 100 TB training
    pipeline's hourly cadence as a running query instead of a cron
    job.  Each batch pays its own ``assign_lists`` scan (linear in
    the BATCH) plus the bounded-layout shuffle (``files_per_list``,
    default 1: each list grows ONE file per micro-batch, AQE-sized to
    the batch; pass None for the map-side unbounded write plus a
    scheduled ``compact_ivf_index`` in the ingest gap) and lands
    inside the existing ``cid=`` directories via
    ``append_ivf_index``, so serving needs no refresh and keeps
    pruning identically.

    Exactly-once discipline (the standard foreachBatch pattern): an
    ``_ingest_progress.json`` sidecar next to the index records the
    checkpoint lineage and the last applied batch id; a replayed
    batch (at-least-once delivery after a retry) is skipped instead
    of double-appended.  The unavoidable window — a crash AFTER the
    append commits but BEFORE the progress record lands — re-appends
    that one batch on recovery, the same at-least-once floor as any
    non-transactional parquet sink; run a periodic exact-dedup or use
    batch ``append_ivf_index`` with caller-side dedup if that window
    matters.  A DIFFERENT checkpoint lineage against an index that
    already has ingest progress is refused loudly: fresh checkpoints
    restart batch ids at 0, which would silently skip (or duplicate)
    real data — re-point the old checkpoint, or rebuild the index.

    Returns the started StreamingQuery (``available_now=True`` drains
    the source and stops — the testing/backfill mode; ``False`` runs
    the default micro-batch trigger)."""
    spark = stream.sparkSession
    # fail-fast like every other precondition here: without this, an
    # invalid value only surfaces inside batch 0's foreachBatch as a
    # StreamingQueryException after the checkpoint was created (r19
    # review pass 5)
    _check_files_per_list(files_per_list)
    if read_centroid_sidecar(spark, path) is None:
        raise ValueError(
            f"no {_CENTROID_SIDECAR} sidecar at {path}: streaming "
            "append requires an index built by write_ivf_index"
        )
    # the lineage identity is the QUALIFIED checkpoint location, so
    # equivalent spellings of one checkpoint ('/x' vs 'file:///x' vs
    # '/x/') resume instead of spuriously refusing (r18 review #4)
    lineage = _qualified(spark, checkpoint_dir)
    # read under the same per-index lock _ingest_apply publishes
    # under (r19 review #1): without it this advisory pre-check can
    # observe a sibling stream's publish mid-flight
    with _cache_lock:
        start_lock = _ingest_locks.setdefault(
            path.rstrip("/"), threading.Lock()
        )
    with start_lock:
        progress = _read_ingest_progress(spark, path)
    if progress is not None:
        if progress.get("checkpoint") != lineage:
            raise ValueError(
                f"index at {path} was fed by checkpoint lineage "
                f"{progress.get('checkpoint')!r}, not {lineage!r}: a "
                "new lineage restarts batch ids and would silently "
                "skip or duplicate data — resume the original "
                "checkpoint, or rebuild the index to start a new "
                "lineage"
            )
        recorded_qid = progress.get("query_id")
        current_qid = _checkpoint_query_id(spark, checkpoint_dir)
        if recorded_qid is not None and current_qid != recorded_qid:
            raise ValueError(
                f"checkpoint at {checkpoint_dir} was recreated (query "
                f"id {current_qid!r} vs recorded {recorded_qid!r}): "
                "its batch ids restart at 0 and real batches would be "
                "skipped as replays — restore the original checkpoint "
                "or rebuild the index"
            )

    qid_memo: dict = {}

    def _apply(batch_df, batch_id: int) -> None:
        # the query id exists once the query is running; read it on
        # the first batch and reuse (constant for the query's life)
        if "qid" not in qid_memo:
            qid_memo["qid"] = _checkpoint_query_id(
                batch_df.sparkSession, checkpoint_dir
            )
        _ingest_apply(
            batch_df, batch_id, path, lineage, qid_memo["qid"],
            id_col, vec_col, coarse_groups, files_per_list,
        )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _list_cid_files(
    spark, path: str, with_rows: bool = False
) -> dict[int, tuple[int, int, int | None]]:
    """cid -> (data file count, data bytes, rows-or-None): ONE
    ``_cid_dirs`` walk with per-directory file stats (maintenance-path
    only — this IS O(total data files); the serving path uses
    ``_persisted_cids``).  A missing root returns {}.

    With ``with_rows`` the SAME walk also sums row counts from the
    parquet FOOTERS — no Spark job, no row iteration (r18 verdict
    #4: a ``groupBy("cid").count()`` decodes zero data columns but,
    with ``spark.sql.parquet.aggregatePushdown`` unset, still
    iterates O(rows); footers are few-KB reads regardless of file
    size).  Footer reads run on a driver-side THREAD POOL (py4j
    opens one gateway connection per thread; Hadoop FileSystem and
    per-file ParquetFileReader are thread-safe): each read is
    latency-bound on py4j round trips, and the r19 --promote probe
    measured a SEQUENTIAL walk of a 25k-file pre-bound layout at
    ~8 min — file-count-bounded writes fix the count, the pool fixes
    the residual latency.  Zero-byte files count toward
    ``files``/``bytes`` but are skipped for rows — Spark's scan
    planner produces no splits for them either (r19 review #7) —
    while a non-empty file whose footer cannot be read fails loudly
    WITH the file named (it is real data the index would silently
    under-count)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, dirs = _cid_dirs(spark, path)
    out: dict[int, tuple[int, int, int | None]] = {}
    footer_jobs: list[tuple[int, object, int]] = []  # (cid, status, len)
    rows_by_cid: dict[int, int] = {}
    for cid, dpath in dirs.items():
        files = bytes_ = 0
        rows_by_cid[cid] = 0
        for f in fs.listStatus(dpath):
            if not f.getPath().getName().endswith(".parquet"):
                continue
            files += 1
            flen = int(f.getLen())
            bytes_ += flen
            if with_rows and flen > 0:
                footer_jobs.append((cid, f, flen))
        out[cid] = (files, bytes_, None)

    def _read_footer(job) -> tuple[int, int]:
        cid, f, flen = job
        try:
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                    f, conf
                )
            )
            try:
                return cid, int(reader.getRecordCount())
            finally:
                reader.close()
        except Exception as e:
            if _is_file_not_found(e):
                # vanished between listStatus and open: a concurrent
                # rewrite broke this walk's listing snapshot — name
                # that, not a 'corrupt file' misdiagnosis (r19 review
                # passes 2-3); typed so maintenance boundaries never
                # leak raw py4j
                raise IOError(
                    f"{f.getPath()} vanished during the stats walk: "
                    "a concurrent compact/rebuild/append is rewriting "
                    "this index — re-run after the writer settles "
                    "(maintenance calls require a single writer)"
                ) from e
            raise IOError(
                f"could not read parquet footer at {f.getPath()} "
                f"({flen} bytes): retry for transient storage "
                "errors; a persistent failure means non-parquet "
                "debris the index would otherwise under-count"
            ) from e

    if footer_jobs:
        workers = min(16, len(footer_jobs))
        # submit + as_completed with cancel-on-error, NOT pool.map:
        # map enqueues every job eagerly and the with-block's shutdown
        # would run the whole remaining walk before surfacing the
        # first corrupt-footer error (r19 review: 'fails loudly' must
        # not silently pay the full walk it is aborting)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futs = [pool.submit(_read_footer, j) for j in footer_jobs]
            try:
                for fut in as_completed(futs):
                    cid, n = fut.result()
                    rows_by_cid[cid] += n
            except BaseException:
                for fut in futs:
                    fut.cancel()
                raise
    if with_rows:
        out = {
            cid: (t[0], t[1], rows_by_cid[cid]) for cid, t in out.items()
        }
    return out


def _footer_row_counts(spark, path: str) -> dict[int, int]:
    """cid -> footer row count (the ``with_rows`` walk, rows only)."""
    return {
        cid: t[2] for cid, t in _list_cid_files(spark, path, True).items()
    }


def index_stats(spark, path: str) -> dict:
    """Maintenance signals for a persisted IVF index — the
    rebuild/compact decision the r17 append-drift probe computed
    tool-side (incremental-append curve, PLANS.md r17), as a library call
    (r17 verdict #4a).  ``append_ivf_index`` writes one file set per
    batch into each ``cid=`` directory, so a real ingest cadence
    grows BOTH list-size skew (drifted data concentrates in few
    lists; at measured skew 6 drifted-distribution queries probe
    1.47x the no-drift fraction-law candidates — 1.61x what
    base-distribution queries pay on the same index) and small files
    per list.  Returns::

        {"nlist":    centroid count from the sidecar (None if absent),
         "lists":    number of non-empty cid= partition directories,
         "rows":     total indexed vectors,
         "files":    total data files,
         "skew":     max/mean rows per non-empty list (1.0 = uniform),
         "max_files_per_list": ..., "mean_files_per_list": ...,
         "per_cid":  {cid: {"rows": n, "files": m, "bytes": b}}}

    Row counts come from parquet FOOTER metadata on the same driver-
    side FS walk as the file/byte listing — NO Spark job, no row
    iteration (r18 verdict #4: the earlier partition-column group-by
    decoded no data columns but still iterated every row group with
    aggregate pushdown unset; footers are O(files) few-KB reads).
    Watch ``skew`` against the r17 drift table (PLANS.md) for the
    rebuild decision and ``max_files_per_list`` for the
    ``compact_ivf_index`` one.  A missing root refuses loudly (r19
    review #2: the directory walk would otherwise report a typo'd
    path as a healthy empty index and automation would act on it)."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        raise ValueError(
            f"no index directory at {_qualified(spark, path)}: "
            "index_stats refuses to describe a missing path as an "
            "empty index — check the path"
        )
    listing = _list_cid_files(spark, path, with_rows=True)
    sidecar = read_centroid_sidecar(spark, path)
    per_cid = {
        cid: {
            "rows": int(listing[cid][2]),
            "files": listing[cid][0],
            "bytes": listing[cid][1],
        }
        for cid in sorted(listing)
    }
    sizes = [v["rows"] for v in per_cid.values() if v["rows"] > 0]
    files = [v["files"] for v in per_cid.values()]
    return {
        "nlist": None if sidecar is None else int(len(sidecar)),
        "lists": len(sizes),
        "rows": int(sum(sizes)),
        "files": int(sum(files)),
        "skew": (max(sizes) / (sum(sizes) / len(sizes))) if sizes else None,
        "max_files_per_list": max(files) if files else 0,
        "mean_files_per_list": (sum(files) / len(files)) if files else 0.0,
        "per_cid": per_cid,
    }


def compact_ivf_index(
    spark,
    path: str,
    max_files_per_list: int = 4,
    target_files_per_list: int = 1,
) -> dict:
    """Small-files compaction for the ``cid=`` index layout (r17
    verdict #4b) — ``warehouse.compact_partitions``' approach
    (pkg/sources/warehouse.py) re-targeted from ``_week=`` tables to
    the IVF serving layout: an hourly ``append_ivf_index`` cadence
    leaves one file set per batch per list, and a week of that makes
    every probed-list scan open hundreds of tiny files.

    Discovery is a driver-side directory LISTING (metadata only);
    only lists holding more than ``max_files_per_list`` data files
    are rewritten, in ONE distributed job, swapped in atomically
    per-partition via dynamic partition overwrite — clean lists are
    never read, never touched, and the root ``_centroids.json``
    sidecar is NOT rewritten, so its mtime (and every serving
    process's mtime-keyed sidecar cache) stays valid.  Within a
    rewritten list the split key is a bounded hash salt on the vector
    id (``pmod(xxhash64(nn_id), target)``) — an inverted list has no
    range-skipping sort key to preserve, unlike the weekly tables.

    SINGLE WRITER REQUIRED (r18 review): like any OPTIMIZE over a
    plain parquet layout, the rewrite snapshots the file listing at
    read time and dynamic overwrite replaces whole ``cid=``
    partitions at commit — an ``append_ivf_index`` batch landing in a
    dirty list BETWEEN those two points is silently dropped.
    Schedule compaction in the ingest gap (or pause the appender),
    exactly as with ``warehouse.compact_partitions``.

    Refuses a directory with no sidecar: that is not a
    ``write_ivf_index`` layout, and rewriting an arbitrary
    partitioned table here (instead of ``compact_partitions``) would
    silently drop its sort contract.

    Returns {"files_before": {cid: n}, "files_after": {cid: n}} for
    the compacted lists (empty dicts when nothing was dirty)."""
    if target_files_per_list < 1:
        raise ValueError(
            f"target_files_per_list must be >= 1, got {target_files_per_list}"
        )
    if max_files_per_list < 0:
        raise ValueError(
            f"max_files_per_list must be >= 0, got {max_files_per_list}"
        )
    if target_files_per_list > max(max_files_per_list, 1):
        # a target above the dirtiness threshold rewrites a dirty list
        # to a file count that is STILL dirty, so every subsequent call
        # re-reads and rewrites the same lists forever (r19 advice #4).
        # The one deliberate exception: max_files_per_list=0 with
        # target=1 is the explicit FULL-REWRITE spelling (every
        # non-empty list is by definition 'dirty' under a 0 threshold)
        # — a normalize pass, not a steady-state policy, so the
        # convergence contract does not apply to it.
        raise ValueError(
            f"target_files_per_list={target_files_per_list} exceeds "
            f"max_files_per_list={max_files_per_list}: compaction would "
            "never converge (every rewritten list would still be above "
            "the threshold it was compacted for) — use a target at or "
            "below the threshold"
        )
    if read_centroid_sidecar(spark, path) is None:
        raise ValueError(
            f"no {_CENTROID_SIDECAR} sidecar at {path}: not a "
            "write_ivf_index layout — compact_ivf_index preserves the "
            "sidecar contract and refuses to rewrite arbitrary "
            "partitioned tables (use warehouse.compact_partitions for "
            "weekly tables)"
        )
    before = {cid: f for cid, (f, *_) in _list_cid_files(spark, path).items()}
    dirty = sorted(c for c, n in before.items() if n > max_files_per_list)
    if not dirty:
        return {"files_before": {}, "files_after": {}}
    tgt = int(target_files_per_list)
    src = spark.read.option("basePath", path).parquet(
        *[f"{path.rstrip('/')}/cid={c}" for c in dirty]
    )
    # bounded per-list split (<= target pieces per cid) through the
    # same helper the build/append writers use (r19 review: one copy
    # of the bounding scheme), so a compacted list can never come out
    # ABOVE the threshold it was compacted for
    out = _bounded_by_list(src, tgt, len(dirty) * tgt)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("cid").parquet(path)
    finally:
        spark.conf.set(conf_key, prev)
    after = {cid: f for cid, (f, *_) in _list_cid_files(spark, path).items()}
    return {
        "files_before": {c: before[c] for c in dirty},
        "files_after": {c: after.get(c, 0) for c in dirty},
    }


def rebuild_ivf_index(
    spark,
    path: str,
    dest: str,
    nlist: int | None = None,
    coarse_groups: int | None = None,
) -> dict:
    """THE drift fix, as one call: re-train centroids on the grown
    corpus (read back from the index itself — at scale the index IS
    the corpus) and write a fresh sidecar'd index at ``dest``.
    ``index_stats`` supplies the trigger (skew creeping above the
    build-time value); measured payoff at the r17 worst case
    (probe_ivf --rebuild, PLANS.md r18): skew 6.00 -> 3.99,
    drift-distribution query candidates 1.47x -> 1.07x of the
    balanced fraction law — appends alone never recover that.

    ``nlist`` defaults to the source sidecar's list count.  Writes to
    ``dest``, never in place: an overwrite of ``path`` would destroy
    the corpus mid-read, so the same blue/green swap discipline as
    any serving-index rebuild applies — validate ``dest``, then run
    ``promote_ivf_index`` to swap.  A ``_rebuild_source.json`` sidecar
    at ``dest`` records the source identity, its ingest-progress
    lineage, and its footer row count AS OF the snapshot taken BEFORE
    the corpus read; ``promote_ivf_index`` compares the source's
    current state against it, so appends that land mid-rebuild (data
    the new index lacks) refuse the swap instead of silently forking
    the corpus.  Returns ``index_stats(dest)`` so the caller can
    assert the skew actually recovered before promoting."""
    old = read_centroid_sidecar(spark, path)
    if old is None:
        raise ValueError(
            f"no {_CENTROID_SIDECAR} sidecar at {path}: rebuild reads "
            "a write_ivf_index layout (use write_ivf_index directly "
            "for a first build from raw vectors)"
        )
    # overlap guard on QUALIFIED, dot-normalized paths (r18 review: a
    # raw string compare lets 'file:///x' vs '/x', '//'-spellings,
    # relative paths, '..' segments, or a dest nested inside the
    # source slip through — and mode('overwrite') deletes dest before
    # the corpus read runs, so any overlap destroys the only copy).
    # Symlinks remain the caller's responsibility (qualified
    # paths never stat).
    src_q = _qualified(spark, path)
    dst_q = _qualified(spark, dest)
    _refuse_overlap(
        src_q, dst_q,
        "an in-place (or nested) rebuild would overwrite the corpus "
        "it is reading — write to a disjoint path and promote after "
        "validating index_stats",
    )
    # snapshot the source's ingest state BEFORE the corpus read is
    # triggered: appends landing after this point may or may not make
    # the new index (the read executes lazily, twice), but they always
    # advance past the snapshot, so promote_ivf_index refuses —
    # conservative in exactly the direction that cannot lose data
    snap_progress = _read_ingest_progress(spark, path)
    snap_rows = int(sum(_footer_row_counts(spark, path).values()))
    corpus = spark.read.parquet(path).select("nn_id", "nv")
    cents = train_centroids(
        corpus, int(nlist) if nlist is not None else len(old),
        id_col="nn_id", vec_col="nv",
    )
    write_ivf_index(
        corpus, cents, dest,
        id_col="nn_id", vec_col="nv",
        coarse_groups=coarse_groups,
    )
    _write_json_sidecar(
        spark, dest, _REBUILD_SIDECAR,
        {
            "source": src_q,
            "source_progress": snap_progress,
            "source_rows": snap_rows,
        },
    )
    return index_stats(spark, dest)


def promote_ivf_index(
    spark,
    path: str,
    new_path: str,
    retired_suffix: str = "__retired",
) -> dict:
    """Blue/green swap of a rebuilt IVF index into the serving
    location — the step the r18 verdict flagged as prose (#2): after
    ``rebuild_ivf_index(path, new_path)`` and the caller's
    ``index_stats`` validation, this repoints readers by PATH SWAP
    (readers keep addressing ``path``; no config change, and every
    process's mtime-keyed sidecar cache self-invalidates on the new
    ``_centroids.json``), carries the ingest lineage so a streaming
    appender resumes against the promoted index, and retires the old
    index for rollback.

    Refusal ladder (each names its remedy):

    - ``new_path`` lacks ``_rebuild_source.json`` -> it was not
      produced by ``rebuild_ivf_index``; promote cannot prove the old
      index gained no data mid-build.  Rebuild properly, or swap
      manually after stopping every writer.
    - the recorded source is not ``path`` -> wrong pair of indexes.
    - the old index's CURRENT ingest progress differs from the
      rebuild-time snapshot, or its CURRENT footer row count does ->
      appends (streaming via the progress sidecar, or batch
      ``append_ivf_index`` which the row count catches) landed
      mid-rebuild: data the new index lacks.  Re-run the rebuild.
    - ``path + retired_suffix`` already exists -> a previous
      retirement was never cleared; remove or archive it first.
    - ``path`` and ``new_path`` resolve to different filesystems ->
      the rename swap cannot work; copy the candidate next to the
      serving index first.  Checked BEFORE anything moves.
    - ``path`` missing while ``path + retired_suffix`` exists -> a
      previous promotion was KILLED between its two renames; the
      refusal names both recoveries (rename back = rollback, rename
      candidate in = complete).

    Lineage: the snapshot's ``_ingest_progress.json`` (if any) is
    written into the new index BEFORE the swap, so the ORIGINAL
    checkpoint resumes seamlessly — its next batch id exceeds the
    carried ``last_batch`` and replays of already-baked-in batches
    are skipped.  A source with no ingest lineage promotes with none:
    any fresh checkpoint may then start a new lineage.

    SINGLE PROMOTER / STOPPED APPENDER REQUIRED across the two
    renames, like every other maintenance call here: the progress
    checks close the mid-REBUILD window, but an append landing in the
    rename gap itself is the same non-transactional-FS caveat as
    ``compact_ivf_index``.  An in-process FAILURE between the renames
    rolls back (best effort, loudly); a hard process KILL there
    cannot — the next promote call detects the half-swapped state and
    its refusal names the manual recovery.  A serving call racing the
    swap can see
    ``path`` absent for the instant between the two renames and
    refuses loudly (missing sidecar) rather than serving partial
    state — retry-on-refuse is the reader-side contract, the same as
    any directory-swap deploy on a plain filesystem.

    Filesystem fit: the rename swap is O(metadata) and atomic-per-
    directory on HDFS and POSIX filesystems — the right home for a
    serving index.  On an object store (s3a) a directory rename is a
    COPY of every object: at the 100 TB target that is not a swap,
    it is a second migration.  There, keep the indirection one level
    up instead — rebuild into a sibling generation directory and
    repoint the application's index-path config after validating
    ``index_stats`` — and reserve this call for rename-capable
    storage.

    Returns {"promoted", "retired", "carried_lineage", "stats"} with
    ``stats`` = the promoted content's ``index_stats`` (computed at
    ``new_path`` pre-swap; the swap moves files, not content)."""
    src_q = _qualified(spark, path)
    new_q = _qualified(spark, new_path)
    _refuse_overlap(
        src_q, new_q,
        "promote swaps two disjoint directories — a nested pair "
        "would move the index into (or out of) itself",
    )
    fs, old_p = _hadoop_fs(spark, path)
    new_fs, new_p = _hadoop_fs(spark, new_path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    retired_p = jvm_path(path.rstrip("/") + retired_suffix)
    # every filesystem precondition is checked BEFORE any state
    # comparison or rename (r19 review #3/#5): a cross-FS pair would
    # otherwise pass every content check and fail only AFTER the
    # serving index was retired, and a half-swapped crash leftover
    # would surface as a misleading 'row count moved (N -> 0)'
    # refusal whose remedy (re-run the rebuild) cannot even run
    if str(fs.getUri()) != str(new_fs.getUri()):
        raise ValueError(
            f"{src_q} and {new_q} live on different filesystems "
            f"({fs.getUri()} vs {new_fs.getUri()}): the rename swap "
            "needs both on one filesystem — copy the candidate next "
            "to the serving index first"
        )
    if not fs.exists(old_p):
        if fs.exists(retired_p):
            raise IOError(
                f"serving index {src_q} is missing but "
                f"{src_q}{retired_suffix} exists: a previous "
                "promotion crashed between its two renames — rename "
                f"{retired_suffix} back to restore serving (rollback), "
                "or rename the candidate into place to complete that "
                "swap, then retry"
            )
        raise ValueError(
            f"no serving index at {src_q}: nothing to promote onto"
        )
    if fs.exists(retired_p):
        raise ValueError(
            f"retirement target {src_q}{retired_suffix} already "
            "exists: a previous promotion's retired index was never "
            "cleared — archive or delete it first"
        )
    record = _read_json_sidecar(spark, new_path, _REBUILD_SIDECAR)
    if record is None:
        raise ValueError(
            f"no {_REBUILD_SIDECAR} at {new_q}: the candidate was not "
            "produced by rebuild_ivf_index, so promote cannot prove "
            f"the serving index at {src_q} gained no data mid-build — "
            "rebuild with rebuild_ivf_index, or stop every writer and "
            "swap manually"
        )
    if record.get("source") != src_q:
        raise ValueError(
            f"candidate at {new_q} was rebuilt from "
            f"{record.get('source')!r}, not from {src_q}: refusing to "
            "swap an unrelated index pair"
        )
    if read_centroid_sidecar(spark, new_path) is None:
        raise ValueError(
            f"candidate at {new_q} has no {_CENTROID_SIDECAR} sidecar: "
            "not a servable write_ivf_index layout"
        )
    snap_progress = record.get("source_progress")
    cur_progress = _read_ingest_progress(spark, path)
    if cur_progress != snap_progress:
        raise ValueError(
            f"ingest progress on {src_q} moved since the rebuild "
            f"snapshot ({snap_progress!r} -> {cur_progress!r}): "
            "streaming appends landed mid-rebuild and the candidate "
            "index lacks them — stop the appender and re-run "
            "rebuild_ivf_index"
        )
    cur_rows = int(sum(_footer_row_counts(spark, path).values()))
    snap_rows = record.get("source_rows")
    if cur_rows != snap_rows:
        raise ValueError(
            f"row count on {src_q} moved since the rebuild snapshot "
            f"({snap_rows} -> {cur_rows}): appends (or deletes) landed "
            "mid-rebuild and the candidate index does not reflect "
            "them — re-run rebuild_ivf_index"
        )
    stats = index_stats(spark, new_path)
    # carry the lineage into the candidate BEFORE the swap: if the
    # swap then fails, the candidate just holds a redundant copy of
    # the source's own progress record — harmless on retry
    if snap_progress is not None:
        _write_ingest_progress(spark, new_path, snap_progress)
    if not fs.rename(old_p, retired_p):
        raise IOError(
            f"could not retire {src_q} to {retired_suffix}: promotion "
            "aborted with nothing moved"
        )
    try:
        moved = fs.rename(new_p, old_p)
    except Exception:
        fs.rename(retired_p, old_p)  # best-effort rollback
        raise
    if not moved:
        if not fs.rename(retired_p, old_p):
            raise IOError(
                f"PROMOTION TORN: {src_q} was retired to "
                f"{retired_suffix} but the candidate could not move in "
                "AND the rollback failed — restore by renaming "
                f"{retired_suffix} back manually"
            )
        raise IOError(
            f"could not move candidate {new_q} into {src_q}: rolled "
            "back (old index restored)"
        )
    # consumed; leftover only on a crash right here, and harmless —
    # nothing reads _rebuild_source.json at a SERVING location
    fs.delete(jvm_path(path.rstrip("/") + "/" + _REBUILD_SIDECAR), False)
    return {
        "promoted": src_q,
        "retired": src_q + retired_suffix,
        "carried_lineage": snap_progress is not None,
        "stats": stats,
    }


def ivf_topk_pruned(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]] | None = None,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF serving over a persisted cid-partitioned index (built by
    ``write_ivf_index``): the probed cid set — at most |Q| x nprobe
    values, a bounded driver-side collect because |Q| is one query
    batch — becomes a partition-pruning predicate, so the scan reads
    ONLY the probed list directories.  The in-memory ``assigned=``
    path must still scan the whole index frame into the join; this
    path touches ~nprobe/nlist of the index bytes, which is what
    makes repeated batches against a 100 TB index affordable.
    Results are identical to ``ivf_topk(assigned=...)`` with the same
    centroids (same probe selection, same exact rescoring); query ids
    must be unique within the batch (duplicates are refused loudly —
    they would re-pair ambiguously after the driver-side rebuild).

    ``max_query_rows`` bounds the driver-side query collect (r17
    advice #1: driver memory is the hard ceiling of this path; an
    unguarded million-row high-dim batch would OOM the driver instead
    of degrading).  Batches past the cap refuse with the remedies in
    the message — split the batch, raise the cap where driver heap
    genuinely allows, or use ``ivf_topk(assigned=...)``, which keeps
    queries distributed end-to-end.

    ``centroids=None`` (the serving default) loads the index's own
    ``_centroids.json`` sidecar — the ONLY cid space the index can be
    correctly probed in.  Explicit ``centroids=`` are cross-checked
    against the sidecar and refused on mismatch (r16 advice #1: a
    mismatched list would probe a foreign cid space and silently lose
    recall); for a pre-sidecar index the cheap fallback guard is that
    every persisted ``cid=`` partition directory must be addressable
    by the supplied list (max persisted cid < len(centroids))."""
    if centroids is not None and len(centroids) == 0:
        raise ValueError(
            "empty centroids: no cid space to probe — a persisted "
            "index cannot have been built without centroids either"
        )
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if max_query_rows < 1:
        raise ValueError(
            f"max_query_rows must be >= 1, got {max_query_rows}"
        )
    sidecar = read_centroid_sidecar(spark, index_path)
    if centroids is None:
        if sidecar is None:
            raise ValueError(
                f"no centroids= given and {index_path} has no "
                f"{_CENTROID_SIDECAR} sidecar (pre-sidecar index?) — "
                "pass the build centroids explicitly"
            )
        centroids = sidecar
    elif sidecar is not None:
        # vectorized exact compare (the python nested-listcomp form is
        # O(nlist x dim) interpreter work per serving call); ragged or
        # wrong-shape input compares unequal, never raises here
        try:
            same = bool(
                np.array_equal(
                    np.asarray(centroids, dtype=np.float64),
                    np.asarray(sidecar, dtype=np.float64),
                )
            )
        except (TypeError, ValueError):
            same = False
        if not same:
            raise ValueError(
                "centroids= disagree with the index's "
                f"{_CENTROID_SIDECAR} sidecar: serving with foreign "
                "centroids probes a different cid space and silently "
                "loses recall — pass the build centroids (or None to "
                "load them from the sidecar)"
            )
    else:
        persisted = _persisted_cids(spark, index_path)
        if persisted and persisted[-1] >= len(centroids):
            raise ValueError(
                f"index at {index_path} holds cid={persisted[-1]} but "
                f"only {len(centroids)} centroids were supplied — the "
                "index was built with a different (larger) centroid "
                "list"
            )
    nprobe = min(int(nprobe), len(centroids))
    # Single-evaluation serving with a bounded driver footprint: the
    # QUERY frame is collected ONCE (|Q| rows, one vector each — NOT
    # the probe frame, which would ship every query vector nprobe
    # times) and rebuilt as a driver-local relation; probe selection
    # runs over that fixed local input, so the collected (query_id,
    # cid) pairs, the partition filter, and the candidate join all
    # derive from the same evaluation by construction — a re-computed
    # probe over a non-deterministic query frame could otherwise probe
    # cids the partition filter never saw and silently drop
    # candidates.  The r16 localCheckpoint form bought the same
    # guarantee with non-replicated executor blocks (unrecoverable on
    # executor loss, lingering until driver GC across serving batches
    # — r16 advice #2).
    q = queries.selectExpr(
        f"{ch.ident(query_id_col)} AS query_id", f"{_as_double_sql(vec_col)} AS qv"
    )
    # limit(cap+1) + length check: ONE evaluation proves the batch is
    # under the cap AND yields the rows (a separate count() would
    # re-evaluate a possibly non-deterministic query frame)
    q_rows = q.limit(int(max_query_rows) + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"query batch exceeds max_query_rows={max_query_rows}: the "
            "pruned serving path collects the batch driver-side to "
            "derive the partition filter — split the batch, raise "
            "max_query_rows where driver heap allows, or use "
            "ivf_topk(assigned=...) which keeps queries distributed"
        )
    qv_by_id: dict = {}
    for r in q_rows:
        if r["query_id"] in qv_by_id:
            raise ValueError(
                f"duplicate query_id {r['query_id']!r} in the serving "
                "batch: the pruned path re-pairs probes to vectors by "
                "id after the driver-side rebuild, so duplicates would "
                "multiply probe rows quadratically and diverge from "
                "ivf_topk(assigned=...) — deduplicate ids first"
            )
        qv_by_id[r["query_id"]] = r["qv"]
    q_local = spark.createDataFrame(q_rows, q.schema)
    pairs = _build_probes(q_local, centroids, nprobe, "query_id", "qv").select(
        "query_id", "cid"
    )
    pair_rows = pairs.collect()
    cids = sorted({r["cid"] for r in pair_rows})
    # probe rows rebuilt driver-side from the SAME collected pairs the
    # partition filter came from (ids are unique, so this is the exact
    # pairing a join would produce, minus the join)
    probes_schema = StructType(
        list(q.schema.fields) + [pairs.schema["cid"]]
    )
    probes_local = spark.createDataFrame(
        [
            (r["query_id"], qv_by_id[r["query_id"]], r["cid"])
            for r in pair_rows
        ],
        probes_schema,
    )
    index = spark.read.parquet(index_path).where(F.col("cid").isin(cids))
    return _rank_candidates(probes_local, index, k)
