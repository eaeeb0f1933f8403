"""Round-18 similarity serving hardening (the four r17 ADVICE items).

1. (medium) ``ivf_topk_pruned`` bounds its driver-side query collect:
   ``max_query_rows`` refuses oversized batches with remedies instead
   of OOMing the driver.
2. Duplicate query ids in a serving batch refuse loudly — the
   driver-side re-pairing would otherwise multiply probe rows
   quadratically and silently diverge from ``ivf_topk(assigned=...)``.
3. The sidecar cache stores compact float64 ndarrays and is
   LRU-bounded (boxed-float lists at 65k x 1024 are multiple GB,
   retained per path for the process lifetime).
4. Centroid broadcasts are memoized per payload content and the
   memo is LRU-bounded with unpersist-on-evict (one serving/build
   batch per call used to leak one full-payload broadcast each).
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import similarity


def _vectors(spark, n=60, dim=6, seed=11):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(vecs, ids):
    return vecs.where(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@pytest.fixture(scope="module")
def served_index(spark):
    base = tempfile.mkdtemp(prefix="ym_r18_srv_")
    vecs = _vectors(spark)
    cents = similarity.train_centroids(vecs, nlist=4)
    path = f"{base}/idx"
    similarity.write_ivf_index(vecs, cents, path)
    yield path, vecs, cents
    shutil.rmtree(base, ignore_errors=True)


def test_pruned_serving_refuses_oversized_batch(served_index):
    path, vecs, _ = served_index
    qs = _queries(vecs, list(range(10)))
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.ivf_topk_pruned(
            qs.sparkSession, path, qs, k=3, nprobe=2, max_query_rows=5
        )
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.ivf_topk_pruned(
            qs.sparkSession, path, qs, k=3, nprobe=2, max_query_rows=0
        )


def test_pruned_serving_exactly_at_cap_serves(served_index):
    path, vecs, cents = served_index
    qs = _queries(vecs, [1, 2, 3])
    out = similarity.ivf_topk_pruned(
        qs.sparkSession, path, qs, k=3, nprobe=2, max_query_rows=3
    )
    baseline = similarity.ivf_topk(
        vecs, qs, k=3, nprobe=2, centroids=cents,
        assigned=similarity.assign_lists(vecs, cents),
    )
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in baseline.collect()
    } and out.count() > 0


def test_pruned_serving_refuses_duplicate_query_ids(served_index):
    path, vecs, _ = served_index
    qs = _queries(vecs, [1, 2])
    dup = qs.unionAll(qs.where(F.col("query_id") == 1))
    with pytest.raises(ValueError, match="duplicate query_id"):
        similarity.ivf_topk_pruned(
            dup.sparkSession, path, dup, k=3, nprobe=2
        )


def test_sidecar_cache_is_compact_and_bounded(spark, served_index):
    path, _, cents = served_index
    got = similarity.read_centroid_sidecar(spark, path)
    assert isinstance(got, np.ndarray) and got.dtype == np.float64
    assert got.tolist() == [[float(x) for x in row] for row in cents]
    # repeated reads hit the cache (same object back, no re-parse)
    assert similarity.read_centroid_sidecar(spark, path) is got

    base = tempfile.mkdtemp(prefix="ym_r18_lru_")
    try:
        vecs = _vectors(spark, n=20)
        for i in range(similarity._SIDECAR_CACHE_MAX + 2):
            p = f"{base}/idx{i}"
            similarity.write_ivf_index(vecs, cents, p)
            similarity.read_centroid_sidecar(spark, p)
            assert len(similarity._sidecar_cache) <= similarity._SIDECAR_CACHE_MAX
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_centroid_broadcast_is_memoized_and_bounded(spark):
    similarity._bcast_cache.clear()
    similarity._bcast_id_cache.clear()
    unit = similarity._unit_matrix([[1.0, 0.0], [0.0, 1.0]])
    a = similarity._cached_broadcast(spark, "probe", [unit], lambda: unit)
    b = similarity._cached_broadcast(spark, "probe", [unit], lambda: unit)
    assert a is b and len(similarity._bcast_cache) == 1
    # the identity tier serves same-object repeats without rehashing
    assert len(similarity._bcast_id_cache) == 1
    # a value-equal COPY misses the id tier but hits the content tier
    assert similarity._cached_broadcast(
        spark, "probe", [unit.copy()], lambda: unit
    ) is a
    # same bytes, different kind -> distinct broadcast (assign payloads
    # and probe payloads must never alias)
    c = similarity._cached_broadcast(spark, "assign", [unit], lambda: unit)
    assert c is not a
    # LRU bound holds and evicted entries are unpersisted, not broken:
    # the oldest broadcast's value stays readable (driver copy remains)
    for i in range(similarity._BCAST_CACHE_MAX + 3):
        m = similarity._unit_matrix([[1.0, float(i + 1)]])
        similarity._cached_broadcast(spark, "probe", [m], lambda: m)
        assert len(similarity._bcast_cache) <= similarity._BCAST_CACHE_MAX
    assert np.array_equal(a.value, unit)


def test_unit_matrix_memoizes_ndarray_inputs_only(spark, served_index):
    """Sidecar-served centroids (one cached ndarray object per path)
    pay the O(nlist x dim) Python normalization once; list inputs
    never touch the memo, and the memoized values are the exact loop
    outputs (same-object identity on repeat, bit-equal to the list
    path's result)."""
    path, _, cents = served_index
    similarity._unit_cache.clear()
    nd = similarity.read_centroid_sidecar(spark, path)
    u1 = similarity._unit_matrix(nd)
    u2 = similarity._unit_matrix(nd)
    assert u1 is u2 and len(similarity._unit_cache) == 1
    from_list = similarity._unit_matrix([list(map(float, r)) for r in cents])
    assert len(similarity._unit_cache) == 1  # lists bypass the memo
    assert np.array_equal(u1, from_list)  # bit-identical arithmetic
    # bound holds; dead keys cannot alias (weakref check)
    for i in range(similarity._UNIT_CACHE_MAX + 3):
        similarity._unit_matrix(np.asarray([[1.0, float(i + 1)]]))
        assert len(similarity._unit_cache) <= similarity._UNIT_CACHE_MAX


def test_arrow_paths_reuse_one_broadcast_per_payload(spark):
    """End-to-end: two assign_lists calls with the same centroids on
    the arrow path (a centroid set past _ARROW_AUTO_ELEMS) create ONE
    broadcast, and repeated pruned serving against one index does not
    grow the memo."""
    similarity._bcast_cache.clear()
    vecs = _vectors(spark, n=40, dim=4, seed=3)
    rng = np.random.RandomState(3)
    cents = [[float(x) for x in row] for row in rng.normal(size=(257, 4))]
    assert similarity._use_arrow(cents)
    similarity.assign_lists(vecs, cents).collect()
    n1 = len(similarity._bcast_cache)
    similarity.assign_lists(vecs, cents).collect()
    assert len(similarity._bcast_cache) == n1 == 1
