"""Round-18 similarity hardening: centroid broadcasts are memoized per
payload content, and the memo is LRU-bounded with unpersist-on-evict
(one Arrow-form call used to leak one full-payload broadcast each).
"""

from __future__ import annotations

import numpy as np

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import similarity


def _vectors(spark, n=60, dim=6, seed=11):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_centroid_broadcast_is_memoized_and_bounded(spark):
    similarity._bcast_cache.clear()
    unit = similarity._unit_matrix([[1.0, 0.0], [0.0, 1.0]])
    a = similarity._cached_broadcast(spark, "probe", [unit], lambda: unit)
    b = similarity._cached_broadcast(spark, "probe", [unit], lambda: unit)
    assert a is b and len(similarity._bcast_cache) == 1
    # a value-equal COPY hits the same content-keyed entry
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


def test_arrow_paths_reuse_one_broadcast_per_payload(spark):
    """End-to-end: two assign_lists calls with the same centroids on
    the arrow path (a centroid set past _ARROW_AUTO_ELEMS) create ONE
    broadcast."""
    similarity._bcast_cache.clear()
    vecs = _vectors(spark, n=40, dim=4, seed=3)
    rng = np.random.RandomState(3)
    cents = [[float(x) for x in row] for row in rng.normal(size=(257, 4))]
    assert similarity._use_arrow(cents)
    similarity.assign_lists(vecs, cents).collect()
    n1 = len(similarity._bcast_cache)
    similarity.assign_lists(vecs, cents).collect()
    assert len(similarity._bcast_cache) == n1 == 1
