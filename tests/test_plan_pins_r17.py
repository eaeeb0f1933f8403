"""Executed-plan pins, round 17: the broadcast-UDF (Arrow) IVF paths
added for the r16 advice #4 closure.

What must stay true at 100 TB:

- ``assign_lists`` in its Arrow form (a centroid set past
  ``_ARROW_AUTO_ELEMS``) is STILL a pure map-side pass — one
  ArrowEvalPython stage over the scan, zero Exchange — exactly like
  the literal-path pin (test_ivf_assignment_is_map_side).  The whole
  point of the index build is that it never shuffles N rows.

Same discipline as test_plan_pins_r14/r15/r16: pins read the FINAL
adaptive plan after ``collect()`` on multi-partition inputs.
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np

from test_plan_pins_r15 import _final_nodes, _final_tree, _formatted
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import similarity


def _vectors(spark, n=300, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _big_centroids(dim=8, seed=3):
    """130 lists x 8 dims: past _ARROW_AUTO_ELEMS, so assign_lists
    takes the broadcast (Arrow) form."""
    rng = np.random.RandomState(seed)
    cents = [[float(x) for x in row] for row in rng.normal(size=(130, dim))]
    assert similarity._use_arrow(cents)
    return cents


def _scanned_vectors(spark, tmp, n=300, dim=8, seed=3):
    """Vectors round-tripped through parquet so the pinned plan reads
    from a real multi-file scan (6 files), like a persisted corpus."""
    _vectors(spark, n, dim, seed).repartition(6).write.mode(
        "overwrite"
    ).parquet(tmp)
    return spark.read.parquet(tmp)


def test_arrow_assign_is_map_side(spark):
    """The broadcast-UDF index build keeps the literal path's defining
    property: ONE Python (Arrow) eval stage, ZERO Exchange — a pure
    map-side pass over the corpus scan."""
    base = tempfile.mkdtemp(prefix="ym_pin17a_")
    try:
        vecs = _scanned_vectors(spark, f"{base}/v")
        fmt = _formatted(similarity.assign_lists(vecs, _big_centroids()))
        tree = _final_tree(fmt)
        assert "ArrowEvalPython" in tree, tree
        assert "Exchange" not in tree, tree
        nodes = _final_nodes(fmt)
        names = [n for n, _ in nodes.values()]
        assert names.count("ArrowEvalPython") == 1, names
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_arrow_two_level_assign_is_map_side(spark):
    """Two-level (coarse_groups) assignment under the broadcast form:
    still one Arrow stage, still no Exchange — the IMI-style split is
    inside the UDF, not a join."""
    base = tempfile.mkdtemp(prefix="ym_pin17b_")
    try:
        vecs = _scanned_vectors(spark, f"{base}/v", seed=5)
        fmt = _formatted(
            similarity.assign_lists(vecs, _big_centroids(seed=5), coarse_groups=2)
        )
        tree = _final_tree(fmt)
        assert "ArrowEvalPython" in tree and "Exchange" not in tree, tree
    finally:
        shutil.rmtree(base, ignore_errors=True)
