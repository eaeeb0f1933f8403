"""r20 Arrow signature kernel for sign-LSH (dedup_embedding).

``signlsh_pairs`` used to evaluate ntables x nplanes interpreted
lambda-HOF plane dots per row (HOFs are interpreted AND exempt from
codegen subexpression elimination -- guide §4).  The signature stage is
now ONE ``pandas_udf`` numpy pass per batch that must be BIT-IDENTICAL
to the expression form: the kernel reproduces the fold's exact IEEE
operation order (dimension-ascending accumulation), Spark's NaN-above-
everything comparison semantics (``NaN > 0`` is TRUE in Spark SQL,
false in IEEE/numpy), and the NULL-element poisoning of the zip_with
fold (signature 0).  These tests pin all of that against the
expression form, ``sign_signature``, which stays in the module as the
semantic reference.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.functions import ch
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import (
    similarity as sim,
)

NAN = float("nan")
INF = float("inf")

# normal, zeros, negative zeros, NULL vector, NULL element, NaN
# element, +-inf (NaN dot via inf - inf), denormal-scale, short, long,
# empty, positive scalar multiple, catastrophic cancellation
BATTERY = [
    (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
    (2, [0.0] * 8),
    (3, [-0.0] * 8),
    (4, None),
    (5, [1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
    (6, [NAN, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
    (7, [INF, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, -INF]),
    (8, [1e-300] * 8),
    (9, [1.0, 2.0, 3.0]),
    (10, [1.0] * 12),
    (11, []),
    (12, [2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0]),
    (13, [1e16, 1.0, -1e16, 0.5, -0.5, 1.0, -1.0, 2.0]),
]


@pytest.fixture(scope="module")
def battery(spark):
    return spark.createDataFrame(
        BATTERY, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )


def _emb(spark, n=400, dim=64):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.hash(F.col("id") % 80, F.lit(i)) % 1000).cast("double")
                / 1000.0
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


@pytest.mark.parametrize("dim,nplanes,ntables", [(8, 16, 4), (8, 8, 2)])
def test_kernel_bit_identical_on_adversarial_battery(
    spark, battery, dim, nplanes, ntables
):
    base = battery.select(
        F.col("vec_id").alias("id"), sim.as_double("embedding").alias("v")
    )
    expr = base.select(
        "id",
        *[
            sim.sign_signature("v", dim, nplanes, seed=42 + t).alias(
                f"s{t}"
            )
            for t in range(ntables)
        ],
    )
    kern = sim._sign_signatures_kernel(dim, nplanes, ntables, seed0=42)
    got = base.select(
        "id",
        *[
            F.element_at(kern("v"), t + 1).alias(f"s{t}")
            for t in range(ntables)
        ],
    )
    a = {r["id"]: tuple(r[f"s{t}"] for t in range(ntables)) for r in expr.collect()}
    b = {r["id"]: tuple(r[f"s{t}"] for t in range(ntables)) for r in got.collect()}
    assert a == b


def _expression_pairs(emb, threshold, dim, nplanes, ntables):
    """The pairs of signlsh_pairs with its signature stage spelled as
    the per-table ``sign_signature`` expression battery: same buckets,
    same exact-cosine verify."""
    base = emb.select(
        F.col("vec_id").alias("id"), sim.as_double("embedding").alias("v")
    )
    sigs = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        sim.sign_signature(
                            "v", dim, nplanes, seed=42 + t
                        ).alias("sig"),
                    )
                    for t in range(ntables)
                ]
            )
        ).alias("s"),
    ).select("id", "s.tbl", "s.sig")
    a, b = sigs.alias("a"), sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", sim.cosine("va", "vb"))
        .where(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", ch.round_to(F.col("cos"), 4).alias("cos"))
    )


def test_pairs_identical_and_scaled_copies_still_collide(spark):
    emb = _emb(spark)
    new = sim.signlsh_pairs(emb, threshold=0.5, dim=64, nplanes=16, ntables=4)
    rows_new = sorted(map(tuple, new.collect()))
    old = _expression_pairs(emb, threshold=0.5, dim=64, nplanes=16, ntables=4)
    rows_old = sorted(map(tuple, old.collect()))
    assert rows_new == rows_old and len(rows_new) > 0


def test_signature_stage_is_one_arrow_node(spark):
    emb = _emb(spark, n=50)
    out = sim.signlsh_pairs(emb, threshold=0.5, dim=64, nplanes=16, ntables=4)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # no interpreted plane battery remains (exchange reuse across the
    # two join sides is pinned by test_plan_pins_r15's signlsh test,
    # which inspects the executed adaptive plan where ReusedExchange
    # materializes)
    assert "ArrowEvalPython" in plan
    # the 64-dot expression battery is gone: zip_with only survives in
    # the cosine verify (2 mentions: dot of the candidate pair)
    assert plan.count("zip_with") <= 4
