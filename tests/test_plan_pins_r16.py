"""Executed-plan pins, round 16: the remaining 100 TB-critical shapes
that r14/r15 did not cover — the SCD-2 bucketed interval join's
no-nested-loop claim, sessionize's single user-key exchange, sequence
packing's single shard exchange, and the NEW compaction range-bucket
layout (ADVICE r15 #1 fix) whose whole point is a bounded-cardinality
range exchange instead of a per-week window.

Same discipline as test_plan_pins_r14/r15: every pin reads the FINAL
adaptive plan after ``collect()`` on multi-partition inputs, so a
Spark upgrade or refactor that silently re-plans into a scale-killer
(nested loop, global sort, per-week window) becomes a CI failure.
"""

from __future__ import annotations

import re
from datetime import date

from pyspark.sql import functions as F

from test_plan_pins_r15 import (
    _assert_no_forbidden,
    _final_nodes,
    _final_tree,
    _formatted,
)
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import packing, rangejoin, sessionize
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import warehouse


def _range_exchanges(nodes: dict) -> list[tuple[list[str], list[str]]]:
    """(key base-names, input column base-names) of every
    rangepartitioning Exchange in the final plan."""
    out = []
    for name, block in nodes.values():
        if name != "Exchange":
            continue
        m = re.search(r"rangepartitioning\(([^)]*)\)", block)
        if not m:
            continue
        keys = [
            k.split("#")[0].strip().split(" ")[0]
            for k in m.group(1).split(",")
            if "#" in k
        ]
        im = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        cols = [c.split("#")[0].strip() for c in im.group(1).split(",")]
        out.append((keys, cols))
    return out


def _hash_exchanges(nodes: dict) -> list[list[str]]:
    """Key base-names of every hashpartitioning Exchange."""
    out = []
    for name, block in nodes.values():
        if name != "Exchange":
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", block)
        if m:
            out.append(
                [
                    k.split("#")[0].strip()
                    for k in m.group(1).split(",")
                    if "#" in k
                ]
            )
    return out


def test_compaction_range_bucket_shape(spark):
    """_range_bucketed (the target>1 compaction layout): ONE range
    exchange keyed exactly (week, __bucket) — the bounded-cardinality
    key that makes at-most-target exact AND per-file ranges disjoint —
    whose rows do NOT carry the __bounds array; the boundary attach is
    a broadcast join; the only hash exchanges belong to the tiny
    per-week percentile agg (keyed week alone); and NO Window node
    anywhere (a window partitioned by week would single-task a whole
    week at 100 TB — the exact shape this layout exists to avoid)."""
    src = (
        spark.range(4000)
        .select(
            (F.concat(F.lit("2023-10-"), F.lpad(((F.col("id") % 4) * 7 + 2).cast("string"), 2, "0"))).alias(warehouse.WEEK_COL),
            (F.col("id") % 997).cast("int").alias("k"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    out = warehouse._range_bucketed(src, "k", "int", 3, 12)
    nodes = _final_nodes(_formatted(out))
    _assert_no_forbidden(nodes)

    names = [n for n, _ in nodes.values()]
    assert "Window" not in names, names

    rng = _range_exchanges(nodes)
    assert len(rng) == 1, rng
    keys, cols = rng[0]
    assert keys == [warehouse.WEEK_COL, "__bucket"], keys
    assert "__bounds" not in cols, cols  # dropped BEFORE the exchange

    for hkeys in _hash_exchanges(nodes):
        assert hkeys == [warehouse.WEEK_COL], hkeys  # percentile agg only

    bcasts = [n for n, _ in nodes.values() if n == "BroadcastHashJoin"]
    assert len(bcasts) == 1, names


def test_interval_join_equi_shape_when_broadcast_disabled(spark):
    """interval_join (the non-broadcast SCD-2 path): with broadcast
    OFF — the regime the operator exists for, a dim too big to ship —
    the executed plan must hold a plain EQUI join keyed on the coarse
    calendar bucket (+ the extra equi keys), never a CartesianProduct
    or BroadcastNestedLoopJoin (what the naive non-equi between-join
    degenerates to), with the interval explode (Generate) feeding the
    dim side only."""
    fact = (
        spark.range(2000)
        .select(
            (F.col("id") % 40).alias("k"),
            F.date_add(F.lit("2023-01-02"), (F.col("id") % 300).cast("int")).alias("d"),
        )
        .repartition(8)
    )
    dim = spark.range(400).select(
        (F.col("id") % 40).alias("dk"),
        F.date_add(F.lit("2023-01-02"), ((F.col("id") % 10) * 30).cast("int")).alias("f"),
        F.date_add(F.lit("2023-01-02"), ((F.col("id") % 10) * 30 + 29).cast("int")).alias("t"),
        F.col("id").alias("attr"),
    )
    prev_b = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_a = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = rangejoin.interval_join(
            fact, dim, "d", "f", "t",
            equi=[("k", "dk")],
            bounds=(date(2023, 1, 2), date(2023, 12, 31)),
        )
        fmt = _formatted(joined)
        nodes = _final_nodes(fmt)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_b)
        if prev_a is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_a)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    _assert_no_forbidden(nodes)

    eq_joins = [
        (n, b)
        for n, b in nodes.values()
        if n in ("SortMergeJoin", "ShuffledHashJoin")
    ]
    assert len(eq_joins) == 1, [n for n, _ in nodes.values()]
    _, block = eq_joins[0]
    m = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", block)
    keys = [k.split("#")[0].strip() for k in m.group(1).split(",")]
    assert keys == ["__bucket", "k"], keys

    assert any(n == "Generate" for n, _ in nodes.values())  # dim explode


def test_sessionize_single_user_exchange_no_join(spark):
    """sessionize: the docstring's 'one shuffle on the user key' —
    session_window aggregation plans as exactly ONE exchange, keyed
    user_id alone (sessions merge within the user partition), and no
    join of any kind."""
    hits = (
        spark.range(3000)
        .select(
            (F.col("id") % 50).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") % 61) * 600
            ).alias("ts"),
        )
        .repartition(8)
    )
    sessions = sessionize.sessionize(hits)
    nodes = _final_nodes(_formatted(sessions))
    _assert_no_forbidden(nodes)
    assert not any("Join" in n for n, _ in nodes.values())

    ex = _hash_exchanges(nodes)
    rng = _range_exchanges(nodes)
    assert rng == [], rng
    assert len(ex) == 1 and ex[0] == ["user_id"], ex


def test_pack_sequences_single_shard_exchange(spark):
    """pack_sequences: 'one window shuffle on the shard key, no
    driver loop' — exactly one exchange, hash-keyed on shard; the
    window sort is within-partition (global=false), so there is no
    rangepartitioning exchange (a global sort would serialize packing
    at 100 TB); no join."""
    docs = (
        spark.range(5000)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 700 + 1).cast("int").alias("n_tokens"),
        )
        .repartition(8)
    )
    packed = packing.pack_sequences(docs, nshards=16)
    fmt = _formatted(packed)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)
    assert not any("Join" in n for n, _ in nodes.values())

    ex = _hash_exchanges(nodes)
    rng = _range_exchanges(nodes)
    assert rng == [], rng
    assert len(ex) == 1 and ex[0] == ["shard"], ex

    # every Sort in the final plan is within-partition
    tree = _final_tree(fmt)
    for name, block in nodes.values():
        if name == "Sort":
            assert "global=false" in block or "false, 0" in block, block
    assert "Sort" in [n for n, _ in nodes.values()]


def test_ivf_assign_lists_is_pure_map_side(spark):
    """assign_lists — exact AND two-level — is the index-build scan:
    its executed plan must hold NO exchange, no join, no window, no
    generate (one pass over the vectors, centroids ride as literals).
    A regression that sneaks a shuffle in here re-prices the 100 TB
    index build from 'one scan' to 'one scan + full-corpus shuffle'."""
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import similarity

    vecs = (
        spark.range(4000)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                *[((F.col("id") * (d + 3)) % 17).cast("double") + 0.5 for d in range(8)]
            ).alias("embedding"),
        )
        .repartition(8)
    )
    cents = similarity.train_centroids(vecs, nlist=16)
    for kwargs in ({}, {"coarse_groups": 4}):
        out = similarity.assign_lists(vecs, cents, **kwargs)
        nodes = _final_nodes(_formatted(out))
        _assert_no_forbidden(nodes)
        names = [n for n, _ in nodes.values()]
        for banned in ("Window", "Generate"):
            assert banned not in names, (kwargs, names)
        assert not any("Join" in n for n in names), (kwargs, names)
        # the ONLY exchange is the test input's own repartition(8)
        # (round-robin); the operator itself must add none —
        # no hashpartitioning, no rangepartitioning
        for name, block in nodes.values():
            if name == "Exchange":
                assert "RoundRobinPartitioning" in block, (kwargs, block)

