"""Executed-plan pins for the dedup/LSH family (r15 verdict task 3),
extended over the round to 17 pins spanning the similarity, text,
paragraph, contamination, corpus-quota, and skew-salting claims (see
the section headers below).

The r14 pattern (test_plan_pins_r14.py) applied to the remaining
100 TB-critical docstring claims, until now verified only by PLANS.md
hand probes — the original four:

- ``minhash_lsh_pairs``: the banded candidate join is a
  ShuffledHashJoin keyed (band, bh); the exchange feeding it carries
  ONLY [id, band, bh] (24-byte rows — shingle sets attach AFTER
  candidate pairing); the band frame is materialized ONCE and the
  other side is a ReusedExchange (the shuffle_hash-both-sides
  rationale: broadcast would compute the signature lineage twice);
  no CartesianProduct / nested-loop join anywhere.
- ``simhash_pairs``: pigeonhole blocking — the candidate join is a
  ShuffledHashJoin keyed (ci, cv); its exchange carries only
  [id, sim, ci, cv]; chunk frame reused, no cartesian.
- ``ngram_jaccard_pairs``: the inverted-index count-join is a
  ShuffledHashJoin keyed on the shingle hash (cold path) or
  (sh, ci, cj) grid cells (salted hot path); index exchanges carry
  only (id, nsh, key...) rows — never text or shingle-set arrays.
- ``connected_components`` / ``dedup_clusters``: localCheckpoint
  truncates lineage — the returned frame's executed plan is a
  CONSTANT-size checkpoint scan, independent of how many propagation
  rounds convergence took (without the checkpoint the plan would
  grow by two join trees per cycle).

All pins read the FINAL adaptive plan after ``collect()`` on
multi-partition inputs: AQE is legally allowed to re-plan at runtime
(and does — the small attach joins here become broadcasts), so only
an executed-plan check proves the shape that actually runs.  A Spark
upgrade or refactor that silently breaks one of these re-shuffles
payload-width rows or goes all-pairs at 100 TB; these pins turn that
into a CI failure.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import dedup

_FORBIDDEN = re.compile(r"CartesianProduct|BroadcastNestedLoopJoin")
# payload columns that must never ride a candidate-generation exchange
_PAYLOAD = re.compile(r"\b(text|shset|sh_a|sh_b|sa|sb)#")


def _formatted(df) -> str:
    """Formatted explain AFTER an action — reflects the AQE final plan
    (``isFinalPlan=true``); node details carry per-node Input/Output
    attribute lists, which the plain toString does not."""
    df.collect()
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        jqe, "formatted"
    )


def _final_tree(fmt: str) -> str:
    if "== Final Plan ==" in fmt:
        return fmt.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return fmt.split("== Physical Plan ==")[1]


def _final_nodes(fmt: str) -> dict[int, tuple[str, str]]:
    """{node_id: (node_name, detail_block)} for FINAL-plan nodes only
    (the detail section also describes the discarded initial plan)."""
    ids = {int(i) for i in re.findall(r"\((\d+)\)", _final_tree(fmt))}
    out: dict[int, tuple[str, str]] = {}
    for m in re.finditer(
        r"(?m)^\((\d+)\) (\S+).*\n((?:.+\n)*)", fmt
    ):
        nid = int(m.group(1))
        if nid in ids:
            out[nid] = (m.group(2), m.group(3))
    return out


def _shj_on(nodes: dict, key_cols: list[str]) -> list[tuple[str, str]]:
    """ShuffledHashJoin nodes whose left keys are exactly key_cols."""
    hits = []
    for name, block in nodes.values():
        if name != "ShuffledHashJoin":
            continue
        m = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", block)
        if m is None:
            # plan-format drift (Spark upgrade): skip so the caller's
            # len()-assertion fails WITH the plan text, instead of an
            # opaque AttributeError here
            continue
        keys = [k.split("#")[0].strip() for k in m.group(1).split(",")]
        if keys == key_cols:
            hits.append((name, block))
    return hits


def _exchanges_on(nodes: dict, key_cols: list[str]) -> list[list[str]]:
    """Input column base-names of every hash Exchange keyed key_cols."""
    out = []
    for name, block in nodes.values():
        if name != "Exchange":
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", block)
        if not m:
            continue
        keys = [
            k.split("#")[0].strip()
            for k in m.group(1).split(",")
            if "#" in k
        ]
        if keys != key_cols:
            continue
        im = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        out.append([c.split("#")[0].strip() for c in im.group(1).split(",")])
    return out


def _assert_no_forbidden(nodes: dict) -> None:
    bad = [n for n, _ in nodes.values() if _FORBIDDEN.search(n)]
    assert not bad, bad


def _docs(spark, n: int = 300):
    """7 near-dup templates x ~43 docs: dense true-pair volume so no
    stage is empty (AQE's empty-relation propagation would otherwise
    collapse the joins this file exists to inspect)."""
    words = [
        F.concat(F.lit("w"), ((F.col("id") % 7) * 31 + i) % 50)
        for i in range(30)
    ]
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *words).alias("text"),
    ).repartition(8)


def test_minhash_lsh_banded_join_shape(spark):
    out = dedup.minhash_lsh_pairs(_docs(spark), num_hashes=16, bands=4)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    shj = _shj_on(nodes, ["band", "bh"])
    assert len(shj) == 1, fmt  # the hint survived AQE re-planning

    for cols in _exchanges_on(nodes, ["band", "bh"]):
        assert sorted(cols) == ["band", "bh", "id"], cols

    # one band exchange materialized, the self-join side reuses it
    assert "ReusedExchange" in _final_tree(fmt), fmt

    # payload never rides a shuffle: every hash exchange in the final
    # plan is payload-free (shingle sets travel only via the
    # AQE-chosen broadcast of the 300-row docs side)
    for name, block in nodes.values():
        if name == "Exchange" and "hashpartitioning" in block:
            im = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            assert not _PAYLOAD.search(im.group(1)), block


def _outer_final_nodes(fmt: str) -> dict[int, tuple[str, str]]:
    """``_final_nodes`` for a plan over a cached input: the cached
    relation prints its own ``== Final Plan ==`` markers, nested in the
    tree, so only the column-0 markers bound the outer final plan."""
    tree = re.split(r"(?m)^\+- == (?:Final|Initial) Plan ==", fmt)
    ids = {int(i) for i in re.findall(r"\((\d+)\)", tree[1] if len(tree) > 2 else tree[0])}
    return {
        int(m.group(1)): (m.group(2), m.group(3))
        for m in re.finditer(r"(?m)^\((\d+)\) (\S+).*\n((?:.+\n)*)", fmt)
        if int(m.group(1)) in ids
    }


def _executed_plans(spark, run) -> list[str]:
    """Formatted final plans of every SQL execution ``run()`` starts,
    read from the session's SQL status store (an eager checkpoint is
    an execution of its own, so the returned frame's plan alone would
    not show the work done while building it)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last(n):
        bus.waitUntilEmpty()
        cnt = store.executionsCount()
        seq = store.executionsList(max(0, cnt - n), n)
        return [seq.apply(i) for i in range(seq.size())]

    start = max([e.executionId() for e in last(1)], default=-1)
    run()
    return [
        e.physicalPlanDescription() for e in last(100) if e.executionId() > start
    ]


def _assert_cached_input_computed_once(spark, build, generator, key_cols):
    """On a ``.cache()``d input (the curation shape), across every
    execution that ``build(docs)`` and its collect start, the per-doc
    Generate marked by ``generator`` runs exactly once, and the
    candidate self-join keyed ``key_cols`` reuses its exchange."""
    docs = _docs(spark).cache()
    try:
        docs.count()
        out = {}
        plans = _executed_plans(
            spark, lambda: out.setdefault("fmt", _formatted(build(docs)))
        )
    finally:
        docs.unpersist()
    gens = [
        block
        for fmt in plans
        for name, block in _outer_final_nodes(fmt).values()
        if name == "Generate" and generator in block
    ]
    assert len(gens) == 1, plans
    fmt = out["fmt"]
    nodes = _outer_final_nodes(fmt)
    assert len(_shj_on(nodes, key_cols)) == 1, fmt
    reused = [block for name, block in nodes.values() if name == "ReusedExchange"]
    assert any(
        all(re.search(rf"\b{c}#", block) for c in key_cols) for block in reused
    ), fmt


def test_minhash_lsh_cached_input_computes_state_once(spark):
    """One per-document state (shingle set plus MINs) feeds both band
    sides and both verify joins: one shingle Generate, reused band
    exchange."""
    _assert_cached_input_computed_once(
        spark,
        lambda d: dedup.minhash_lsh_pairs(d, num_hashes=16, bands=4),
        "Arguments: explode(arrays_zip(",
        ["band", "bh"],
    )


def test_simhash_pigeonhole_join_shape(spark):
    out = dedup.simhash_pairs(_docs(spark))
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    shj = _shj_on(nodes, ["ci", "cv"])
    assert len(shj) == 1, fmt

    for cols in _exchanges_on(nodes, ["ci", "cv"]):
        assert sorted(cols) == ["ci", "cv", "id", "sim"], cols

    assert "ReusedExchange" in _final_tree(fmt), fmt


def test_ngram_inverted_index_cold_path(spark):
    # default salt_df=256 > every df here (~43) -> pure cold path
    out = dedup.ngram_jaccard_pairs(_docs(spark))
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    shj = _shj_on(nodes, ["sh"])
    assert len(shj) == 1, fmt

    for cols in _exchanges_on(nodes, ["sh"]):
        assert sorted(cols) == ["id", "nsh", "sh"], cols

    for name, block in nodes.values():
        if name == "Exchange" and "hashpartitioning" in block:
            im = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            assert not _PAYLOAD.search(im.group(1)), block


def test_ngram_inverted_index_salted_hot_path(spark):
    # salt_df=4 <= every df -> every shingle goes through the grid
    # cells; the candidate join must be keyed (sh, ci, cj) and its
    # exchanges carry exactly the 5-column salted index rows
    out = dedup.ngram_jaccard_pairs(_docs(spark), salt_df=4)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    shj = _shj_on(nodes, ["sh", "ci", "cj"])
    assert len(shj) == 1, fmt

    for cols in _exchanges_on(nodes, ["sh", "ci", "cj"]):
        assert sorted(cols) == ["ci", "cj", "id", "nsh", "sh"], cols


def _cc_plan_profile(spark, n_chain: int) -> tuple[int, str]:
    """(final-plan node count, formatted plan) of connected_components
    over an n-node path graph — diameter n-1, so convergence rounds
    grow with n while the RESULT plan must not."""
    pairs = spark.range(n_chain - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).repartition(4)
    lab = dedup.connected_components(pairs)
    fmt = _formatted(lab)
    nodes = _final_nodes(fmt)
    # correctness while we are here: a path graph is one component
    rows = lab.collect()
    assert {r["comp"] for r in rows} == {0}
    assert len(rows) == n_chain
    return len(nodes), fmt


def test_connected_components_checkpoint_truncates_lineage(spark):
    n_small, fmt_small = _cc_plan_profile(spark, 3)
    n_big, fmt_big = _cc_plan_profile(spark, 40)
    # lineage truncation: identical (tiny) plan size no matter how
    # many propagation cycles ran; without localCheckpoint the big
    # graph's plan would carry ~2 extra join trees per cycle
    assert n_small == n_big, (fmt_small, fmt_big)
    assert n_big <= 5, fmt_big
    # and the scan is the checkpoint RDD, zero exchanges downstream
    assert "ExistingRDD" in fmt_big
    assert "Exchange" not in _final_tree(fmt_big)


def test_dedup_clusters_bounded_exchanges(spark):
    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    pairs = spark.range(10).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    out = dedup.dedup_clusters(docs, pairs)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)
    # the assignment join over the checkpointed labels: at most the
    # join's own exchanges, never an iteration-count-dependent number
    n_ex = sum(1 for n, _ in nodes.values() if n == "Exchange")
    assert n_ex <= 3, fmt


# ---------------------------------------------------------------------------
# similarity / text / paragraph pins — the remaining shuffle-discipline
# docstring claims (signlsh 20-byte band rows, IVF's 1-broadcast +
# 1-rank-exchange, paragraph_dedup's hash-triple window, and the
# map-side zero-exchange text family)
# ---------------------------------------------------------------------------


def _embeddings(spark, n=2000, dim=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.hash(F.col("id"), F.lit(i)) % 1000).cast("double") / 1000.0
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def test_signlsh_bucket_join_shape(spark):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import similarity

    out = similarity.signlsh_pairs(
        _embeddings(spark).repartition(8), threshold=0.5, dim=8, nplanes=8
    )
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    shj = _shj_on(nodes, ["tbl", "sig"])
    assert len(shj) == 1, fmt

    # 20-byte band rows: the bucket exchanges carry ONLY (id, tbl, sig)
    for cols in _exchanges_on(nodes, ["tbl", "sig"]):
        assert sorted(cols) == ["id", "sig", "tbl"], cols
    assert "ReusedExchange" in _final_tree(fmt), fmt

    # the embedding arrays never ride a hash exchange
    for name, block in nodes.values():
        if name == "Exchange" and "hashpartitioning" in block:
            im = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            assert not re.search(r"\b(v|va|vb|embedding)#", im.group(1)), block


def test_ivf_topk_one_broadcast_one_rank_exchange(spark):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import similarity

    vectors = _embeddings(spark, 2000).repartition(8)
    queries = _embeddings(spark, 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(vectors, queries, k=5, nlist=8, nprobe=2)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    # map-side assignment: the ONLY hash exchange is the per-query
    # rank window; the probes side reaches the cid join by broadcast
    hash_ex = [
        block
        for name, block in nodes.values()
        if name == "Exchange" and "hashpartitioning" in block
    ]
    assert len(hash_ex) == 1, fmt
    assert "hashpartitioning(query_id" in hash_ex[0], hash_ex[0]
    n_bcast = sum(1 for n, _ in nodes.values() if n == "BroadcastExchange")
    assert n_bcast == 1, fmt
    # whole family is JVM expressions — no Python eval in the plan
    assert not re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", fmt)


def test_paragraph_dedup_window_shuffles_hash_triples_only(spark):
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n\n",
            F.concat(F.lit("shared para "), F.col("id") % 5),
            F.concat(F.lit("own para "), F.col("id")),
        ).alias("text"),
    ).repartition(8)
    out = dedup.paragraph_dedup(docs)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    # the first-occurrence window exchange carries (id, pos, __h) —
    # never the paragraph text (that moves only in the documented
    # keep-attach join and reassembly group)
    h_exchanges = _exchanges_on(nodes, ["__h"])
    assert h_exchanges, fmt
    for cols in h_exchanges:
        assert sorted(cols) == ["__h", "id", "pos"], cols


def test_text_family_is_map_side_zero_exchange(spark):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import text

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Contact me at user"),
            F.col("id"),
            F.lit("@example.com or 555-123-4567; the quick brown fox."),
        ).alias("text"),
    )  # deliberately NOT repartitioned: range scan has no exchange,
    # so ANY Exchange below must come from the operator itself
    for op in (
        lambda d: text.scrub_pii(d),
        lambda d: text.text_stats(d),
    ):
        out = op(docs)
        fmt = _formatted(out)
        nodes = _final_nodes(fmt)
        n_ex = sum(1 for n, _ in nodes.values() if "Exchange" in n)
        assert n_ex == 0, fmt
        assert not re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", fmt)


def test_dedup_exact_single_exchange(spark):
    out = dedup.dedup_exact(_docs(spark), ["text"])
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)
    # one shuffle total: the (hash, content) window group; no join
    hash_ex = [
        block
        for name, block in nodes.values()
        if name == "Exchange" and "hashpartitioning" in block
    ]
    assert len(hash_ex) == 1, fmt
    assert "hashpartitioning(__h" in hash_ex[0], hash_ex[0]
    assert not any("Join" in n for n, _ in nodes.values()), fmt


def test_contamination_inverted_index_shape(spark):
    train = _docs(spark, 200)
    bench = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), ((F.col("id") % 7) * 31 + i) % 50)
                for i in range(10)
            ],
        ).alias("text"),
    )
    out = dedup.contamination(train, bench, min_overlap=0.3)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)

    shj = _shj_on(nodes, ["sh"])
    assert len(shj) == 1, fmt

    # both index sides shuffle 8-byte hashes + ids only — never text
    # or shingle-set arrays
    sh_ex = _exchanges_on(nodes, ["sh"])
    assert sh_ex, fmt
    for cols in sh_ex:
        assert sorted(cols) in (["sh", "tid"], ["bid", "bn", "sh"]), cols
    for name, block in nodes.values():
        if name == "Exchange" and "hashpartitioning" in block:
            im = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            assert not _PAYLOAD.search(im.group(1)), block


def test_salted_agg_phase1_exchange_carries_salt(spark):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import skew

    df = spark.range(5_000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    ).repartition(8)
    out = skew.salted_agg(df, ["k"], {"total": ("sum", "v")}, nsalt=16)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)
    # two-phase shape: phase 1 shuffles on (k, salt) — the hot key
    # spreads over nsalt reducers — phase 2 re-merges on k alone
    ex_keys = []
    for name, block in nodes.values():
        if name == "Exchange" and "hashpartitioning" in block:
            m = re.search(r"hashpartitioning\(([^)]*)\)", block)
            ex_keys.append(
                [k.split("#")[0].strip() for k in m.group(1).split(",") if "#" in k]
            )
    assert sorted(map(tuple, ex_keys)) == [("k",), ("k", "__salt")], fmt


def test_salted_join_key_includes_salt(spark):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import skew

    fact = spark.range(5_000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    ).repartition(8)
    dim = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
    )
    out = skew.salted_join(fact, dim, ["k"], nsalt=16)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)
    # whichever physical join AQE picks, its keys must be (k, salt):
    # a refactor that drops the salt from the join condition re-packs
    # every hot-key row onto one reducer in the shuffled case
    joins = [
        block for name, block in nodes.values() if name.endswith("Join")
    ]
    assert joins, fmt
    for block in joins:
        m = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", block)
        assert m is not None, block
        keys = [k.split("#")[0].strip() for k in m.group(1).split(",")]
        assert keys == ["k", "__salt"], block


def test_domain_quota_single_window_exchange(spark):
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import corpus

    docs = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), F.col("id") % 20).alias("domain"),
        (F.col("id") % 97).alias("q"),
    ).repartition(8)
    out = corpus.domain_quota(docs, "domain", F.col("q").cast("double"), cap=5)
    fmt = _formatted(out)
    nodes = _final_nodes(fmt)
    _assert_no_forbidden(nodes)
    # one hash(domain) exchange feeds the per-domain rank window;
    # nothing else shuffles
    hash_ex = [
        block
        for name, block in nodes.values()
        if name == "Exchange" and "hashpartitioning" in block
    ]
    assert len(hash_ex) == 1, fmt
    assert "hashpartitioning(domain" in hash_ex[0], hash_ex[0]
    assert not any("Join" in nm for nm, _ in nodes.values()), fmt
