"""Build-cost guard for the curation operators: the py4j commands that
BUILDING each plan (not running it) sends to the JVM.

Every composed Column call is a py4j round trip, and in PySpark 4.1
each also captures its call site (``F.col`` costs 13 round trips,
``F.expr`` 3), so the operators build each logical unit as one SQL
string.  A change that goes back to composed Columns multiplies these
counts.  Only call (``c``) and reflection (``r``) commands are counted:
memory (``m``) commands are the garbage collector's object deletes and
depend on when it runs.  Building ``minhash_lsh_pairs`` also runs its
eager checkpoint job, which is a single command.

The budgets are the counts measured when the SQL-string builders went
in, plus a 50% margin (CHANGES.md records both).
"""

from __future__ import annotations

import collections

import py4j.clientserver as cs
import pytest
from pyspark.sql import functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import dedup, similarity

# measured: 19, 167, 198, 139, 110 and 171 (1.5x, rounded down); the
# Column-built forms they replaced measured 121, 2,783, 1,254, 1,387,
# 701 and 418.  About 58 of each of the last five are the one
# composed-Column step left, the shared ``ch.round_to`` of the output
# score.
BUDGET = {
    "dedup_exact": 28,
    "minhash_lsh_pairs": 250,
    "contamination": 297,
    "ivf_topk": 208,
    "brute_topk": 165,
    "signlsh_pairs": 256,
}


@pytest.fixture(scope="module")
def builders(spark):
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog") for i in range(12)],
        "doc_id long, text string",
    )
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[((F.col("id") * (d + 1)) % 7).cast("double") + 0.5 for d in range(8)]).alias(
            "embedding"
        ),
    )
    queries = vecs.where("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    cents = similarity.train_centroids(vecs, nlist=4)
    return {
        "dedup_exact": lambda: dedup.dedup_exact(docs, ["text"]),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs),
        "contamination": lambda: dedup.contamination(docs, docs),
        "ivf_topk": lambda: similarity.ivf_topk(vecs, queries, k=3, nprobe=2, centroids=cents),
        "brute_topk": lambda: similarity.brute_topk(vecs, queries, k=3),
        "signlsh_pairs": lambda: similarity.signlsh_pairs(vecs, threshold=0.9, dim=8),
    }


def _build_commands(monkeypatch, build) -> int:
    counts = collections.Counter()
    send = cs.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        counts[command[0]] += 1
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(cs.ClientServerConnection, "send_command", counted)
        build()
    return counts["c"] + counts["r"]


@pytest.mark.parametrize("op", sorted(BUDGET))
def test_plan_build_stays_within_py4j_budget(monkeypatch, builders, op):
    builders[op]()  # first build pays one-off lookups
    n = _build_commands(monkeypatch, builders[op])
    assert 0 < n <= BUDGET[op], f"{op}: {n} py4j c/r commands, budget {BUDGET[op]}"
