#!/usr/bin/env python
"""Generate a deterministic sf1-scale PROBE dataset (10x sf0.1) for
scale measurements only (r20 verdict task #2).  NOT driver data: the
driver's own testdata stays untouched; this set lives outside the
repo (``SF1_PROBE_DST``) and only tools/probe_sf1.py reads it, never
the tests or the registry.

Construction: 10 key-shifted copies of every sf0.1 fact table
(shift = copy * 10_000_000, a multiple of 10 so the registry's
mod-10 dup-injection classes are preserved per copy), dims kept at
x1.  Text and vector payloads are perturbed per copy so the dedup /
ANN entries see a 10x corpus rather than 10 identical replicas:

- documents: every 5th whitespace token of copies 1-9 gets a
  copy-specific lowercase-alnum suffix, so cross-copy 3-gram Jaccard
  falls well under the miners' thresholds (~(4/5)^3 shingle overlap
  -> j ~ 0.34) while token/bigram statistics keep the same shape.
- embeddings: element order rotated by the copy index (same value
  multiset and norms, cross-copy cosine scrambled).
- events/orders/lineitem/customer: pure key shifts, payloads as-is.

Everything is closed-form column arithmetic -- no RNG -- so the set
is bit-reproducible.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.session import get_spark

SRC = os.environ.get("SF1_PROBE_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SF1_PROBE_DST", "/root/sf1probe")
COPIES = int(os.environ.get("SF1_PROBE_COPIES", "10"))
SHIFT = 10_000_000  # multiple of 10: keeps doc_id % 10 dup classes


def _read(name: str) -> DataFrame:
    return spark.read.parquet(f"{SRC}/{name}.parquet")


def _write(df: DataFrame, name: str, parts: int) -> None:
    df.repartition(parts).write.mode("overwrite").parquet(f"{DST}/{name}.parquet")
    print(f"  {name}: {spark.read.parquet(f'{DST}/{name}.parquet').count()} rows")


def _copies(df: DataFrame, build) -> DataFrame:
    out = build(df, 0)
    for c in range(1, COPIES):
        out = out.unionByName(build(df, c))
    return out


if __name__ == "__main__":
    spark = get_spark(app_name="gen-sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # dims: x1, copied verbatim
    for name in ("region", "nation", "part", "supplier"):
        _write(_read(name), name, 1)

    def cust(df: DataFrame, c: int) -> DataFrame:
        return df.withColumn("c_custkey", F.col("c_custkey") + F.lit(c * SHIFT))

    _write(_copies(_read("customer"), cust), "customer", 4)

    def orders(df: DataFrame, c: int) -> DataFrame:
        return df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(c * SHIFT)
        ).withColumn("o_custkey", F.col("o_custkey") + F.lit(c * SHIFT))

    _write(_copies(_read("orders"), orders), "orders", 8)

    def lineitem(df: DataFrame, c: int) -> DataFrame:
        return df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(c * SHIFT))

    _write(_copies(_read("lineitem"), lineitem), "lineitem", 16)

    def events(df: DataFrame, c: int) -> DataFrame:
        return df.withColumn(
            "event_id", F.col("event_id") + F.lit(c * SHIFT)
        ).withColumn("user_id", F.col("user_id") + F.lit(c * SHIFT))

    _write(_copies(_read("events"), events), "events", 8)

    def docs(df: DataFrame, c: int) -> DataFrame:
        out = df.withColumn("doc_id", F.col("doc_id") + F.lit(c * SHIFT))
        if c == 0:
            return out
        # suffix every 5th whitespace token with a copy tag: breaks
        # cross-copy shingle identity, keeps token-count shape
        words = F.split(F.col("text"), " ")
        tagged = F.zip_with(
            words,
            F.sequence(F.lit(0), F.greatest(F.size(words) - 1, F.lit(0))),
            lambda w, i: F.when(
                i % 5 == c % 5, F.concat(w, F.lit(f"q{c}z"))
            ).otherwise(w),
        )
        return out.withColumn("text", F.array_join(tagged, " "))

    _write(_copies(_read("documents"), docs), "documents", 8)

    def emb(df: DataFrame, c: int) -> DataFrame:
        out = df.withColumn("vec_id", F.col("vec_id") + F.lit(c * SHIFT))
        if c == 0:
            return out
        n = F.size("embedding")
        rot = F.concat(
            F.slice("embedding", F.lit(c + 1), n - F.lit(c)),
            F.slice("embedding", 1, c),
        )
        return out.withColumn("embedding", rot)

    _write(_copies(_read("embeddings"), emb), "embeddings", 4)

    print(f"done -> {DST}")
