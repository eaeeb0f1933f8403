"""Structured-Streaming CDC ingestion -- the Data Transfer analog
(SURVEY.md section 2.8, ST1-ST8).

The reference's transfer runs in replication mode: a continuous stream
of change rows from Metrica into ClickHouse
(/root/reference/README.md:46-58).  Hits arrive append-only
(ddl/hits.sql:112); visits arrive as a versioned sign ledger -- each
update is a (-1 cancel, +1 new-version) pair that
VersionedCollapsingMergeTree collapses lazily (ddl/visits.sql:229-233).

Spark mapping:
- source   : ``readStream`` over a directory of change files (the
   file-backed stand-in for the Metrica feed; swap for Kafka by
   changing ``format`` only).  New data only -- replication mode does
   not backfill history (README.md:49) -- which is exactly the file
   stream's contract (files present before the first batch ARE read;
   to mirror "no history", point the stream at a fresh feed dir).
- transform: per-stream field selection (img/metrica-source.png) as a
   ``select`` at ingest => column pruning from the first plan.
- sink     : checkpointed append into the weekly-partitioned parquet
   warehouse (exactly-once via checkpoint + idempotent file commits;
   at-least-once inputs collapse correctly because the ledger is
   sign/versioned -- ST2).  Optional ``foreachBatch`` stateful collapse
   maintains a latest-version materialization (ST3 option b).
- naming   : targets suffixed ``_<transfer_id>`` (README.md:58).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions import ch
from ..operators.collapse import collapsed
from ..sources import warehouse

_WEEK = "_week"


def target_name(base: str, transfer_id: str | None) -> str:
    return f"{base}_{transfer_id}" if transfer_id else base


def start_append_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_dir: str,
    checkpoint_dir: str,
    date_col: str,
    fields: list[str] | None = None,
    fmt: str = "parquet",
    available_now: bool = True,
    transform=None,
) -> StreamingQuery:
    """Hits-style append replication (ST4): file CDC feed -> weekly-
    partitioned parquet warehouse.  ``fields`` is the per-stream field
    selection; ``transform`` an optional DataFrame->DataFrame hook
    (type normalization at ingest); ``available_now`` gives
    deterministic drain-and-stop for tests while the same code runs
    continuously in production."""
    stream = spark.readStream.format(fmt).schema(schema).load(source_dir)
    if transform is not None:
        stream = transform(stream)
    if fields:
        stream = stream.select(*fields)
    stream = stream.withColumn("_week", ch.to_monday(F.col(date_col)))
    warehouse.record_table(
        dest_dir, warehouse.TableLayout(date_col), stream.schema
    )
    writer = (
        stream.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("_week")
        .outputMode("append")
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    return writer.trigger(**trigger).start()


def start_ledger_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_dir: str,
    checkpoint_dir: str,
    date_col: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Visits-style sign-ledger replication (ST3 option a).

    The wire format already IS the ledger -- (Sign, VisitVersion) rows
    -- so ingestion is a plain append; correctness lives in the sign
    algebra at query time.  Stateless => no watermark state to size;
    late-arriving versions (README.md:81) are just new ledger rows.
    """
    return start_append_stream(
        spark, source_dir, schema, dest_dir, checkpoint_dir, date_col,
        available_now=available_now,
    )


def latest_version_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    key: str = "VisitID",
    version: str = "VisitVersion",
    sign: str = "Sign",
):
    """ST3 option (c): per-key latest-version tracking as a CUSTOM
    STATEFUL OPERATOR via ``applyInPandasWithState``.

    State per key = (max version seen, net sign at that version): a
    few bytes per live entity, independent of stream history -- the
    bounded-state formulation the 100TB stream needs.  Each
    micro-batch emits the key's current resolution:
    ``live`` whether the latest version nets positive (same
    annihilation rule as operators.collapse.collapsed).

    Returns the UNSTARTED streaming DataFrame of (key, version, net,
    live) updates; callers attach their sink (tests use memory sink).
    Arrow-batched: groups arrive as pandas DataFrames, no per-row
    Python.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType(), False),
            T.StructField("version", T.LongType(), True),
            T.StructField("net", T.LongType(), True),
            T.StructField("live", T.BooleanType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("maxv", T.LongType(), True),
            T.StructField("net", T.LongType(), True),
        ]
    )

    def track(key_tuple, pdfs, state: GroupState):
        maxv, net = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            for v, s in zip(pdf[version].astype("int64"), pdf[sign].astype("int64")):
                if maxv is None or v > maxv:
                    maxv, net = int(v), int(s)
                elif v == maxv:
                    net += int(s)
                # v < maxv: stale row of an already-superseded version
        state.update((maxv, net))
        yield pd.DataFrame(
            {
                "key": [key_tuple[0]],
                "version": [maxv],
                "net": [net],
                "live": [net > 0],
            }
        )

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    return (
        stream.groupBy(key)
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_dir: str,
    checkpoint_dir: str,
    content_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
    fmt: str = "parquet",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming exact dedup for document feeds: the ingestion-side
    half of operators.dedup -- rows whose content was already seen (in
    this batch or ANY earlier one) are dropped before they reach the
    warehouse, so downstream batch dedup starts from a clean corpus.

    The dedup state key is ``xxhash64(content_cols)``: 8 bytes per
    distinct document in the state store, never the raw text (the
    same never-shuffle-the-text discipline as dedup_exact).  A 64-bit
    collision silently drops a legitimate document with probability
    ~n^2/2^65 -- at 10^10 docs that is ~0.003 expected losses, noise
    for a training corpus (batch dedup_exact resolves bucket
    collisions exactly when provenance matters).

    With ``ts_col`` set, uses ``dropDuplicatesWithinWatermark``: state
    is EVICTED once the watermark passes, so memory is bounded by the
    dedup horizon, not stream history -- the 100TB posture (a feed
    replaying a day of documents needs a day of state, not forever).
    Without it, plain ``dropDuplicates`` state grows with distinct
    documents; acceptable when the corpus itself is the bound.

    Exactly-once: state lives in the checkpoint, so a restart resumes
    with every previously-seen hash -- duplicates spanning restarts
    are still dropped (covered by tests).
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir).withColumn(
        "__h", F.xxhash64(*[F.col(c) for c in content_cols])
    )
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, watermark)
        stream = stream.dropDuplicatesWithinWatermark(["__h"])
    else:
        stream = stream.dropDuplicates(["__h"])
    writer = (
        stream.drop("__h")
        .writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    return writer.trigger(**trigger).start()


def start_collapse_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_dir: str,
    checkpoint_dir: str,
    key: list[str],
    version: str = "VisitVersion",
    sign: str = "Sign",
    date_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """ST3 option (b): maintain a collapsed latest-version table via
    foreachBatch merge, idempotent under replay (at-least-once safe).

    ``date_col`` is REQUIRED: the materialization is weekly-
    partitioned and each micro-batch merges ONLY the ``_week``
    partitions it touches -- the read is partition-pruned to the
    dirty weeks, the re-collapse runs over those rows alone, and a
    dynamic partition overwrite (Spark's committer, atomic per
    partition on object stores too) replaces just those directories.
    Per-batch cost is O(dirty weeks), not O(table).  An earlier
    whole-table fallback (read+rewrite dest per batch via
    rmtree/os.replace) was removed: it was O(table) per micro-batch
    and local-FS-only -- there is no safe unpartitioned shape at any
    scale worth streaming.

    Collapse never crosses week boundaries -- exactly
    VersionedCollapsingMergeTree semantics, where merges are scoped
    to the ``PARTITION BY toMonday(...)`` partition
    (ddl/visits.sql:229-234); equivalent to a global collapse
    whenever an entity's date (hence week) is stable across its
    versions, which is the visits wire contract (a visit's StartDate
    does not move between updates).

    Existence probes go through the Hadoop ``FileSystem`` API for
    ``dest_dir``'s scheme, so the same code is correct on file://,
    hdfs:// and s3a:// -- never ``os.path`` (driver-local VFS only).

    State is the materialized table itself (not executor memory), so
    size is bounded by live entities, not stream history.
    """
    if date_col is None:
        raise ValueError(
            "start_collapse_stream requires date_col: the merge is "
            "partition-scoped by design (the whole-table fallback was "
            "O(table) per micro-batch and object-store-unsafe)"
        )

    def weekly(df: DataFrame) -> DataFrame:
        return df.withColumn(_WEEK, ch.to_monday(F.col(date_col)))

    def merge(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        b = weekly(batch)
        weeks = [r[0] for r in b.select(_WEEK).distinct().collect()]
        if not weeks:
            return
        # read ONLY the dirty week directories (basePath keeps _week a
        # partition column): file listing is O(dirty weeks), not
        # O(table) -- pruning-after-full-listing still walks every
        # partition directory of a 100TB table each micro-batch
        jvm = sp._jvm
        root = jvm.org.apache.hadoop.fs.Path(dest_dir)
        fs = root.getFileSystem(sp._jsc.hadoopConfiguration())
        dirty_dirs = []
        for w in weeks:
            p = jvm.org.apache.hadoop.fs.Path(root, f"{_WEEK}={w}")
            if fs.exists(p):
                dirty_dirs.append(p.toString())
        scoped_key = [*key, _WEEK]
        if dirty_dirs:
            current = (
                sp.read.option("basePath", dest_dir).parquet(*dirty_dirs)
            )
            merged = collapsed(
                current.unionByName(b.select(*current.columns)),
                key=scoped_key, version=version, sign=sign,
            )
        else:
            merged = collapsed(b, key=scoped_key, version=version, sign=sign)
        # localCheckpoint breaks lineage so the write may replace the
        # very partitions the merge read; it materializes only the
        # dirty weeks' rows (bounded by the batch's week span)
        merged = merged.localCheckpoint()
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_WEEK)
            .parquet(dest_dir)
        )

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    # merge writes collapsed() rows of a weekly() batch, and collapsed()
    # keeps its input's columns: the written schema is weekly(stream)'s
    warehouse.record_table(
        dest_dir, warehouse.TableLayout(date_col), weekly(stream).schema
    )
    writer = stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    return writer.trigger(**trigger).start()


def start_windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    ts_col: str,
    group_cols: list[str],
    window_len: str = "1 day",
    watermark: str = "1 hour",
    query_name: str = "windowed_counts",
    fmt: str = "parquet",
    transform=None,
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Tumbling-window streaming aggregation (the per-day chart feed,
    computed ON the stream): watermarked ``window(ts, len)`` counts
    per group into an in-memory sink queryable as ``query_name``
    (the DataLens-dashboard serving pattern).

    Output-mode/state contract (Spark semantics, not interchangeable):

    - ``complete`` (default): the sink always holds the FULL current
      aggregate table -- simplest to query, but Spark retains ALL
      window state ever seen (the watermark does NOT evict state in
      complete mode).  Fine when |windows x groups| is small and
      capped (a dashboard over a bounded date range); wrong for an
      unbounded stream.
    - ``update``: only changed windows are emitted per micro-batch
      and the watermark DOES evict state older than (max event time -
      watermark) -- this is the bounded-state production path; swap
      the memory sink for a JDBC/parquet upsert keyed on
      (win_start, groups), where the last update per key wins.  The
      memory sink merely APPENDS updates, so a test reader takes
      max(n) per key -- counts are monotone across updates -- see
      test_windowed_counts_stream_update_mode.

    Either way the state is aggregate rows, NOT events.  availableNow
    drain keeps tests deterministic; ``max_files_per_trigger`` pins
    the micro-batch boundaries inside that drain (one batch per file
    at 1) — the split-invariance property tests depend on it, and the
    same option throttles per-batch work in continuous runs."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)
    if transform is not None:
        stream = transform(stream)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            *group_cols,
            "n",
        )
    )
    return (
        agg.writeStream.queryName(query_name)
        .format("memory")
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def start_neardup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    fmt: str = "parquet",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming NEAR-duplicate dedup at ingest: MinHash signatures
    against a bounded signature store -- the fuzzy counterpart of
    :func:`start_dedup_stream` (which drops only byte-identical
    content).

    Per micro-batch: (1) MinHash signatures + LSH band hashes for the
    batch docs (operators/dedup machinery -- identical banding math to
    the batch miner, so collision probabilities carry over); (2) LSH
    bucket join against the accumulated store AND within the batch;
    (3) candidates filtered by ESTIMATED Jaccard -- the fraction of
    agreeing signature components (Broder's unbiased estimator, std
    err ~ sqrt(s(1-s)/num_hashes)) -- the store keeps signatures,
    never shingle sets or text, so exact-Jaccard verification is
    deliberately traded for bounded state: 8*num_hashes bytes per
    retained doc; (4) the batch lands in ``dest_dir`` annotated
    (is_dup, dup_of), and ONLY non-dup docs' signatures join the
    store (canonical-per-cluster state, like dedup keeps the first
    occurrence).

    Pinned rules: the earliest doc wins -- store docs beat batch
    docs, and within a batch the smaller id wins; ``dup_of`` is the
    smallest matching winner.  Batch-internal chains resolve greedily
    (c matching only b gets dup_of=b even though b itself is a dup) --
    at-ingest triage, not full clustering; run dedup_clusters /
    keep_best on the landed corpus when transitive clusters matter.
    Docs with fewer than ``k`` tokens have no shingles and are never
    flagged.

    Replay-safe without a transactional sink: both the landing zone
    and the signature store are partitioned by ``_batch`` and written
    with dynamic partition overwrite, so a re-delivered micro-batch
    (at-least-once foreachBatch) replaces ITS OWN partition
    idempotently -- the committer is per-partition-atomic on object
    stores, same pattern as start_collapse_stream.

    Scale: the bucket join shuffles 24-byte band rows; the estimate
    join moves one 8*num_hashes-byte signature row per CANDIDATE, not
    per doc; store reads are a parquet scan of signatures only.
    """
    from ..operators import dedup as _dedup

    sig_dir = f"{state_dir}/sigs"
    mcols = [f"m{i}" for i in range(num_hashes)]

    def process(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        idx = _dedup._shingle_index(batch, id_col, text_col, k)
        # computed once, reused by banding + estimate + store append
        mins = _dedup.minhash_mins(idx, num_hashes).localCheckpoint()
        bnd = _dedup.minhash_bands(mins, num_hashes, bands)

        jvm = sp._jvm
        sig_root = jvm.org.apache.hadoop.fs.Path(sig_dir)
        fs = sig_root.getFileSystem(sp._jsc.hadoopConfiguration())

        # candidates: (id_a = winner-side, id_b = batch doc)
        new_b = bnd.select(
            F.col("id").alias("id_b"), "band", "bh"
        ).hint("shuffle_hash")
        cands = (
            bnd.select(F.col("id").alias("id_a"), "band", "bh")
            .hint("shuffle_hash")
            .join(new_b, ["band", "bh"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        store_sigs = None
        if fs.exists(sig_root):
            store_sigs = sp.read.option("basePath", sig_dir).parquet(sig_dir)
            store_bnd = _dedup.minhash_bands(
                store_sigs.select("id", *mcols), num_hashes, bands
            )
            cands = cands.unionByName(
                store_bnd.select(F.col("id").alias("id_a"), "band", "bh")
                .join(new_b, ["band", "bh"])
                # a replayed batch finds its own kept sigs in the store
                # (_batch partition written by the failed attempt):
                # never self-match, so replay stays idempotent
                .where(F.col("id_a") != F.col("id_b"))
                .select("id_a", "id_b")
            )
        cands = cands.dropDuplicates(["id_a", "id_b"])

        # estimated Jaccard = fraction of agreeing signature components
        all_sigs = (
            mins.select("id", *mcols).unionByName(
                store_sigs.select("id", *mcols)
            )
            if store_sigs is not None
            else mins.select("id", *mcols)
        )
        sig_a = all_sigs.select(
            F.col("id").alias("id_a"), *[F.col(m).alias(f"a_{m}") for m in mcols]
        )
        sig_b = mins.select(
            F.col("id").alias("id_b"), *[F.col(m).alias(f"b_{m}") for m in mcols]
        )
        agree = sum(
            F.when(F.col(f"a_{m}") == F.col(f"b_{m}"), 1).otherwise(0)
            for m in mcols
        )
        dups = (
            cands.join(sig_a, "id_a")
            .join(sig_b, "id_b")
            .where(agree / F.lit(float(num_hashes)) >= F.lit(threshold))
            .groupBy("id_b")
            .agg(F.min("id_a").alias("dup_of"))
        )

        out = (
            batch.join(
                dups.withColumnRenamed("id_b", id_col), id_col, "left"
            )
            .withColumn("is_dup", F.col("dup_of").isNotNull())
            .withColumn("_batch", F.lit(batch_id))
        )
        out = out.localCheckpoint()  # landing read below must not re-run the joins
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(dest_dir)
        )
        kept = out.where(~F.col("is_dup")).select(F.col(id_col).alias("id"))
        (
            mins.join(kept, "id")
            .select("id", *mcols)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sig_dir)
        )

    stream = spark.readStream.format(fmt).schema(schema).load(source_dir)
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    trigger = (
        {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    )
    return writer.trigger(**trigger).start()
