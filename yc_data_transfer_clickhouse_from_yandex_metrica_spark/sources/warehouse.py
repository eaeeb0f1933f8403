"""Warehouse layout module (SURVEY.md section 1.3 / M3).

Re-expresses the reference's MergeTree physical declarations as
Parquet-lake layout:

- ``PARTITION BY toMonday(date)``  (ddl/hits.sql:114, ddl/visits.sql:234)
    -> Hive-style weekly ``_week`` partition dirs.  Catalyst prunes
       directories only for predicates on ``_week`` itself, not for
       those on the date column; ``read_table`` marks the pair (below)
       so plans/chsql turns the charts' date bounds into ``_week``
       bounds.
- ``ORDER BY (CounterID, Date, CounterUserIDHash, ...)``
    (ddl/hits.sql:115-118) -> ``sortWithinPartitions`` on write =>
       parquet row-group min/max skipping approximates the primary key.
- ``SAMPLE BY CounterUserIDHash`` (ddl/hits.sql:119) -> recorded in
       table metadata; served by operators.sampling predicates.
- cleanup policy Drop/Truncate/Disabled
    (terraform/data-transfer-endpoint.tf:15) -> write mode mapping.

At 100TB: weekly partitions x maxRecordsPerFile keep files bounded;
writes stay fully parallel (no coalesce); the sort is within partition
only (no global sort barrier).

Every table root holds a ``_table_meta.json`` sidecar, written only by
``record_table``: ``date_col``, ``sort_by`` and ``sample_by`` (the
layout) and ``schema`` (the Spark schema of the written rows, ``_week``
included, as ``StructType.jsonValue()``).  The writers are
``write_table`` and the two streaming/cdc warehouse sinks,
``start_append_stream`` and ``start_collapse_stream``; each takes the
schema from the DataFrame it writes, so recording it reads nothing.
``read_table`` reads with the recorded schema instead of inferring one
from parquet footers on every call, and refuses a root without it.
The sidecar is driver-local file I/O, like compaction's listing.

The week mark: ``read_table`` tags the date column with
``{"week_col": "_week"}`` (through the read schema) and ``_week`` with
``{"week_of": <date_col>}`` (``withMetadata``; metadata on a partition
field of the read schema is dropped by the parquet read).  ``week_of``
reads the pair back.  Both tags travel with the columns through
selects, filters and joins; a derived frame that replaces either
column loses its tag, and then nothing treats ``_week`` as the date
column's week.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ch

WEEK_COL = "_week"
_META = "_table_meta.json"
_WEEK_OF = "week_of"  # on _week: the date column it is the Monday of
_WEEK_COL = "week_col"  # on that date column: "_week"


@dataclass
class TableLayout:
    """Declarative physical layout, the MergeTree-declaration analog."""

    date_col: str
    sort_by: list[str] = field(default_factory=list)
    sample_by: str | None = None
    max_records_per_file: int = 5_000_000


def write_table(
    df: DataFrame,
    path: str,
    layout: TableLayout,
    mode: str = "append",
    cleanup: str = "disabled",  # disabled|truncate|drop -- tf:15 mapping
) -> None:
    if cleanup in ("truncate", "drop") and os.path.exists(path):
        import shutil

        shutil.rmtree(path)
    out = df.withColumn(WEEK_COL, ch.to_monday(F.col(layout.date_col)))
    if layout.sort_by:
        # repartitionByRange on (week, sort keys), NOT repartition(week):
        # hash-partitioning by week value caps write parallelism at the
        # number of weeks and funnels a hot week through ONE task (at
        # 100TB every week is hot).  Range partitioning splits each week
        # across ~shuffle.partitions/n_weeks tasks along the sort keys,
        # and rows arrive already range-clustered so the within-partition
        # sort is cheap and file row-group min/max stay tight.
        out = out.repartitionByRange(
            F.col(WEEK_COL), *[F.col(c) for c in layout.sort_by]
        ).sortWithinPartitions(WEEK_COL, *layout.sort_by)
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", layout.max_records_per_file)
        .partitionBy(WEEK_COL)
        .parquet(path)
    )
    record_table(path, layout, out.schema)


def record_table(path: str, layout: TableLayout, schema: T.StructType) -> None:
    """Write ``path``'s ``_table_meta.json`` (module docstring).  The
    file is replaced atomically, so a concurrent reader sees either the
    old or the new record."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "date_col": layout.date_col,
                "sort_by": layout.sort_by,
                "sample_by": layout.sample_by,
                "schema": schema.jsonValue(),
            },
            f,
        )
    os.replace(tmp, os.path.join(path, _META))


def write_bucketed(
    df: DataFrame,
    spark: SparkSession,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table -- the co-located-join layout.

    Two tables bucketed the SAME way on their join key (e.g.
    ``CounterID``, the reference's leading ORDER BY / implicit
    distribution key, ddl/hits.sql:115) join with NO exchange on
    either side: at 100TB that deletes the dominant shuffle of
    fact-to-fact joins (hits x visits by counter/user).  Bucket
    pruning also serves point predicates on the bucket column.
    Requires saveAsTable (bucket metadata lives in the catalog);
    plan-asserted in tests via absence of Exchange under the join.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read back with the schema recorded at write, the week mark on
    (module docstring).  Predicates on ``_week`` prune directories;
    plans/chsql derives them from the date column's bounds."""
    try:
        meta = table_meta(path)
        schema = T.StructType.fromJson(meta["schema"])
    except (FileNotFoundError, KeyError):
        raise ValueError(
            f"read_table: {path!r} has no recorded schema ({_META}); "
            "write it with write_table or a streaming/cdc warehouse sink"
        ) from None
    date_col = meta["date_col"]
    schema[date_col].metadata = {**schema[date_col].metadata, _WEEK_COL: WEEK_COL}
    df = spark.read.schema(schema).parquet(path)
    return df.withMetadata(WEEK_COL, {_WEEK_OF: date_col})


def week_of(schema: T.StructType) -> str | None:
    """The DATE column whose Monday ``_week`` holds, when both columns
    carry ``read_table``'s mark; else None."""
    if WEEK_COL not in schema.names:
        return None
    col = schema[WEEK_COL].metadata.get(_WEEK_OF)
    if col not in schema.names:
        return None
    f = schema[col]
    if f.metadata.get(_WEEK_COL) != WEEK_COL or not isinstance(f.dataType, T.DateType):
        return None
    return col


def unmarked(schema: T.StructType) -> T.StructType:
    """``schema`` without the week mark, for a copy of a table stored
    where ``_week`` is a plain column (a CSV export)."""
    return T.StructType([
        T.StructField(f.name, f.dataType, f.nullable, {
            k: v for k, v in f.metadata.items() if k not in (_WEEK_OF, _WEEK_COL)
        })
        for f in schema.fields
    ])


def table_meta(path: str) -> dict:
    with open(os.path.join(path, _META)) as f:
        return json.load(f)


def value_hash(df: DataFrame) -> int:
    """Order-insensitive content hash: sum of per-row xxhash64 over all
    columns (null-safe).  Used by reconcile() to extend the reference's
    count check (README.md:159-168) to full-value equality."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in sorted(df.columns)]
    row = df.select(F.xxhash64(*cols).alias("h"))
    return row.agg(F.sum("h")).collect()[0][0] or 0


def reconcile(src: DataFrame, sink: DataFrame) -> dict:
    res = {
        "src_count": src.count(),
        "sink_count": sink.count(),
        "src_hash": value_hash(src),
        "sink_hash": value_hash(sink),
    }
    res["equal"] = (
        res["src_count"] == res["sink_count"] and res["src_hash"] == res["sink_hash"]
    )
    return res


def apply_ttl(
    spark: SparkSession,
    path: str,
    cutoff_date: str,
    action: str = "move",
    cold_path: str | None = None,
) -> dict:
    """TTL tiering / expiry for the weekly layout (S9) -- the analog
    of ClickHouse's ``TTL date + INTERVAL ... TO VOLUME 'cold'`` /
    ``... DELETE`` clause (/root/reference/README.md:173: hybrid
    storage moves aged MergeTree parts to object storage; ddl TTL
    footnote [^6]).

    Week partitions STRICTLY OLDER than ``to_monday(cutoff_date)``
    are either moved under ``cold_path`` (``action="move"`` -- the
    hybrid-storage tiering; the cold tree keeps the same
    ``_week=...`` layout so a tiered read unions the two roots with
    partition pruning intact) or dropped (``action="delete"``).

    Scale posture: tiering is a METADATA operation -- whole partition
    directories are renamed through the Hadoop FileSystem API (O(1)
    per week on HDFS; on S3 the FileSystem's rename is the store's
    copy+delete, still no Spark job, no rows decoded, no shuffle).
    Discovery is a driver-side directory listing, O(weeks), same as
    compact_partitions.  Weeks at or after the cutoff are never
    touched (byte-identical, test-asserted).

    Returns {"cutoff_week": w, "moved"|"deleted": [weeks...]}.
    """
    if action not in ("move", "delete"):
        raise ValueError(f"action must be 'move' or 'delete', got {action!r}")
    if action == "move" and not cold_path:
        raise ValueError("action='move' requires cold_path")
    cutoff_week = (
        spark.range(1)
        .select(ch.to_monday(F.lit(cutoff_date)).cast("string"))
        .collect()[0][0]
    )
    if cutoff_week is None:
        raise ValueError(f"apply_ttl: unparseable cutoff_date {cutoff_date!r}")
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    aged = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(f"{WEEK_COL}="):
            continue
        week = name.split("=", 1)[1]
        if week < cutoff_week:
            aged.append((week, st.getPath()))
    aged.sort()
    out: list[str] = []
    if action == "delete":
        for week, p in aged:
            fs.delete(p, True)
            out.append(week)
        return {"cutoff_week": cutoff_week, "deleted": out}
    cold_root = jvm.org.apache.hadoop.fs.Path(cold_path)
    cold_fs = cold_root.getFileSystem(spark._jsc.hadoopConfiguration())
    cold_fs.mkdirs(cold_root)
    for week, p in aged:
        dest = jvm.org.apache.hadoop.fs.Path(cold_root, p.getName())
        if not fs.rename(p, dest):
            raise IOError(f"TTL move failed for {p} -> {dest}")
        out.append(week)
    return {"cutoff_week": cutoff_week, "moved": out}


def read_table_tiered(
    spark: SparkSession, hot_path: str, cold_path: str
) -> DataFrame:
    """Union view over the hot and cold tiers produced by
    ``apply_ttl(action="move")``.  Both tiers keep the ``_week=``
    Hive layout, so ``_week`` predicates prune directories in BOTH roots;
    a missing/empty tier on EITHER side degrades to the other alone
    (a TTL whose cutoff ages out every week leaves the hot root with
    only the meta sidecar — found by the r14 TTL property test).
    A tier that exists and holds real entries but NO ``_week=``
    directories is outside the ``apply_ttl`` layout entirely; that is
    an error, not an empty tier — silently dropping it (or serving it
    as the table) would hide data (ADVICE r14 #1; the r15 review made
    the guard two-sided and independent of the other tier's state)."""
    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path

    def _listing(path: str) -> list[str]:
        root = fs_path(path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return []
        return [st.getPath().getName() for st in fs.listStatus(root)]

    def _has_weeks(names: list[str]) -> bool:
        return any(n.startswith(f"{WEEK_COL}=") for n in names)

    hot_names, cold_names = _listing(hot_path), _listing(cold_path)
    hot_ok, cold_ok = _has_weeks(hot_names), _has_weeks(cold_names)
    for label, path, names in (
        ("hot", hot_path, hot_names),
        ("cold", cold_path, cold_names),
    ):
        # '_'/'.'-prefixed entries are Hadoop metadata (the meta
        # sidecar, _SUCCESS, hidden files) and the _week= partition
        # dirs themselves — readers ignore the former and serve the
        # latter, so anything else is stray DATA the weekly readers
        # below would silently read around.  The check runs whether
        # or not the tier also holds _week= dirs (ADVICE r15 #3: a
        # mixed root — week dirs beside a stray data file — hides
        # the stray just as completely as a week-less root would).
        stray = [n for n in names if not n.startswith(("_", "."))]
        if stray:
            raise IOError(
                f"{label} tier {path!r} holds non-weekly entries "
                f"{sorted(stray)[:5]} beside the {WEEK_COL}= layout; "
                "refusing to read around it — expected the apply_ttl "
                "Hive layout on both tiers"
            )
    if hot_ok and cold_ok:
        return spark.read.parquet(hot_path).unionByName(
            spark.read.parquet(cold_path)
        )
    if cold_ok:
        return spark.read.parquet(cold_path)
    # both empty falls through to the reader's own clear error
    return spark.read.parquet(hot_path)


def _range_bucketed(
    src: DataFrame, lead: str, lead_type: str, tgt: int, n_out: int
) -> DataFrame:
    """The compaction range-bucket layout (shape pinned by
    test_plan_pins_r16): per-week approx-quantile boundaries of the
    leading sort key (ONE tiny agg, one row per dirty week), broadcast
    back onto the rows, bucket assigned map-side, then a single range
    exchange on the bounded (week, bucket) key.  No per-week window —
    a window partitioned by week would single-task a whole week at
    100 TB; this shape's largest single-task unit is one (week,
    bucket) slice, 1/tgt of a week."""
    key = F.col(lead)
    # monotonic numeric proxies (quantiles only need ordering); the
    # epoch functions work under ANSI sessions too, where the casual
    # string-literal datediff / numeric-cast coercions would not
    if lead_type == "date":
        key = F.unix_date(key)
    elif lead_type == "timestamp":
        key = F.unix_micros(key)
    fractions = [i / tgt for i in range(1, tgt)]
    bounds = src.groupBy(WEEK_COL).agg(
        F.percentile_approx(key, fractions).alias("__bounds")
    )
    bucket = F.coalesce(  # all-null week -> null bounds -> bucket 0
        F.size(F.filter(F.col("__bounds"), lambda b: key > b)),
        F.lit(0),
    )
    return (
        src.join(F.broadcast(bounds), WEEK_COL)
        .withColumn("__bucket", bucket)
        .drop("__bounds")  # before the exchange — don't shuffle it
        .repartitionByRange(n_out, F.col(WEEK_COL), F.col("__bucket"))
        .drop("__bucket")
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    max_files_per_week: int = 4,
    target_files_per_week: int = 1,
    max_records_per_file: int | None = None,
) -> dict:
    """Small-files compaction for the weekly layout (the MergeTree
    background-merge analog -- streaming appends fragment partitions;
    ClickHouse merges parts, a parquet lake must OPTIMIZE).

    Week directories holding more than ``max_files_per_week`` data
    files are rewritten to ``target_files_per_week``.  Discovery is a
    driver-side DIRECTORY listing (metadata only, never data); the
    rewrite is ONE distributed job over just the dirty weeks, swapped
    in atomically per-partition via dynamic partition overwrite --
    clean weeks are never read, never touched.  Every output file is
    sorted on (week, sort keys from table meta), so the rewrite
    restores tight row-group min/max bounds too.

    For ``target_files_per_week > 1`` with a numeric/date/timestamp
    leading sort key, the split within a week is by RANGE BUCKET
    (approx-quantile boundaries of the leading key, computed in one
    tiny per-week agg and broadcast back — never a per-week window,
    which would pull a whole week into one task at scale): each
    output file covers a disjoint leading-key range, so file-level
    min/max skipping survives the split (ADVICE r15 #1).  A
    non-orderable-for-quantiles leading key (e.g. string) falls back
    to a hash salt — the at-most-target count still holds but the
    per-FILE key ranges then overlap (row-group bounds inside each
    sorted file stay tight); documented tradeoff.

    SINGLE WRITER REQUIRED: the rewrite snapshots the file listing at
    read time and dynamic overwrite replaces whole week partitions at
    commit — a streaming append landing in a dirty week between those
    two points is silently dropped.  Schedule compaction in the
    ingest gap.

    Returns {"files_before": {week: n}, "files_after": {week: n}}
    for the compacted weeks.
    """
    if target_files_per_week < 1:
        # pmod/ntile by 0 would silently yield NULL buckets and
        # collapse every week onto one — refuse loudly (ADVICE r15 #2)
        raise ValueError(
            f"target_files_per_week must be >= 1, got {target_files_per_week}"
        )
    meta = table_meta(path)
    sort_by = meta.get("sort_by") or []

    def _files(wd: str) -> int:
        return sum(
            1
            for f in os.listdir(os.path.join(path, wd))
            if f.endswith(".parquet")
        )

    week_dirs = sorted(
        d for d in os.listdir(path) if d.startswith(f"{WEEK_COL}=")
    )
    before = {wd: _files(wd) for wd in week_dirs}
    dirty = [wd for wd, n in before.items() if n > max_files_per_week]
    if not dirty:
        return {"files_before": {}, "files_after": {}}
    src = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, wd) for wd in dirty]
    )
    n_out = max(1, len(dirty) * target_files_per_week)
    tgt = int(target_files_per_week)
    # The split key must have BOUNDED per-week cardinality (<= target)
    # so a week can never come out ABOVE the threshold it was
    # compacted for — the r15 property-test finding against raw
    # repartitionByRange(week, sort_by) was exactly that raw sort
    # keys let a range boundary fall INSIDE a week.  Two bounded
    # keys, by leading-sort-key type:
    #   * range bucket (quantile boundaries of the leading key, one
    #     tiny per-week agg broadcast back, bucket assigned map-side
    #     — never a per-week window, which would single-task a whole
    #     week at scale): buckets are contiguous key ranges, and
    #     repartitionByRange on (week, bucket) keeps merged buckets
    #     adjacent, so every output file covers a DISJOINT
    #     leading-key range and file-level min/max skipping survives
    #     target > 1 (ADVICE r15 #1);
    #   * hash salt fallback (no sort keys / non-quantile-able
    #     leading key such as string): at-most-target still exact,
    #     but per-file key ranges may overlap — only row-group
    #     bounds inside each sorted file stay tight.
    lead_type = dict(src.dtypes).get(sort_by[0]) if sort_by else None
    _quantile_ok = lead_type is not None and (
        lead_type in (
            "tinyint", "smallint", "int", "bigint",
            "float", "double", "date", "timestamp",
        )
        or lead_type.startswith("decimal")
    )
    if tgt > 1 and _quantile_ok:
        out = _range_bucketed(src, sort_by[0], lead_type, tgt, n_out)
    else:
        salt_src = [F.col(c) for c in sort_by] or [F.lit(0)]
        salt = F.pmod(F.xxhash64(*salt_src), F.lit(tgt))
        out = src.repartition(n_out, F.col(WEEK_COL), salt)
    if sort_by:
        out = out.sortWithinPartitions(WEEK_COL, *sort_by)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        w = out.write.mode("overwrite").partitionBy(WEEK_COL)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(path)
    finally:
        spark.conf.set(conf_key, prev)
    return {
        "files_before": {wd: before[wd] for wd in dirty},
        "files_after": {wd: _files(wd) for wd in dirty},
    }
