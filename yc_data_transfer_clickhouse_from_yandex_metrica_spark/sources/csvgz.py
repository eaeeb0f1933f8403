"""CSV(+gzip) object-storage I/O (SURVEY.md S3/S4/S7/S8).

The reference exports ClickHouse tables to S3 as ``CSVWithNames`` +
gzip with one new file per insert (``hits.csv.gz``, ``hits.1.csv.gz``,
... -- /root/reference/README.md:138-147) and reads them back by glob
with an explicit declared schema (README.md:234-255) plus virtual
columns ``_path`` / ``_file`` (README.md:150-154).

Spark mapping:
- write: ``df.write.csv`` with header+gzip; ``insert_csv`` renames the
  part file to the ClickHouse file-per-insert naming convention so
  downstream globs and ``_file`` values are deterministic.
- read : explicit schema (schema-on-read, NEVER inferred -- the
  reference requires declared schemas, README.md:190), glob paths,
  and ``_path``/``_file`` derived from the file-source metadata.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def insert_csv(df: DataFrame, directory: str, basename: str, compression: str = "gzip") -> str:
    """ClickHouse ``s3_create_new_file_on_insert=1`` semantics: each call
    lands ONE new csv[.gz] file named ``<base>.csv.gz``,
    ``<base>.1.csv.gz``, ``<base>.2.csv.gz``, ... (README.md:145-147).

    Only ever adds objects: the next index is one past the highest
    among the exact ``<base>[.N]<ext>`` names, each call stages in its
    own directory, and the hard link that publishes fails rather than
    replace, so a concurrent insert that took the name first makes
    this one retry with the next index.

    The single-file coalesce is intentional -- the reference's export
    produces one object per INSERT; for large exports use
    ``export_chunked`` which writes per-partition files instead.
    """
    ext = ".csv.gz" if compression == "gzip" else ".csv"
    os.makedirs(directory, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"__tmp_{basename}.", dir=directory)
    try:
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("compression", compression)
            # Spark's CSV sink trims field whitespace by default; ClickHouse
            # CSV export is byte-faithful — keep raw text intact (r14,
            # found by the csvgz roundtrip property test)
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(tmp)
        )
        part = os.path.join(tmp, next(f for f in os.listdir(tmp) if f.startswith("part-")))
        own = re.compile(re.escape(basename) + r"(?:\.(\d+))?" + re.escape(ext))
        names = filter(None, map(own.fullmatch, os.listdir(directory)))
        n = max((int(m.group(1) or 0) + 1 for m in names), default=0)
        while True:
            final = os.path.join(directory, f"{basename}.{n}{ext}" if n else basename + ext)
            try:
                os.link(part, final)
                return final
            except FileExistsError:
                n += 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def export_chunked(
    df: DataFrame,
    directory: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    compression: str = "gzip",
) -> None:
    """Scale path for big exports (the reference's S3 insert times out on
    large portions and recommends splitting by WHERE,
    README.md:170-171): partitioned parallel write with bounded file
    sizes -- every chunk is an independent task, no coalesce."""
    w = (
        df.write.mode("overwrite")
        .option("header", True)
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
        # byte-faithful raw text, same as insert_csv (r14)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.csv(directory)


def read_csv(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType,
    with_virtual: bool = True,
    **options,
) -> DataFrame:
    """Schema-on-read CSV/CSV-gz glob read with ClickHouse virtual columns.

    ``_path`` = full object path, ``_file`` = basename
    (README.md:150-154).  Compression is inferred from the extension by
    Spark's text datasource; header on by default (csv_with_names).
    """
    opts = {"header": "true", **{k: str(v) for k, v in options.items()}}
    df = spark.read.schema(schema).options(**opts).csv(path_glob)
    if with_virtual:
        df = df.withColumn("_path", F.input_file_name()).withColumn(
            "_file", F.regexp_extract(F.input_file_name(), "[^/]+$", 0)
        )
    return df


def reconcile_counts(src_df: DataFrame, sink_df: DataFrame) -> dict:
    """The reference's reconciliation check (README.md:159-168): union of
    per-storage counts; here returned as a dict plus equality verdict."""
    a = src_df.count()
    b = sink_df.count()
    return {"src": a, "sink": b, "equal": a == b}
