"""Property tests for the CSV-gz export/read pair (S3/S4): random
typed rows with adversarial string content survive the
``insert_csv`` → ``read_csv`` roundtrip under the declared schema.

Adversarial content: commas, double quotes, backslashes, unicode,
leading/trailing spaces, and (second test) embedded newlines — the
cases where CSV quoting/escaping does real work.  One documented
CSV-format lossiness is pinned explicitly rather than hidden: Spark's
CSV sink writes both NULL and '' as an empty field, so '' reads back
as NULL (ClickHouse CSVWithNames has the same empty-is-default
behavior for non-quoted empties).

Also pinned: the ClickHouse file-per-insert naming sequence
(``base.csv.gz``, ``base.1.csv.gz``, ...) and the ``_file`` virtual
column matching the basename of the file each row landed in.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import date

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import csvgz

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("d", T.DateType()),
        T.StructField("b", T.BooleanType()),
    ]
)

_texts = st.one_of(
    st.none(),
    st.text(
        alphabet='ab,"\\\'; éж🙂 \t-',
        min_size=0,
        max_size=12,
    ),
)

_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),
        _texts,
        st.one_of(
            st.none(),
            st.floats(
                allow_nan=False, allow_infinity=False, width=32
            ).map(float),
        ),
        st.one_of(
            st.none(),
            st.dates(min_value=date(1970, 1, 2), max_value=date(2100, 1, 1)),
        ),
        st.one_of(st.none(), st.booleans()),
    ),
    min_size=1,
    max_size=10,
)


def _norm(rows):
    # the documented CSV lossiness: '' lands as an empty field and
    # reads back as NULL
    return sorted(
        (
            (i, None if s == "" else s, x, d, b)
            for i, s, x, d, b in rows
        ),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _collect(df):
    return sorted(
        ((r["id"], r["s"], r["x"], r["d"], r["b"]) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_rows)
def test_insert_read_roundtrip(spark, rows):
    base = tempfile.mkdtemp(prefix="ym_csv_prop_")
    try:
        df = spark.createDataFrame(rows, _SCHEMA)
        path = csvgz.insert_csv(df, base, "t")
        assert os.path.basename(path) == "t.csv.gz"
        got = csvgz.read_csv(spark, f"{base}/t*.csv.gz", _SCHEMA)
        assert _collect(got) == _norm(rows), rows
        # every row's _file is the single landed basename
        assert {
            r["_file"] for r in got.select("_file").collect()
        } == {"t.csv.gz"}

        # second insert: ClickHouse file-per-insert naming, glob unions
        path2 = csvgz.insert_csv(df, base, "t")
        assert os.path.basename(path2) == "t.1.csv.gz"
        got2 = csvgz.read_csv(spark, f"{base}/t*.csv.gz", _SCHEMA)
        assert _collect(got2) == sorted(
            _norm(rows) + _norm(rows),
            key=lambda t: tuple((v is None, str(v)) for v in t),
        )
        assert {
            r["_file"] for r in got2.select("_file").collect()
        } == {"t.csv.gz", "t.1.csv.gz"}
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.text(alphabet='a,"\n\r é', min_size=1, max_size=10).filter(
                lambda s: s.strip("\n\r") != ""
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_embedded_newlines_roundtrip_with_multiline(spark, rows):
    """Embedded newlines are quoted by the writer and need the
    multiLine reader option — the documented schema-on-read contract
    for ClickHouse exports containing raw text."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    base = tempfile.mkdtemp(prefix="ym_csv_nl_")
    try:
        df = spark.createDataFrame(
            [(int(i), s) for i, s in rows], schema
        )
        csvgz.insert_csv(df, base, "nl")
        got = csvgz.read_csv(
            spark, f"{base}/nl*.csv.gz", schema, multiLine=True
        )
        want = sorted((int(i), s) for i, s in rows)
        assert sorted(
            (r["id"], r["s"]) for r in got.collect()
        ) == want, rows
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _bytes_by_name(base):
    out = {}
    for f in os.listdir(base):
        with open(os.path.join(base, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_insert_after_middle_delete_replaces_nothing(spark):
    """Deleting a middle object must not make its successor's name come
    round again: the next insert takes one past the highest index, and
    no existing file's bytes change."""
    base = tempfile.mkdtemp(prefix="ym_csv_gap_")
    try:
        for i in range(3):  # t, t.1, t.2 -- each with distinct content
            csvgz.insert_csv(spark.createDataFrame([(i,)], "id long"), base, "t")
        os.remove(os.path.join(base, "t.1.csv.gz"))
        before = _bytes_by_name(base)
        path = csvgz.insert_csv(spark.createDataFrame([(9,)], "id long"), base, "t")
        assert os.path.basename(path) == "t.3.csv.gz"
        after = _bytes_by_name(base)
        assert {k: after[k] for k in before} == before
        assert sorted(after) == ["t.2.csv.gz", "t.3.csv.gz", "t.csv.gz"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_insert_numbering_ignores_prefix_sharing_basenames(spark):
    """``hits_2.csv.gz`` and ``hits.csv.gz.bak`` are not ``hits``
    objects and do not shift its numbering."""
    base = tempfile.mkdtemp(prefix="ym_csv_prefix_")
    try:
        df = spark.createDataFrame([(1,)], "id long")
        csvgz.insert_csv(df, base, "hits_2")
        open(os.path.join(base, "hits.csv.gz.bak"), "wb").close()
        assert os.path.basename(csvgz.insert_csv(df, base, "hits")) == "hits.csv.gz"
        assert os.path.basename(csvgz.insert_csv(df, base, "hits")) == "hits.1.csv.gz"
        assert os.path.basename(csvgz.insert_csv(df, base, "hits_2")) == "hits_2.1.csv.gz"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_concurrent_inserts_under_one_basename_all_land(spark):
    """Eight threads inserting under one basename each land their own
    object: separate staging directories, and a publish that retries
    with the next index instead of replacing.  The short switch
    interval forces the interleaving."""
    import sys
    import threading

    base = tempfile.mkdtemp(prefix="ym_csv_race_")
    n = 8
    switch = sys.getswitchinterval()
    try:
        results, errors = [], []

        def insert(i):
            try:
                df = spark.createDataFrame([(i, f"v{i}")], "id long, s string")
                results.append(csvgz.insert_csv(df, base, "t"))
            except Exception as e:  # surfaced by the assertion below
                errors.append(e)

        sys.setswitchinterval(1e-5)
        threads = [threading.Thread(target=insert, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        sys.setswitchinterval(switch)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        names = ["t.csv.gz"] + [f"t.{i}.csv.gz" for i in range(1, n)]
        assert sorted(os.path.basename(p) for p in results) == sorted(names)
        assert sorted(os.listdir(base)) == sorted(names)
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
        )
        got = csvgz.read_csv(spark, f"{base}/t*.csv.gz", schema)
        assert sorted((r["id"], r["s"]) for r in got.collect()) == [
            (i, f"v{i}") for i in range(n)
        ]
    finally:
        sys.setswitchinterval(switch)
        shutil.rmtree(base, ignore_errors=True)
