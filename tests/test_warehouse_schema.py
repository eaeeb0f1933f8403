"""The schema recorded in ``_table_meta.json`` by every warehouse
writer: ``read_table`` reads with it, and it must be the schema
Spark would infer from the written files' footers."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
from datetime import date

import pytest
from pyspark.sql import types as T

from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import warehouse
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.streaming import cdc


def _rows(df):
    return sorted(df.collect(), key=str)


def test_write_table_records_the_inferred_schema(spark, tmp_path):
    # nested array<struct>, two date columns, the derived _week
    df = spark.createDataFrame(
        [
            (1, date(2023, 10, 3), date(2023, 10, 4),
             [{"Model": 2, "UTMSource": "direct"}], {"k": 1}),
            (2, date(2023, 10, 11), None, [], None),
            (3, date(2023, 10, 12), date(2023, 9, 1), None, {}),
        ],
        "VisitID long, StartDate date, FirstVisit date, "
        "TrafficSource array<struct<Model:int,UTMSource:string>>, "
        "Params map<string,int>",
    )
    path = str(tmp_path / "visits")
    layout = warehouse.TableLayout(
        "StartDate", ["VisitID"], sample_by="VisitID"
    )
    warehouse.write_table(df, path, layout)
    meta = warehouse.table_meta(path)
    assert (meta["date_col"], meta["sort_by"], meta["sample_by"]) == (
        "StartDate", ["VisitID"], "VisitID"
    )
    back = warehouse.read_table(spark, path)
    inferred = spark.read.parquet(path)
    # the inferred schema plus read_table's week mark
    assert warehouse.unmarked(back.schema) == inferred.schema
    assert warehouse.week_of(back.schema) == "StartDate"
    assert back.columns[-1] == warehouse.WEEK_COL
    assert back.schema[warehouse.WEEK_COL].dataType == T.DateType()
    assert _rows(back) == _rows(inferred)


def _feed(spark, df, src, stage):
    # the file source lists flat files: stage the write, move parts in
    df.coalesce(1).write.parquet(stage)
    os.makedirs(src, exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.parquet"))):
        shutil.move(f, f"{src}/{os.path.basename(stage)}-{i}.parquet")


_LEDGER = "VisitID long, d date, metric long, Sign int, VisitVersion int"


@pytest.mark.parametrize("sink", ["append", "collapse"])
def test_cdc_sinks_record_the_inferred_schema(spark, tmp_path, sink):
    src, dest, ckpt = (str(tmp_path / n) for n in ("src", "dest", "ckpt"))
    batch = spark.createDataFrame(
        [(1, date(2023, 10, 3), 10, 1, 1), (2, date(2023, 10, 10), 20, 1, 1),
         (2, date(2023, 10, 10), 20, -1, 1), (2, date(2023, 10, 10), 21, 1, 2)],
        _LEDGER,
    )
    _feed(spark, batch, src, str(tmp_path / "b1"))
    if sink == "append":
        q = cdc.start_append_stream(
            spark, src, batch.schema, dest, ckpt, date_col="d"
        )
    else:
        q = cdc.start_collapse_stream(
            spark, src, batch.schema, dest, ckpt, key=["VisitID"], date_col="d"
        )
    assert q.awaitTermination(120), "drain did not terminate"
    assert warehouse.table_meta(dest)["date_col"] == "d"
    back = warehouse.read_table(spark, dest)
    inferred = spark.read.parquet(dest)
    assert warehouse.unmarked(back.schema) == inferred.schema
    assert warehouse.week_of(back.schema) == "d"
    assert _rows(back) == _rows(inferred)
    assert back.count() == (4 if sink == "append" else 2)


def test_read_table_refuses_a_root_without_a_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "bare")
    spark.range(3).write.parquet(path)
    with pytest.raises(ValueError, match=re.escape(f"read_table: '{path}' has no")):
        warehouse.read_table(spark, path)
    # a sidecar from before schemas were recorded is refused the same way
    with open(os.path.join(path, "_table_meta.json"), "w") as f:
        json.dump({"date_col": "d", "sort_by": [], "sample_by": None}, f)
    with pytest.raises(ValueError, match="has no recorded schema"):
        warehouse.read_table(spark, path)
