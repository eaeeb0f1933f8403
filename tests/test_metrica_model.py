"""End-to-end parity on the REAL Metrica visits model: build a sign
ledger in schemas.VISITS_SCHEMA shape and run both reference DataLens
charts (README.md:75-86, 96-119) against hand-computed expectations.

The fixture exercises the semantics the charts depend on: multi-version
visits collapsing via sum(Sign), the last-significant-source composite
(model-2 lookup with '' default), sign-weighted ecommerce purchase
counts, and the TOTALS channel.
"""

from __future__ import annotations

from datetime import date

import pytest

from yc_data_transfer_clickhouse_from_yandex_metrica_spark import schemas
from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries import metrica

D1, D2 = date(2023, 11, 1), date(2023, 11, 2)


def _ts(*entries):
    """TrafficSource array: entries are (ID, Model, UTMSource)."""
    return [
        {"ID": i, "Model": m, "UTMSource": s, "UTMMedium": "", "UTMCampaign": ""}
        for i, m, s in entries
    ]


def _ep(*ids):
    return [{"ID": i, "Revenue": 0} for i in ids]


def _row(vid, day, user, sign, ver, pv, dur, bounce, ts, ep):
    return {
        "CounterID": 1,
        "StartDate": day,
        "CounterUserIDHash": user,
        "VisitID": vid,
        "Sign": sign,
        "VisitVersion": ver,
        "Duration": dur,
        "IsBounce": bounce,
        "PageViews": pv,
        "TrafficSource": ts,
        "EPurchase": ep,
        "ParsedParams": [],
    }


@pytest.fixture(scope="module")
def ledger(spark):
    yandex = _ts((1, 1, "google"), (2, 2, "yandex-s"))
    rows = [
        # visit 101 (user 7, day 1): v1 then update to v2 -- the cancel
        # pair must collapse out of every sign-weighted metric
        _row(101, D1, 7, +1, 1, 3, 50, 0, yandex, _ep("a", "")),
        _row(101, D1, 7, -1, 1, 3, 50, 0, yandex, _ep("a", "")),
        _row(101, D1, 7, +1, 2, 4, 60, 0, yandex, _ep("a", "", "b")),
        # visit 102 (user 8, day 1): single version, bounce
        _row(102, D1, 8, +1, 1, 1, 10, 1, yandex, _ep()),
        # visit 103 (user 7, day 2): NO model-2 source -> src '' -> out
        _row(103, D2, 7, +1, 1, 2, 30, 0, _ts((1, 1, "google")), None),
        # visit 104 (user 9, day 2): direct, one purchase
        _row(104, D2, 9, +1, 1, 5, 100, 0, _ts((3, 2, "direct")), _ep("x")),
    ]
    return spark.createDataFrame(rows, schemas.VISITS_SCHEMA)


def test_visits_by_day_chart(ledger):
    out = metrica.visits_by_day(ledger, D1, D2).collect()
    as_pairs = [(r["ym:s:date"], r["ym:s:visits"]) for r in out]
    # ordered detail rows first (101 collapses to one visit), totals last
    assert as_pairs == [(D1, 2), (D2, 2), (None, 4)]


def test_visits_by_day_having_filters_groups_not_totals(ledger):
    out = metrica.visits_by_day(ledger, D1, D2, having_min_visits=3.0).collect()
    as_pairs = [(r["ym:s:date"], r["ym:s:visits"]) for r in out]
    assert as_pairs == [(None, 4)]  # all groups < 3, totals still all-rows


def test_traffic_sources_chart(ledger):
    out = metrica.traffic_sources(ledger, D1, D2).collect()
    got = {
        r["ym:s:lastSignUTMSource"]: (
            r["ym:s:visits"],
            r["ym:s:users"],
            r["ym:s:bounceRate"],
            r["ym:s:pageDepth"],
            r["ym:s:avgVisitDurationSeconds"],
            r["ym:s:ecommercePurchases"],
        )
        for r in out
    }
    # yandex-s: visits=2 (101 net 1 + 102), users=uniq{7,8}=2,
    # bounce=100*1/2, depth=(3-3+4+1)/2, dur=(50-50+60+10)/2,
    # purchases=(1-1+2)+0=2
    assert got["yandex-s"] == (2, 2, 50.0, 2.5, 35.0, 2)
    assert got["direct"] == (1, 1, 0.0, 5.0, 100.0, 1)
    # visit 103 ('' source) excluded entirely
    assert set(got) == {"yandex-s", "direct"}
    # ordering: visits DESC, source ASC
    assert [r["ym:s:lastSignUTMSource"] for r in out] == ["yandex-s", "direct"]


def test_last_sign_utm_source_default(ledger, spark):
    from pyspark.sql import functions as F

    vals = {
        r["VisitID"]: r["src"]
        for r in ledger.select(
            "VisitID", metrica.last_sign_utm_source().alias("src")
        ).collect()
    }
    assert vals[103] == ""  # no model-2 entry -> type default, not null
    assert vals[104] == "direct"


def test_traffic_chart_shape_properties(spark):
    """SURVEY.md section 5 item 3: the reference's published chart
    outputs (img/datalens-chart-utmsources.png) imply invariants we
    CAN check on any data: users <= visits (the least() cap),
    bounceRate in [0, 100], rows sorted by visits desc then source
    asc."""
    from registry import QUERIES

    from conftest import SF_ORACLE

    rows = QUERIES["metrica_traffic_chart"].build(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["ym:s:users"] <= r["ym:s:visits"]
        assert 0.0 <= r["ym:s:bounceRate"] <= 100.0
        assert r["ym:s:lastSignUTMSource"] != ""
    keys = [(-r["ym:s:visits"], r["ym:s:lastSignUTMSource"]) for r in rows]
    assert keys == sorted(keys)


def test_chsql_charts_match_dataframe_charts_on_real_model(ledger, spark):
    """The verbatim-SQL front-end == the DataFrame implementations on
    the REAL VISITS_SCHEMA ledger (multi-version collapse, model-2
    source lookup with '' default, TOTALS channel): both reference
    chart texts produce byte-identical result sets."""
    from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql
    from registry import (
        _CHSQL_PARAMS,
        _CHSQL_TRAFFIC_SQL,
        _CHSQL_VISITS_SQL,
    )

    params = dict(_CHSQL_PARAMS)
    params["interval_from"] = "DATE '2023-11-01'"
    params["interval_to"] = "DATE '2023-11-02'"
    tbl = {"metrica_copy.visits_<id трансфера>": ledger}

    sql_visits = chsql.run_sql(spark, _CHSQL_VISITS_SQL, tbl, params).collect()
    df_visits = metrica.visits_by_day(ledger, D1, D2).collect()
    assert sorted(map(tuple, sql_visits), key=str) == sorted(
        map(tuple, df_visits), key=str
    )

    dotted = metrica.dotted_nested_view(ledger)
    sql_traffic = chsql.run_sql(
        spark,
        _CHSQL_TRAFFIC_SQL,
        {"metrica_copy.visits_<id трансфера>": dotted},
        params,
    ).collect()
    df_traffic = metrica.traffic_sources(ledger, D1, D2).collect()
    assert sorted(map(tuple, sql_traffic), key=str) == sorted(
        map(tuple, df_traffic), key=str
    )


def test_dotted_nested_view_matches_reference_layout(ledger):
    dotted = metrica.dotted_nested_view(ledger)
    assert "TrafficSource.Model" in dotted.columns
    assert "EPurchase.ID" in dotted.columns
    assert "TrafficSource" not in dotted.columns
    row = dotted.where(dotted["VisitID"] == 104).collect()[0]
    assert row["TrafficSource.Model"] == [2]
    assert row["TrafficSource.UTMSource"] == ["direct"]
    assert row["EPurchase.ID"] == ["x"]

    # the one-projection view keeps the layout of the per-field
    # withColumn build it replaced: same column order, same rows
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ref = ledger
    for f in ledger.schema.fields:
        if isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StructType
        ):
            for sub in f.dataType.elementType.fields:
                ref = ref.withColumn(
                    f"{f.name}.{sub.name}",
                    F.transform(F.col(f.name), (lambda s: lambda e: e[s])(sub.name)),
                )
            ref = ref.drop(f.name)
    assert dotted.columns == ref.columns
    assert dotted.schema == ref.schema
    assert sorted(dotted.collect(), key=str) == sorted(ref.collect(), key=str)


def test_final_sample_from_reference_ddl(ledger, spark):
    """FINAL / SAMPLE on the flagship model with metadata parsed from
    the reference's OWN DDL declaration (ddl.VISITS_DDL, r10 verdict
    task 5) — no hand-built TableMeta anywhere in the call."""
    out = metrica.run_model_sql(
        spark,
        "SELECT StartDate AS day, count(1) AS n "
        "FROM visits FINAL GROUP BY day ORDER BY day",
        visits=ledger,
    ).collect()
    # 101 collapses to its v2 row; 102/103/104 single-version
    assert [(r["day"], r["n"]) for r in out] == [(D1, 2), (D2, 2)]

    n = metrica.run_model_sql(
        spark,
        "SELECT count(1) AS n FROM visits SAMPLE 8/1000000",
        visits=ledger,
    ).collect()[0]["n"]
    # only CounterUserIDHash=7 falls below the threshold: 101 x3 + 103
    assert n == 4

    both = metrica.run_model_sql(
        spark,
        "SELECT count(1) AS n FROM visits FINAL SAMPLE 8/1000000",
        visits=ledger,
    ).collect()[0]["n"]
    assert both == 2  # sample the parts first, then collapse: 101-v2, 103


def test_hits_ddl_meta_keeps_final_refused(ledger, spark):
    """ddl/hits.sql (ddl.HITS_DDL) declares a plain MergeTree: SAMPLE
    compiles from its SAMPLE BY, FINAL keeps the refusal — CH's own
    behavior."""
    with pytest.raises(ValueError, match="FINAL"):
        metrica.run_model_sql(
            spark, "SELECT 1 FROM hits FINAL", hits=ledger
        )
    n = metrica.run_model_sql(
        spark, "SELECT count(1) AS n FROM hits SAMPLE 1/2", hits=ledger
    ).collect()[0]["n"]
    assert n == 6  # hash values 7/8/9 all inside the half-range


def test_undeclared_table_meta_refused():
    """Only visits and hits carry engine declarations: any other name
    is an error at the lookup, not a silently missing TableMeta."""
    with pytest.raises(ValueError, match="no engine declaration"):
        metrica.reference_table_meta("orders")
