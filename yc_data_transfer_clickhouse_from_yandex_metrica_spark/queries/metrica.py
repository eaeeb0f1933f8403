"""The reference's DataLens QL charts as parameterized query functions
over the REAL Metrica visits model (schemas.VISITS_SCHEMA) -- the B1/B2
surface a user of the reference would port their dashboards onto.

Sources (verbatim SQL in the reference):
- "Посещаемость" / visits-by-day: /root/reference/README.md:75-86
- "Источники трафика" / traffic sources: /root/reference/README.md:96-119

Both run on the sign ledger directly -- no collapse pass -- exactly as
the reference queries run on the un-merged
VersionedCollapsingMergeTree table; correctness comes from the sign
algebra (README.md:76 comment).  Output column names keep the charts'
`ym:s:*` aliases (colons are legal Spark column names, SURVEY.md F14).

Nested groups are array-of-struct (SURVEY.md §1.2 decision);
``dotted_nested_view`` provides the faithful dotted parallel-array
projection (`TrafficSource.Model`, ...) for users who expect the
ClickHouse Nested layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ch
from ..operators.collapse import sign_count, sign_sum
from ..plans.totals import with_totals

_TOTALS_LABEL = None  # totals row carries null ym:s:date (in-band channel)


def visits_by_day(
    visits: DataFrame,
    date_from,
    date_to,
    having_min_visits: float = 0.0,
    limit: int = 10,
) -> DataFrame:
    """«Посещаемость» (README.md:75-86): date-range filter (on the
    SELECT alias, P7 -- inlined here) -> GROUP BY StartDate ->
    sum(Sign) WITH TOTALS -> HAVING on the aggregate alias -> ORDER BY
    ASC -> LIMIT 0,n.

    The TOTALS row is emitted in-band with null `ym:s:date`, ordered
    last; HAVING filters group rows only while totals reflect all rows
    passing WHERE (ClickHouse default totals_mode, plans/totals.py).
    LIMIT applies to group rows (the reference's limit counts result
    rows; TOTALS travels out-of-band there), so n detail rows AND the
    totals row are returned.
    """
    filtered = visits.where(
        F.col("StartDate").between(
            F.lit(date_from).cast("date"), F.lit(date_to).cast("date")
        )
    )
    rolled = with_totals(
        filtered.withColumnRenamed("StartDate", "ym:s:date"),
        ["ym:s:date"],
        [sign_count().alias("ym:s:visits")],
        having=F.col("ym:s:visits") >= F.lit(having_min_visits),
    )
    detail = (
        rolled.where(F.col("`ym:s:date`").isNotNull())
        .orderBy(F.col("`ym:s:date`").asc())
        .limit(limit)
    )
    totals = rolled.where(F.col("`ym:s:date`").isNull())
    return detail.unionAll(totals)


def last_sign_utm_source(traffic_source: Column | str = "TrafficSource") -> Column:
    """``TrafficSource.UTMSource[indexOf(TrafficSource.Model, 2)]``
    (README.md:103): UTM source of the *last significant* traffic
    source (attribution model 2), '' when absent -- the ClickHouse
    type-default composite (F1+F2), which the `!= ''` filter at
    README.md:113 then removes.
    """
    ts = F.col(traffic_source) if isinstance(traffic_source, str) else traffic_source
    models = F.transform(ts, lambda t: t["Model"])
    sources = F.transform(ts, lambda t: t["UTMSource"])
    return ch.array_at(sources, ch.index_of(models, F.lit(2)), "")


def traffic_sources(
    visits: DataFrame,
    date_from,
    date_to,
    limit: int = 50,
) -> DataFrame:
    """«Источники трафика» (README.md:96-119), all seven chart
    metrics with the reference's exact formulas:

    - ym:s:visits            = sum(Sign)
    - ym:s:users             = least(uniqExact(CounterUserIDHash), visits)
    - ym:s:bounceRate        = 100. * sum(IsBounce*Sign) / visits
    - ym:s:pageDepth         = sum(PageViews*Sign) / visits
    - ym:s:avgVisitDurationSeconds = sum(Duration*Sign) / visits
    - ym:s:ecommercePurchases = sumArray(arrayMap(x -> if(isFinite(x),x,0)*Sign,
                                  arrayMap(x0 -> toInt64(notEmpty(x0)), EPurchase.ID)))
    grouped by the last-significant UTM source, '' filtered in WHERE,
    3-way-OR HAVING on aggregate aliases, ORDER BY visits DESC,
    source ASC, LIMIT 0,50.
    """
    src = last_sign_utm_source("TrafficSource").alias("ym:s:lastSignUTMSource")
    purchase_flags = ch.array_map(
        lambda x0: ch.to_int64(ch.not_empty(x0)),
        F.transform("EPurchase", lambda p: p["ID"]),
    )
    signed_flags = ch.array_map(
        lambda x: ch.if_(ch.is_finite(x), x, F.lit(0)) * F.col("Sign"),
        purchase_flags,
    )
    base = visits.where(
        F.col("StartDate").between(
            F.lit(date_from).cast("date"), F.lit(date_to).cast("date")
        )
    ).select(
        src,
        "Sign",
        "CounterUserIDHash",
        "IsBounce",
        "PageViews",
        "Duration",
        ch.array_sum(signed_flags).alias("__purch"),
    ).where(F.col("`ym:s:lastSignUTMSource`") != F.lit(""))
    agg = base.groupBy("`ym:s:lastSignUTMSource`").agg(
        sign_count().alias("ym:s:visits"),
        F.least(ch.uniq_exact("CounterUserIDHash"), sign_count()).alias("ym:s:users"),
        (
            F.lit(100.0) * sign_sum("IsBounce") / sign_count()
        ).alias("ym:s:bounceRate"),
        (sign_sum("PageViews") / sign_count()).alias("ym:s:pageDepth"),
        (sign_sum("Duration") / sign_count()).alias("ym:s:avgVisitDurationSeconds"),
        F.sum("__purch").alias("ym:s:ecommercePurchases"),
    )
    return (
        agg.where(
            (F.col("`ym:s:visits`") > 0.0)
            | (F.col("`ym:s:users`") > 0.0)
            | (F.col("`ym:s:ecommercePurchases`") > 0.0)
        )
        .orderBy(
            F.col("`ym:s:visits`").desc(),
            F.col("`ym:s:lastSignUTMSource`").asc(),
        )
        .limit(limit)
    )


def reference_table_meta(name: str):
    """TableMeta for one of the metrica model's tables, parsed from the
    reference's own engine declarations (``ddl.TABLE_DDL``) via
    ``plans/chsql.table_meta_from_ddl`` -- the same declarations
    ClickHouse itself reads, no hand-built TableMeta.  visits declares
    ``VersionedCollapsingMergeTree(Sign, VisitVersion)`` + ``ORDER
    BY`` + ``SAMPLE BY`` (ddl/visits.sql:229-239), so both ``FROM
    visits FINAL`` and ``SAMPLE k`` compile; hits is a plain
    MergeTree with ``SAMPLE BY`` (ddl/hits.sql:113-119), so SAMPLE
    compiles and FINAL keeps chsql's refusal -- exactly CH's behavior
    for that engine.  A table with no declaration raises ValueError."""
    from ..ddl import TABLE_DDL
    from ..plans.chsql import table_meta_from_ddl

    if name not in TABLE_DDL:
        raise ValueError(
            f"metrica: no engine declaration for table {name!r} "
            f"(declared: {sorted(TABLE_DDL)})"
        )
    return table_meta_from_ddl(TABLE_DDL[name])


def run_model_sql(
    spark,
    sql: str,
    visits: DataFrame | None = None,
    hits: DataFrame | None = None,
    params: dict[str, str] | None = None,
) -> DataFrame:
    """ClickHouse-dialect SQL over the Metrica model with the
    reference-DDL engine metadata attached: ``FROM visits FINAL`` and
    ``SAMPLE k`` work on the flagship model exactly as they do on the
    reference's tables, with no per-call TableMeta plumbing."""
    from ..plans import chsql

    tables = {}
    if visits is not None:
        tables["visits"] = visits
    if hits is not None:
        tables["hits"] = hits
    return chsql.run_sql(
        spark,
        sql,
        tables,
        params=params,
        table_meta={k: reference_table_meta(k) for k in tables},
    )


def dotted_nested_view(visits: DataFrame) -> DataFrame:
    """Faithful ClickHouse Nested projection: each array-of-struct
    group becomes parallel arrays with dotted names
    (`TrafficSource.Model`, `TrafficSource.UTMSource`, ...) exactly as
    the DDL declares them (ddl/visits.sql:179-218) and the chart SQL
    references them (README.md:103).
    """
    from pyspark.sql import types as T

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    # ONE projection of SQL text (a withColumn per field re-analyses the
    # whole plan each time; a Python-lambda F.transform per field costs
    # ~25 py4j round trips): the other columns in place, then each
    # group's dotted arrays in field order
    plain, dotted = [], []
    for f in visits.schema.fields:
        if isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StructType
        ):
            for sub in f.dataType.elementType.fields:
                dotted.append(
                    f"transform({q(f.name)}, __e -> __e.{q(sub.name)})"
                    f" AS {q(f'{f.name}.{sub.name}')}"
                )
        else:
            plain.append(q(f.name))
    return visits.selectExpr(*plain, *dotted)
