"""CDC sign-ledger / version collapse (SURVEY.md A1, A11, ST3).

The reference stores visits in
``ReplicatedVersionedCollapsingMergeTree(Sign, VisitVersion)``
(/root/reference/ddl/visits.sql:229-233): every update to a visit
arrives as a cancel row (Sign=-1, previous version) plus a new state
row (Sign=+1, VisitVersion+1).  Storage collapses pairs lazily;
*query-time* correctness comes from sign algebra -- ``sum(Sign)``
counts live visits, ``sum(metric*Sign)`` sums live metric values
(README.md:76,104-108).

Engine model (both implementations from SURVEY.md ST3):
 (a) sign-ledger -- append-only table of signed version rows; queries
     use the sign algebra verbatim.  This is the default: stateless,
     streaming-friendly, exactly the reference's storage model.
 (b) collapse-to-latest -- materialize only the live latest version of
     each key (window dedup).  Equivalent for all reference
     aggregates; useful to hand plain tools a clean table.

Scale notes: the collapse window shuffles once on the collapse key.
The warehouse partitions the ledger by to_monday(date) on write, and
chsql's FINAL keys the collapse by (key, ``_week``) on such a table,
as ClickHouse collapses within a partition: the query's ``_week``
bounds then prune the scan below the window, which runs over the
weeks read only.  Prefer the sign algebra (pure partial aggregation,
no window) whenever the query allows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "__rn"


def collapsed(
    df: DataFrame,
    key: Sequence[str] = ("VisitID",),
    version: str = "VisitVersion",
    sign: str = "Sign",
) -> DataFrame:
    """Live latest-version rows of a sign ledger (SURVEY.md A11).

    For each key, look at the rows carrying the max version: if their
    signs annihilate (net sum(Sign) <= 0 -- an exact cancel pair, or a
    lone trailing cancel) the entity is DELETED and emits nothing;
    otherwise one surviving state row is kept.  This mirrors
    VersionedCollapsingMergeTree FINAL on a well-formed ledger, where
    every lower version has already been cancelled pairwise
    (/root/reference/ddl/visits.sql:229-233), and keeps the view
    consistent with the sign algebra: keys collapse() drops are
    exactly the keys where sum(Sign) == 0.

    Duplicate state deliveries (at-least-once, ST2) net to > 0 and
    still emit a single row.  One exchange total: all three window
    steps share the key-only partitioning.

    Precondition (the CDC wire contract, ddl/visits.sql:10): versions
    are MONOTONE per key -- a re-created entity continues the version
    sequence, it does not restart at 1.  With restarted versions, a
    deleted-then-recreated key's live state can sit BELOW an
    annihilated higher version and this max-version view misses it
    (property-test-found); ``apply_versions`` never produces such
    ledgers, and neither does Metrica.
    """
    w = Window.partitionBy(*key)
    wo = w.orderBy(F.col(sign).desc())
    return (
        df.withColumn("__maxv", F.max(F.col(version)).over(w))
        .where(F.col(version) == F.col("__maxv"))
        .withColumn("__net", F.sum(F.col(sign)).over(w))
        .withColumn(_RN, F.row_number().over(wo))
        .where((F.col("__net") > 0) & (F.col(sign) == 1) & (F.col(_RN) == 1))
        .drop("__maxv", "__net", _RN)
    )


def apply_versions(
    ledger: DataFrame,
    new_rows: DataFrame,
    key: Sequence[str] = ("VisitID",),
    version: str = "VisitVersion",
    sign: str = "Sign",
) -> DataFrame:
    """Rows to APPEND to the ledger for a batch of new entity states.

    For each incoming state: a cancel (-1) of the current live version
    (if any) plus the new state with version = live version + 1.  The
    incoming frame must carry all ledger columns except sign/version
    (they are assigned here).  One broadcast-free shuffle join on key.
    """
    live = collapsed(ledger, key=key, version=version, sign=sign)
    key_cols = list(key)
    cancels = (
        live.join(new_rows.select(*key_cols).distinct(), on=key_cols, how="inner")
        .withColumn(sign, F.lit(-1).cast(ledger.schema[sign].dataType))
    )
    # next version from the FULL ledger, not the live view: a deleted-
    # then-recreated key must CONTINUE its version sequence (collapsed()
    # precondition) rather than restart at 1
    next_ver = ledger.groupBy(*key_cols).agg(F.max(version).alias("__cur"))
    additions = (
        new_rows.join(next_ver, on=key_cols, how="left")
        .withColumn(
            version,
            F.coalesce(F.col("__cur") + 1, F.lit(1)).cast(
                ledger.schema[version].dataType
            ),
        )
        .drop("__cur")
        .withColumn(sign, F.lit(1).cast(ledger.schema[sign].dataType))
    )
    return cancels.select(*ledger.columns).unionByName(
        additions.select(*ledger.columns)
    )


def sign_sum(metric: Column | str, sign: str = "Sign") -> Column:
    """``sum(metric * Sign)`` -- the reference's sign-weighted sum
    (README.md:106-108)."""
    m = F.col(metric) if isinstance(metric, str) else metric
    return F.sum(m * F.col(sign))


def sign_count(sign: str = "Sign") -> Column:
    """``sum(Sign)`` == live-entity count (README.md:76,104)."""
    return F.sum(F.col(sign))
