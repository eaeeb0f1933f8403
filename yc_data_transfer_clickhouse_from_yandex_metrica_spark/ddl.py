"""The reference's table-engine declarations for the Metrica model.

Only the clauses the engine reads are kept: ENGINE, PARTITION BY,
ORDER BY and SAMPLE BY (ddl/visits.sql:229-240, ddl/hits.sql:112-120;
quoted in SURVEY.md section 1.3).  The column lists name just the key
columns; the full column set is ``schemas_full``.
``queries.metrica.reference_table_meta`` parses these texts with
``plans.chsql.table_meta_from_ddl``.
"""

from __future__ import annotations

VISITS_DDL = """
CREATE TABLE metrica.visits (`VisitID` UInt64, `Sign` Int8,
  `VisitVersion` UInt64, `CounterID` UInt32, `StartDate` Date,
  `CounterUserIDHash` UInt64)
ENGINE = ReplicatedVersionedCollapsingMergeTree
('/clickhouse/tables/{shard}/metrica.visits_x_cdc',
 '{replica}',
 Sign,
 VisitVersion)
PARTITION BY toMonday(StartDate)
ORDER BY (CounterID,
 StartDate,
 CounterUserIDHash,
 VisitID)
SAMPLE BY CounterUserIDHash
SETTINGS index_granularity = 8192;
"""

HITS_DDL = """
CREATE TABLE metrica.hits (`CounterID` UInt32, `EventDate` Date,
  `CounterUserIDHash` UInt64, `UTCEventTime` DateTime,
  `WatchID` UInt64)
ENGINE = ReplicatedMergeTree
('/clickhouse/tables/{shard}/metrica.hits_x_cdc',
 '{replica}')
PARTITION BY toMonday(EventDate)
ORDER BY (CounterID,
 EventDate,
 CounterUserIDHash,
 UTCEventTime)
SAMPLE BY CounterUserIDHash
SETTINGS index_granularity = 8192;
"""

TABLE_DDL = {"visits": VISITS_DDL, "hits": HITS_DDL}
