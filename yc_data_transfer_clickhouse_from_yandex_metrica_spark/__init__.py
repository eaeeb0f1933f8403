"""PySpark-native analytics engine with the query and data-processing
capabilities of yandex-cloud-examples/yc-data-transfer-clickhouse-from-yandex-metrica.

The reference (at /root/reference) is a worked Metrica -> ClickHouse ->
DataLens / Yandex Query analytics pipeline.  This package re-expresses
its semantics Spark-first:

- ``schemas``     -- the Metrica data model (hits / visits / SCD-2 dim)
                     mapped onto Spark types (reference: ddl/hits.sql,
                     ddl/visits.sql, csv/dim_browser_country.csv);
                     ``ddl`` keeps the tables' engine declarations.
- ``functions.ch``-- ClickHouse-compatible expression library
                     (indexOf, arr[i] default semantics, toMonday, ...).
- ``plans``       -- query-construction rules ClickHouse has and Spark
                     SQL lacks (WITH TOTALS, alias-in-WHERE/HAVING).
- ``operators``   -- CDC sign-ledger / version collapse, deterministic
                     sampling, dedup family, similarity search, text
                     analysis.
- ``sources``     -- CSV-gz glob I/O with virtual columns, warehouse
                     layout writer, JDBC gateway.
- ``streaming``   -- Structured Streaming CDC ingestion (the Data
                     Transfer replication analog).
- ``queries``     -- the reference's DataLens charts over the Metrica
                     model, and ClickHouse SQL with the declared
                     engine metadata attached (``metrica``).

The test-query registry and its DuckDB oracles are not part of the
package: they live in the root-level ``registry`` module.

Everything is DataFrame-first: logical plans are declared with the
DataFrame/SQL API and Catalyst picks the physical strategy.  Python
UDFs are avoided on hot paths; the only Python-side execution is
Arrow-batched: ``operators.similarity``'s ``pandas_udf`` kernels (the
sign-LSH signatures and the Arrow IVF form) and ``streaming.cdc``'s
``applyInPandasWithState`` latest-version stream.
"""

__version__ = "0.1.0"
