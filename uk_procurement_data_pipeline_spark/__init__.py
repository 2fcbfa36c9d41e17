"""PySpark-native analytics engine with the capabilities of
qmanhbeo/uk-procurement-data-pipeline, re-expressed Spark-first.

Layout:
  session    — SparkSession factory (AQE, UTC, Arrow) and scoped confs
  pyworker   — the Python-worker daemon get_spark names (no per-task zip re-read)
  catalog    — fixture-table loaders (TESTDATA.md parquet), constant tables
  indexes    — fingerprint-addressed index generations (build once, probe)
  functions/ — shared Catalyst helpers: exact sums, top-k, graph, codecs
  sources/   — ingestion adapters (zip-of-XML, CSV, Excel, HTTP-stub, sinks)
  streaming/ — Structured Streaming windows / dedup / incremental ingest
  queries/   — the driver-facing query registry (queries() + oracle_sql())
"""

__version__ = "0.1.0"
