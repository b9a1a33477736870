"""shifts_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ETL pipeline
(ivanovicnikola/shifts-etl), re-expressed Spark-first.

Layout (see SURVEY.md §7):
  schemas.py    explicit StructTypes for the nested ingest doc + 5 tables
  session.py    SparkSession factory (UTC, AQE, tuned shuffle partitions)
  caching.py    cache_scope / scoped: who releases an operator's caches
  sources/      paginated JSON ingestion, synthetic generator, parquet registry
  operators/    flatten, kpi, quality, dedup, simsearch, textstats, windows,
                multimodal
  functions/    scalar/vector column helpers (epoch-ms parsing, cosine, ...)
  sinks/        staged atomic multi-table parquet writes
  streaming/    micro-batch analog of the paginated ingest
  pipeline.py   end-to-end orchestration (run_etl / clear_data)
"""

__version__ = "0.1.0"
