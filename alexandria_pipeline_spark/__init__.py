"""alexandria_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of
macrocosmcorp/alexandria-pipeline (an embedding-ETL pipeline over
Parquet: scan -> projection -> tokenize/chunk -> batched inference UDF
-> weighted pooling/merge -> keyed reconciliation -> sharded sinks),
re-expressed on Spark DataFrames/Catalyst, and extended with the
relational core, dedup, similarity search, text analysis, and
event-stream analytics needed for a 100 TB training-data pipeline.

Layout:
  session     SparkSession factory tuned for the workload
  catalog     table loading over the driver testdata star schema
  registry    query + oracle-SQL registry (the driver contract surface)
  materialize written-once relations (shingle sketch, jsig graph family)
  operators/  relational, pipeline, dedup, similarity, events, text
  functions/  reusable column expressions (vectors, text, featurizer)
  sources/    parquet readers / sharded writers
  streaming/  Structured Streaming variants over the events table
"""

from alexandria_pipeline_spark.session import get_spark
from alexandria_pipeline_spark.catalog import load_table, load_tables, TABLES
from alexandria_pipeline_spark.registry import QUERIES, ORACLES, register_all

__all__ = [
    "get_spark",
    "load_table",
    "load_tables",
    "TABLES",
    "QUERIES",
    "ORACLES",
    "register_all",
]
