"""developing_img_etl_spark — a PySpark-native analytics engine.

Re-expresses the full query / data-processing surface of the reference
image-ETL pipeline (DPAN-PETERPAN/developing-img-etl, surveyed in
/root/repo/SURVEY.md) as an idiomatic Spark DataFrame/SQL engine, plus
the large-scale training-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) the 100 TB mandate requires.

Layout:
  session     — SparkSession factory (AQE, Arrow, tuned shuffle partitions)
  catalog     — testdata table loaders with explicit schemas
  functions/  — scalar/string/vector helpers (all JVM-side built-ins)
  operators/  — relational + LLM-pipeline operators (dedup, similarity, asof, fuzzy)
  sources/    — parquet / binary-file / excel sources
  sinks/      — partitioned, catalog, idempotent REST sinks
  multimodal/ — real image/audio/video codecs behind pandas-UDF surfaces
  streaming/  — Structured Streaming incremental pipeline + event windows
  pipeline/   — reference-pipeline parity ETL graph
"""

__version__ = "0.1.0"
