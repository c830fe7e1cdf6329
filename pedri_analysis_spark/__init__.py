"""pedri_analysis_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference football-analytics pipeline (``Coltrane35/pedri-analysis``),
re-expressed as idiomatic Spark: nested-schema DataFrame ingestion,
SQL-expression predicates, ``groupBy().agg()`` feature aggregation,
broadcast / interval joins, plus a general relational operator surface and
LLM-data-pipeline operators (dedup, similarity, text analysis) designed for
100 TB-scale execution.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC, tuned shuffles)
- ``schema``     explicit StructTypes (StatsBomb-like events, test tables)
- ``sources``    readers (JSON event files, parquet tables) and sinks
- ``functions``  scalar expressions: predicates, geometry, text, hashing
- ``operators``  aggregates, joins (incl. interval/as-of), windows, dedup,
                 similarity, multimodal plumbing
- ``plans``      end-to-end workloads (the Pedri basic/extended pipelines,
                 the relational query suite used by the correctness harness)
- ``streaming``  Structured Streaming windowed aggregations
"""

__version__ = "0.1.0"
