"""project_map_reduce_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine providing the query and data-processing
capabilities of the reference system (a hand-rolled AWS MapReduce for
distributed PDF conversion — see SURVEY.md), re-expressed as declarative
DataFrame/SQL plans optimized by Catalyst, plus a full relational /
window / streaming / LLM-data-pipeline operator surface designed for
100 TB-scale inputs.

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, tuned shuffle)
    tables.py     fixture-table loaders (the ten driver parquet tables)
    registry.py   query registry: name -> (spark fn, DuckDB oracle SQL)
    functions/    deterministic scalar helpers + text analysis functions
    operators/    engine operators (as-of join, dedup, similarity, dispatch)
    sources/      task-line reader, URL fetch, report/bucketed/stream sinks
    plans/        the declared query inventory (SURVEY.md §2 Part B)
    streaming/    Structured Streaming wiring (watermarks, sessions)
"""

__version__ = "0.1.0"
