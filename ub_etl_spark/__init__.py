"""ub_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline (sha0h0ng/ub-etl, surveyed in
/root/repo/SURVEY.md), extended with the LLM-training-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis)
and designed for 100 TB scale.

Layout:
    session.py        SparkSession factory with scale-aware defaults
    _zip_imports.py   zip archives on sys.path re-read only when changed
                      (PySpark workers invalidate import caches per task)
    sources/          table loaders + custom sources (paginated REST)
    functions/        column-expression helpers (exact arithmetic, text, vectors)
    operators/        reusable engine operators (dedup, merge, similarity, ...)
    queries/          the SURVEY.md §2 operator inventory as (spark, sf_dir)
                      query builders, each paired with a DuckDB oracle SQL
    streaming/        Structured Streaming operators (windows, dedup, upsert)
    registry.py       query-name -> (builder, oracle) registry
"""

from ub_etl_spark import _zip_imports  # noqa: F401  (installs the zip re-read skip)

__version__ = "0.1.0"
