"""product_data_pipelining_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the same query and data-processing
capabilities as the reference repo ``Brucelee352/Product_data_pipelining``
(single-process DuckDB + dbt + Dash ETL stack), re-expressed as lazy
DataFrame plans optimized by Catalyst/Tungsten, plus the large-scale
training-data operators (dedup, similarity search, multimodal columns,
text analysis) the reference lacks.

Layout
------
- ``session``    SparkSession factory and its batch/serving postures.
- ``io``         table loaders with explicit schemas.
- ``registry``   the query registry: every operator exposed as a named
                 ``(spark, sf_dir) -> DataFrame`` with a DuckDB oracle SQL.
- ``operators/`` relational, dedup, similarity, text, multimodal, upsert.
- ``models/``    the reference's 9 dbt models + 7 dashboard queries as pure
                 DataFrame->DataFrame functions (star-schema pipeline).
- ``sources/``   ingestion: REST connector scaffold, JSON flattening,
                 synthetic fixture generator.
- ``plans/``     DAG runner replacing dbt orchestration.
- ``streaming/`` Structured Streaming surface (sessionization, windowed aggs).
- ``checks/``    data-quality assertions (the reference's 16 dbt tests).
"""

__version__ = "0.1.0"
