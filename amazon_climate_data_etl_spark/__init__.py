"""amazon_climate_data_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``jvictorferreira3301/amazon-climate-data-etl``
(a single-node pandas/xarray/geopandas climate ETL), generalized into a reusable
engine. It is one batch engine: every query is a DataFrame/SQL plan.

- ``session``    — tuned SparkSession factory (AQE, Arrow, shuffle sizing)
- ``catalog``    — table loading / temp-view registration over parquet dirs
- ``functions``  — column-expression libraries (climate math, text, vectors)
- ``operators``  — relational query builders, joins (incl. grid-snap NN),
                   climate pipelines, dedup, similarity search, event analytics
- ``sources``    — ingest boundaries (NetCDF/shapefile relationalization
                   patterns, CSV/parquet IO, partitioned sinks, multimodal)
- ``plans``      — physical-plan inspection helpers

Everything is built on the DataFrame/SQL API so Catalyst handles pushdown,
pruning, join selection and whole-stage codegen; Python UDFs are avoided in
hot paths (Arrow-batched pandas UDFs only where built-ins cannot express the
semantics, e.g. multimodal decode stubs).
"""

__version__ = "0.1.0"
