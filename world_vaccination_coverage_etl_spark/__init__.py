"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference vaccination-coverage ETL + dashboard stack
(see SURVEY.md), re-expressed Spark-first.

Layout
------
- ``session``     : tuned SparkSession builder (AQE, shuffle partitions, Arrow)
- ``schemas``     : explicit StructTypes (raw wide table, tidy immunization
                    fact table, star-schema test tables)
- ``sources``     : CSV/HTTP source, parquet warehouse, star-table registry
- ``plans``       : the ETL logical-plan builders (melt -> clean -> warehouse)
- ``operators``   : reshaping, dedup, similarity, text analysis, window
                    comparison, multimodal plumbing
- ``functions``   : scalar/aggregate kernels (Student-t, Welch, CI, flags)
- ``streaming``   : Structured Streaming operators (event-time windows,
                    sessions, stream joins, streaming dedup and upserts)

Everything engine-side is DataFrame-in / DataFrame-out and lazy; Python
touches data only in clearly-marked Pandas-UDF batch kernels or on
O(groups) aggregated rows.
"""

__version__ = "0.1.0"
