"""PySpark-native analytics engine with the query surface of the reference
MapReduce word-count system (see SURVEY.md).

The package is organized Spark-first:

- ``session``   — SparkSession builder with 100 TB-posture defaults (AQE,
  adaptive coalescing, broadcast thresholds, Arrow).
- ``sources``   — table registry over the driver's parquet star schema.
- ``operators`` — the engine surface: word-count parity ops, relational
  coverage, dedup, similarity search, text analysis, multimodal plumbing.
- ``functions`` — reusable column expression helpers (vector math, hashing).
- ``plans``     — scan sizing and spread, and salted aggregation.
- ``streaming`` — Structured Streaming operators over the events table.
"""

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.session import get_session

__all__ = ["get_session"]
__version__ = "0.1.0"
