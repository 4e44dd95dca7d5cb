"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()``   — one named entry per implemented operator (SURVEY.md §2);
                  each callable is ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()``— matching ANSI SQL for DuckDB over the same parquet
                  tables. Column names/aliases match the Spark side
                  exactly (the driver hash-compares by sorted column name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# importable regardless of the driver's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import (
    QUERIES,
    ORACLE_SQL,
    flagship,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: reference-parity word-count + top-K over documents
    at sf0.001 (the reference's one query, SURVEY.md §3.1)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    return flagship(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
