"""Central registry of driver-facing queries.

Every implemented operator from SURVEY.md §2 registers here as a named
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with an
ANSI-SQL oracle string DuckDB runs over the same parquet tables. Import
side effects populate the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a driver-facing query; ``oracle=None`` → rows-only check
    (reserved for genuinely non-SQL-expressible ops).

    The registered callable first applies the engine's runtime-settable
    conf (AQE, broadcast threshold, UTC session timezone) to the session
    it is handed — the driver builds its own SparkSession, and plan
    quality must not depend on who constructed it.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.session import apply_engine_conf

            apply_engine_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# Populate the registry. The whole registry (50 entries) fits inside the
# driver's ~50-entry verification window; families that lacked driver
# rows in round 1 register first anyway, so a shrunken window still
# covers them before the long-green word-count/relational families.
# (Round 3 kept the count at 50 by consolidating the single-row TPC-H
# queries into rel_tpch_scalar_suite.)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import pipeline_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import dedup_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import similarity_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import relational2_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import streaming_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import text_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import wordcount_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import relational_q  # noqa: E402,F401
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import windows_q  # noqa: E402,F401

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.wordcount_q import flagship  # noqa: E402

__all__ = ["QUERIES", "ORACLE_SQL", "query", "flagship"]
