from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.registry import (
    TABLES,
    load_table,
    read_binary_dir,
)

__all__ = ["TABLES", "load_table", "read_binary_dir"]
