from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_group_agg

__all__ = ["salted_group_agg"]
