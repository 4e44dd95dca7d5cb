from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def jobs_launched(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs on this thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def formatted_plan(df) -> str:
    """``df``'s formatted physical plan, for plan-shape assertions."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session

    spark = get_session("engine-tests")
    yield spark
    spark.stop()
