"""Live-HDFS smoke (reference O1: byte-range reads over HDFS —
slave.cc:41-89, hdfsConnect master.cc:190).

The engine reaches storage exclusively through the Hadoop FileSystem
API (sources/registry.py goes through spark.read.*), so an ``hdfs://``
URI is the SAME seam the always-on tests exercise with ``file://``
(tests/test_sinks_and_skew.py::test_hadoop_fs_scheme_roundtrip) — zero
engine code changes are needed for HDFS, which is exactly what this
test proves when a cluster is reachable.

Recipe (README "Integration smokes"):

    export SPARK_GRAFT_HDFS_URI=hdfs://<namenode>:8020/tmp/spark-graft
    pytest -m hdfs tests/test_hdfs.py

Without the env var the test SKIPS (sandbox has no namenode).
"""

from __future__ import annotations

import os

import pytest

from .conftest import SF_SMOKE

HDFS_URI = os.environ.get("SPARK_GRAFT_HDFS_URI")

pytestmark = pytest.mark.hdfs


@pytest.mark.skipif(not HDFS_URI, reason="SPARK_GRAFT_HDFS_URI not set (no namenode in sandbox)")
def test_wc_top_k_over_hdfs(spark):
    """Upload the documents table to HDFS via the Hadoop FS API, run the
    flagship word-count against the hdfs:// sf_dir, and match the local
    result — proving sources/registry.py needs zero changes for the
    reference's storage layer."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    dst_dir = jvm.org.apache.hadoop.fs.Path(HDFS_URI)
    fs = dst_dir.getFileSystem(conf)
    fs.mkdirs(dst_dir)
    src = jvm.org.apache.hadoop.fs.Path(os.path.join(SF_SMOKE, "documents.parquet"))
    dst = jvm.org.apache.hadoop.fs.Path(HDFS_URI + "/documents.parquet")
    fs.copyFromLocalFile(False, True, src, dst)
    try:
        got = QUERIES["wc_suite"](spark, HDFS_URI).collect()
        want = QUERIES["wc_suite"](spark, SF_SMOKE).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    finally:
        fs.delete(dst, False)
