"""A warm query's fixed cost, paid once per session: the engine conf on a
session the host built, the codegen cache, the parquet schema memo, and
the package reaching the Python workers."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from .conftest import SF_CORRECT, jobs_launched

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The static keys the engine touches; both are static in Spark 4.1.
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
CALL_SITES = "spark.python.sql.dataFrameDebugging.enabled"


def test_apply_engine_conf_sets_runtime_keys_and_reports_static_ones(spark, monkeypatch):
    """Runtime keys are set, static keys are skipped and named, and any
    other failure to set a key raises instead of being swallowed."""
    from pyspark.errors import IllegalArgumentException

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.session import ENGINE_CONF, apply_engine_conf

    monkeypatch.setitem(ENGINE_CONF, CALL_SITES, "false")
    runtime = {k: v for k, v in ENGINE_CONF.items() if k not in (CODEGEN_CACHE, CALL_SITES)}
    for key in runtime:
        spark.conf.unset(key)
    assert sorted(apply_engine_conf(spark)) == sorted([CODEGEN_CACHE, CALL_SITES])
    assert {k: spark.conf.get(k) for k in runtime} == runtime
    # the session was built by get_session, so the static key is in effect
    assert spark.sparkContext.getConf().get(CODEGEN_CACHE) == ENGINE_CONF[CODEGEN_CACHE]

    monkeypatch.setitem(ENGINE_CONF, "spark.sql.adaptive.enabled", "sometimes")
    with pytest.raises(IllegalArgumentException):
        apply_engine_conf(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_apply_engine_conf_asks_for_static_keys_once(spark, monkeypatch):
    """Which keys are static is asked of Spark once per process: a second
    call makes no ``isModifiable`` round trip and reports the same keys."""
    from pyspark.sql.conf import RuntimeConfig

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.session import apply_engine_conf

    first = apply_engine_conf(spark)
    calls = []
    real = RuntimeConfig.isModifiable

    def counted(self, key):
        calls.append(key)
        return real(self, key)

    monkeypatch.setattr(RuntimeConfig, "isModifiable", counted)
    assert apply_engine_conf(spark) == first
    assert calls == []


def test_warm_interactive_pass_compiles_nothing(spark, monkeypatch):
    """The second pass over perfbench's nine interactive queries compiles
    no class: the codegen cache holds the whole working set (Spark's
    default of 100 is below it and recompiles every class)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    from workloads import INTERACTIVE_QUERIES

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_in_one_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in INTERACTIVE_QUERIES:
            QUERIES[name](spark, SF_CORRECT).write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles_in_one_pass()
    assert compiles_in_one_pass() == 0


def test_second_load_table_launches_no_job(spark, tmp_path):
    """The first read of a table infers its schema with a Spark job; the
    second read of the same file in the same SparkContext launches none
    and reads the same rows."""
    import shutil

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    shutil.copy(os.path.join(SF_CORRECT, "orders.parquet"), tmp_path / "orders.parquet")
    first = []
    assert jobs_launched(spark, lambda: first.append(load_table(spark, str(tmp_path), "orders"))) >= 1
    again = []
    assert jobs_launched(spark, lambda: again.append(load_table(spark, str(tmp_path), "orders"))) == 0
    assert again[0].schema == first[0].schema
    assert sorted(again[0].collect()) == sorted(first[0].collect())


def test_tfidf_query_builds_without_a_job(spark):
    """``text_tfidf_top_terms`` sizes N from the documents scan's parquet
    footers, not with a count job: once the table's schema is memoized,
    building the query launches no job."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    build = QUERIES["text_tfidf_top_terms"]
    build(spark, SF_CORRECT)  # the first load of documents may infer its schema
    assert jobs_launched(spark, lambda: build(spark, SF_CORRECT)) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten with another schema (new size and mtime) is
    inferred again, not read through the old schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": pa.array([3], pa.int64()), "r_name": ["ASIA"]}), path)
    reread = []
    assert jobs_launched(spark, lambda: reread.append(load_table(spark, str(tmp_path), "region"))) >= 1
    assert [tuple(r) for r in reread[0].collect()] == [(3, "ASIA")]


def test_schema_conf_change_is_inferred_again(spark, tmp_path):
    """A parquet schema conf changed between two reads of the same file
    (here ``binaryAsString``) is seen by the second read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    pq.write_table(pa.table({"p_name": pa.array([b"bolt"], pa.binary())}), tmp_path / "part.parquet")
    assert dict(load_table(spark, str(tmp_path), "part").dtypes) == {"p_name": "binary"}
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert dict(load_table(spark, str(tmp_path), "part").dtypes) == {"p_name": "string"}
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_parquet_directory_is_always_inferred(spark, tmp_path):
    """A table stored as a parquet directory has no single file identity:
    every read infers, and the memo keeps no entry for it."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import registry

    spark.read.parquet(os.path.join(SF_CORRECT, "nation.parquet")).repartition(2).write.parquet(
        str(tmp_path / "nation.parquet")
    )
    for _ in range(2):
        got = []
        assert jobs_launched(spark, lambda: got.append(load_table(spark, str(tmp_path), "nation"))) >= 1
        assert got[0].count() == 25
    assert not any(key[1].startswith(str(tmp_path)) for key in registry._SCHEMAS)


_NEW_CONTEXT = r"""
import json, sys
from pyspark.sql import SparkSession
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table, registry

sf = sys.argv[1]
out = []
for _ in range(2):
    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    sc = spark.sparkContext
    jobs = []
    for attempt in range(2):
        sc.setJobGroup(f"load-{attempt}", "load")
        load_table(spark, sf, "region")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"load-{attempt}")))
    out.append({"app": sc.applicationId, "jobs": jobs, "memo_apps": sorted({k[0] for k in registry._SCHEMAS})})
    spark.stop()
print(json.dumps(out))
"""


def test_new_spark_context_never_reads_another_contexts_schema():
    """Two SparkContexts one after the other in one process: each infers
    on its own first read, and the second never sees the first's entry."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = subprocess.run(
        [sys.executable, "-c", _NEW_CONTEXT, SF_CORRECT],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    first, second = json.loads(run.stdout.strip().splitlines()[-1])
    assert first["app"] != second["app"]
    assert first["jobs"][0] >= 1 and first["jobs"][1] == 0
    assert second["jobs"][0] >= 1 and second["jobs"][1] == 0
    assert first["memo_apps"] == [first["app"]] and second["memo_apps"] == [second["app"]]


_WORKER_IMPORTS = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

spark = get_session("ship-package", extra_conf={"spark.ui.enabled": "false"})
rows = {name: QUERIES[name](spark, sys.argv[2]).count() for name in sys.argv[3:]}
zips = os.listdir(os.path.join(os.environ["SPARK_GRAFT_SCRATCH"], "pyfiles"))
print(json.dumps({"rows": rows, "zips": zips}))
spark.stop()
"""


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    """Run from a directory that is not the repository root, with no
    PYTHONPATH, the queries whose Python-worker closures call package
    functions still run: the package is shipped to the workers."""
    queries = ["mm_suite", "ann_topk_ivf", "dedup_exact_suite"]
    env = dict(
        os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_SCRATCH=str(tmp_path / "scratch"),
    )
    for key in ("PYTHONPATH", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(key, None)
    run = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORTS, ROOT, SF_CORRECT, *queries],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    result = json.loads(run.stdout.strip().splitlines()[-1])
    assert set(result["rows"]) == set(queries) and all(n > 0 for n in result["rows"].values())
    assert len(result["zips"]) == 1


def test_package_ships_once_per_context_when_workers_cannot_import_it(monkeypatch, tmp_path):
    """Spark-free: a ``local`` master whose workers start in the
    repository root ships nothing; a non-local master, or a working
    directory without the package, ships it once per SparkContext."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import session

    class Context:
        def __init__(self, app, master):
            self.applicationId, self.master, self.shipped = app, master, []

        def addPyFile(self, path):
            self.shipped.append(path)

    class Session:
        def __init__(self, sc):
            self.sparkContext = sc

    monkeypatch.setattr(session, "_zip_package", lambda: "package.zip")
    monkeypatch.setattr(session, "_package_zip", None)
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.delenv("PYTHONPATH", raising=False)
    for app, master, cwd, want in [
        ("app-local", "local[2]", ROOT, []),
        ("app-cluster", "spark://host:7077", ROOT, ["package.zip"]),
        ("app-outside", "local[2]", str(tmp_path), ["package.zip"]),
    ]:
        monkeypatch.chdir(cwd)
        sc = Context(app, master)
        session.ship_package(Session(sc))
        session.ship_package(Session(sc))
        assert sc.shipped == want, (app, sc.shipped)
