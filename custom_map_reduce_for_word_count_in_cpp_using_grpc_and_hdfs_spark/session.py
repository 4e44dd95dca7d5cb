"""SparkSession construction with scale-oriented defaults.

The reference hand-schedules its cluster (master.cc:188-373); on Spark the
entire control plane is the driver/executor stack, so the only "engine
bootstrap" that remains is session configuration. Defaults here are chosen
for the 100 TB posture:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
- partial-aggregation pushdown and Parquet filter/column pushdown are
  Catalyst defaults — nothing to enable, but we keep vectorized reading on;
- Arrow execution for the (rare) Pandas-UDF paths;
- shuffle partition count sized by env so tests (local[32]) and a real
  cluster pick appropriate values without code changes;
- a codegen cache that holds a session's working set of generated classes,
  so a warm query compiles nothing. Spark's default keeps 100 classes
  (LRU); one pass of perfbench's nine interactive queries compiles 129,
  so every warm pass recompiled 58-106 of them. The cache is JVM-wide and
  holds compiled classes keyed on their generated source, never results.
  Its heap cost is that source: the interactive working set (141 classes
  with the check pass) is 0.93 MB of source, plus 0.81 MB of bytecode
  in Metaspace, so a full cache of 1000 such classes holds about 7 MB.

Static keys (the codegen cache is one) take effect only when
:func:`get_session` builds the session. :func:`apply_engine_conf` sets the
runtime keys on a session the host built and reports the static ones it
had to skip, so a host-built session runs with Spark's default codegen
cache; it still gets the schema memo of ``sources.registry.read_parquet``,
which holds parquet schemas (not results) and dies with its SparkContext.

Both entry points also make the package importable by the Python workers
(:func:`ship_package`).
"""

from __future__ import annotations

import atexit
import os
import threading
import zipfile

from pyspark.sql import SparkSession

#: Configuration applied to every session the engine builds. Values are
#: strings because SparkConf is stringly typed.
ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, demote to broadcast when a runtime stat allows it.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/customer/part at typical
    # ratios) should broadcast; 64 MB is a safe executor-memory fraction.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every to/from-pandas boundary (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Vectorized parquet reader + predicate pushdown are defaults; pin them
    # so a misconfigured environment cannot silently disable them.
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Deterministic timestamp semantics against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # TIMESTAMP(NANOS) parquet columns (the events table's ts) read as
    # long nanos, which the loaders truncate to microseconds; the
    # vectorized reader rejects the type otherwise. No other type is
    # affected.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (static; JVM-wide once codegen first runs).
    # Measured working sets: one pass of perfbench's nine interactive
    # queries compiles 129 classes, the curation pass ~160; at Spark's
    # default of 100 (LRU) every warm pass recompiled most of them.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_session(app_name: str = "spark-engine", *, extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Master and parallelism come from the environment so the same code runs
    on local[N] in tests and on a real cluster unchanged:

    - ``SPARK_GRAFT_CPUS``  — local core count (default 32).
    - ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — shuffle width (default = cores
      locally; on a cluster leave unset and let AQE coalesce from a high
      initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for key, value in _shuffle_conf().items():
        builder = builder.config(key, value)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def _shuffle_conf() -> dict[str, str]:
    """The session shuffle width (``SPARK_GRAFT_SHUFFLE_PARTITIONS``, else
    ``SPARK_GRAFT_CPUS``) and AQE's initial width derived from it."""
    shuffle = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    return {
        "spark.sql.shuffle.partitions": shuffle,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": _initial_shuffle_partitions(shuffle),
    }


def _initial_shuffle_partitions(shuffle: str) -> str:
    """Pre-coalesce shuffle width for AQE (round 11, measured at sf100):
    ``spark.sql.shuffle.partitions`` = cores is right AFTER coalescing,
    but as the pre-AQE width it caps every shuffle at #cores partitions
    regardless of data volume — at 600M fact rows that is ~19M rows per
    sort-merge-join task, and the external-sort SPILL it forces made
    rel_q3/rel_q5 run 13.4×/6.2× slower than the same plan at 256
    partitions (243.4 s → 18.2 s, 276.9 s → 45.0 s; same box, same
    session posture, plans identical — the decade ratio vs sf10 drops
    from 20.6×/29.5× to 1.5×/4.8× on 10× rows). So the engine sets the
    INITIAL width high — 8× the target width, floor 256 — and lets AQE
    coalesce down to the 64 MB advisory size per stage: small stages
    still end up at a handful of partitions (the sf0.1 bench is
    unchanged), big stages get the width the data needs."""
    return str(max(256, 8 * int(shuffle)))


#: ``spark.conf.isModifiable`` per ENGINE_CONF key. Whether a SQL key is
#: static is fixed by the Spark build, so it cannot change within a
#: process.
_MODIFIABLE: dict[str, bool] = {}


def apply_engine_conf(spark: SparkSession) -> tuple[str, ...]:
    """Apply the runtime-settable engine defaults to an externally built
    session and return the static ENGINE_CONF keys it skipped.

    The driver contract hands us a session we did not build; every
    runtime-modifiable key of ENGINE_CONF is set here so query plans are
    consistent regardless of who constructed the session. Static keys
    cannot change on a started session and are skipped (they took effect
    only if :func:`get_session` built it); any other failure to set a key
    raises. Which keys are static is asked of Spark once per key per
    process (:data:`_MODIFIABLE`), not on every registry call.
    """
    for key in ENGINE_CONF:
        if key not in _MODIFIABLE:
            _MODIFIABLE[key] = spark.conf.isModifiable(key)
    skipped = tuple(key for key in ENGINE_CONF if not _MODIFIABLE[key])
    for key, value in ENGINE_CONF.items():
        if key not in skipped:
            spark.conf.set(key, value)
    # A host-built session often carries the 200-partition default; size
    # the shuffle like get_session does (AQE coalesces upward mistakes,
    # but 200 tasks per tiny sf0.01 stage is pure scheduling overhead).
    for key, value in _shuffle_conf().items():
        spark.conf.set(key, value)
    ship_package(spark)
    return skipped


#: The package directory and the directory it is imported from.
_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_PACKAGE_DIR)


def scratch_root() -> str:
    """Root of the engine's staging files: ``$SPARK_GRAFT_SCRATCH``, else
    ``.scratch`` at the repository root (CWD-independent)."""
    return os.environ.get("SPARK_GRAFT_SCRATCH", os.path.join(_ROOT, ".scratch"))


#: applicationIds whose workers were checked (and shipped the package if
#: they needed it), and this process's package zip once built.
_SHIPPED: set[str] = set()
_SHIP_LOCK = threading.Lock()
_package_zip: str | None = None


def ship_package(spark: SparkSession) -> None:
    """Make the package importable by the Python workers of ``spark``'s
    SparkContext, whose batch closures pickle package functions by import
    path. Under a ``local`` master, workers start in the driver's working
    directory with its ``PYTHONPATH``; when neither holds the package's
    parent directory, or the executors run elsewhere (any other master),
    the package is zipped (once per process, under :func:`scratch_root`)
    and added with ``addPyFile`` (once per SparkContext)."""
    global _package_zip
    sc = getattr(spark, "sparkContext", None)
    if sc is None:  # Spark Connect: the server owns its workers
        return
    app = sc.applicationId
    if app in _SHIPPED:
        return
    with _SHIP_LOCK:
        if app in _SHIPPED:
            return
        in_process = sc.master == "local" or sc.master.startswith("local[")
        if not (in_process and _workers_import_package()):
            if _package_zip is None:
                _package_zip = _zip_package()
            sc.addPyFile(_package_zip)
        _SHIPPED.add(app)


def _workers_import_package() -> bool:
    """Whether the package's parent directory is the working directory or
    on ``PYTHONPATH``, the two places a Python worker imports from."""
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    root = os.path.realpath(_ROOT)
    return any(p and os.path.realpath(p) == root for p in paths)


def _zip_package() -> str:
    """Zip the package's ``.py`` files into a per-process file under the
    scratch root, removed when the process exits."""
    target = os.path.join(scratch_root(), "pyfiles", f"{os.path.basename(_PACKAGE_DIR)}-{os.getpid()}.zip")
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, names in os.walk(_PACKAGE_DIR):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in names:
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    zf.write(path, os.path.relpath(path, _ROOT))
    atexit.register(os.remove, target)
    return target
