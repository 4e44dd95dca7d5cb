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
  cluster pick appropriate values without code changes.
"""

from __future__ import annotations

import os

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
    return builder.getOrCreate()


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


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally built session.

    The driver contract hands us a session we did not build; everything in
    ENGINE_CONF that is runtime-mutable is applied here so query plans are
    consistent regardless of who constructed the session.
    """
    for key, value in ENGINE_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # static conf on a started session — keep going
            pass
    # A host-built session often carries the 200-partition default; size
    # the shuffle like get_session does (AQE coalesces upward mistakes,
    # but 200 tasks per tiny sf0.01 stage is pure scheduling overhead).
    try:
        for key, value in _shuffle_conf().items():
            spark.conf.set(key, value)
    except Exception:
        pass
    return spark
