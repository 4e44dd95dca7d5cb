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

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

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


#: Bundled RocksDB state-store provider — the documented posture for
#: high-cardinality streaming state (SCALE.md lesson 30; measured round 7:
#: 295 MB vs 1.8 GB on-heap at a 20M-row dedup state, 6.1x).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def use_state_store(spark: SparkSession, kind: str = "rocksdb") -> SparkSession:
    """Select the streaming state-store provider for queries STARTED
    after this call (the provider is pinned per query at its first
    checkpoint; restarts keep whatever the checkpoint was created with).

    ``kind='rocksdb'`` — off-heap RocksDB with incremental snapshots:
    flip this for high-cardinality state (watermark dedup over billions
    of ids, wide session maps). Round-7 measurement on the sf10 dedup
    drain (20M rows of state): 295 MB RocksDB vs 1.8 GB on-heap, 6.1×,
    at ~equal wall time — the on-heap provider keeps every versioned
    partition map on the JVM heap, where a 100 TB key horizon OOMs
    executors long before compute saturates.

    ``kind='hdfs'`` — Spark's default HDFSBackedStateStoreProvider:
    right for small state (windowed aggregates over bounded keys) where
    the on-heap map's zero-serialization reads win.
    """
    if kind == "rocksdb":
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    elif kind == "hdfs":
        # set the on-heap provider EXPLICITLY — an unset() would merely
        # restore whatever the session builder / spark-defaults pinned,
        # silently keeping RocksDB on clusters configured that way
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", HDFS_PROVIDER)
    else:
        raise ValueError(f"unknown state store kind {kind!r} (rocksdb|hdfs)")
    return spark


#: On-heap state bytes per distinct dedup key, pinned from the sf100
#: measurement (SCALE_R9_SF100_STREAMING.json): the default HDFS-backed
#: provider held 26.27 GB after a 100M-event watermark-dedup drain —
#: ~263 B per key flowing through the horizon (the provider retains
#: versioned partition maps, so the footprint tracks keys PROCESSED, not
#: the post-expiry resident rows: only 274k remained live). The sf10
#: point (1.8 GB at 20M keys, 90 B/key) is lighter; pinning the heavier
#: large-scale slope makes the estimate conservative exactly where the
#: OOM lives.
ONHEAP_STATE_BYTES_PER_KEY = 263

#: Default heap budget the estimated on-heap state must fit inside —
#: matches the session's default driver heap (SPARK_GRAFT_DRIVER_MEM=8g;
#: in local mode state lives there). On a real cluster pass the
#: per-executor heap actually available for state.
DEFAULT_STATE_HEAP_BUDGET = 8 * 1024**3


def measure_state_keys(source, key_cols) -> int:
    """Measure the distinct-state-key statistic :func:`auto_state_store`
    decides on: ONE ``approx_count_distinct`` aggregate over a
    batch-readable view of the stream's source (file-backed streams and
    Kafka topics both have one: read the same path/offsets in batch).

    This is the statistic the pinned slope was measured against — the
    on-heap provider's footprint tracks keys PROCESSED through the
    drain (versioned partition maps), not post-expiry resident rows
    (sf100: 26.3 GB after 100M keys with only 274k live), so the right
    measurement is distinct keys over the WHOLE source, not within one
    watermark horizon. ``approx_count_distinct`` is HLL-based (~2% rel.
    error) against a crossover two decades wide, single narrow
    aggregate over the key columns only — the same
    measure-cheaply-then-decide shape as the skew scan and the postings
    estimate (plans/cost.py)."""
    from pyspark.sql import functions as F

    cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not cols:
        raise ValueError("key_cols must name at least one state-key column")
    key = F.struct(*cols) if len(cols) > 1 else F.col(cols[0])
    return int(source.agg(F.approx_count_distinct(key)).first()[0])


def auto_state_store(
    spark: SparkSession,
    expected_keys: int | None = None,
    heap_budget_bytes: int = DEFAULT_STATE_HEAP_BUDGET,
    *,
    source=None,
    key_cols=None,
) -> str:
    """Cost-aware state-store provider choice for stateful streaming
    (VERDICT r9 item 2 — the one measured scale-killer left on a default
    path): estimate the on-heap provider's state footprint as
    ``expected_keys × ONHEAP_STATE_BYTES_PER_KEY`` and flip to RocksDB
    when it would not fit ``heap_budget_bytes``; keep the on-heap
    provider below, where its zero-serialization reads win.

    Both ends are measured (SCALE_R9_SF100_STREAMING.json / the round-7
    sf10 record): at 100M dedup keys on-heap held 26.3 GB vs RocksDB's
    449 MB (58×) — an OOM on a 128 GiB box at the next decade — while at
    20M keys on-heap was 1.8 GB at ~equal wall time and RocksDB's
    serialization cost the drain 6.3× at 100M. The decision rides the
    shared plans/cost.py crossover seam (same philosophy as
    ``edge_method='auto'`` and ``auto_skew_join``), is logged with its
    evidence, and is applied via :func:`use_state_store` for queries
    started after this call. Returns the chosen kind.

    The key-cardinality statistic is MEASURED by default (round 11 —
    the other two cost seams measure their own statistic; this one now
    does too): pass ``source`` (a batch-readable view of the stream's
    input — for file streams, ``spark.read`` over the same path) and
    ``key_cols`` (the state key: dedup id columns, session user column)
    and :func:`measure_state_keys` runs one approx_count_distinct over
    it. ``expected_keys`` remains as an explicit override for callers
    holding a domain bound (and takes precedence when both are given —
    a deliberate hint beats a re-measurement); overestimating errs
    toward RocksDB, which degrades throughput, never correctness.
    """
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.cost import decide_crossover

    if expected_keys is None:
        if source is None or key_cols is None:
            raise ValueError(
                "auto_state_store needs either expected_keys (explicit bound) "
                "or source + key_cols (measured batch-side)"
            )
        expected_keys = measure_state_keys(source, key_cols)
        how = "measured"
    else:
        how = "hinted"
    est_bytes = int(expected_keys) * ONHEAP_STATE_BYTES_PER_KEY
    d = decide_crossover(
        est_bytes,
        heap_budget_bytes,
        "rocksdb",
        "hdfs",
        "estimated on-heap state bytes",
        logger=_LOG,
        detail=f"{expected_keys} {how} keys x {ONHEAP_STATE_BYTES_PER_KEY} B/key "
        f"vs heap budget {heap_budget_bytes}",
    )
    use_state_store(spark, d.choice)
    return d.choice


class job_checkpoint_dir:
    """Context manager giving iterative operators (connected_components,
    IVF training) a RELIABLE per-job checkpoint directory that is removed
    on exit — the turnkey answer to the two lifecycle traps the docs warn
    about (operators/caching.py::materialize): Spark only deletes
    checkpoint files when ``spark.cleaner.referenceTracking
    .cleanCheckpoints=true`` (default false), and even then deletion is
    GC-driven best-effort — so long-lived sessions accumulate checkpoint
    state unless the job scopes its own directory.

    >>> with job_checkpoint_dir(spark, "/shared/store/ckpt"):  # doctest: +SKIP
    ...     connected_components(v, e).collect()
    # (reliable checkpoints during the job, directory gone after)

    On a cluster, pass a shared-store URI (HDFS/S3); locally any temp
    path works. The previous checkpoint dir (usually none) is restored
    on exit. Removal uses the Hadoop FileSystem API, so it works for any
    scheme the session can write to, not just the local FS."""

    def __init__(self, spark: SparkSession, base: str) -> None:
        import uuid

        self._spark = spark
        self._dir = f"{base.rstrip('/')}/job-{uuid.uuid4().hex}"

    def __enter__(self) -> str:
        sc = self._spark.sparkContext
        self._prev = sc.getCheckpointDir()
        sc.setCheckpointDir(self._dir)
        return self._dir

    def __exit__(self, *exc) -> None:
        sc = self._spark.sparkContext
        jvm = self._spark._jvm
        try:
            path = jvm.org.apache.hadoop.fs.Path(self._dir)
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(path, True)
        except Exception:
            pass  # removal is hygiene; never fail the job over it
        # None is not settable through the public API ($-mangled Scala
        # setter reached via getattr); restore "no checkpoint dir" exactly.
        # self.restored records whether the restore took effect.
        if self._prev is not None:
            sc.setCheckpointDir(self._prev)
            self.restored = True
        else:
            self.restored = _restore_unset_checkpoint_dir(sc, jvm)


def _restore_unset_checkpoint_dir(sc, jvm) -> bool:
    """Best-effort restore of the "no checkpoint dir set" state via the
    private Scala setter ``checkpointDir_$eq`` (pinned working on pyspark
    4.1; there is no public API to UNSET a checkpoint dir). Version-
    brittle by nature, so the failure mode is LOUD, never silent: on any
    error (renamed internal, Connect session without ``_jsc``, ...) a
    warning states the consequence — the just-deleted job dir stays set
    as the context's checkpoint dir, and later ``RDD.checkpoint()`` calls
    in this session would target a missing directory — and False is
    returned so callers/tests can assert on it."""
    try:
        setter = getattr(sc._jsc.sc(), "checkpointDir_$eq")
        setter(jvm.scala.Option.apply(None))
        return True
    except Exception as exc:
        _LOG.warning(
            "could not unset the session checkpoint dir (private setter "
            "checkpointDir_$eq unavailable: %s); the removed per-job dir "
            "remains configured — call sc.setCheckpointDir() with a valid "
            "path before the next checkpointing operator",
            exc,
        )
        return False


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
