"""Structured Streaming operators over the events table.

The reference is strictly batch (SURVEY.md §2.3) — this is north-star
surface. Design:

- **Source**: file stream over the table in place: a brace glob
  ``<sf_dir>/{<table>.parquet}`` that matches the single parquet file
  the driver's tables are stored as (the file source takes a directory
  or a glob, not a bare file) or a directory-shaped table alike, so
  nothing is copied. In production this is a file-drop source;
  everything downstream is identical.
- **Windows**: tumbling/sliding via ``window()``, sessions via
  ``session_window()`` — all computed with ``Trigger.AvailableNow`` so a
  bounded run drains the source and terminates, giving batch-equivalent
  results (asserted against DuckDB oracles).
- **Output modes**: ``complete`` for windowed aggregations (emits every
  finalized window at drain time without waiting on watermark
  expiry), ``append`` + watermark for stateful dedup.
- **Drain cost**: :func:`run_available_now_many` starts each bounded
  drain at an input-sized state width (one partition below 64 MB of
  source) and, when the checkpoint root is provably local, on Spark's
  FileSystem-API checkpoint manager: where Hadoop has no native library,
  the default FileContext manager forks ``readlink`` on every checkpoint
  rename, and this one forks none.
- **Scale posture**: state size is bounded by watermarks
  (``withWatermark``) in production mode; AvailableNow runs accept the
  one-shot full-state cost by design. Skewed session keys fall under
  AQE-less streaming rules, so session_window keys should be salted
  upstream if a single user dominates (documented, not needed here).
"""

from __future__ import annotations

import os
import threading
import uuid
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.exact import dsum
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.registry import nanos_ts_to_micros, read_parquet


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File stream over ``<sf_dir>/<table>.parquet`` where it lies, with the
    batch reader's (memoized) schema. The path is the brace glob
    ``<sf_dir>/{<table>.parquet}``: Spark's file-stream source takes a
    directory or a glob, not a bare file path (that fails at the first
    batch with "Option 'basePath' must be a directory"), and the glob
    matches a single-file table and a directory-shaped one alike. An
    ``sf_dir`` holding glob metacharacters already fails the batch
    reader, so the glob adds no restriction."""
    batch_schema = read_parquet(spark, os.path.join(sf_dir, f"{table}.parquet")).schema
    return spark.readStream.schema(batch_schema).parquet(os.path.join(sf_dir, f"{{{table}.parquet}}"))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame over the events table (ts normalized to
    microsecond timestamps, same as the batch reader)."""
    stream = nanos_ts_to_micros(_table_stream(spark, sf_dir, "events"))
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # Parquet timestamp[us] without timezone reads as TIMESTAMP_NTZ,
        # which watermarks/windows reject (Spark 4.1). The engine pins the
        # session timezone to UTC, so ntz -> ltz is a deterministic
        # identity on the epoch scale.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


#: Source bytes per streaming shuffle/state partition for the
#: input-sized width (round 14, VERDICT r13 item 3). Streaming disables
#: AQE, so ``spark.sql.shuffle.partitions`` at query start IS the
#: state-store partition count, and a width pinned to the session's
#: core-count default makes every drain pay (#queries x width)
#: state-store inits regardless of data volume — the bench's only
#: anti-scaling entry (8-core beat 32-core 2.5x on identical code,
#: PERF_r13.json). Measured at three decades (tools/r14_stream_width_ab.py
#: at e49ef4e, interleaved minima, rows identical at every width):
#:   sf0.1 (2 MB events):   w2 1.12 s  w4 1.20  w8 1.28  w16 1.66  w32 2.23
#:   sf1   (17 MB):         w2 1.31 s  w8 1.61  w32 3.01  w64 4.65
#:   sf10  (174 MB):        w2 1.86 s  w4 1.67  w8 1.82  w32 3.53
#: The optimum tracks source bytes, matching ceil(bytes / 64 MB); the
#: derived width reaches ~28 at sf100 (1.7 GB) and keeps growing linearly
#: past any fixed core count — at 100 TB the same formula spreads state
#: across ~1.6M partitions' worth of budget, i.e. the cluster-sizing
#: regime where per-partition state memory, not drain latency, binds.
#: There is no floor above 1: a source under 64 MB drains at one state
#: partition (an sf0.01 ``stream_word_count`` drain took 0.45-0.47 s at
#: width 1 against 0.61-0.71 s at width 2), with one state directory to
#: create and commit. A test that needs the multi-partition state path
#: passes ``shuffle_width=2``.
STREAM_WIDTH_TARGET_BYTES = 64 * 1024 * 1024


def stream_shuffle_width(sf_dir: str, *tables: str) -> int | None:
    """Input-sized streaming shuffle/state width: ceil(total source
    bytes / STREAM_WIDTH_TARGET_BYTES), at least 1 — or ``None`` (leave
    the session width alone) when a source cannot be sized locally."""
    import math

    total = 0
    for table in tables or ("events",):
        path = os.path.join(sf_dir, f"{table}.parquet")
        try:
            total += _source_bytes(path)
        except OSError:
            return None
    return max(1, math.ceil(total / STREAM_WIDTH_TARGET_BYTES))


def _source_bytes(path: str) -> int:
    """Bytes of a parquet source: the file itself, or the data files under
    a parquet directory (``_``/``.``-prefixed names skipped, as Spark's
    reader skips them). ``getsize`` on a directory is its entry size, not
    its contents."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _, names in os.walk(path)
        for name in names
        if not name.startswith(("_", "."))
    )


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark's checkpoint manager over the Hadoop ``FileSystem`` API. Spark's
#: default, the ``FileContext`` manager, goes through ``ChecksumFs`` on a
#: local path: without Hadoop's native library every rename forks
#: ``readlink`` (and creates fork ``chmod``, as they still do here). This
#: one renames with ``java.io.File``. Its commit is atomic wherever rename
#: is, which holds on a local POSIX file system; on an object store it is
#: not, so it is only chosen for a provably local root
#: (:func:`checkpoint_root_is_local`).
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def checkpoint_root_is_local(location: str | None, default_fs: str | None) -> bool:
    """Whether a drain's checkpoint root is provably on the local file
    system, given ``spark.sql.streaming.checkpointLocation`` (``None``:
    unset) and the Hadoop ``fs.defaultFS`` (``None``: unknown).

    A ``file:`` location is local and any other scheme is not. A
    scheme-less location resolves against the default file system, and
    so does an unset one: Spark then checkpoints to a scheme-less local
    temp dir. Both are local only when ``fs.defaultFS`` is ``file:``, so
    an unknown default file system fails closed."""
    scheme = urlsplit(location).scheme if location else ""
    if scheme:
        return scheme == "file"
    return default_fs is not None and urlsplit(default_fs).scheme == "file"


def _drain_confs(spark: SparkSession, shuffle_width: int | None) -> dict[str, str]:
    """The session confs a drain is started under: the shuffle/state
    width when one is given, and the FileSystem checkpoint manager when
    the session names no manager of its own and its checkpoint root is
    provably local. Where no JVM handle exists (Spark Connect) the
    default file system is unknown, so the manager is left alone."""
    confs = {}
    if shuffle_width is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_width)
    jsession = getattr(spark, "_jsparkSession", None)
    default_fs = jsession.sessionState().newHadoopConf().get("fs.defaultFS") if jsession is not None else None
    if spark.conf.get(_MANAGER_KEY, None) is None and checkpoint_root_is_local(
        spark.conf.get("spark.sql.streaming.checkpointLocation", None), default_fs
    ):
        confs[_MANAGER_KEY] = FS_CHECKPOINT_MANAGER
    return confs


#: Serializes the save / set / start / restore of the drain confs in
#: :func:`run_available_now_many` across threads sharing one session, so
#: overlapping drains never restore each other's values.
_WIDTH_LOCK = threading.Lock()

#: Seconds a drain may run before it is stopped as hung, read at call time.
DRAIN_TIMEOUT_S = 300


def run_available_now(df: DataFrame, shuffle_width: int | None = None) -> DataFrame:
    """Drain a bounded stream in complete output mode into a memory sink
    and return the result as a batch DataFrame."""
    return run_available_now_many([(df, "complete")], shuffle_width=shuffle_width)[0]


def run_available_now_many(
    dfs_modes: list[tuple[DataFrame, str]], shuffle_width: int | None = None
) -> list[DataFrame]:
    """Drain several bounded streams CONCURRENTLY (all started before any
    is awaited — independent streaming jobs shouldn't serialize on the
    driver) and return each result as a batch DataFrame.

    Single-batch constraint for oracle-checked drains: a single-file table
    streams as exactly ONE file (see _table_stream), so an AvailableNow
    drain is one micro-batch and the watermark never advances mid-drain.
    With a multi-file source (a directory-shaped table) the watermark
    could advance between micro-batches and drop late rows
    (dropDuplicatesWithinWatermark, stream-stream join), legitimately
    diverging from the batch oracle — for such a source, pin
    maxFilesPerTrigger above the file count or use a watermark delay
    exceeding the event-time span.

    Drain confs: a started query clones the session conf, so the queries
    are started under :func:`_drain_confs` and the session's own values
    are restored (or unset again) as soon as the last query has started,
    before any drain is awaited. The save-set-start-restore sequence
    holds a module-level lock: drains overlapping on other threads of
    the same session each see and restore the caller's values, never
    another drain's. The confs are

    - ``spark.sql.shuffle.partitions`` = ``shuffle_width`` (round 14):
      streaming reads it at query start (AQE is disabled, so there is no
      later coalescing) and pins it into the checkpoint as the state
      partition count. Callers derive it from their source size via
      :func:`stream_shuffle_width`; ``None`` leaves the session width
      untouched.
    - ``spark.sql.streaming.checkpointFileManagerClass`` =
      :data:`FS_CHECKPOINT_MANAGER` when the checkpoint root is provably
      local (:func:`checkpoint_root_is_local`) and the session sets no
      manager; any other root keeps Spark's default manager.

    Each result is resolved from its memory sink's temp view, which is
    then dropped: the returned frame holds the sink's rows, and the
    session catalog keeps no ``stream_*`` view after the call. Where no
    JVM handle exists (Spark Connect) a frame resolves the view by name
    at every execution, so the view is kept.

    If any drain fails or runs past :data:`DRAIN_TIMEOUT_S`, every
    still-active query is stopped
    and every sink view dropped before the error propagates — no leaked
    streaming queries or memory-sink state."""
    if not dfs_modes:
        return []
    started = []
    spark = dfs_modes[0][0].sparkSession
    # a classic frame holds its analyzed plan; a Connect frame does not
    drop_views = getattr(spark, "_jsparkSession", None) is not None
    try:
        with _WIDTH_LOCK:
            confs = _drain_confs(spark, shuffle_width)
            saved = {key: spark.conf.get(key, None) for key in confs}
            try:
                for key, value in confs.items():
                    spark.conf.set(key, value)
                for df, mode in dfs_modes:
                    name = f"stream_{uuid.uuid4().hex[:12]}"
                    q = (
                        df.writeStream.format("memory")
                        .queryName(name)
                        .outputMode(mode)
                        .trigger(availableNow=True)
                        .start()
                    )
                    started.append((df.sparkSession, name, q))
            finally:
                for key, value in saved.items():
                    if value is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, value)
        out = []
        timeout_s = DRAIN_TIMEOUT_S
        for session, name, q in started:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(f"streaming drain {name} still running after {timeout_s}s")
            if q.exception() is not None:
                raise q.exception()
            out.append(session.table(name))
            if drop_views:
                session.catalog.dropTempView(name)
        return out
    except BaseException:
        for session, name, q in started:
            try:
                if q.isActive:
                    q.stop()
                if drop_views:
                    session.catalog.dropTempView(name)
            except Exception:
                pass
        raise


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling-window counts + exact value sums per event_type."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", alias="sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Counts over 1-hour windows sliding every 30 minutes (each event
    lands in two windows)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap; session
    end = last event + gap (Spark's session_window semantics)."""
    return (
        events.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup on event_id: duplicates arriving within
    the 1-hour watermark horizon are dropped; state for ids older than
    the watermark is evicted (bounded state at scale).

    Must be ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates``
    on a subset that excludes the event-time column never evicts its
    state even under a watermark — output is identical on a bounded
    drain but state grows without bound on a real stream."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: every (click, purchase) pair by the same
    user with the purchase inside 30 minutes after the click.

    Both sides carry watermarks and the join condition bounds event time
    on both ends — exactly what Spark needs to evict join state (a
    stream-stream join without the time bound buffers both streams
    forever). Inner-join matches emit as soon as both rows arrive, so an
    AvailableNow drain equals the batch join."""
    c = clicks.withWatermark("ts", "1 hour").alias("c")
    p = purchases.withWatermark("ts", "1 hour").alias("p")
    return c.join(
        p, F.expr("c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 minutes")
    ).select(
        F.col("c.ts").alias("ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.value").alias("purchase_value"),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the documents table (for incremental
    word-count — the reference query as a stream)."""
    return _table_stream(spark, sf_dir, "documents")


def streaming_word_count(docs: DataFrame) -> DataFrame:
    """The reference's one query, incrementalized: tokenize → running
    word counts maintained in streaming state. With AvailableNow +
    complete mode this drains to exactly the batch word count."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.wordcount import tokenize

    return tokenize(docs).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
