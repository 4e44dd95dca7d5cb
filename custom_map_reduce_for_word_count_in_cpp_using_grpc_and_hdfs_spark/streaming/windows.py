"""Structured Streaming operators over the events table.

The reference is strictly batch (SURVEY.md §2.3) — this is north-star
surface. Design:

- **Source**: file stream over a staged directory (Spark's file source
  requires a directory; the driver's events table is a single parquet
  file, so we stage a copy under ``.scratch/``). In production this is a
  Kafka/file-drop source; everything downstream is identical.
- **Windows**: tumbling/sliding via ``window()``, sessions via
  ``session_window()`` — all computed with ``Trigger.AvailableNow`` so a
  bounded run drains the source and terminates, giving batch-equivalent
  results (asserted against DuckDB oracles).
- **Output modes**: ``complete`` for windowed aggregations (emits every
  finalized window at drain time without waiting on watermark
  expiry), ``append`` + watermark for stateful dedup.
- **Scale posture**: state size is bounded by watermarks
  (``withWatermark``) in production mode; AvailableNow runs accept the
  one-shot full-state cost by design. Skewed session keys fall under
  AQE-less streaming rules, so session_window keys should be salted
  upstream if a single user dominates (documented, not needed here).
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.exact import dsum

#: Scratch root for staged stream directories (inside the repo; the
#: environment forbids writes elsewhere).
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


def _stage_dir(sf_dir: str, table: str = "events") -> str:
    """Stage ``<sf_dir>/<table>.parquet`` into a directory usable by the
    file-stream source. Idempotent per (sf_dir, table). A table already
    stored as a parquet directory is returned as it is: the file source
    reads directories."""
    import hashlib

    source = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(source):
        return source
    # stable digest — Python's hash() is per-process randomized, which
    # would re-stage (and leak) a fresh copy every run
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    key = f"{table}-{digest}"
    target = os.path.join(SCRATCH, "streams", key)
    marker = os.path.join(target, f"{table}.parquet")
    # staleness guard: if the source was regenerated since we staged it,
    # re-copy — otherwise a long-lived .scratch dir silently streams last
    # round's data. copy2 preserves the source mtime, so freshness is an
    # EXACT (size, mtime) match: a restored/checked-out source whose mtime
    # moved *backwards* (same size) also re-stages, which the previous
    # `marker >= source` heuristic silently treated as fresh.
    src_stat = os.stat(source)
    fresh = (
        os.path.exists(marker)
        and os.stat(marker).st_size == src_stat.st_size
        and abs(os.stat(marker).st_mtime - src_stat.st_mtime) < 1e-6
    )
    if not fresh:
        os.makedirs(target, exist_ok=True)
        shutil.copy2(source, marker)
    return target


def events_source(spark: SparkSession, conf: dict | None = None) -> DataFrame:
    """Source seam: build the raw streaming DataFrame for the events
    table from a source-kind config, so a Kafka/rate source slots in
    without touching any query code.

    ``conf`` keys: ``kind`` ("file" — default; "rate"; "kafka") plus
    kind-specific options: the file kind needs ``sf_dir``, kafka needs
    ``bootstrap_servers`` (plus optional ``topic``/``starting_offsets``)
    and decodes JSON record values via :func:`decode_kafka_events` into
    the same events schema — downstream query code never changes across
    kinds.
    """
    conf = conf or {}
    kind = conf.get("kind", "file")
    if kind == "file":
        sf_dir = conf["sf_dir"]
        batch_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
        return spark.readStream.schema(batch_schema).parquet(_stage_dir(sf_dir))
    if kind == "rate":
        # Deterministic synthetic events from the built-in rate-micro-batch
        # source (exactly rows_per_batch rows per micro-batch, monotone
        # sequence numbers and timestamps) mapped onto the events schema —
        # the load-generator shape for soak-testing a streaming query
        # without any files.
        reader = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", int(conf.get("rows_per_batch", 100)))
            .option("numPartitions", int(conf.get("num_partitions", 2)))
        )
        if "start_timestamp_ms" in conf:
            reader = reader.option("startTimestamp", int(conf["start_timestamp_ms"]))
        raw = reader.load()
        types = F.array(*[F.lit(t) for t in ("click", "view", "purchase", "signup", "error")])
        return raw.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            F.pmod(F.col("value"), F.lit(1000)).alias("user_id"),
            F.element_at(types, (F.pmod(F.col("value"), F.lit(5)) + 1).cast("int")).alias(
                "event_type"
            ),
            (F.pmod(F.col("value"), F.lit(100)) / F.lit(10.0)).alias("value"),
            F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
        )
    if kind == "kafka":
        # Wire format: one JSON event per Kafka record value. The reader
        # below is the standard kafka source; decode_kafka_events maps the
        # kafka wire schema to the events schema and is shared verbatim by
        # the broker-less unit test (tests/test_streaming.py), so the only
        # untestable-in-sandbox piece is the broker connection itself.
        # Needs the spark-sql-kafka connector jar on the classpath
        # (--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>).
        if "bootstrap_servers" not in conf:
            raise ValueError(
                "kafka source needs conf['bootstrap_servers'] (and optionally "
                "'topic', 'starting_offsets')"
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")  # ts parse determinism
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", conf["bootstrap_servers"])
            .option("subscribe", conf.get("topic", "events"))
            .option("startingOffsets", conf.get("starting_offsets", "earliest"))
            .load()
        )
        return decode_kafka_events(raw)
    raise ValueError(f"events_source kind={kind!r}: expected file | rate | kafka")


#: JSON value schema on the kafka events topic (matches the events table).
KAFKA_EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka wire rows → events schema: cast the binary value to string,
    ``from_json`` it with :data:`KAFKA_EVENTS_SCHEMA`, drop the envelope.
    Malformed values become all-NULL structs rather than failing the
    stream (from_json's PERMISSIVE default — poison-pill records must not
    kill a production topic; filter ``event_id IS NULL`` downstream to
    quarantine them). Works identically on a batch DataFrame with the
    same (value binary) column, which is how the sandbox tests it without
    a broker."""
    return (
        raw.select(F.from_json(F.col("value").cast("string"), KAFKA_EVENTS_SCHEMA).alias("e"))
        .select("e.*")
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame over the events table (ts normalized to
    microsecond timestamps, same as the batch reader)."""
    stream = events_source(spark, {"kind": "file", "sf_dir": sf_dir})
    ts_kind = dict(stream.dtypes).get("ts")
    if ts_kind == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_kind == "timestamp_ntz":
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
#: The optimum tracks source bytes (2 -> 2 -> 4), matching
#: ceil(bytes / 64 MB) with a floor of 2; the derived width reaches ~28
#: at sf100 (1.7 GB) and keeps growing linearly past any fixed core
#: count — at 100 TB the same formula spreads state across ~1.6M
#: partitions' worth of budget, i.e. the cluster-sizing regime where
#: per-partition state memory, not drain latency, binds.
STREAM_WIDTH_TARGET_BYTES = 64 * 1024 * 1024
#: Width floor: keeps at least two-way state parallelism so the
#: distributed code path (state shuffle, per-partition stores) is always
#: exercised; measured indistinguishable from wider floors at the SFs
#: where it applies.
STREAM_WIDTH_FLOOR = 2


def stream_shuffle_width(sf_dir: str, *tables: str) -> int | None:
    """Input-sized streaming shuffle/state width: ceil(total source
    bytes / STREAM_WIDTH_TARGET_BYTES), floored at STREAM_WIDTH_FLOOR —
    or ``None`` (leave the session width alone) when a source cannot be
    sized locally."""
    import math

    total = 0
    for table in tables or ("events",):
        path = os.path.join(sf_dir, f"{table}.parquet")
        try:
            total += _source_bytes(path)
        except OSError:
            return None
    return max(STREAM_WIDTH_FLOOR, math.ceil(total / STREAM_WIDTH_TARGET_BYTES))


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


#: Serializes the save / set / start / restore of the session shuffle
#: width in :func:`run_available_now_many` across threads sharing one
#: session, so overlapping drains never restore each other's width.
_WIDTH_LOCK = threading.Lock()


def run_available_now(
    df: DataFrame, mode: str, timeout_s: int = 300, shuffle_width: int | None = None
) -> DataFrame:
    """Drain a bounded stream into a memory sink and return the result as
    a batch DataFrame."""
    return run_available_now_many([(df, mode)], timeout_s, shuffle_width=shuffle_width)[0]


def run_available_now_many(
    dfs_modes: list[tuple[DataFrame, str]],
    timeout_s: int = 300,
    shuffle_width: int | None = None,
) -> list[DataFrame]:
    """Drain several bounded streams CONCURRENTLY (all started before any
    is awaited — independent streaming jobs shouldn't serialize on the
    driver) and return each result as a batch DataFrame.

    Single-batch constraint for oracle-checked drains: the staged file
    source is exactly ONE file (see _stage_dir), so an AvailableNow drain
    is one micro-batch and the watermark never advances mid-drain. With a
    multi-file source (a directory-shaped table streams in place) the
    watermark could advance between micro-batches and drop late rows
    (dropDuplicatesWithinWatermark, stream-stream join), legitimately diverging from the batch oracle — if a staged
    source ever grows multiple files, pin maxFilesPerTrigger above the
    file count or use a watermark delay exceeding the event-time span.

    ``shuffle_width`` (round 14): the shuffle/state-store partition
    count for the queries STARTED here — streaming reads
    ``spark.sql.shuffle.partitions`` at query start (AQE is disabled, so
    there is no later coalescing) and pins it into the checkpoint. So
    the session value is restored as soon as the last query has started,
    before any drain is awaited, and the save-set-start-restore sequence
    holds a module-level lock: drains overlapping on other threads of the
    same session each see and restore the caller's width, never another
    drain's. Callers derive the width from their source size via
    :func:`stream_shuffle_width`. ``None`` leaves the session width
    untouched.

    If any drain fails or times out, every still-active query is stopped
    before the error propagates — no leaked streaming queries or
    memory-sink state."""
    started = []
    spark = dfs_modes[0][0].sparkSession if dfs_modes else None
    set_width = shuffle_width is not None and spark is not None
    try:
        with _WIDTH_LOCK:
            if set_width:
                prev_width = spark.conf.get("spark.sql.shuffle.partitions")
                spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_width))
            try:
                for df, mode in dfs_modes:
                    name = f"stream_{uuid.uuid4().hex[:12]}"
                    q = (
                        df.writeStream.format("memory")
                        .queryName(name)
                        .outputMode(mode)
                        .trigger(availableNow=True)
                        .start()
                    )
                    started.append((df, name, q))
            finally:
                if set_width:
                    spark.conf.set("spark.sql.shuffle.partitions", prev_width)
        out = []
        for df, name, q in started:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(f"streaming drain {name} still running after {timeout_s}s")
            if q.exception() is not None:
                raise q.exception()
            out.append(df.sparkSession.table(name))
        return out
    except BaseException:
        for _, _, q in started:
            try:
                if q.isActive:
                    q.stop()
            except Exception:
                pass
        raise


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + exact value sums per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", alias="sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window counts (each event lands in width/slide windows)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows with the given inactivity gap; session
    end = last event + gap (Spark's session_window semantics)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on event_id: duplicates arriving within
    the watermark horizon are dropped; state for ids older than the
    watermark is evicted (bounded state at scale).

    Must be ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates``
    on a subset that excludes the event-time column never evicts its
    state even under a watermark — output is identical on a bounded
    drain but state grows without bound on a real stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def click_purchase_join(clicks: DataFrame, purchases: DataFrame, horizon: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join: every (click, purchase) pair by the same
    user with the purchase inside ``horizon`` after the click.

    Both sides carry watermarks and the join condition bounds event time
    on both ends — exactly what Spark needs to evict join state (a
    stream-stream join without the time bound buffers both streams
    forever). Inner-join matches emit as soon as both rows arrive, so an
    AvailableNow drain equals the batch join."""
    c = clicks.withWatermark("ts", "1 hour").alias("c")
    p = purchases.withWatermark("ts", "1 hour").alias("p")
    return c.join(
        p,
        F.expr(
            f"""
            c.user_id = p.user_id AND
            p.ts >= c.ts AND
            p.ts <= c.ts + INTERVAL {horizon}
            """
        ),
    ).select(
        F.col("c.ts").alias("ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.value").alias("purchase_value"),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the documents table (for incremental
    word-count — the reference query as a stream)."""
    batch_schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    return spark.readStream.schema(batch_schema).parquet(_stage_dir(sf_dir, "documents"))


def streaming_word_count(docs: DataFrame) -> DataFrame:
    """The reference's one query, incrementalized: tokenize → running
    word counts maintained in streaming state. With AvailableNow +
    complete mode this drains to exactly the batch word count."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.wordcount import tokenize

    return tokenize(docs).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
