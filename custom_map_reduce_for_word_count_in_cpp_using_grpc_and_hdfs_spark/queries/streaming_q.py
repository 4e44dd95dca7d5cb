"""Streaming queries, checked for batch equivalence: each runs a real
Structured Streaming job (file source → AvailableNow → memory sink) and
must produce exactly what the batch/SQL oracle computes over the same
data. Events duplicated into the stream verify stateful dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.streaming import (
    events_stream,
    run_available_now,
    run_available_now_many,
    session_windows,
    sliding_counts,
    stream_dedup,
    tumbling_counts,
)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.streaming.windows import (
    stream_shuffle_width,
)

_WINDOW_SUITE_ORACLE = """
    SELECT 'tumbling' AS kind, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
           count(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 2, 3
  UNION ALL
    SELECT 'sliding', ws, NULL, count(*), NULL FROM (
        SELECT unnest([
            CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP),
            CAST(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS TIMESTAMP)
        ]) AS ws, ts
        FROM events
    )
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY ws
"""


@query("stream_window_suite", oracle=_WINDOW_SUITE_ORACLE)
def stream_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type (epoch-aligned, so equal
    to a batch date_trunc aggregation) and 1-hour windows sliding every
    30 min (each event belongs to two windows; the oracle enumerates
    both candidate starts per event) — both as real streaming jobs,
    drained concurrently."""
    tumbling_raw, sliding_raw = run_available_now_many(
        [
            (tumbling_counts(events_stream(spark, sf_dir)), "complete"),
            (sliding_counts(events_stream(spark, sf_dir)), "complete"),
        ],
        shuffle_width=stream_shuffle_width(sf_dir, "events"),
    )
    u = TaggedUnion("kind", ws="timestamp", event_type="string", n="long", sum_value="double")
    return u.union(u.branch(tumbling_raw, "tumbling", *u.columns), u.branch(sliding_raw, "sliding", "ws", "n"))


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '5 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT min(ts) AS session_start,
           CAST(max(ts) + INTERVAL '5 minutes' AS TIMESTAMP) AS session_end,
           user_id, count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 5-minute-gap sessions via session_window; the oracle is
    the classic gaps-and-islands rewrite (end = last event + gap)."""
    return run_available_now(
        session_windows(events_stream(spark, sf_dir)),
        shuffle_width=stream_shuffle_width(sf_dir, "events"),
    )


_DEDUP_STATE_ORACLE = """
    SELECT 'dedup' AS kind, event_type AS key, count(*) AS n, CAST(NULL AS BIGINT) AS cents
    FROM events GROUP BY event_type
  UNION ALL
    SELECT 'state', CAST(user_id AS VARCHAR), count(*),
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
    FROM events GROUP BY user_id
  UNION ALL
    SELECT 'enriched', c_mktsegment, count(*),
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
  UNION ALL
    SELECT 'ss_join', concat(c.event_id, '|', p.event_id), 1,
           CAST(round(p.value * 100) AS BIGINT)
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
  UNION ALL
    SELECT 'incr_dedup', lang, count(*), CAST(NULL AS BIGINT)
    FROM documents d
    -- NOT EXISTS, not NOT IN: the Spark side is a left_anti join, which
    -- KEEPS null-keyed rows (a null key never equals anything), while
    -- NOT IN's three-valued logic would drop a NULL fingerprint (NULL
    -- text). NOT EXISTS with plain = is exactly anti-join semantics.
    WHERE NOT EXISTS (
        SELECT 1 FROM documents s
        WHERE s.doc_id % 3 = 0 AND {fp_s} = {fp_d}
    )
    GROUP BY lang
"""


def _dedup_state_oracle() -> str:
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars_sql

    return _DEDUP_STATE_ORACLE.format(
        fp_s=poly_hash_chars_sql("s.text"), fp_d=poly_hash_chars_sql("d.text")
    )


@query("stream_dedup_state_suite", oracle=_dedup_state_oracle())
def stream_dedup_state_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming, four surfaces as real concurrent jobs:

    - watermark-bounded dedup: the stream is the events table unioned
      with itself (every id duplicated); dropDuplicatesWithinWatermark
      over event_id must reduce it back to exactly the batch counts.
    - custom state machine (applyInPandasWithState): per-user running
      (count, value-cents) accumulator; after draining one AvailableNow
      pass the emitted state equals the batch aggregate.
    - stream-static enrichment: the event stream joins the static
      customer dimension (auto-broadcast per micro-batch while it fits
      the threshold — the canonical dimension-enrichment shape; a dim
      that outgrows it becomes a per-batch shuffle join or a keyed
      state store) and aggregates per segment.
    - stream-stream inner join: clicks × purchases by user within
      30 min, watermarked + time-bounded on BOTH sides so join state
      evicts; pair-level append output equals the batch join.
    - incremental corpus dedup: the production training-data update
      flow — a stream of incoming documents is fingerprinted (portable
      rolling hash, 8-byte keys) and anti-joined against the existing
      corpus's fingerprint set (every doc_id % 3 == 0 document); only
      unseen texts survive, counted per language. The static side is
      8 bytes/doc — auto-broadcast at test SFs; at 100 TB (~10^10 docs
      → tens of GB) the planner shuffles it instead, or a Bloom
      pre-filter (operators/sketch.py) cuts the stream first.
    """
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.streaming.stateful import user_activity_state
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.streaming.windows import (
        click_purchase_join,
        documents_stream,
    )

    ev = events_stream(spark, sf_dir)
    doubled = ev.unionAll(ev)
    customers = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("value") * 100).cast("long")
    enriched_stream = (
        events_stream(spark, sf_dir)
        .join(customers, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    )
    ss = click_purchase_join(
        events_stream(spark, sf_dir).where(F.col("event_type") == "click"),
        events_stream(spark, sf_dir).where(F.col("event_type") == "purchase"),
    )
    existing_fps = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 0)
        .select(poly_hash_chars("text").alias("fp"))
        .distinct()
    )
    incr_stream = (
        documents_stream(spark, sf_dir)
        .withColumn("fp", poly_hash_chars("text"))
        .join(existing_fps, "fp", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    deduped, state_raw, enriched_raw, ss_raw, incr_raw = run_available_now_many(
        [
            (stream_dedup(doubled), "append"),
            (user_activity_state(events_stream(spark, sf_dir)), "update"),
            (enriched_stream, "complete"),
            (ss, "append"),
            (incr_stream, "complete"),
        ],
        shuffle_width=stream_shuffle_width(sf_dir, "events", "documents"),
    )
    u = TaggedUnion("kind", key="string", n="long", cents="long")
    return u.union(
        u.branch(deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), "dedup", "n", key="event_type"),
        u.branch(state_raw, "state", key="user_id", n="n_events", cents="total_value_cents"),
        u.branch(enriched_raw, "enriched", "n", "cents", key="c_mktsegment"),
        u.branch(
            ss_raw, "ss_join",
            key=F.concat(F.col("click_id").cast("string"), F.lit("|"), F.col("purchase_id").cast("string")),
            n=F.lit(1),
            cents=F.round(F.col("purchase_value") * 100),
        ),
        u.branch(incr_raw, "incr_dedup", "n", key="lang"),
    )


@query(
    "stream_word_count",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(text, '[ \n]')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def stream_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one query, incrementalized: a Structured Streaming
    word count whose drained state equals the batch aggregate."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.streaming.windows import (
        documents_stream,
        streaming_word_count,
    )

    return run_available_now(
        streaming_word_count(documents_stream(spark, sf_dir)),
        shuffle_width=stream_shuffle_width(sf_dir, "documents"),
    )
