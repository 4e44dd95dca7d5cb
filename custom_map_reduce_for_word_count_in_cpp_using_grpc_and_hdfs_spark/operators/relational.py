"""Relational operator surface (SURVEY.md §2.3 absence audit).

The reference has no joins, no aggregates beyond COUNT, no windows, no
set ops (its one predicate is the hardwired first-letter range filter,
slave.cc:149-157). Here the surface is deliberately *thin*: every
operator is the built-in Catalyst node, and what the engine adds is the
scale discipline — broadcast the dimension side of star joins, keep
aggregates in partial/final hash form, express top-K as sort-limit so it
plans as TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def as_of_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """As-of join on ``user_id``: each left row gets ``asof_event_id``, the
    ``event_id`` of the latest right row with right.ts <= left.ts,
    implemented as union + running last_value — the scalable form.

    A naive range join is O(|L|·|R|) per key; sort-merge as-of engines
    special-case it. On Spark the idiomatic equivalent is: tag both
    sides, union, one window sorted by (ts, side) per key, carry the
    last non-null right value forward, keep left rows. One shuffle on
    the key, one sort — exactly the cost of a window function, no
    custom physical operator. Ties (equal ts) order the right row first,
    giving <= (inclusive) as-of semantics; equal-ts right rows tie-break
    by the value column for determinism.
    """
    from pyspark.sql import Window

    l_tagged = left.withColumn("_side", F.lit(1)).withColumn("_rv", F.lit(None).cast(right.schema["event_id"].dataType))
    r_tagged = (
        right.select("user_id", "ts", F.col("event_id").alias("_rv"))
        .withColumn("_side", F.lit(0))
    )
    cols = ["user_id", "ts", "_side", "_rv"]
    unioned = l_tagged.select(*cols, *[c for c in left.columns if c not in {"user_id", "ts"}]).unionByName(
        r_tagged, allowMissingColumns=True
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_side").asc(), F.col("_rv").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("asof_event_id", F.last("_rv", ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
        .drop("_side", "_rv")
    )


def interval_self_join(df: DataFrame) -> DataFrame:
    """All event pairs (a, b) with |ts_a - ts_b| <= 60 s, event_id_a <
    event_id_b — via time-bucket candidate generation.

    The scalable range-join pattern: bucket timestamps by the gap width;
    any qualifying pair lands in the same or adjacent buckets, so
    candidates come from an equi-join of (bucket) × (bucket-1..bucket+1)
    — never a cross join — then the exact interval predicate filters.
    """
    gap_us = 60 * 1_000_000
    # integer floor-div: a double division could round across a bucket
    # boundary and silently drop a candidate pair. The cast makes the
    # expression total over TIMESTAMP_NTZ parquet columns too (Spark 4.1
    # rejects unix_micros(ntz)); the engine pins the session timezone to
    # UTC, so ntz→ltz is a deterministic identity on the epoch scale.
    bucket = F.expr(f"unix_micros(cast(ts as timestamp)) div {gap_us}")
    a = df.select(
        F.col("event_id").alias("id_a"),
        F.col("ts").alias("ts_a"),
        bucket.alias("bk"),
    )
    b = df.select(
        F.col("event_id").alias("id_b"),
        F.col("ts").alias("ts_b"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bk"),
    )
    return (
        a.join(b, "bk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(
                    F.unix_micros(F.col("ts_a").cast("timestamp"))
                    - F.unix_micros(F.col("ts_b").cast("timestamp"))
                )
                <= gap_us
            )
        )
        .select("id_a", "id_b", "ts_a", "ts_b")
        .distinct()
    )
