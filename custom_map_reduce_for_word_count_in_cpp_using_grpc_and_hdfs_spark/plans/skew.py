"""Skew mitigation for hot-key aggregation.

AQE's skew handling covers *joins*; a skewed GROUP BY key (one word
carrying 1% of a 100 TB corpus — exactly the word-count workload's
Zipf head) still funnels that key's partial aggregates into a single
reduce task. Classic fix: salt the key into S subkeys, aggregate
twice. Cost: one extra (tiny) shuffle over S×|distinct keys| rows;
benefit: the hot key's work spreads over S tasks.

Worth it only for algebraic aggregates (sum/count/min/max) whose
partials compose, as a count's do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_word_count(words: DataFrame) -> DataFrame:
    """The reference workload with Zipf-head protection: word-count via
    two-phase salted aggregation over S = 16 salts. Semantically identical
    to ``groupBy(word).count()``; use when a handful of words dominate.

    Phase 1 counts by (word, salt) where salt =
    pmod(xxhash64(spark_partition_id), S): a hot word's rows exist in
    (nearly) every upstream partition, so its phase-1 partials spread
    across S reduce tasks, which is the entire point of the salt. Within
    one partition all rows share a salt — free, because phase 1's
    map-side partial aggregation already collapses them to one row per
    (word, salt) per partition before the shuffle. Phase 2 sums the
    partial counts per word.

    Retry semantics: the salt is a pure function of the partition id, and
    a stage retry recomputes a lost partition from the same deterministic
    input — so re-salting is stable under retry, unlike the previous
    monotonically_increasing_id derivation whose offsets shift if the
    task split changes. (Either way the *result* is correct: counts are
    algebraic, any salt assignment composes.)
    """
    salted = words.withColumn(
        "_salt", F.pmod(F.xxhash64(F.spark_partition_id()), F.lit(16)).cast("int")
    )
    phase1 = salted.groupBy("word", "_salt").agg(F.count(F.lit(1)).alias("cnt"))
    return phase1.groupBy("word").agg(F.sum("cnt").alias("cnt"))
