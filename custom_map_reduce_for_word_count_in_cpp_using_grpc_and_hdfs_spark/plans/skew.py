"""Skew mitigation for hot-key aggregation.

AQE's skew handling covers *joins*; a skewed GROUP BY key (one word
carrying 1% of a 100 TB corpus — exactly the word-count workload's
Zipf head) still funnels that key's partial aggregates into a single
reduce task. Classic fix: salt the key into S subkeys, aggregate
twice. Cost: one extra (tiny) shuffle over S×|distinct keys| rows;
benefit: the hot key's work spreads over S tasks.

Worth it only for algebraic aggregates (sum/count/min/max) whose
partials compose — which is what this helper enforces by taking the
merge expressions explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_group_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, tuple[Column, Column]],
) -> DataFrame:
    """Two-phase salted aggregation over S = 16 salts.

    ``agg_exprs`` maps output name → (partial_agg_expr, merge_agg_expr),
    e.g. ``{"cnt": (F.count(F.lit(1)), F.sum("cnt"))}`` or
    ``{"total": (F.sum("x"), F.sum("total"))}``. Phase 1 groups by
    (keys, salt) where salt = pmod(xxhash64(spark_partition_id), S):
    a hot key's rows exist in (nearly) every upstream partition, so its
    phase-1 partials spread across S reduce tasks, which is the entire
    point of the salt. Within one partition all rows share a salt — free,
    because phase 1's map-side partial aggregation already collapses them
    to one row per (key, salt) per partition before the shuffle.

    Retry semantics: the salt is a pure function of the partition id, and
    a stage retry recomputes a lost partition from the same deterministic
    input — so re-salting is stable under retry, unlike the previous
    monotonically_increasing_id derivation whose offsets shift if the
    task split changes. (Either way the *result* is correct: the merge
    expressions are algebraic, any salt assignment composes.)
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.spark_partition_id()), F.lit(16)).cast("int")
    )
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[expr.alias(name) for name, (expr, _) in agg_exprs.items()]
    )
    return phase1.groupBy(*key_cols).agg(
        *[merge.alias(name) for name, (_, merge) in agg_exprs.items()]
    )


def salted_word_count(words: DataFrame, word_col: str = "word") -> DataFrame:
    """The reference workload with Zipf-head protection: word-count via
    salted two-phase aggregation. Semantically identical to
    ``groupBy(word).count()``; use when a handful of words dominate."""
    return salted_group_agg(words, [word_col], {"cnt": (F.count(F.lit(1)), F.sum("cnt"))})

