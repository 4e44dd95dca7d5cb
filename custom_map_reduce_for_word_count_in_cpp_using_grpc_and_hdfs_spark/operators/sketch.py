"""Probabilistic sketch operators: count-min frequency estimation and
Bloom-filter membership.

ABSENT in the reference — its only aggregate is an exact COUNT
(slave.cc:198); these are the 100 TB substitutes when a bounded error
buys an unbounded saving (a frequency table or join-pruning filter that
fits in one broadcast instead of a full shuffle).

100 TB posture:

- ``count_min_counters`` is one ROLLUP over (depth, slot) with at most
  depth x (width+1) distinct groups, so map-side partial aggregation
  collapses every task's output to <= depth x width rows regardless of
  input size. The finished counter table is tiny and broadcastable; no
  per-key state ever shuffles.
- ``count_min_estimates`` joins probes against the BROADCAST counter
  table and takes min-over-depth — one narrow shuffle on the probe key.
- ``bloom_build`` materializes the filter as its set of distinct bit
  positions (<= num_bits small integers — the broadcastable relational
  encoding of a bitmap); ``bloom_probe`` explodes each probe key into
  its k positions, left-joins the broadcast position set, and a key
  "might be present" iff no position is missing. Exact-arithmetic
  integer plans end to end; the only approximation is the sketch itself.

Sketch hashes use Spark-native ``xxhash64`` (JVM codegen, seedable).
They are engine-internal by design — driver-facing queries check sketch
results via invariants that are either provable (count-min never
underestimates; Bloom has no false negatives) or oracle-computable
exact values, mirroring the recall-invariant pattern of the ANN suite
(queries/similarity_q.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Seed base for the independent sketch hash rows; any fixed constant
#: works, it only has to differ per depth/probe index.
_SEED_BASE = 0x5EED


def _slots(key: Column, n_hashes: int, modulus: int) -> Column:
    """Array of ``n_hashes`` independent bucket ids for one key."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(_SEED_BASE + i)), F.lit(modulus))
            for i in range(n_hashes)
        ]
    )


def count_min_counters(df: DataFrame, depth: int = 4, width: int = 2048) -> DataFrame:
    """Build the count-min counter table ``(d, slot, cnt)`` from
    pre-aggregated ``(word, exact)`` rows: cnt = sum of ``exact`` over the
    words that hash to ``slot`` in hash row ``d``. At most ``depth * width``
    counter rows.

    The sketch is WEIGHTED: sketching the ``(word, exact)`` aggregate
    gives a counter table bit-identical to sketching the raw stream, but
    the explode runs over |vocab| rows instead of |stream| rows (round-6:
    this removed one of the suite's two full token-stream passes; at
    100 TB it turns a corpus-sized explode into a vocab-sized one).

    Row sums ride along: ROLLUP (d, slot) in the same single aggregation
    pass appends one ``(d, slot=NULL, cnt=row_total)`` row per depth (the
    grand-total row is dropped), so a caller verifying the conservation
    invariant (each depth row's counters sum to the stream total) gets it
    for free instead of re-aggregating the input a second time; map-side
    partial aggregation still collapses every task to
    <= depth x (width+1) rows. The counters are the rows with a slot."""
    exploded = df.select(
        F.posexplode(_slots(F.col("word"), depth, width)).alias("d", "slot"),
        F.col("exact").cast("long").alias("_w"),
    )
    return (
        exploded.rollup("d", "slot")
        .agg(F.sum("_w").alias("cnt"))
        .where(F.col("d").isNotNull())  # drop the () grand-total row
    )


def count_min_estimates(counters: DataFrame, keys: DataFrame, depth: int = 4, width: int = 2048) -> DataFrame:
    """Estimated frequency for each distinct ``word`` in ``keys``:
    min over depth of the word's slot counters (0 for a never-seen slot).
    Always >= the true frequency — the count-min guarantee."""
    probes = keys.select("word", F.posexplode(_slots(F.col("word"), depth, width)).alias("d", "slot"))
    return (
        probes.join(F.broadcast(counters), ["d", "slot"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("cms_est"))
    )


def bloom_build(df: DataFrame, num_bits: int = 1 << 16, num_hashes: int = 4) -> DataFrame:
    """Bloom filter over the ``key`` column as the relation of its set bit
    positions: one ``pos`` column, <= num_bits distinct rows."""
    return (
        df.select(F.explode(_slots(F.col("key"), num_hashes, num_bits)).alias("pos"))
        .distinct()
    )


def bloom_probe(positions: DataFrame, probes: DataFrame, num_bits: int = 1 << 16, num_hashes: int = 4) -> DataFrame:
    """Membership test of each probe ``key`` against a built filter:
    ``(key, might_contain)``. No false negatives by construction; false
    positives at the usual (1 - e^(-kn/m))^k rate."""
    exploded = probes.select("key", F.explode(_slots(F.col("key"), num_hashes, num_bits)).alias("pos"))
    marked = positions.withColumn("present", F.lit(1))
    return (
        exploded.join(F.broadcast(marked), "pos", "left")
        .groupBy("key")
        .agg(
            (F.sum(F.when(F.col("present").isNull(), 1).otherwise(0)) == 0).alias(
                "might_contain"
            )
        )
    )
