"""Property tests for the probabilistic sketches (operators/sketch.py):
count-min's one-sided error, Bloom's no-false-negative guarantee, the
bounded counter/position tables, and the broadcast probe plan shape.
The driver-facing invariant rows live in ``rel_sketch_suite``
(queries/relational_q.py); these tests pin the operator guarantees that
make those invariants provable."""

from __future__ import annotations

from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import sketch as sk
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

from .conftest import SF_SMOKE, formatted_plan


def _keyed(spark):
    """A skewed key column: l_partkey at sf0.001 (200 distinct keys,
    ~30 rows each, genuinely non-uniform)."""
    return load_table(spark, SF_SMOKE, "lineitem").select(
        F.col("l_partkey").alias("key")
    )


def _word_counts(df):
    """``(word, exact)``: the pre-aggregated rows a count-min sketch is
    built from, one per distinct key."""
    return df.groupBy(F.col("key").alias("word")).agg(F.count(F.lit(1)).alias("exact"))


def _counters(df, depth, width):
    """The counter rows of the count-min table (the row sums dropped)."""
    return sk.count_min_counters(_word_counts(df), depth, width).where(F.col("slot").isNotNull())


def test_count_min_never_underestimates_and_tightens_with_width(spark):
    df = _keyed(spark)
    exact = _word_counts(df)

    def errors(width):
        counters = _counters(df, 4, width)
        est = sk.count_min_estimates(counters, exact.select("word"), 4, width)
        row = (
            exact.join(est, "word")
            .agg(
                F.min(F.col("cms_est") - F.col("exact")).alias("lo"),
                F.max(F.col("cms_est") - F.col("exact")).alias("hi"),
            )
            .collect()[0]
        )
        return row.lo, row.hi

    lo_narrow, hi_narrow = errors(32)  # 200 keys into 32 slots: collisions certain
    lo_wide, hi_wide = errors(4096)  # 4096 slots >> 200 keys: nearly exact
    assert lo_narrow >= 0 and lo_wide >= 0  # one-sided error, always
    assert hi_narrow > 0  # the narrow sketch must actually collide...
    assert hi_wide <= hi_narrow  # ...and widening must not hurt
    assert hi_wide == 0  # 20x headroom: no key collides in all 4 rows


def test_count_min_counter_table_bounded(spark):
    df = _keyed(spark)
    depth, width = 4, 64
    table = sk.count_min_counters(_word_counts(df), depth, width)
    counters = table.where(F.col("slot").isNotNull())
    assert counters.count() <= depth * width
    # total mass per depth row equals the input row count (nothing lost),
    # and so does each depth's row sum
    n = df.count()
    per_depth = counters.groupBy("d").agg(F.sum("cnt").alias("mass")).collect()
    assert len(per_depth) == depth and all(r.mass == n for r in per_depth)
    assert sorted(r.cnt for r in table.where(F.col("slot").isNull()).collect()) == [n] * depth


def test_bloom_no_false_negatives_and_low_fp(spark):
    df = _keyed(spark)
    members = df.distinct()
    positions = sk.bloom_build(members, num_bits=1 << 16, num_hashes=4)
    probed = sk.bloom_probe(positions, members, num_bits=1 << 16, num_hashes=4)
    assert probed.where(~F.col("might_contain")).count() == 0  # provable

    negatives = members.select((F.col("key") + 10_000_000).alias("key"))
    neg = sk.bloom_probe(positions, negatives, num_bits=1 << 16, num_hashes=4)
    fp = neg.where(F.col("might_contain")).count()
    n_neg = negatives.count()
    # expected fp rate at m=65536, k=4, n=200 keys is ~1e-11; 1% is a
    # colossal margin for the fixed-seed deterministic hash
    assert fp <= 0.01 * n_neg


def test_bloom_saturates_when_undersized(spark):
    """A deliberately tiny filter must report (almost) everything as
    present — sanity that the probe logic is not trivially rejecting."""
    df = _keyed(spark)
    members = df.distinct()
    positions = sk.bloom_build(members, num_bits=16, num_hashes=4)
    negatives = members.select((F.col("key") + 10_000_000).alias("key"))
    neg = sk.bloom_probe(positions, negatives, num_bits=16, num_hashes=4)
    assert neg.where(F.col("might_contain")).count() > 0


def test_sketch_probe_plans_broadcast(spark):
    """Counter and position tables are bounded-size; the probe joins must
    broadcast them, never shuffle the probe side against them."""
    df = _keyed(spark)
    counters = _counters(df, 4, 64)
    est = sk.count_min_estimates(counters, df.distinct().withColumnRenamed("key", "word"), 4, 64)
    assert "BroadcastHashJoin" in formatted_plan(est)
    positions = sk.bloom_build(df.distinct(), 1 << 12, 4)
    probed = sk.bloom_probe(positions, df.distinct(), 1 << 12, 4)
    assert "BroadcastHashJoin" in formatted_plan(probed)


def test_operators_tolerate_empty_inputs(spark):
    """Degenerate-input robustness: empty corpora and empty build sides
    must produce empty (not erroring) results across the sketch, dedup,
    and similarity operators."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import similarity as S

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")], "doc_id long, text string"
    )
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )

    assert D.contaminated_docs(docs, empty_docs).count() == 0
    assert D.contaminated_docs(empty_docs, docs).count() == 0
    assert D.jaccard_pairs(empty_docs, 0.3).count() == 0
    assert S.brute_force_topk(empty_vecs, vecs).count() == 0
    assert S.brute_force_topk(vecs, empty_vecs).count() == 0

    empty_keys = spark.createDataFrame([], "key long")
    keys = spark.createDataFrame([(i,) for i in range(10)], "key long")
    counters = sk.count_min_counters(spark.createDataFrame([], "word long, exact long"), 2, 16)
    assert counters.count() == 0
    est = sk.count_min_estimates(counters, keys.withColumnRenamed("key", "word"), 2, 16)
    assert est.count() == 10  # every probe estimates 0 against an empty sketch
    assert est.agg(F.max("cms_est")).collect()[0][0] == 0
    pos = sk.bloom_build(empty_keys, 64, 2)
    probed = sk.bloom_probe(pos, keys, 64, 2)
    assert probed.where(F.col("might_contain")).count() == 0
