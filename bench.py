"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS] and
prints ONE JSON line.

Queries execute into the noop sink — full computation, no driver-side
collection — so timings measure the engine, not result serialization.
The set spans every subsystem: word-count parity, TPC-H-shaped joins
and aggregation, windows, dedup (exact-Jaccard index join + SimHash +
MinHash LSH), vector search, text analysis, and a streaming drain.

Each query runs REPS times (default 3, override $SPARK_GRAFT_BENCH_REPS)
as INTERLEAVED full-suite sweeps. Round-2 lesson: single-shot timings
put 2.6× run-to-run noise on wc_top_k with an unchanged (and
pinned-optimal) plan. Round-5 lesson: back-to-back reps of one query
sit inside one multi-second host-noise burst, poisoning all three
samples at once; interleaving spreads a burst across ONE rep of
several queries.

Round-6 lesson (VERDICT r5 item 3): the HEADLINE value is the sum of
per-query MINIMA, not medians. Host contention is strictly additive —
a busy neighbor can only make a deterministic plan slower, never
faster — so min is the unbiased estimator of the code's true cost and
the only statistic a noise burst cannot inflate unless it covers every
rep of a query across the whole run. The round-5 driver run proved the
median fails exactly that way: BENCH_r05's median total read 68.9 s
for code that measured 38.8 s uncontended (same box, same commit),
1.8× wrong about unchanged code, while the per-query minima summed to
43.6 s. Medians stay in `queries_median` as the dispersion signal:
median >> min flags a noisy run, not slow code. Proof harness:
tools/noise_injection.py at e49ef4e runs a mini-suite with and without a
synthetic CPU hog and checks the min-sum moves <15% while the
median-sum visibly inflates.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "wc_top_k",
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q5_region_revenue",
    "win_running_sum",
    "dedup_jaccard_pairs",
    "dedup_simhash_near",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_doc_profile",  # superset of round-1's text_quality (adds lang-id, fingerprints, simhash)
    "stream_window_suite",  # superset of round-1's stream_tumbling_counts (adds sliding)
    # round-3 additions (not in the r1/r2 comparable set):
    "pipeline_corpus_curation",  # end-to-end quality->dedup->cluster->sample pipeline
    "rel_sketch_suite",  # count-min + bloom + HLL + percentile invariants
    # round-4 additions: Zipf-head skew stress — the same skewed token
    # stream (one token amplified to ~5% of all mass) counted plain vs
    # via the salted two-phase aggregate, so the skew ladder's crossover
    # is MEASURED, not advised (SCALE.md §skew)
    "wc_zipf_plain",
    "wc_zipf_salted",
    # round-5 addition: the corpus-scale embedding near-dup route (banded
    # hyperplane LSH self-join + exact rescore). The registry's
    # dedup_embedding_cosine measures the batch-vs-corpus incremental
    # shape; this is the corpus-vs-corpus shape whose scale ratio
    # BASELINE.md §F records (VERDICT r4 item 3).
    "dedup_cosine_corpus",
]


def _zipf_words(spark, sf_dir):
    """Skewed token stream derived from the documents table: every ~20th
    token occurrence (per-occurrence hash, not per-vocab-word) rewritten
    to one hot token, putting ~5% of total mass on a single group-by key
    on top of the corpus's own Zipf head."""
    from pyspark.sql import functions as F

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.wordcount import tokenize
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    words = tokenize(load_table(spark, sf_dir, "documents"))
    return words.withColumn(
        "word",
        F.when(
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(20)) == 0,
            F.lit("__zipf_hot__"),
        ).otherwise(F.col("word")),
    )


def _bench_zipf_plain(spark, sf_dir):
    from pyspark.sql import functions as F

    return _zipf_words(spark, sf_dir).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def _bench_zipf_salted(spark, sf_dir):
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_word_count

    return salted_word_count(_zipf_words(spark, sf_dir))


def _bench_wc_top_k(spark, sf_dir):
    """Round-4 registry consolidation merged wc_top_k into the tagged
    wc_suite union; the bench keeps timing the original top-K-only shape
    so the round 1-4 series stays comparable."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.wordcount_q import flagship

    return flagship(spark, sf_dir)


def _bench_doc_profile(spark, sf_dir):
    """Round 4 extended the registry text_doc_profile with PII-graft
    columns and a gate flag; the bench keeps timing the profile operator
    alone so the round 2-4 series stays comparable (the operator itself
    did change shape in round 4: two-level token aggregation)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.text import doc_profile
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    return doc_profile(load_table(spark, sf_dir, "documents"))


def _bench_cosine_corpus(spark, sf_dir):
    """Corpus-vs-corpus embedding near-dup at threshold 0.9: banded
    hyperplane LSH self-join + exact rescoring — candidates from a
    (band, code) equi-join, never all-pairs, so the cost scales with
    collision mass instead of |corpus|² (operators/similarity.py::
    cosine_near_dup_pairs)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.similarity import cosine_near_dup_pairs
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    return cosine_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.9)


def _bench_minhash_lsh(spark, sf_dir):
    """The registry entry for dedup_minhash_lsh now ALSO computes the
    exact-Jaccard recall invariant for the correctness gate (round 3);
    the bench keeps timing the operator itself — MinHash signatures +
    banded LSH join + exact verification — so the series stays
    comparable with rounds 1–2."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import minhash_near_dups
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    return minhash_near_dups(load_table(spark, sf_dir, "documents"), threshold=0.3)


#: name → callable overriding the registry entry for TIMING only (the
#: correctness gate still runs the registered query), or providing a
#: bench-only workload (the Zipf skew stress pair).
BENCH_IMPL = {
    "wc_top_k": _bench_wc_top_k,
    "text_doc_profile": _bench_doc_profile,
    "dedup_minhash_lsh": _bench_minhash_lsh,
    "wc_zipf_plain": _bench_zipf_plain,
    "wc_zipf_salted": _bench_zipf_salted,
    "dedup_cosine_corpus": _bench_cosine_corpus,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    # UI off for benching: the SQL-tab listener retains full plan graphs
    # per execution (default 1000) and its event-bus work grows with
    # session age — pure overhead with no one watching.
    spark = get_session(
        "spark-graft-bench", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/session (tiny action, not a headline query)
    spark.range(1000).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(reps):  # interleaved: one full sweep per rep
        for name in HEADLINE:
            fn = BENCH_IMPL[name] if name in BENCH_IMPL else QUERIES[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
            # operators persist() intermediates (signatures, shingle sets)
            # for intra-query reuse; drop them between runs so one run's
            # cache can't feed or squeeze the next one
            spark.catalog.clearCache()
    medians = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    minima = {name: round(min(ts), 3) for name, ts in samples.items()}

    # Headline = sum of per-query minima (noise-robust; see module
    # docstring). `queries` carries the minima so per-query comparisons
    # across rounds use the same statistic as the headline; medians are
    # the dispersion diagnostic.
    total = round(sum(minima.values()), 3)
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "statistic": "sum_of_per_query_minima",
                "queries": minima,
                "queries_median": medians,
                "median_total": round(sum(medians.values()), 3),
                "reps": reps,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
