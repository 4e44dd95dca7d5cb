"""End-to-end corpus-curation pipeline: composition invariants the
oracle-parity test can't see, plus the partitioned corpus write — the
final stage a training-data pipeline runs (curated docs laid out by
predicted language for partition-pruned downstream reads)."""

from __future__ import annotations

from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.pipeline_q import (
    MIN_STOPWORD_RATIO,
    MIN_TOKENS,
    curated_corpus,
)

from .conftest import SF_CORRECT, SF_SMOKE


def test_curation_is_strict_and_survivors_are_cluster_minima(spark):
    cur = curated_corpus(spark, SF_SMOKE).cache()
    try:
        n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
        n_kept = cur.count()
        # the quality gate + dedup must actually remove something, but not everything
        assert 0 < n_kept < n_docs
        # every survivor satisfies the quality gate it was filtered by
        assert cur.where(F.col("n_tokens") < MIN_TOKENS).count() == 0
        # cluster sizes are positive and total docs absorbed <= corpus size
        stats = cur.agg(
            F.min("cluster_size").alias("lo"), F.sum("cluster_size").alias("tot")
        ).first()
        assert stats["lo"] >= 1 and stats["tot"] <= n_docs
    finally:
        cur.unpersist()


def test_hot_shingle_cap_kills_quadratic_candidates(spark):
    """Pathological fixture: every document shares one boilerplate
    sentence (its shingles have df = n_docs), and two documents are
    genuine near-dups through their COLD shingles. The capped candidate
    join must stay linear-ish (the uncapped one is quadratic in the
    boilerplate clique) while still finding the genuine pair."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.pipeline_q import SHINGLE_DF_CAP, curate

    n = 300
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    body = lambda i: " ".join(f"tok{i}w{j} filler{i} common the of" for j in range(8))
    rows = [(i, f"{boiler} {body(i)}", "en") for i in range(n)]
    # planted near-dup pair: 9000/9001 share their whole body
    rows.append((9000, f"{boiler} " + " ".join(f"dupw{j} extra the of and to in is it" for j in range(12)), "en"))
    rows.append((9001, f"{boiler} " + " ".join(f"dupw{j} extra the of and to in is it" for j in range(12)) + " tail", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def candidate_rows(max_df):
        ds = D.doc_shingles(docs)
        index = ds
        if max_df is not None:
            freq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            index = ds.join(freq.where(F.col("df") <= max_df), "shingle")
        a = index.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = index.select(F.col("doc_id").alias("doc_b"), "shingle")
        return a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b")).count()

    uncapped = candidate_rows(None)
    capped = candidate_rows(SHINGLE_DF_CAP)
    # boilerplate shingles alone contribute >= C(302,2) ~ 45k uncapped rows
    assert uncapped > 40_000, uncapped
    assert capped < uncapped / 10, (capped, uncapped)
    # the genuine near-dup pair still comes out of the capped pipeline
    pairs = D.jaccard_pairs(docs, 0.3, max_shingle_df=SHINGLE_DF_CAP)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(9000, 9001)}
    # and end-to-end: curate() keeps 9000 as the cluster survivor with 9001 absorbed
    cur = curate(docs)
    surv = {r.doc_id: r.cluster_size for r in cur.collect()}
    assert surv.get(9000) == 2 and 9001 not in surv


def test_curated_corpus_partitioned_write(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("curated") / "corpus")
    cur = curated_corpus(spark, SF_SMOKE)
    cur.write.mode("overwrite").partitionBy("lang_label").parquet(path)

    back = spark.read.parquet(path)
    assert back.count() == cur.count()
    # partition pruning works: a single-language read scans one directory
    langs = [r["lang_label"] for r in cur.select("lang_label").distinct().collect()]
    assert len(langs) > 1  # the corpus is multilingual, so the layout is real
    one = back.where(F.col("lang_label") == langs[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang_label" in plan.split("PartitionFilters")[1][:200]
    # content parity language-by-language (write→read round trip is lossless)
    assert one.count() == cur.where(F.col("lang_label") == langs[0]).count()


def test_hash_sampling_deterministic_and_consistent(spark, monkeypatch):
    """Deterministic sampling (operators/sampling.py): a bucket-range
    sample is retry-stable and composable, and bucket assignment is
    total and in range."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import sampling
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.sampling import hash_bucket

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    monkeypatch.setattr(sampling, "SAMPLE_BUCKETS", 100)

    def sample(keep):
        return docs.where(hash_bucket() < keep).select("doc_id")

    # identical across independent evaluations (pure function of the key)
    s1 = sorted(r.doc_id for r in sample(10).collect())
    s2 = sorted(r.doc_id for r in sample(10).collect())
    assert s1 == s2 and 0 < len(s1) < n
    # a 1-bucket pilot is a subset of the 10-bucket run (composability)
    pilot = set(r.doc_id for r in sample(1).collect())
    assert pilot <= set(s1)
    # bucket assignment is total and in range
    monkeypatch.setattr(sampling, "SAMPLE_BUCKETS", 10)
    rng = docs.select(hash_bucket().alias("b")).agg(
        F.min("b").alias("lo"), F.max("b").alias("hi"), F.count(F.lit(1)).alias("cnt")
    ).first()
    assert rng["lo"] >= 0 and rng["hi"] <= 9 and rng["cnt"] == n


def test_hash_bucket_calibration_and_independence(spark):
    """hash_bucket must spread integer AND string keys near-uniformly:
    a positional hash can pass one key shape and fail another."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.sampling import hash_bucket

    n = 5000
    ints = spark.range(0, n).withColumnRenamed("id", "doc_id")
    strs = ints.selectExpr("concat('doc-', doc_id) AS doc_id")
    for df in (ints, strs):
        counts = [
            r.c for r in df.select(hash_bucket().alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
        assert len(counts) == 10
        assert max(counts) < 1.25 * n / 10 and min(counts) > 0.75 * n / 10, counts


# --- sequence packing (operators/packing.py) --------------------------------


def _naive_packed(spark, rows, budget):
    """Reference implementation: the single global window the oracle
    states — correct by inspection, serial by construction."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return df.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    ).withColumn("seq_id", F.expr("cum_before div 64").cast("long"))


def test_distributed_prefix_sum_equals_global_window(spark):
    """Sparse, gappy, skewed ids across many chunks — the distributed
    two-phase scan must equal the naive global window row for row."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.packing import pack_sequences

    rows = [(i * 7 + (i % 3) * 100, (i % 13) + 1) for i in range(500)]
    rows = [(d, n) for d, n in dict(rows).items()]  # dedupe ids
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(16)
    got = pack_sequences(df, 64, chunk=32).select("doc_id", "cum_before", "seq_id")
    want = _naive_packed(spark, rows, 64).select("doc_id", "cum_before", "seq_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_packing_straddle_and_empty_docs(spark):
    """A document straddling a budget boundary packs where it STARTS
    (fill_ratio > 1 for its sequence); zero-token documents pack without
    advancing the tape."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.packing import sequence_stats

    # budget 64: doc1 starts at tape 50 (straddles the 64 boundary, packs
    # into seq 0); docs 2-4 start at 80, 80, 120 -> all seq 1
    rows = [(0, 50), (1, 30), (2, 0), (3, 40), (4, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    stats = {r["seq_id"]: r.asDict() for r in sequence_stats(df, 64, chunk=2).collect()}
    assert stats[0]["n_docs"] == 2 and stats[0]["seq_tokens"] == 80  # 50+30, straddle
    assert stats[0]["fill_ratio"] > 1.0
    assert stats[1]["n_docs"] == 3 and stats[1]["first_doc"] == 2  # incl. 0-token doc
    assert sum(s["seq_tokens"] for s in stats.values()) == 130  # conservation


def test_packing_plan_has_no_global_window_over_corpus(spark):
    """The 100 TB claim, pinned: every Window over the full corpus is
    partitioned by the chunk id; the one unpartitioned window runs over
    the chunk-totals relation only (its input is an Aggregate, not the
    scan)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    df = QUERIES["pipeline_sequence_packing"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln.lower()]
    assert len(windows) == 2
    # the corpus-wide window is PARTITIONED by the chunk id (its spec
    # carries both the partition key and the doc_id ordering); the
    # unpartitioned one orders by _range_id alone — chunk totals only
    corpus = [ln for ln in windows if "doc_id" in ln]
    assert len(corpus) == 1 and "_range_id" in corpus[0]
    # and the broadcast of the bounded offsets relation is explicit
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys


def test_perrow_gate_bit_identical_to_profile_gate(spark):
    """The round-5 pipeline derives its quality gate per row (no explode,
    no shuffle); correctness rests on those per-row values being
    bit-identical to doc_profile's aggregate-derived ones — same token
    array, same integer operands, same single division. Compare every
    shared column over the full smoke corpus, including edge docs
    (empty text, whitespace-only text, zero tokens) the profile drops
    via its inner join. The smoke corpus contains no such docs (ADVICE
    r5: the left_anti branch was asserting over an empty set), so they
    are UNIONED in synthetically — the profile-missing branch and the
    NaN-ratio gate path below run over real rows."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import text as T

    edge = spark.createDataFrame(
        [
            (9_000_001, "", "en", "synthetic", 0),
            (9_000_002, "   ", "en", "synthetic", 3),
            (9_000_003, "\n\n \n", "en", "synthetic", 4),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").unionByName(edge)
    text = F.col("text")
    feats = T.quality_features(text)
    perrow = docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["n_chars"].alias("n_chars"),
        T.lang_id(text).alias("lang_pred"),
        poly_hash_chars(T.normalized_text(text)).alias("fp_normalized"),
    )
    prof = T.doc_profile(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "punct_ratio",
        "n_chars", "lang_pred", "fp_normalized",
    )
    joined = perrow.join(prof, "doc_id", "inner")
    n_prof = prof.count()
    assert joined.count() == n_prof  # profile rows ⊆ per-row rows
    mismatches = joined.where(
        ~(
            (perrow["n_tokens"] == prof["n_tokens"])
            & (perrow["stopword_ratio"].eqNullSafe(prof["stopword_ratio"]))
            & (perrow["punct_ratio"].eqNullSafe(prof["punct_ratio"]))
            & (perrow["n_chars"] == prof["n_chars"])
            & (perrow["lang_pred"] == prof["lang_pred"])
            & (perrow["fp_normalized"] == prof["fp_normalized"])
        )
    ).count()
    assert mismatches == 0
    # docs missing from the profile (no tokens) must fail the gate per-row
    only_perrow = perrow.join(prof.select("doc_id"), "doc_id", "left_anti")
    assert only_perrow.count() >= 3  # the synthetic edge docs are actually here
    assert only_perrow.where(F.col("n_tokens") >= MIN_TOKENS).count() == 0
    # and zero-token ratios must be NULL (0/0 guarded), never NaN — a NaN
    # would sail through `< threshold` comparisons as false yet poison
    # any arithmetic the gate is composed into
    edge_rows = perrow.where(F.col("doc_id") >= 9_000_001).collect()
    assert len(edge_rows) == 3
    for r in edge_rows:
        assert r.n_tokens == 0
        # zero tokens -> NULL token ratios; punct_ratio is NULL only for
        # the truly empty doc (whitespace-only docs have chars, and 0
        # punct chars over 3 spaces is a real 0.0)
        assert r.stopword_ratio is None
        assert (r.punct_ratio is None) == (r.n_chars == 0)
        if r.punct_ratio is not None:
            assert r.punct_ratio == 0.0 and r.punct_ratio == r.punct_ratio  # not NaN
