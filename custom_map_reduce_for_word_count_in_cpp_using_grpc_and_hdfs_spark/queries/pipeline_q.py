"""End-to-end corpus-curation pipeline — the composition a training-data
user actually runs at 100 TB: quality-score → exact dedup → near-dup
clustering → survivor pick.

Every stage reuses an operator that is already individually
oracle-checked (doc_profile, exact_dedup_groups, jaccard_pairs,
connected_components); this query proves the *composition* end-to-end
against one DuckDB oracle that re-derives the same pipeline with
recursive-CTE transitive closure for the clustering stage.

Scale shape: one per-row quality map over the scan, one 8-byte-key
dedup shuffle, a shingle-inverted-index candidate join with hot
shingles capped out (no all-pairs), then connected components over the
near-dup edges: one driver-local union-find while the edge list fits
the driver cap (every driver SF), the distributed hash-min loop past
it. No stage is quadratic in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars, poly_hash_chars_sql
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import sampling as S
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import text as T
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.dedup_q import JACCARD_T
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

#: Quality gate (chosen against the synthetic corpus distribution:
#: n_tokens p05 ≈ 15, stopword_ratio median ≈ 0.06). Part of the query's
#: definition, shared verbatim with the oracle.
MIN_TOKENS = 20
MIN_STOPWORD_RATIO = 0.02
MAX_PUNCT_RATIO = 0.10

#: Hot-shingle document-frequency cap for the near-dup candidate stage —
#: part of the PIPELINE's query definition (mirrored in the oracle). At
#: 100 TB one stopword shingle shared by 10⁶ docs is 10¹² candidate
#: pairs; dropping shingles with df > cap from candidate generation
#: bounds any shingle's contribution at cap² pairs while union sizes
#: stay exact (capped jaccard ≤ true jaccard, so capped pairs ⊆ uncapped
#: pairs — the subset invariant pipeline_jaccard_cap_invariant checks).
#: 20 ≈ 2× the sf0.1 p99.9 shingle df, so genuine near-dup shingles
#: (df 2-3) are untouched.
SHINGLE_DF_CAP = 20

_TOKS = T.tokens_sql("text")

_PIPELINE_ORACLE = f"""
    WITH RECURSIVE
    prof AS (
        SELECT doc_id,
               lang AS lang_label,
               length(text)::BIGINT AS n_chars,
               len({_TOKS})::BIGINT AS n_tokens,
               {T.stopword_count_sql('text')} / len({_TOKS})::BIGINT AS stopword_ratio,
               {T.punct_count_sql('text')} / length(text)::BIGINT AS punct_ratio,
               {T.lang_id_sql('text')} AS lang_pred,
               {poly_hash_chars_sql(T.normalized_text_sql('text'))} AS fp_normalized
        FROM documents
    ),
    qual AS (
        SELECT * FROM prof
        WHERE n_tokens >= {MIN_TOKENS}
          AND stopword_ratio >= {MIN_STOPWORD_RATIO}
          AND punct_ratio <= {MAX_PUNCT_RATIO}
    ),
    exact AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY fp_normalized),
    surv AS (SELECT d.doc_id, d.text FROM documents d JOIN exact USING (doc_id)),
    ds AS (
        SELECT DISTINCT doc_id, unnest({D.shingles_sql('text')}) AS shingle FROM surv
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    -- hot-shingle cap, same semantics as the Spark side: shingles with
    -- df > cap leave CANDIDATE GENERATION only; union sizes stay full
    freq AS (SELECT shingle, count(*) AS df FROM ds GROUP BY shingle),
    idx AS (SELECT ds.* FROM ds JOIN freq USING (shingle) WHERE df <= {SHINGLE_DF_CAP}),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jpairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ni / (sa.n + sb.n - ni) >= {JACCARD_T}
    ),
    sym AS (
        SELECT doc_a AS u, doc_b AS v FROM jpairs
        UNION ALL
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (
        SELECT s.doc_id, least(s.doc_id, coalesce(min(r.v), s.doc_id)) AS component
        FROM surv s LEFT JOIN reach r ON s.doc_id = r.u
        GROUP BY s.doc_id
    ),
    sized AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
    SELECT q.doc_id, q.lang_label, q.lang_pred, q.n_tokens, q.n_chars, s.cluster_size,
           {S.hash_bucket_sql('q.doc_id', S.SAMPLE_BUCKETS)} AS sample_bucket
    FROM comp c
    JOIN sized s ON c.component = s.component
    JOIN qual q ON q.doc_id = c.doc_id
    WHERE c.doc_id = c.component
"""


def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline body, reusable by the partitioned-write test: returns
    one row per kept document with its profile features and the size of
    the near-dup cluster it survived."""
    return curate(load_table(spark, sf_dir, "documents"))


def curate(docs: DataFrame) -> DataFrame:
    """Pipeline over an arbitrary documents DataFrame (doc_id, text, lang)
    — the seam the pathological hot-shingle fixture test drives.

    The near-dup edges for the clustering stage come from the exact
    shingle-index join with hot shingles (df > :data:`SHINGLE_DF_CAP`)
    capped out of candidate generation — the shape the oracle states.

    The quality gate is computed PER ROW (quality_features/lang_id/
    fingerprint — one narrow map over the scan, no explode, no shuffle),
    not via doc_profile's two-level token aggregation: the gated frame
    has three consumers (exact-dedup groupBy, the components vertex set,
    the final survivor join), each of which recomputes its column-pruned
    slice, and recomputing a per-row map is ~free while recomputing the
    profile's explode + two shuffles dominated the whole pipeline
    (measured 3× ≈ 6.6 s of a 9.6 s sf0.1 run; caching instead was
    SLOWER — SCALE.md lesson 21). Values are bit-identical to
    doc_profile's: same token array, same integer operands, same single
    division — the oracle's `prof` CTE is the same per-row form."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    text = F.col("text")
    feats = T.quality_features(text)
    # spread: the gate's interpreted token/char lambdas are per-row
    # CPU-bound — exactly the shape the scan-parallelism guard exists for
    # (on an under-split local fixture the gate serializes on 1-2 cores;
    # at production layout spread() is a no-op).
    gated = spread(docs, by=["doc_id"])
    qual = gated.where(
        (feats["n_tokens"] >= MIN_TOKENS)
        & (feats["stopword_ratio"] >= MIN_STOPWORD_RATIO)
        & (feats["punct_ratio"] <= MAX_PUNCT_RATIO)
    ).select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        T.lang_id(text).alias("lang_pred"),
        feats["n_tokens"].alias("n_tokens"),
        feats["n_chars"].alias("n_chars"),
        poly_hash_chars(T.normalized_text(text)).alias("fp_normalized"),
    )
    # Exact dedup on the 8-byte normalized fingerprint; survivor = min id.
    exact_survivors = qual.groupBy("fp_normalized").agg(F.min("doc_id").alias("doc_id"))
    surv_docs = docs.join(exact_survivors.select("doc_id"), "doc_id", "left_semi")
    # Near-dup clustering over the exact-dedup survivors, hot shingles
    # capped out of candidate generation (SHINGLE_DF_CAP)
    edges = D.jaccard_pairs(surv_docs, JACCARD_T, max_shingle_df=SHINGLE_DF_CAP).select("doc_a", "doc_b")
    comps = D.connected_components(
        surv_docs.select("doc_id"), edges, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    sized = comps.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("comp"))
    )
    return (
        sized.where(F.col("doc_id") == F.col("comp"))
        .join(qual, "doc_id")
        # deterministic 10-bucket hash assignment: downstream "sample to
        # budget" keeps buckets < k — retry-stable and table-consistent
        # (operators/sampling.py)
        .withColumn("sample_bucket", S.hash_bucket())
        .select(
            "doc_id", "lang_label", "lang_pred", "n_tokens", "n_chars",
            "cluster_size", "sample_bucket",
        )
    )


#: Tight cap for the invariant query so the cap BITES at the correctness
#: SF (sf0.01 shingle df tops out at 7 — a cap of 5 actually drops
#: shingles there, making the subset check non-vacuous).
CAP_TIGHT = 5

_CAP_INVARIANT_ORACLE = f"""
    WITH ds AS (
        SELECT DISTINCT doc_id, unnest({D.shingles_sql('text')}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    freq AS (SELECT shingle, count(*) AS df FROM ds GROUP BY shingle),
    idx AS (SELECT ds.* FROM ds JOIN freq USING (shingle) WHERE df <= {CAP_TIGHT}),
    inter_c AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    inter_u AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp_c AS (
        SELECT doc_a, doc_b FROM inter_c
        JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ni / (sa.n + sb.n - ni) >= {JACCARD_T}
    ),
    jp_u AS (
        SELECT doc_a, doc_b FROM inter_u
        JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ni / (sa.n + sb.n - ni) >= {JACCARD_T}
    )
    SELECT (SELECT count(*) FROM freq WHERE df > {CAP_TIGHT}) AS n_hot_shingles,
           (SELECT count(*) FROM jp_c) AS n_pairs_capped,
           (SELECT count(*) FROM jp_u) AS n_pairs_uncapped,
           (SELECT count(*) FROM jp_u) - (SELECT count(*) FROM jp_c) AS n_lost_pairs,
           true AS capped_subset_of_uncapped
"""


@query("pipeline_jaccard_cap_invariant", oracle=_CAP_INVARIANT_ORACLE)
def pipeline_jaccard_cap_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof that the hot-shingle cap behaves: exact
    counts of hot shingles and of capped/uncapped near-dup pairs (both
    SQL-derivable), plus the subset invariant — every capped pair must
    also be an uncapped pair (capping lowers intersection counts while
    union sizes stay full, so capped jaccard ≤ true jaccard). The oracle
    states ``true``; the Spark side COMPUTES the flag via an anti-join,
    so a capping bug that invented pairs would go red. A tight cap
    (df > {CAP_TIGHT}) is used so hot shingles actually exist at the
    correctness SF."""
    docs = load_table(spark, sf_dir, "documents")
    capped = D.jaccard_pairs(docs, JACCARD_T, max_shingle_df=CAP_TIGHT).select("doc_a", "doc_b")
    uncapped = D.jaccard_pairs(docs, JACCARD_T).select("doc_a", "doc_b")
    ds = D.doc_shingles(docs)
    n_hot = (
        ds.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > CAP_TIGHT)
        .agg(F.count(F.lit(1)).alias("n_hot_shingles"))
    )
    n_c = capped.agg(F.count(F.lit(1)).alias("n_pairs_capped"))
    n_u = uncapped.agg(F.count(F.lit(1)).alias("n_pairs_uncapped"))
    escaped = capped.join(uncapped, ["doc_a", "doc_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_escaped")
    )
    return (
        n_hot.crossJoin(n_c)
        .crossJoin(n_u)
        .crossJoin(escaped)
        .select(
            "n_hot_shingles",
            "n_pairs_capped",
            "n_pairs_uncapped",
            (F.col("n_pairs_uncapped") - F.col("n_pairs_capped")).alias("n_lost_pairs"),
            (F.col("n_escaped") == 0).alias("capped_subset_of_uncapped"),
        )
    )


@query("pipeline_corpus_curation", oracle=_PIPELINE_ORACLE)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation end-to-end: quality gate (token count, stopword
    ratio, punctuation ratio) → exact dedup on the normalized rolling-hash
    fingerprint → exact-Jaccard near-dup connected components → keep one
    survivor per cluster, reporting how many near-dups it absorbed —
    plus a deterministic hash-sample bucket per survivor (the
    reproducible "sample to token budget" stage). The
    curated corpus is written partitioned by language label in
    tests/test_pipeline.py (same layout discipline as
    wc_partitioned_layout)."""
    return curated_corpus(spark, sf_dir)


#: Token budget per packed training sequence (≈ 12 documents at the
#: fixture token distribution, so sequences and straddles both occur at
#: every SF) and the id-space chunk width for the distributed prefix sum
#: (small enough that sf0.01's 500 docs span 4 chunks — the parallel
#: path is exercised even at the correctness SF).
PACK_BUDGET = 512
PACK_CHUNK = 128

_PACKING_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, len({T.tokens_sql('text')})::BIGINT AS n_tokens FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM toks
    ),
    seq AS (
        SELECT doc_id, n_tokens, (cum_before // {PACK_BUDGET})::BIGINT AS seq_id FROM cum
    )
    SELECT seq_id, count(*) AS n_docs, sum(n_tokens)::BIGINT AS seq_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           sum(n_tokens)::BIGINT / {PACK_BUDGET} AS fill_ratio
    FROM seq GROUP BY seq_id
"""


@query("pipeline_sequence_packing", oracle=_PACKING_ORACLE)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the layout stage between a curated corpus and a
    training run: lay documents on a token tape in id order, cut the
    tape every PACK_BUDGET tokens, assign each document to the sequence
    where it starts, and report per-sequence packing stats (doc count,
    token count, id span, fill ratio).

    The prefix sum behind the assignment is computed DISTRIBUTEDLY (the
    two-phase scan in operators/packing.py — intra-chunk windows
    partitioned by ``doc_id div {PACK_CHUNK}``, plus a bounded
    chunk-offset relation broadcast back), while the oracle states the
    semantics with the naive single global window — proving the
    distributed scan exactly equals the serial one. The only
    unpartitioned window in the Spark plan runs over the chunk-totals
    relation (rows = n_docs/{PACK_CHUNK}), pinned in
    tests/test_pipeline.py."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import packing as P

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.token_count_ws("text").alias("n_tokens"))
    return P.sequence_stats(toks, PACK_BUDGET, chunk=PACK_CHUNK)
