"""End-to-end corpus-curation pipeline — the composition a training-data
user actually runs at 100 TB: quality-score → exact dedup → near-dup
clustering → survivor pick.

Every stage reuses an operator that is already individually
oracle-checked (doc_profile, exact_dedup_groups, jaccard_pairs,
connected_components); this query proves the *composition* end-to-end
against one DuckDB oracle that re-derives the same pipeline with
recursive-CTE transitive closure for the clustering stage.

Scale shape: one profile pass (explode→groupBy, map-side partials), one
8-byte-key dedup shuffle, shingle-inverted-index candidate join (no
all-pairs), then O(cluster-diameter) hash-min label-propagation rounds.
No stage is quadratic in corpus size.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

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

#: Cost-aware near-dup edge-route crossover (VERDICT r8 item 1), in
#: estimated shingle POSTINGS = n_docs x avg distinct shingles/doc. The
#: exact inverted-index route's self-join cost grows superlinearly in
#: postings while the MinHash route is ~linear in docs with a fixed
#: per-doc signature cost, so at some corpus size the routes cross.
#: Measured fresh-session on the fixture corpus (~48-52 shingles/doc;
#: .scratch/r9 — measured AFTER the round-9 connected_components fix
#: that stopped the union-first shape evaluating the edge join twice,
#: which had inflated the exact route's r7 numbers and produced the
#: now-retired "minhash 0.55x at sf10" claim):
#:   sf0.1 (5k docs, 0.26M postings): pipeline exact 6.9 s vs mh 19.4 s
#:   sf1  (50k docs, 2.6M postings): pipeline exact 21.4 s vs mh 25.8 s
#:   sf10 (500k docs, 26M postings): a wash — edge-only exact 50.8 s vs
#:     mh 40.8 s, full pipeline exact 208.7 s vs mh 226.3 s (within the
#:     1.1-1.3x host-noise band both ways)
#:   sf100 (5M docs, 259M postings): edge-only exact 704.3 s vs mh
#:     231.6 s — minhash 0.33x, the decisive third-decade win
#: 30M pins the crossover just above the measured sf10 tie: every
#: correctness-gate SF (sf0.01 driver gate through the sf10 sampled
#: oracles) keeps the oracle-exact route, and corpora a decade bigger
#: get the 3x-cheaper scale route. Semantics across the switch: MinHash
#: edges are exact-Jaccard VERIFIED (precision 1 — the partition can
#: only REFINE, never over-merge); LSH recall is measured 1.0 at
#: sf0.01-sf1 and 0.9999+ above (sf10 raw-docs edge A/B: 25,598/25,600
#: pairs; sf100: 255,984/256,000) — the documented LSH contract, with
#: any miss surfacing as under-merged clusters, i.e. a hash MISMATCH in
#: an oracle compare, never a silent over-delete.
EDGE_AUTO_CROSSOVER_POSTINGS = 30_000_000
#: Docs sampled (via limit — one scan batch, no full pass) for the avg
#: shingles/doc estimate. The estimate only needs to land on the right
#: side of a crossover two decades wide, so a small fixed sample is fine
#: — 256 since round 10: the shingle transform is ~0.9 ms/row
#: interpreted, so the 1000-doc sample cost 0.89 s per pipeline run at
#: sf0.1 against a sampling error of ~±6% on a statistic compared to a
#: 10x-wide crossover (measured avg 52 shingles/doc, std well under the
#: mean; 0.36 s at 256).
EDGE_AUTO_SAMPLE_DOCS = 256
#: Safety margin for the count-only early exit in choose_edge_method
#: (ADVICE r10): the "every doc yields ≥ 1 shingle" floor is false for
#: docs shorter than n tokens, so n_docs alone decides only when it
#: clears the crossover by this factor — a corpus where merely 1/4 of
#: docs shingle at all still lands on the MinHash side. Between 1× and
#: 4× the crossover, the sampled estimate runs and decides.
EDGE_AUTO_COUNT_ONLY_MARGIN = 4
#: Bytes-gate bound for the zero-job early exit at the SMALL end (round
#: 13): postings = Σ_doc |distinct shingles| ≤ total tokens ≤ total
#: chars ≤ parquet scan bytes × this expansion bound. Measured text
#: expansion on the fixtures is ~2.6× (sf0.1: 584 KB parquet ≈ 1.5 MB
#: of text); 32× is the same generous headroom discipline as
#: operators/caching's expansion bounds. When scan bytes × bound stay
#: under the crossover, the jaccard side is decided WITHOUT the count
#: or the sampled shingle estimate — at the bench SFs that removes two
#: driver actions (~0.3 s/run measured); a corpus big enough to cross
#: always falls through to the measured path. A text column that
#: out-compresses the bound could only mis-route toward the exact
#: (oracle-identical) route — a perf risk at worst, never correctness.
EDGE_AUTO_BYTES_EXPANSION_BOUND = 32

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
               {T.fingerprint_sql(T.normalized_text_sql('text'))} AS fp_normalized
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


def _decide_edge_method(n_docs: int, avg_shingles: float) -> tuple[str, float]:
    """Pure crossover decision (unit-testable at both ends): returns the
    chosen route and the estimated posting count it was based on.
    Delegates the compare-and-log to the shared plans/cost.py seam
    (VERDICT r9 item 7)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.cost import decide_crossover

    est = n_docs * avg_shingles
    d = decide_crossover(
        est,
        EDGE_AUTO_CROSSOVER_POSTINGS,
        "minhash",
        "jaccard",
        "estimated shingle postings",
        logger=_LOG,
        detail=f"{n_docs} docs x {avg_shingles:.1f} shingles/doc",
    )
    return d.choice, est


def choose_edge_method(docs: DataFrame) -> str:
    """Measure the corpus and pick the near-dup edge route (see
    EDGE_AUTO_CROSSOVER_POSTINGS for the measured crossover). Cost of
    the measurement itself: one count (metadata-only on a parquet scan)
    plus one limit-bounded sample aggregate — and the sample is skipped
    entirely when the count alone decides (round 10, margin-guarded in
    round 11): docs with fewer than 3 tokens yield 0 word 3-gram
    shingles, so the avg ≥ 1 floor only holds corpus-wide when short
    docs don't dominate.
    The early exit therefore requires n_docs to clear the crossover by
    EDGE_AUTO_COUNT_ONLY_MARGIN× — past that, even a corpus where only
    1/margin of docs shingle at all still crosses, and at that scale the
    sample's interpreted shingle transform is least welcome. Near the
    threshold we fall through to the measured sample (ADVICE r10).

    Round 13 adds the symmetric zero-job exit at the SMALL end: when the
    scan's file bytes prove the posting estimate cannot reach the
    crossover even at EDGE_AUTO_BYTES_EXPANSION_BOUND× text expansion
    (postings ≤ chars ≤ bytes × bound), the jaccard side is decided from
    metadata alone — the same file-bytes gating as caching.eager_stats
    and the simhash geometry count. Unsizeable scans (remote schemes,
    non-file sources) skip the gate and measure, as before.

    Single-scan assumption (ADVICE r13): the bytes bound holds when
    ``docs``'s rows come from the scanned files roughly once — a
    row-multiplying frame over the same files (self-join, explode) or
    text that out-compresses the 32× bound would under-count postings
    and mis-route to the exact route. That failure is PERF-ONLY (the
    exact side is oracle-identical) and bounded (the gate fires only
    under crossover/bound ≈ 937 KB of scan bytes), so the gate stays a
    bytes check rather than also proving the plan is a bare scan."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import row_count, scan_file_sizes

    sizes = scan_file_sizes(docs)
    if sizes is not None and sum(sizes) * EDGE_AUTO_BYTES_EXPANSION_BOUND <= EDGE_AUTO_CROSSOVER_POSTINGS:
        # the gate condition IS the below-crossover decision ('jaccard'
        # unconditionally inside this branch), so one audit line carries
        # all the evidence — the round-13 shape additionally ran
        # decide_crossover, logging the same stat/crossover/detail twice
        # per pipeline run (ADVICE r13)
        bound = sum(sizes) * EDGE_AUTO_BYTES_EXPANSION_BOUND
        _LOG.info(
            "edge route auto-selected %r from scan bytes alone: %d bytes x %d "
            "bound = %d posting upper bound vs crossover %d (zero decision jobs)",
            "jaccard", sum(sizes), EDGE_AUTO_BYTES_EXPANSION_BOUND, bound,
            EDGE_AUTO_CROSSOVER_POSTINGS,
        )
        return "jaccard"
    n_docs = row_count(docs)
    if n_docs > EDGE_AUTO_CROSSOVER_POSTINGS * EDGE_AUTO_COUNT_ONLY_MARGIN:
        method, _ = _decide_edge_method(n_docs, 1.0)  # count alone decides
        return method
    avg = (
        docs.limit(EDGE_AUTO_SAMPLE_DOCS)
        .select(F.size(F.array_distinct(D.shingles_col("text", 3))).alias("k"))
        .agg(F.avg("k"))
        .first()[0]
        or 0.0
    )
    method, est = _decide_edge_method(n_docs, avg)
    _LOG.info(
        "edge route auto-selected %r: %d docs x %.1f shingles/doc = %.0f "
        "estimated postings vs crossover %d",
        method, n_docs, avg, est, EDGE_AUTO_CROSSOVER_POSTINGS,
    )
    return method


def curate(docs: DataFrame) -> DataFrame:
    """Pipeline over an arbitrary documents DataFrame (doc_id, text, lang)
    — the seam the pathological hot-shingle fixture test drives.

    The near-dup edge source for the clustering stage is picked from
    measured corpus stats by :func:`choose_edge_method` (round 9 —
    VERDICT r8 item 1) against EDGE_AUTO_CROSSOVER_POSTINGS, read at
    call time (tests force either side by patching it): below it, the
    exact shingle-index join with the hot-shingle df cap — the
    oracle-exact shape, where every SF with a hash-exact oracle lands;
    above it, LSH-verified MinHash edges (the measured 0.33x edge route
    at sf100) — identical output wherever LSH recall is 1.0 (this
    corpus: measured 1.0 at sf0.01–sf1, asserted in
    tests/test_pipeline.py; 0.9999+ at sf10/sf100), never over-merging
    anywhere (verified edges ⇒ the partition refines the exact one).

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
        T.fingerprint(T.normalized_text(text)).alias("fp_normalized"),
    )
    # Exact dedup on the 8-byte normalized fingerprint; survivor = min id.
    exact_survivors = qual.groupBy("fp_normalized").agg(F.min("doc_id").alias("doc_id"))
    surv_docs = docs.join(exact_survivors.select("doc_id"), "doc_id", "left_semi")
    # Near-dup clustering over the exact-dedup survivors. Exact route:
    # hot shingles capped out of candidate generation (SHINGLE_DF_CAP);
    # minhash route: the banded equi-join IS the skew bound (band width
    # caps any key's collision mass), so no df cap applies.
    # decide on the RAW input frame: its count is metadata-cheap for a
    # parquet scan (survivors would force the gate+dedup stages an extra
    # time) and upper-bounds the survivor count, so the switch can only
    # trip EARLY — toward the route that wins at scale
    if choose_edge_method(docs) == "jaccard":
        edges = D.jaccard_pairs(surv_docs, JACCARD_T, max_shingle_df=SHINGLE_DF_CAP)
    else:
        edges = D.minhash_near_dups(surv_docs, JACCARD_T)
    edges = edges.select("doc_a", "doc_b")
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
