"""Dedup queries over ``documents`` / ``embeddings`` (operators/dedup.py).

Oracle status per operator:
- exact / normalized / fingerprint / jaccard → exact SQL oracle.
- simhash_near_dups → exact oracle too: the pigeonhole block join has
  guaranteed recall for d ≤ blocks-1, so Spark's candidate-join result
  *equals* the oracle's brute-force pair scan. (Per-doc simhash values
  are verified for EVERY document in text_doc_profile.)
- minhash LSH → hash permutations are xxhash64 (not portable to the
  oracle), so the checked row is an in-plan invariant: exact true-pair
  count + zero false positives + recall ≥ 0.7 vs exact Jaccard (recall
  ≥ 0.8 additionally asserted in tests/test_dedup_similarity.py).
- embedding cosine → exact oracle; see the query docstring for the
  incremental batch-vs-corpus scale shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import text as T
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.similarity import cosine_batch_near_dups
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars, poly_hash_chars_sql
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.vector import cosine_sql
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

JACCARD_T = 0.3
COSINE_T = 0.3
#: The "incoming shard" predicate for incremental embedding dedup.
BATCH_PRED = "vec_id % 50 = 0"

_EXACT_SUITE_ORACLE = f"""
    SELECT 'raw' AS kind, text AS key, min(doc_id) AS survivor_id, count(*) AS n_copies
    FROM documents GROUP BY text
  UNION ALL
    SELECT 'normalized', {T.normalized_text_sql('text')}, min(doc_id), count(*)
    FROM documents GROUP BY 2
  UNION ALL
    SELECT 'fingerprint', CAST({poly_hash_chars_sql('text')} AS VARCHAR), min(doc_id), count(*)
    FROM documents GROUP BY 2
  UNION ALL
    SELECT 'winnow', CAST(f.doc_id AS VARCHAR), min(s.first_doc), count(*)
    FROM ({D.winnow_sql()}) f
    JOIN (SELECT fp, count(*) AS cnt, min(doc_id) AS first_doc
          FROM ({D.winnow_sql()}) GROUP BY fp) s USING (fp)
    WHERE s.cnt >= 2
    GROUP BY f.doc_id
  UNION ALL
    SELECT 'contaminated', lang, min(doc_id), count(*) FROM (
        WITH eval_sh AS (
            SELECT flatten(list({D.shingles_sql('text', 3)})) AS l
            FROM documents WHERE doc_id % 101 = 0
        )
        SELECT d.lang, d.doc_id FROM documents d, eval_sh
        WHERE d.doc_id % 101 <> 0
          AND list_has_any({D.shingles_sql('d.text', 3)}, eval_sh.l)
    )
    GROUP BY lang
"""


@query("dedup_exact_suite", oracle=_EXACT_SUITE_ORACLE)
def dedup_exact_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, four key disciplines in one labeled union: the raw
    text (hash-groupBy on the full document), whitespace/case-normalized
    text, the 30-bit rolling-hash fingerprint — at scale the
    fingerprint key is 8 bytes instead of the document, shrinking the
    dedup shuffle by the full text width — and (round 13) winnowing
    substring fingerprints, which catch long shared SPANS inside
    otherwise-distinct documents with guaranteed recall for spans >= 23
    chars. Deterministic survivor = min(doc_id) in every mode.

    Plus benchmark decontamination (`contaminated` branch): documents
    sharing a word n-gram with the held-out eval slice (doc_id % 101),
    counted per language with the first contaminated id as the
    deterministic witness — operators/dedup.py::contaminated_docs,
    broadcast eval-shingle semi join. n=3 because the fixture's 31-word
    vocabulary makes production-length 8-grams vacuously rare."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    # every branch runs CPU-heavy per-row work (normalization regex, the
    # per-char fingerprint fold, shingling) before its first shuffle — a
    # few-split scan would serialize all of it on a few cores (SCALE.md
    # lesson 7), so spread once; the conditional repartition disappears
    # at production split counts
    docs = spread(load_table(spark, sf_dir, "documents"), by=["doc_id"])

    u = TaggedUnion("kind", key="string", survivor_id="long", n_copies="long")
    counts = ("survivor_id", "n_copies")
    raw = u.branch(D.exact_dedup_groups(docs, ["text"]), "raw", *counts, key="text")
    norm = u.branch(
        D.exact_dedup_groups(docs.withColumn("norm_text", T.normalized_text("text")), ["norm_text"]),
        "normalized", *counts, key="norm_text",
    )
    fp = u.branch(
        D.exact_dedup_groups(docs.withColumn("fp", poly_hash_chars("text")), ["fp"]),
        "fingerprint", *counts, key="fp",
    )

    # round 13: the exact-SUBSTRING discipline — whole-document keys
    # (the three branches above) miss near-dups that share long spans
    # inside otherwise-different documents; winnowing fingerprints
    # detect any shared span >= 23 chars with guaranteed recall
    # (operators/dedup.py::winnow_fingerprints). One row per document
    # carrying shared spans: survivor_id = earliest sharing doc,
    # n_copies = the doc's shared-fingerprint count.
    # the window formulation consumes the fingerprint frame exactly once
    # (count/min per fp as whole-partition window functions over one
    # sort-shuffle), so the expensive kernel pass needs no cache
    winnow = u.branch(D.winnow_shared_docs(D.winnow_fingerprints(docs)), "winnow", *counts, key="doc_id")

    eval_slice = docs.where(F.col("doc_id") % 101 == 0)
    rest = docs.where(F.col("doc_id") % 101 != 0)
    contaminated = u.branch(
        rest.join(D.contaminated_docs(rest, eval_slice), "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies")),
        "contaminated", *counts, key="lang",
    )
    return u.union(raw, norm, fp, winnow, contaminated)


#: Shared oracle CTE list computing exact Jaccard near-dup pairs.
_JACCARD_CTES = f"""
    ds AS (
        SELECT DISTINCT doc_id, unnest({D.shingles_sql('text')}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jpairs AS (
        SELECT doc_a, doc_b, ni / (sa.n + sb.n - ni) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ni / (sa.n + sb.n - ni) >= {JACCARD_T}
    )
"""


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard FROM jpairs
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle-inverted-index
    join (no all-pairs stage)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, JACCARD_T)


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
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
        SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
        GROUP BY d.doc_id
    ),
    labeled AS (
        SELECT doc_id, component,
               count(*) OVER (PARTITION BY component) AS cluster_size
        FROM comp
    )
    SELECT 'exact' AS kind, doc_id, component, cluster_size FROM labeled
    UNION ALL
    SELECT 'minhash', doc_id, component, cluster_size FROM labeled
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components over near-dup edges
    (near-duplication is not transitive, so the correct deletion unit is
    the component, not the pair), as a tagged union over BOTH edge
    sources of operators/dedup.py::near_dup_components:

    - kind='exact': edges from the exact shingle-inverted-index Jaccard
      join — the semantically-exact route.
    - kind='minhash' (round 7, VERDICT r6 item 2): edges from
      MinHash-LSH candidates verified with exact Jaccard — a wash with
      the exact route at sf10 and the measured 0.33x route at sf100
      (post-union-fix r9 numbers; SCALE.md lessons 33-34). Verified
      edges make the partition a
      provable REFINEMENT of the exact one (precision 1 ⇒ never
      over-merges); equality to the exact oracle additionally requires
      LSH recall 1.0, which is a measured, deterministic property of the
      fixed-seed banding on this corpus (25/25 pairs at sf0.01, 256/256
      at sf0.1, re-checked at sf1 in the scale runs) with the ≥0.7/0.8
      recall floor independently asserted by dedup_minhash_lsh and
      tests/test_dedup_similarity.py. A future recall miss would surface
      here as an under-merged component — a hash MISMATCH, not a silent
      pass.

    One shingle inverted index feeds both branches' edge generation and
    verification (the minhash-suite sharing discipline). Spark side is
    the iterative hash-min label propagation (one join + one min-agg per
    round, O(log diameter) rounds); the oracle derives components from a
    recursive-CTE transitive closure — an independently-shaped
    implementation of the same semantics. Component label = min doc_id
    (the deterministic survivor); cluster_size = docs per component."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ds = D.shingle_index(docs)
    u = TaggedUnion("kind", doc_id="long", component="long", cluster_size="long")
    branches = [
        u.branch(
            D.near_dup_components(docs, JACCARD_T, edge_method=method, shingles=ds), kind, "doc_id",
            component="comp", cluster_size=F.count(F.lit(1)).over(Window.partitionBy("comp")),
        )
        for kind, method in (("exact", "jaccard"), ("minhash", "minhash"))
    ]
    return D.tie_cache_lifetime(u.union(*branches), ds)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(0 AS BIGINT) AS n_false_positives,
           true AS recall_ge_0_7
    FROM jpairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + 8-band LSH candidates, verified with exact
    Jaccard ≥ threshold.

    The signature permutations are xxhash64 (not expressible in the
    oracle), so the driver-checkable row is the *invariant*, all computed
    in-plan: (exact count of true Jaccard pairs, count of found pairs NOT
    in the true set — provably 0 because the verification join rescores
    with exact Jaccard, and recall ≥ 0.7 against the exact pairs). The
    threshold leaves margin under the ≥ 0.8 recall asserted in
    tests/test_dedup_similarity.py — same (exact, within-tolerance)
    pattern as rel_sketch_suite (hll branch)."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle inverted index feeds both the LSH+verification side and
    # the exact-truth side. The sf10 smoke measured the alternative: two
    # independent ~3 GB shingle caches in one local JVM left too little
    # heap to build broadcast relations (broadcast-build OOM) — and at
    # any scale the second tokenize+explode+distinct pass is pure waste.
    ds = D.shingle_index(docs)
    found = D.minhash_near_dups(docs, threshold=JACCARD_T, shingles=ds).select("doc_a", "doc_b")
    true_pairs = D.jaccard_pairs(docs, JACCARD_T, shingles=ds).select("doc_a", "doc_b")
    n_true = true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_hits = (
        found.join(true_pairs, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_fp = (
        found.join(true_pairs, ["doc_a", "doc_b"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_false_positives"))
    )
    return D.tie_cache_lifetime(
        n_true.crossJoin(n_hits)
        .crossJoin(n_fp)
        .select(
            "n_true_pairs",
            "n_false_positives",
            (F.col("n_hits") >= 0.7 * F.col("n_true_pairs")).alias("recall_ge_0_7"),
        ),
        ds,
    )


@query(
    "dedup_simhash_near",
    oracle=f"""
    WITH s AS ({D.simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (hamming ≤ 3) via pigeonhole block equi-join —
    guaranteed-recall candidates, so identical to the oracle's brute
    force."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, max_distance=3)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.{BATCH_PRED}
      AND {cosine_sql('a.embedding', 'b.embedding')} >= {COSINE_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, incremental shape: every corpus vector within
    cosine ≥ t of an *incoming batch* vector (the daily-shard-vs-corpus
    dedup a training pipeline actually runs). The bounded batch
    broadcasts; the corpus streams through one scan — linear in corpus
    size, no shuffle, no quadratic stage (asserted in tests/test_plans.py).

    Scale rationale: at t as low as {COSINE_T} a full self-join is
    irreducibly quadratic (no LSH family prunes at that angle — measured
    on this corpus: the threshold sits inside the bulk of the cosine
    distribution, max pair ≈ 0.51). The engine therefore offers this
    exact incremental form for low thresholds, and banded hyperplane LSH
    + exact rescore (operators/similarity.py::cosine_near_dup_pairs) for
    true near-dup thresholds, where band agreement is dense and pruning
    is real (recall-1 planted-dup parity asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.where(F.expr(BATCH_PRED))
    return cosine_batch_near_dups(batch, emb, COSINE_T)
