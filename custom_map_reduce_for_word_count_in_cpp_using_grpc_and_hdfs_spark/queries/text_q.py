"""Text-analysis queries over ``documents`` — token stats, quality
scoring, language ID, fingerprinting (all oracle-checked bit-for-bit;
see operators/text.py for the shared Spark/DuckDB definitions).

Registry note (round 2): the per-document scalar features are one wide
``text_doc_profile`` query (each feature is still its own expression;
a wide projection costs one scan). The profile also carries the per-doc
SimHash — verifying every document's fingerprint, not just those that
surface in dedup pairs — and per-doc token counts (the former
wc_per_document)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars, poly_hash_chars_sql
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import text as T
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import row_count, spread
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table


#: Gopher-style repetition gate thresholds (chosen so both classes are
#: populated at every fixture SF: sf0.01 medians are top_token_frac
#: 0.093, dup_bigram_frac 0.028).
GATE_MAX_TOP_TOKEN_FRAC = 0.1
GATE_MAX_DUP_BIGRAM_FRAC = 0.04

#: Deterministic PII graft: the fixture corpus contains no PII, so both
#: engines prepend the SAME synthetic email + IPv4 (pure functions of
#: doc_id — the mm_suite payload pattern) and the detection + redaction
#: machinery is then proven byte-exact via counts and a rolling-hash
#: fingerprint of the scrubbed text.
_PII_GRAFT_SQL = (
    "('contact user' || d.doc_id || '@example.com from 10.' || (d.doc_id % 256)"
    " || '.0.' || (d.doc_id % 100) || ' ' || d.text)"
)


@query(
    "text_doc_profile",
    oracle=f"""
    WITH sh AS ({{SIMHASH_CTE}}),
    tt AS (
        SELECT doc_id, max(c)::BIGINT AS top_cnt FROM (
            SELECT doc_id, count(*) AS c FROM (
                SELECT doc_id, unnest({T.tokens_sql('text')}) AS tok FROM documents
            ) GROUP BY doc_id, tok
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           length(d.text)::BIGINT AS n_chars,
           len({T.tokens_sql('d.text')})::BIGINT AS n_tokens,
           len(list_distinct({T.tokens_sql('d.text')}))::BIGINT AS n_distinct,
           {T.token_count_bpe_sql()} AS n_bpe_tokens,
           {T.punct_count_sql('d.text')} AS n_punct,
           (length(d.text)::BIGINT - (len({T.tokens_sql('d.text')})::BIGINT - 1))
             / len({T.tokens_sql('d.text')})::BIGINT AS avg_token_len,
           {T.stopword_count_sql('d.text')} / len({T.tokens_sql('d.text')})::BIGINT AS stopword_ratio,
           {T.punct_count_sql('d.text')} / length(d.text)::BIGINT AS punct_ratio,
           tt.top_cnt / len({T.tokens_sql('d.text')})::BIGINT AS top_token_frac,
           {T.dup_ngram_frac_sql(2)} AS dup_bigram_frac,
           {T.dup_ngram_frac_sql(3)} AS dup_trigram_frac,
           (tt.top_cnt / len({T.tokens_sql('d.text')})::BIGINT <= {GATE_MAX_TOP_TOKEN_FRAC}
            AND {T.dup_ngram_frac_sql(2)} <= {GATE_MAX_DUP_BIGRAM_FRAC})
             AS gate_repetition,
           {T.pii_count_sql(_PII_GRAFT_SQL, T.PII_EMAIL)} AS n_pii_emails,
           {T.pii_count_sql(T.pii_redact_sql(_PII_GRAFT_SQL), T.PII_EMAIL)
            } AS n_pii_emails_after,
           {T.pii_count_sql(_PII_GRAFT_SQL, T.PII_IPV4)} AS n_pii_ipv4,
           {poly_hash_chars_sql(T.pii_redact_sql(_PII_GRAFT_SQL))} AS fp_pii_redacted,
           d.lang AS lang_label,
           {T.lang_id_sql('d.text')} AS lang_pred,
           {poly_hash_chars_sql('d.text')} AS fp,
           {poly_hash_chars_sql(T.normalized_text_sql('d.text'))} AS fp_normalized,
           sh.simhash
    FROM documents d JOIN sh ON d.doc_id = sh.doc_id JOIN tt ON d.doc_id = tt.doc_id
    """,
)
def text_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document feature profile a training-data pipeline computes
    in one pass: size/token statistics (whitespace + BPE-ish counts),
    quality signals (each ratio one division of exact ints), Gopher-style
    repetition gates (top-token fraction from the two-level token
    aggregate; duplicate bi/trigram fractions as per-row array
    expressions; a boolean pass flag), PII detection + redaction proven
    byte-exact over a deterministic graft (emails + IPv4s are pure
    functions of doc_id since the fixture has no real PII; the redacted
    text's rolling-hash fingerprint and before/after match counts are
    the evidence), marker-word language ID (argmax with lexicographic
    tiebreak, 'und' when no marker hits), rolling-hash fingerprints of
    raw and normalized text, and the 56-bit SimHash. One scan + one
    explode pass with two compact shuffles computes every token-derived
    feature; character scalars and the whole PII branch stay per-row,
    shuffle-free (operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    profile = T.doc_profile(docs)
    graft = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
        F.lit(" "), F.col("text"),
    )
    # the PII branch is all per-row regex chains plus the per-char
    # fingerprint fold — spread the scan or it serializes on the file's
    # split count (SCALE.md lesson 7; no-op at production split counts)
    pii = spread(load_table(spark, sf_dir, "documents"), by=["doc_id"]).select(
        "doc_id",
        T.pii_count(graft, T.PII_EMAIL).alias("n_pii_emails"),
        T.pii_count(T.pii_redact(graft), T.PII_EMAIL).alias("n_pii_emails_after"),
        T.pii_count(graft, T.PII_IPV4).alias("n_pii_ipv4"),
        poly_hash_chars(T.pii_redact(graft)).alias("fp_pii_redacted"),
    )
    gate = (
        (F.col("top_token_frac") <= GATE_MAX_TOP_TOKEN_FRAC)
        & (F.col("dup_bigram_frac") <= GATE_MAX_DUP_BIGRAM_FRAC)
    ).alias("gate_repetition")
    return profile.withColumn("gate_repetition", gate).join(pii, "doc_id")


# Render the simhash CTE into the oracle after registration (import-time
# f-string would need quadruple braces; this keeps the SQL readable).
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import ORACLE_SQL as _OSQL  # noqa: E402
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import simhash_sql as _simhash_sql  # noqa: E402

_OSQL["text_doc_profile"] = _OSQL["text_doc_profile"].replace(
    "{SIMHASH_CTE}", _simhash_sql()
)


@query(
    "text_vocab_suite",
    oracle=f"""
    SELECT 'bpe' AS kind, term, cnt FROM (
        SELECT tok AS term, count(*) AS cnt FROM (
            SELECT unnest(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS tok FROM documents
        )
        GROUP BY tok
        ORDER BY cnt DESC, tok ASC
        LIMIT 50
    )
  UNION ALL
    SELECT 'bigram', term, cnt FROM (
        SELECT bigram AS term, count(*) AS cnt FROM (
            SELECT unnest(list_transform(
                generate_series(1, greatest(len({T.tokens_sql('text')}) - 1, 0)),
                i -> array_to_string(list_slice({T.tokens_sql('text')}, i, i + 1), ' ')
            )) AS bigram
            FROM documents
        )
        GROUP BY bigram
        ORDER BY cnt DESC, bigram ASC
        LIMIT 40
    )
    """,
)
def text_vocab_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary surfaces, one tagged union (round-4 registry
    consolidation of the former text_bpe_vocab + text_bigrams):

    - kind='bpe': top 50 under the BPE-ish pre-tokenizer.
    - kind='bigram': top 40 word-bigram frequencies (n-gram surface,
      n=2) — same shingle machinery as dedup, exposed as text analysis.

    Each branch keeps its own explode→groupBy→TakeOrderedAndProject
    plan fragment over the spread scan."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import shingles_col

    docs = spread(load_table(spark, sf_dir, "documents"), by=["doc_id"])
    u = TaggedUnion("kind", term="string", cnt="long")

    def top(terms: Column, limit: int) -> DataFrame:
        return (
            docs.select(F.explode(terms).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("term").asc())
            .limit(limit)
        )

    return u.union(
        u.branch(top(F.regexp_extract_all("text", F.lit(T.BPE_PATTERN), 0), 50), "bpe", *u.columns),
        u.branch(top(shingles_col("text", 2), 40), "bigram", *u.columns),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf FROM (
            SELECT doc_id, unnest(regexp_split_to_array(text, '[ \n]')) AS word
            FROM documents
        ) WHERE word <> ''
        GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, word,
           tf * CAST(round(ln((n.n_docs + 1.0) / (df.df + 1.0)) * 1000000) AS BIGINT)
             AS tfidf_micro
    FROM tf JOIN df USING (word) CROSS JOIN n
    WHERE doc_id % 25 = 0
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scores as exact integers.

    idf = ln((N+1)/(df+1)) is transcendental, so raw doubles can differ
    by an ULP across libm implementations; quantizing idf to integer
    micro-units before the tf multiplication makes every score an exact
    int (the quantization boundary is ~10 orders of magnitude wider than
    libm disagreement). At scale this is two aggregations (tf, df) and
    one broadcast-joined doc count — no MLlib fit needed. N is
    :func:`row_count` of the bare scan (its parquet footers), so building
    the query launches no job.
    """
    docs = load_table(spark, sf_dir, "documents")
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.text import tokens_col

    words = spread(docs, by=["doc_id"]).select("doc_id", F.explode(tokens_col("text")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = row_count(docs)
    idf_micro = F.round(F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) * 1000000).cast("long")
    return (
        tf.join(df.withColumn("idf_micro", idf_micro), "word")
        .where(F.col("doc_id") % 25 == 0)
        .select("doc_id", "word", (F.col("tf") * F.col("idf_micro")).alias("tfidf_micro"))
    )
