"""Text-analysis operators for training-data pipelines: token statistics,
quality scoring, language ID, document fingerprinting.

All pure Catalyst expressions (split/filter/transform/aggregate lambdas —
JVM-side, codegen-friendly); no Python UDFs anywhere. Each has an exact
DuckDB rendering (same fold order, same regexes) so the whole surface is
oracle-checkable. Token semantics follow the reference tokenizer: split
on space/newline only (slave.cc:103).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import poly_hash_chars

#: Reference tokenizer (slave.cc:103) as an array expression.
def tokens_col(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(text, "[ \n]"), lambda t: t != "")


def tokens_sql(text_expr: str) -> str:
    return f"list_filter(regexp_split_to_array({text_expr}, '[ \n]'), t -> t <> '')"


#: BPE-ish word/number/symbol pre-tokenizer. Alternation is ordered the
#: same in Java regex and RE2; whitespace class written explicitly so the
#: two engines agree on every byte.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]"


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text)).cast("long")


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish pre-token count — the cheap proxy for 'how many LLM tokens
    will this document cost'."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)).cast("long")


def token_count_bpe_sql() -> str:
    """DuckDB rendering of :func:`token_count_bpe` over ``d.text``."""
    return f"len(regexp_extract_all(d.text, '{BPE_PATTERN}'))::BIGINT"


#: Stopword set for quality scoring. Deliberately small and hardcoded —
#: it is part of the operator's definition, shared with the oracle.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")


def stopword_count(text: Column | str) -> Column:
    toks = tokens_col(text)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("long")


def stopword_count_sql(text_expr: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"len(list_filter({tokens_sql(text_expr)}, t -> list_contains([{words}], t)))::BIGINT"
    )


def punct_count(text: Column | str) -> Column:
    """Number of non-alphanumeric, non-whitespace characters."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit("[^A-Za-z0-9 \t\n]"), 0)).cast("long")


def punct_count_sql(text_expr: str) -> str:
    return f"len(regexp_extract_all({text_expr}, '[^A-Za-z0-9 \t\n]'))::BIGINT"


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-signal feature set. Every ratio is a single division of two
    exact integers, so values are bit-deterministic. Zero-denominator
    docs (empty or whitespace-only text — real corpora have them) yield
    NULL ratios rather than an ANSI divide-by-zero: NULL fails every
    `ratio <= cap` gate comparison, so degenerate docs are dropped, not
    crashed on (found round 6 when the ADVICE-flagged vacuous edge-doc
    test branch got real rows)."""
    text = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(text).cast("long")
    n_tokens = token_count_ws(text)

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den)  # NULL when the denominator is 0

    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": ratio(n_chars - (n_tokens - 1), n_tokens),  # delimiter-adjusted
        "stopword_ratio": ratio(stopword_count(text), n_tokens),
        "punct_ratio": ratio(punct_count(text), n_chars),
    }


#: Language marker words (tiny per-language stopword sets). An n-gram /
#: marker-hit heuristic, not a model: score(lang) = number of tokens in
#: the marker set; prediction = argmax with lexicographic tiebreak.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "and", "of", "is", "a", "to"),
    "es": ("el", "la", "los", "que", "y", "es"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "zh": ("de", "shi", "le", "bu", "wo", "ni"),
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    toks = tokens_col(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")
    return out


def _marker_argmax(scores: dict[str, Column]) -> Column:
    """argmax over per-language marker scores, ties broken by language
    code ascending; 'und' (undetermined) when every score is zero."""
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # iterate in reverse-lexicographic order so the final CASE picks the
    # lexicographically smallest language among ties
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, lang).otherwise(pred)
    return F.when(best == 0, "und").otherwise(pred)


def lang_id(text: Column | str) -> Column:
    """The marker-language argmax (:func:`_marker_argmax`) of ``text``."""
    return _marker_argmax(lang_scores(text))


def lang_id_sql(text_expr: str) -> str:
    toks = tokens_sql(text_expr)
    score = {
        lang: f"len(list_filter({toks}, t -> list_contains([{', '.join(repr(w) for w in ms)}], t)))"
        for lang, ms in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    branches = " ".join(
        f"WHEN {score[lang]} = {best} THEN '{lang}'" for lang in sorted(score)
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {branches} ELSE 'und' END"


def doc_profile(df):
    """The whole per-document feature profile of ``doc_id``/``text``/``lang``
    rows in one scan + two compact shuffles.

    Token-derived features (counts, distinct count, top-token count,
    stopword hits, language marker scores, SimHash bit votes) come from
    ONE explode pass, aggregated in two levels: partial-combined
    groupBy(doc_id, tok) counts first — so the shuffle carries one row
    per DISTINCT (doc, token) pair instead of one per occurrence — then
    flat count-weighted aggregates per doc_id. Per-row evaluation over
    the token array would re-run the tokenizer lambda once per feature
    (higher-order functions are exempt from Catalyst subexpression
    elimination; measured ~2.5× slower at sf0.1), and the two-level form
    additionally yields the Gopher-style top-token fraction for free
    (max(cnt)), which a single-level flat aggregate cannot express.
    Character-level scalars (lengths, punctuation, fingerprints,
    duplicate-n-gram fractions) stay per-row and join back on doc_id.
    """
    from pyspark.sql import DataFrame  # noqa: F401  (signature clarity)
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import (
        poly_hash_token,
        simhash_fold,
        simhash_votes,
    )
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    df = spread(df, by=["doc_id"])  # both branches are CPU-bound per-row work
    text = F.col("text")
    toks = df.select(F.col("doc_id"), F.explode(tokens_col("text")).alias("tok"))
    cnts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    # Project the token hash ONCE per distinct (doc, token) row before the
    # second aggregate. The polynomial fold is an interpreted higher-order
    # lambda (exempt from subexpression elimination), and it feeds all 56
    # SimHash bit votes: referenced inline it would fold 56× per row.
    # A Project under Aggregate is not collapsed into the aggregate
    # expressions, so `_h` evaluates once (measured ~2× on the whole
    # profile at sf0.1; same single-reference discipline as operators/
    # dedup.py::simhash and the round-4 dup-ngram fix).
    cnts = cnts.withColumn("_h", poly_hash_token())
    h = F.col("_h")
    cnt = F.col("cnt")
    aggs = [
        F.sum(cnt).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max(cnt).alias("_top_cnt"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), cnt).otherwise(0)).alias("_n_stop"),
    ]
    for lang, markers in LANG_MARKERS.items():
        aggs.append(
            F.sum(F.when(F.col("tok").isin(*markers), cnt).otherwise(0)).alias(f"_s_{lang}")
        )
    tok_feats = cnts.groupBy("doc_id").agg(*aggs, *simhash_votes(h, cnt))
    lang_pred = _marker_argmax({lang: F.col(f"_s_{lang}") for lang in LANG_MARKERS})

    scalars = df.select(
        F.col("doc_id"),
        F.length(text).cast("long").alias("n_chars"),
        token_count_bpe(text).alias("n_bpe_tokens"),
        punct_count(text).alias("n_punct"),
        F.col("lang").alias("lang_label"),
        poly_hash_chars(text).alias("fp"),
        poly_hash_chars(normalized_text(text)).alias("fp_normalized"),
        dup_ngram_frac(text, 2).alias("dup_bigram_frac"),
        dup_ngram_frac(text, 3).alias("dup_trigram_frac"),
    )
    n_chars, n_tokens = F.col("n_chars"), F.col("n_tokens")
    return scalars.join(tok_feats, "doc_id").select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct",
        "n_bpe_tokens",
        "n_punct",
        ((n_chars - (n_tokens - 1)) / n_tokens).alias("avg_token_len"),
        (F.col("_n_stop").cast("long") / n_tokens).alias("stopword_ratio"),
        (F.col("n_punct") / n_chars).alias("punct_ratio"),
        (F.col("_top_cnt").cast("long") / n_tokens).alias("top_token_frac"),
        "dup_bigram_frac",
        "dup_trigram_frac",
        "lang_label",
        lang_pred.alias("lang_pred"),
        "fp",
        "fp_normalized",
        simhash_fold().alias("simhash"),
    )


def normalized_text(text: Column | str) -> Column:
    """Canonical form for normalized dedup: lowercase, collapse whitespace
    runs, trim."""
    text = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(text), "[ \t\n]+", " "))


def normalized_text_sql(text_expr: str) -> str:
    return f"trim(regexp_replace(lower({text_expr}), '[ \t\n]+', ' ', 'g'))"


# --- Gopher-style repetition gates -----------------------------------------
# Repetition signals from the Gopher data-quality rules (Rae et al. 2021,
# arXiv:2112.11446 table A1): the fraction of n-gram occurrences that are
# repeats of an earlier n-gram in the same document. Heavily repetitive
# documents (boilerplate, keyword stuffing, decode loops) score high.


def dup_ngram_frac(text: Column | str, n: int) -> Column:
    """(occurrences - distinct) / occurrences of word n-grams, 0.0 for
    documents with no n-grams. A single division of two exact ints, so
    values are bit-deterministic.

    The n-gram array is an interpreted ``transform`` lambda (exempt from
    both whole-stage codegen and subexpression elimination), and
    CollapseProject inlines an aliased expression into EVERY reference —
    so the expensive ``shingles_col`` may appear exactly ONCE here (in
    the distinct count). The total n-gram count is derived from the
    token count instead: size(grams) == max(size(toks) - (n-1), 0) by
    construction — pure codegen. Referencing grams for the total as well
    measured ~4× slower at sf0.1."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import shingles_col

    total = F.greatest(F.size(tokens_col(text)) - (n - 1), F.lit(0)).cast("long")
    distinct = F.size(F.array_distinct(shingles_col(text, n))).cast("long")
    return F.when(total == 0, F.lit(0.0)).otherwise((total - distinct) / total)


def dup_ngram_frac_sql(n: int) -> str:
    """DuckDB rendering of :func:`dup_ngram_frac` over ``d.text``."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import shingles_sql

    grams = shingles_sql("d.text", n)
    return (
        f"CASE WHEN len({grams}) = 0 THEN 0.0 ELSE "
        f"(len({grams})::BIGINT - len(list_distinct({grams}))::BIGINT) "
        f"/ len({grams})::BIGINT END"
    )


# --- PII detection / redaction ---------------------------------------------
# Patterns restricted to syntax Java regex and RE2 interpret identically
# (no backreferences, no lookaround, explicit character classes), so the
# scrub is oracle-checkable bit-for-bit.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_IPV4 = r"[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?"

#: Redaction placeholders. Order matters and is part of the operator's
#: definition: emails first (their domains contain dots that the IPv4
#: pattern must never see), then IPv4.
PII_RULES = (("email", PII_EMAIL, "<EMAIL>"), ("ipv4", PII_IPV4, "<IP>"))


def pii_count(text: Column | str, pattern: str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long")


def pii_count_sql(text_expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({text_expr}, '{pattern}'))::BIGINT"


def pii_redact(text: Column | str) -> Column:
    """Replace every PII match with its placeholder, applying the rules
    in PII_RULES order. Pure regexp_replace chain — at 100 TB this is a
    map-only pass with no shuffle."""
    out = F.col(text) if isinstance(text, str) else text
    for _, pattern, placeholder in PII_RULES:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def pii_redact_sql(text_expr: str) -> str:
    out = text_expr
    for _, pattern, placeholder in PII_RULES:
        out = f"regexp_replace({out}, '{pattern}', '{placeholder}', 'g')"
    return out
