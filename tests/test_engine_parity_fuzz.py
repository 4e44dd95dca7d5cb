"""Property-based cross-engine parity: the portable primitives
(polynomial hashes, tokenizer, shingles, vector folds) must agree
between Spark and DuckDB on *arbitrary* inputs, not just the fixture
corpus — they are the foundation the oracle gate stands on."""

from __future__ import annotations

from unittest import mock

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import (
    poly_hash_chars,
    poly_hash_chars_sql,
    poly_hash_token,
    poly_hash_token_sql,
)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.vector import (
    cosine,
    cosine_sql,
    dot,
    dot_sql,
)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.text import tokens_col, tokens_sql

# printable ASCII incl. the delimiters and regex metacharacters
TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=60,
).map(lambda s: s.replace("\r", " "))


@settings(max_examples=25, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_poly_hashes_match_duckdb(spark, texts):
    df = spark.createDataFrame([(t, t) for t in texts], "t string, tok string")
    got = df.select(poly_hash_chars("t").alias("h"), poly_hash_token().alias("h56")).collect()
    con = duckdb.connect()
    try:
        for t, row in zip(texts, got):
            o = con.execute(
                f"SELECT {poly_hash_chars_sql('?')}, {poly_hash_token_sql()} FROM (SELECT ? AS tok)", [t, t]
            ).fetchone()
            assert (row.h, row.h56) == (o[0], o[1]), repr(t)
    finally:
        con.close()


@settings(max_examples=25, deadline=None)
@given(st.lists(TEXT.map(lambda s: s + "\n" if len(s) % 3 == 0 else s), min_size=1, max_size=6))
def test_tokenizer_matches_duckdb(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(tokens_col("t")).collect()]
    con = duckdb.connect()
    try:
        for t, toks in zip(texts, got):
            o = con.execute(f"SELECT {tokens_sql('?')}", [t]).fetchone()[0]
            assert toks == o, repr(t)
    finally:
        con.close()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_vector_folds_match_duckdb(spark, seed):
    rng = np.random.default_rng(seed)
    rows = [
        (rng.standard_normal(d).astype("float32").tolist(), rng.standard_normal(d).astype("float32").tolist())
        for d in [1, 2, 7, 64, 128]
    ]
    for a, b in rows:
        df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
        r = df.select(dot("a", "b").alias("d"), cosine("a", "b").alias("c")).collect()[0]
        con = duckdb.connect()
        try:
            o = con.execute(
                f"SELECT {dot_sql('$a::FLOAT[]', '$b::FLOAT[]')}, {cosine_sql('$a::FLOAT[]', '$b::FLOAT[]')}",
                {"a": a, "b": b},
            ).fetchone()
        finally:
            con.close()
        assert r.d == o[0] and r.c == o[1], f"dim={len(a)}"


@settings(max_examples=25, deadline=None)
@given(
    st.lists(TEXT.map(lambda s: s + "\n" if len(s) % 3 == 0 else s), min_size=1, max_size=6),
    st.integers(min_value=1, max_value=5),
)
def test_shingles_match_duckdb(spark, texts, n):
    """The word n-gram shingle primitive (the decontamination and Jaccard
    candidate key) must agree on arbitrary inputs including texts shorter
    than n tokens (empty shingle lists on both engines)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import shingles_col, shingles_sql

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(shingles_col("t", n)).collect()]
    con = duckdb.connect()
    try:
        for t, sh in zip(texts, got):
            # tokens_sql('?') appears twice inside shingles_sql -> two params
            o = con.execute(f"SELECT {shingles_sql('?', n)}", [t, t]).fetchone()[0]
            assert sh == o, (n, repr(t))
    finally:
        con.close()


@settings(max_examples=25, deadline=None)
@given(st.lists(TEXT.map(lambda s: s + "\n" if len(s) % 3 == 0 else s), min_size=1, max_size=6))
def test_text_profile_primitives_match_duckdb(spark, texts):
    """Every portable text primitive the dedup/profile oracles stand on:
    normalized form, BPE-ish token count, stopword/punct counts, lang-id,
    fingerprint, and the sampling hash bucket — on arbitrary inputs."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import (
        poly_hash_chars,
        poly_hash_chars_sql,
    )
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import sampling as SA
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import text as T

    df = spark.createDataFrame([(t, t) for t in texts], "t string, doc_id string")
    with mock.patch.object(SA, "SAMPLE_BUCKETS", 13):
        bucket = SA.hash_bucket()
    got = df.select(
        T.normalized_text("t").alias("norm"),
        T.token_count_bpe("t").alias("bpe"),
        T.stopword_count("t").alias("stop"),
        T.punct_count("t").alias("punct"),
        T.lang_id("t").alias("lang"),
        poly_hash_chars("t").alias("fp"),
        bucket.alias("bucket"),
    ).collect()
    con = duckdb.connect()
    try:
        for t, row in zip(texts, got):
            sql = "SELECT " + ", ".join(
                [
                    T.normalized_text_sql("?"),
                    T.token_count_bpe_sql(),
                    T.stopword_count_sql("?"),
                    T.punct_count_sql("?"),
                    T.lang_id_sql("?"),
                    poly_hash_chars_sql("?"),
                    SA.hash_bucket_sql("?", 13),
                ]
            ) + " FROM (SELECT ? AS text) AS d"
            # each twin may expand '?' several times (lang_id alone
            # re-tokenizes per CASE branch)
            o = con.execute(sql, [t] * sql.count("?")).fetchone()
            assert (row.norm, row.bpe, row.stop, row.punct, row.lang, row.fp, row.bucket) == o, repr(t)
    finally:
        con.close()


@settings(max_examples=25, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6), st.sampled_from([2, 3]))
def test_dup_ngram_frac_matches_duckdb(spark, texts, n):
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.text import (
        dup_ngram_frac,
        dup_ngram_frac_sql,
    )

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(dup_ngram_frac("t", n)).collect()]
    con = duckdb.connect()
    try:
        for t, v in zip(texts, got):
            o = con.execute(
                f"SELECT {dup_ngram_frac_sql(n)} FROM (SELECT ? AS text) AS d", [t]
            ).fetchone()[0]
            assert v == o, repr(t)
    finally:
        con.close()


# PII-shaped fragments mixed into arbitrary text: real emails/IPs, near
# misses (trailing dot, missing TLD, 4-digit octets are NOT validated —
# the pattern is syntactic), and regex metacharacters.
PII_FRAGMENTS = st.sampled_from(
    [
        "a.b-c_d@mail.example.org",
        "x@y.io",
        "@nodomain",
        "user@.com",
        "10.0.0.1",
        "999.999.999.999",
        "1.2.3",
        "1.2.3.4.5",
        "v1.2.3.4beta",
        "a@b.c",
    ]
)
PII_TEXT = st.lists(st.one_of(TEXT, PII_FRAGMENTS), min_size=1, max_size=5).map(" ".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(PII_TEXT, min_size=1, max_size=5))
def test_pii_scrub_matches_duckdb(spark, texts):
    """Counts AND redacted text must agree byte-for-byte on adversarial
    near-PII inputs — the Java-regex/RE2 portability claim, fuzzed."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.text import (
        PII_EMAIL,
        PII_IPV4,
        pii_count,
        pii_count_sql,
        pii_redact,
        pii_redact_sql,
    )

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = df.select(
        pii_count("t", PII_EMAIL).alias("e"),
        pii_count("t", PII_IPV4).alias("i"),
        pii_redact("t").alias("red"),
    ).collect()
    con = duckdb.connect()
    try:
        for t, row in zip(texts, got):
            o = con.execute(
                f"SELECT {pii_count_sql('?', PII_EMAIL)}, {pii_count_sql('?', PII_IPV4)}, "
                f"{pii_redact_sql('?')}",
                [t, t, t],
            ).fetchone()
            assert (row.e, row.i, row.red) == (o[0], o[1], o[2]), repr(t)
    finally:
        con.close()


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),   # width
    st.integers(min_value=1, max_value=9),    # height
    st.integers(min_value=1, max_value=5),    # frames
    st.integers(min_value=0, max_value=2**32 - 1),  # byte seed
)
def test_fuzz_y4m_roundtrip(w, h, n, seed):
    """Property: ANY C444 frame content round-trips the Y4M container
    byte-exactly — the codec is a pure container, no value-dependent
    paths. Bytes include 0xFF/newline/'FRAME'-colliding content; the
    length-based frame split must never confuse payload for structure."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, 3, w * h), dtype=np.uint8)
    dw, dh, out = MM.decode_y4m(MM.encode_y4m(w, h, frames))
    assert (dw, dh) == (w, h) and np.array_equal(out, frames)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=3),        # channels
    st.integers(min_value=1, max_value=200),      # samples
    st.integers(min_value=1, max_value=192000),   # rate
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_fuzz_wav_roundtrip(ch, n, rate, seed):
    """Property: any int16 sample content (full range, including values
    whose little-endian bytes spell 'RIFF'/'data') round-trips the WAV
    container exactly, for any channel count and sample rate."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    samples = rng.integers(-(2**15), 2**15, size=(n, ch), dtype=np.int64).astype(np.int16)
    drate, out = MM.decode_wav(MM.encode_wav(rate, samples))
    assert drate == rate and np.array_equal(out, samples)


# multi-byte code points mixed in: the winnow primitive indexes by
# CHARACTER (Spark substr on UTF8String code points, DuckDB substr on
# UTF-8 characters) and hashes the UTF-8 BYTES (md5 both sides) — the
# parity claim is that those two views never disagree.
WINNOW_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=126),
        st.sampled_from("éüñ中文русский🙂🚀"),
    ),
    min_size=0,
    max_size=80,
)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(WINNOW_TEXT, min_size=1, max_size=6),
    st.integers(min_value=2, max_value=6),   # k-gram width
    st.integers(min_value=1, max_value=4),   # winnow window
)
def test_winnow_fingerprints_match_duckdb_fuzz(spark, texts, k, w):
    """The winnowing fingerprint set must be IDENTICAL across engines on
    arbitrary inputs (incl. multi-byte code points and texts shorter
    than the guarantee length) for any (k, w) geometry — the property
    the dedup_exact_suite winnow branch's oracle stands on."""
    from unittest import mock

    import pandas as pd

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    con = duckdb.connect()
    try:
        with mock.patch.multiple(D, WINNOW_K=k, WINNOW_W=w):
            got = {(r.doc_id, r.fp) for r in D.winnow_fingerprints(df).collect()}
            con.register("documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
            oracle = {(r[0], r[1]) for r in con.execute(D.winnow_sql()).fetchall()}
    finally:
        con.close()
    assert got == oracle, (k, w, [repr(t) for t in texts])
