"""Driver-facing word-count queries — the reference's entire query surface
(SURVEY.md §2.1) over the ``documents`` table.

Registry note (round 2, tightened round 4): the driver verifies at most
~50 registry entries, so the word-count family is consolidated to two
queries that still execute every reference operator: ``wc_suite`` — a
tagged union of O3 tokenize + O6 count + O9 top-K (``op='topk'``) and
O5 key-range parity (``op='keyrange'``), each branch keeping its own
plan fragment — and O6 + O7 layout (``wc_partitioned_layout``, whose
counts are the full O6 aggregate).
Per-document stats moved into ``text_doc_profile``.

DuckDB oracle note: the Spark side splits on the reference's exact
delimiter set ``[ \n]`` (slave.cc:103); DuckDB's ``regexp_split_to_array``
with the same RE2 pattern produces identical token streams, and both
sides drop empty tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import TaggedUnion, query
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

_TOKENS_SQL = """
    SELECT unnest(regexp_split_to_array(text, '[ \n]')) AS word
    FROM documents
"""


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-count + top-100: the reference's one query (master.cc:470-480),
    ties kept (§2.5.1)."""
    docs = load_table(spark, sf_dir, "documents")
    return wc.word_count_top_k(docs)


@query(
    "wc_suite",
    oracle=f"""
    SELECT 'topk' AS op, word, cnt FROM (
        SELECT word, count(*) AS cnt
        FROM ({_TOKENS_SQL}) WHERE word <> ''
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT {wc.TOP_K}
    )
  UNION ALL
    SELECT 'keyrange', word, cnt FROM (
        SELECT word, count(*) AS cnt
        FROM ({_TOKENS_SQL})
        WHERE word <> '' AND substr(word, 1, 1) BETWEEN 'a' AND 'z'
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT {wc.TOP_K}
    )
    """,
)
def wc_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's query surface as a tagged union, each branch its
    own Catalyst plan fragment (TakeOrderedAndProject pinned for both in
    tests/test_plans.py):

    - op='topk' — O3+O6+O9: tokenize → count → deterministic top-K
      (ties kept, §2.5.1); identical to the round 1-3 ``wc_top_k``.
    - op='keyrange' — O5 parity mode: drop words whose first char is
      outside a..z, exactly as the reference's reduce key space does
      (master.cc:312-313, slave.cc:149-157); identical to the round 1-3
      ``wc_reference_parity``.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = TaggedUnion("op", word="string", cnt="long")
    return u.union(
        u.branch(flagship(spark, sf_dir), "topk", *u.columns),
        u.branch(wc.word_count_top_k(docs, reference_parity=True), "keyrange", *u.columns),
    )


@query(
    "wc_partitioned_layout",
    oracle=f"""
    SELECT substr(word, 1, 1) AS initial, word, count(*) AS cnt
    FROM ({_TOKENS_SQL}) WHERE word <> ''
    GROUP BY word
    """,
)
def wc_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6+O7: the complete word→count aggregate (the plain partial+final
    ``groupBy``; the salted form in plans/skew.py measured no faster for
    algebraic counts at any scale, SCALE.md §1) laid out in the
    reference's user-visible shape: keyed by initial letter, each
    initial's rows in one hash partition and sorted by word there
    (output-<c>.txt, slave.cc:174,219-226). Hash compare is
    order-insensitive, so the oracle checks content; sortedness is
    asserted in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return wc.word_count_layout(docs).select("initial", "word", "cnt")
