"""Reference-parity word-count operators (SURVEY.md §2.1, O1-O9).

The reference's one query is: tokenize an HDFS text file on ``' '`` and
``'\n'`` (slave.cc:101-116), count words with a letter-range partitioned
reduce (slave.cc:149-210, master.cc:311-325), emit per-initial sorted
files (slave.cc:212-228), and print an interactive top-K
(master.cc:395-453). Everything here is declarative DataFrame code, so
Catalyst plans the count as FileScan → Generate → partial HashAggregate →
Exchange(hash word) → final HashAggregate: map-side combine that the
reference lacks (its shuffle is O(M×R) full file re-reads with no
combiner, slave.cc:176-210). Top-K is TakeOrderedAndProject, per-partition
bounded heaps merged on the driver.

The reference counts the corpus once and reads top-K back from its
reducers' outputs (master.cc:406-437). :func:`word_count` does the same:
it materializes the aggregate once, so top-K and the layout both read
its rows instead of each rescanning and re-tokenizing the input. A
composition with one consumer (:func:`word_count_top_k`,
:func:`word_count_layout`) keeps the aggregate lazy inside its own plan,
which needs no job to build and no blocks to hold.

The per-initial layout adds one hash exchange on the initial at the
session's shuffle width, so parallel tasks write one file per initial;
sorting each task by (initial, word) meets the partitioned writer's
required ordering, so the files stay sorted by word.

Intended-semantics fidelity (SURVEY.md §2.5): ties in top-K are KEPT
(the reference collides them, master.cc:431); chunk-boundary handling is
subsumed by line-aligned input splits (the reference's repair code is
buggy, slave.cc:76-134); non-a..z-initial words are kept by default with
a ``reference_parity=True`` mode reproducing the reference's silent drop
(slave.cc:196, master.cc:312-313).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import materialize

#: The reference's exact token delimiter set: space and newline ONLY
#: (slave.cc:103). No lowercasing, no punctuation stripping.
TOKEN_DELIMITERS = "[ \n]"

#: The interactive top-K width (master.cc:395-453 prints the top 100).
TOP_K = 100


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """O3: flatMap a text column into one row per ``word``.

    Exact reference semantics: split on space/newline only, drop empty
    tokens (slave.cc:103 guards ``word != ""``), keep case and punctuation.
    """
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    word = F.explode(F.split(F.col(text_col), TOKEN_DELIMITERS)).alias("word")
    return spread(df).select(word).where(F.col("word") != "")


def key_range_filter(df: DataFrame) -> DataFrame:
    """O5's predicate: keep words whose FIRST character is in [a, z].

    The reference applies this per reducer over ``a..z`` ranges
    (slave.cc:149-157 via master.cc:311-325); the union over all reducers
    is exactly first-char ∈ [a, z] — uppercase/digit/punctuation-initial
    words are silently dropped. Exposed standalone so reference_parity
    mode is one filter, not a bespoke pipeline.
    """
    initial = F.substring(F.col("word"), 1, 1)
    return df.where((initial >= "a") & (initial <= "z"))


def _aggregate(df: DataFrame, text_col: str, *, reference_parity: bool = False) -> DataFrame:
    """O3+O5+O6 as one lazy plan: tokenize then GROUP BY word COUNT(*).

    Catalyst gives partial (map-side) aggregation before the hash shuffle
    — at 100 TB the shuffle carries one row per distinct word per input
    partition, not one row per token occurrence like the reference's
    materialized map files (slave.cc:105-106)."""
    words = tokenize(df, text_col)
    if reference_parity:
        words = key_range_filter(words)
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """O3+O5+O6, materialized once: DataFrame[word: string, cnt: bigint].

    The aggregate is computed once, before this returns
    (:func:`~custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching.materialize`),
    so every consumer of the returned frame — top-K, the layout, a count —
    reads the same rows and the input is scanned once, as in the
    reference (master.cc:406-437). Without a checkpoint directory the rows
    are an executor-local ``localCheckpoint``; with
    ``sparkContext.setCheckpointDir`` set they are a reliable
    ``checkpoint()`` that survives executor loss. The blocks live as long
    as the returned frame: Spark's ContextCleaner drops them once the frame
    and every frame derived from it are garbage collected. It is not a
    result cache: each call recounts its input."""
    return materialize(_aggregate(df, text_col))


def top_k(counts: DataFrame, k: int) -> DataFrame:
    """O9: global top-K by count, ties kept, deterministic order.

    ORDER BY cnt DESC, word ASC LIMIT k → planned as
    TakeOrderedAndProject: per-partition bounded heaps merged on the
    driver, no global sort. The reference instead re-reads every reducer
    file and loses tied words in a count-keyed map (master.cc:405-452).
    """
    return counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(k)


def word_count_top_k(df: DataFrame, reference_parity: bool = False) -> DataFrame:
    """The reference's full query: word-count then top-:data:`TOP_K`, one
    lazy plan."""
    return top_k(_aggregate(df, "text", reference_parity=reference_parity), TOP_K)


def word_count_layout(df: DataFrame) -> DataFrame:
    """Word-count laid out per initial (:func:`partitioned_sorted_counts`),
    one lazy plan."""
    return partitioned_sorted_counts(_aggregate(df, "text"))


def with_initial(df: DataFrame) -> DataFrame:
    """``initial``: first character of the word — the reference's reduce
    partition key (slave.cc:149-157)."""
    return df.withColumn("initial", F.substring(F.col("word"), 1, 1))


def partitioned_sorted_counts(counts: DataFrame) -> DataFrame:
    """O7's user-visible layout: counts keyed by first letter, words sorted
    within each letter partition (output-<letter>.txt, slave.cc:174,219-226).

    One hash exchange on ``initial`` at the session's
    ``spark.sql.shuffle.partitions`` (read per call), then a sort on
    ``(initial, word)`` inside each task:

    - Hashing needs no bounds, so no sampling job runs ahead of it (a
      range exchange samples its input in a job of its own).
    - The explicit width keeps AQE from coalescing the exchange into a
      single task, so the per-initial files are written by ``width``
      tasks in parallel, like the reference's reducers. Every row of one
      initial lands in one task, so the sink writes one file per initial.
    - ``initial`` leads the sort because ``partitionBy("initial")``
      requires its input ordered by the partition column; an ordering
      that satisfies it stops Spark from planning a ``Sort(initial)`` of
      its own, which would discard the word order. The initial is a
      UTF-8 byte prefix of the word, so ``(initial, word)`` orders each
      initial's rows exactly as ``word`` alone does.
    """
    width = int(counts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        with_initial(counts)
        .repartition(width, "initial")
        .sortWithinPartitions("initial", "word")
    )


def write_partitioned_sorted(counts: DataFrame, path: str) -> None:
    """O7 sink: one parquet directory per initial holding one file sorted
    by word, written by parallel tasks (see
    :func:`partitioned_sorted_counts`)."""
    partitioned_sorted_counts(counts).write.mode("overwrite").partitionBy("initial").parquet(path)
