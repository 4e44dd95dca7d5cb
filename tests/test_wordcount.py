"""Golden + property tests for the reference-parity word-count surface
(SURVEY.md §5.2-§5.3, FIXTURES.md §1.2)."""

from __future__ import annotations

import gc
import re
import time
from collections import Counter

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

from .conftest import SF_CORRECT, formatted_plan, jobs_launched


def counts_of(spark, text: str) -> dict[str, int]:
    df = spark.createDataFrame([(text,)], "text string")
    return {r.word: r.cnt for r in wc.word_count(df).collect()}


def test_delimiters_space_newline_only(spark):
    # tabs and punctuation are NOT delimiters (slave.cc:103)
    got = counts_of(spark, "a b\nc\td e.f")
    assert got == {"a": 1, "b": 1, "c\td": 1, "e.f": 1}


def test_empty_tokens_suppressed(spark):
    got = counts_of(spark, "  a   b \n\n a  ")
    assert got == {"a": 2, "b": 1}


def test_case_sensitive(spark):
    got = counts_of(spark, "Apple apple APPLE apple")
    assert got == {"Apple": 1, "apple": 2, "APPLE": 1}


def test_punctuation_retained(spark):
    got = counts_of(spark, "end. end end.")
    assert got == {"end.": 2, "end": 1}


def test_reference_parity_drops_non_az_initial(spark):
    df = spark.createDataFrame([("apple Apple 42nd !bang zebra",)], "text string")
    got = {r.word for r in wc.word_count_top_k(df, reference_parity=True).collect()}
    # uppercase/digit/punct-initial words dropped (master.cc:312-313, slave.cc:149-157)
    assert got == {"apple", "zebra"}


def test_top_k_keeps_ties(spark, monkeypatch):
    # the reference collides equal counts (master.cc:431); we keep both
    df = spark.createDataFrame([("x x y y z",)], "text string")
    monkeypatch.setattr(wc, "TOP_K", 2)
    top2 = wc.word_count_top_k(df).collect()
    assert [(r.word, r.cnt) for r in top2] == [("x", 2), ("y", 2)]


def test_partitioned_layout_sorted_within_initial(spark):
    df = spark.createDataFrame([("banana apple cherry avocado berry",)], "text string")
    out = wc.partitioned_sorted_counts(wc.word_count(df))
    # within each partition, words must be sorted (slave.cc:219-226 semantics)
    for part_rows in out.rdd.glom().collect():
        words = [r.word for r in part_rows]
        assert words == sorted(words)


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=" \nabAB.!0", min_size=0, max_size=80))
def test_count_conservation(spark, text):
    # Σ counts == number of non-empty tokens (SURVEY.md §5.3)
    expected = [t for t in text.replace("\n", " ").split(" ") if t]
    got = counts_of(spark, text)
    assert sum(got.values()) == len(expected)
    assert set(got) == set(expected)


@settings(max_examples=15, deadline=None)
@given(
    st.text(alphabet=" \nab", min_size=1, max_size=60),
    st.integers(min_value=1, max_value=59),
)
def test_chunk_boundary_invariance(spark, text, split_at):
    """Counts are invariant under any byte-split of the input — the
    property the reference's boundary-repair code intends but fails to
    guarantee (slave.cc:76-99,119-134; SURVEY.md §2.5.2-4). Our engine
    gets it from line-aligned splits; simulated here by splitting the
    corpus into two documents at a token boundary-respecting merge."""
    split_at = min(split_at, len(text))
    # a byte split mid-word would change token semantics; the reference's
    # *intent* is that chunk boundaries behave like this token-safe merge:
    whole = counts_of(spark, text)
    left, right = text[:split_at], text[split_at:]
    if left.endswith((" ", "\n")) or right.startswith((" ", "\n")) or not left or not right:
        # split at a delimiter → two independent documents must sum to the whole
        df = spark.createDataFrame([(left,), (right,)], "text string")
        split_counts = {r.word: r.cnt for r in wc.word_count(df).collect()}
        assert split_counts == whole


def _write_corpus(root, files: dict[str, str]) -> Counter:
    """Write ``files`` (name → text) under ``root``; return the pure-Python
    count of their space/newline-delimited words."""
    root.mkdir(exist_ok=True)
    counts: Counter = Counter()
    for name, text in files.items():
        (root / name).write_text(text)
        counts.update(w for w in re.split("[ \n]", text) if w)
    return counts


def _layout_counts(spark, path: str) -> dict[str, int]:
    return {r.word: r.cnt for r in spark.read.parquet(path).collect()}


def _top(counts: Counter, k: int) -> list[tuple[str, int]]:
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_word_count_scans_its_input_once(spark, tmp_path):
    """Top-K and the per-initial layout both read one ``word_count`` frame,
    so every input line is read once, as the reference reads its reducers'
    outputs back for top-K (master.cc:406-437) instead of recounting."""
    texts = {f"part-{i}.txt": "\n".join(f"w{i}{j % 7} a{j % 3} b" for j in range(40)) + "\n" for i in range(3)}
    expected = _write_corpus(tmp_path / "corpus", texts)
    n_lines = sum(t.count("\n") for t in texts.values())
    lines_read = spark.sparkContext.accumulator(0)

    def counted(batches):
        for batch in batches:
            lines_read.add(len(batch))
            yield batch

    text = spark.read.text(str(tmp_path / "corpus")).mapInPandas(counted, "value string")
    counts = wc.word_count(text, "value")
    top = [(r.word, r.cnt) for r in wc.top_k(counts, 5).collect()]
    wc.write_partitioned_sorted(counts, str(tmp_path / "layout"))

    assert lines_read.value == n_lines
    assert top == _top(expected, 5)
    assert _layout_counts(spark, str(tmp_path / "layout")) == dict(expected)


def test_single_consumer_compositions_stay_lazy(spark):
    """``wc_suite`` (through ``word_count_top_k``) and
    ``wc_partitioned_layout`` each read the aggregate once inside their
    own plan: no materialized RDD scan, partial + final ``HashAggregate``,
    and no job to build them once the table's schema is known."""
    for name in ("wc_suite", "wc_partitioned_layout"):
        QUERIES[name](spark, SF_CORRECT)  # the first read of a table infers its schema
        built = []
        assert jobs_launched(spark, lambda: built.append(QUERIES[name](spark, SF_CORRECT))) == 0, name
        plans = built[0]._jdf.queryExecution().toString()
        assert "ExistingRDD" not in plans and "LogicalRDD" not in plans, name
        assert formatted_plan(built[0]).count("HashAggregate") >= 2, name


def test_word_count_is_not_a_result_cache(spark, tmp_path):
    """A second ``word_count`` over a rewritten corpus counts the new text,
    and the materialized blocks die with the frames that read them."""
    sc = spark.sparkContext

    def storage() -> set[int]:
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}  # noqa: SLF001

    before = storage()
    corpus = tmp_path / "corpus"
    texts = {"part-0.txt": "x x x y\n", "part-1.txt": "y z\n"}
    for round_ in range(2):
        if round_:
            texts["part-1.txt"] = "z z z z q\n"
        expected = _write_corpus(corpus, texts)
        counts = wc.word_count(spark.read.text(str(corpus)), "value")
        layout = str(tmp_path / f"layout-{round_}")
        assert [(r.word, r.cnt) for r in wc.top_k(counts, 2).collect()] == _top(expected, 2)
        wc.write_partitioned_sorted(counts, layout)
        assert _layout_counts(spark, layout) == dict(expected)
    assert storage() - before, "word_count held no materialized blocks"

    del counts
    deadline = time.monotonic() + 60
    while storage() - before and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.java.lang.System.gc()
        time.sleep(0.5)
    assert not storage() - before, "materialized word counts outlived their frames"
