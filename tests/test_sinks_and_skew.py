"""Write-path format coverage, partitioned sorted sink layout, and the
salted aggregation helper."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_word_count
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.sinks import roundtrip

from .conftest import SF_SMOKE

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sink-tests")


def test_format_roundtrips(spark, tmp_path_factory):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    expected = sorted(tuple(r) for r in docs.collect())
    for fmt in ["parquet", "orc", "json", "csv"]:
        path = os.path.join(SCRATCH, f"roundtrip_{fmt}")
        back = roundtrip(spark, docs, path, fmt)
        got = sorted((r.doc_id, r.lang, r.n_chars) for r in back.select("doc_id", "lang", "n_chars").collect())
        assert got == expected, fmt


def _layout_files(path):
    """{initial directory: [part files]} of a written layout; asserts every
    file's ``word`` column is sorted and every directory holds one file."""
    import glob

    import pyarrow.parquet as pq

    files = {
        d: sorted(glob.glob(os.path.join(path, d, "part-*.parquet")))
        for d in os.listdir(path)
        if d.startswith("initial=")
    }
    for d, parts in files.items():
        assert len(parts) == 1, (d, parts)
        words = pq.read_table(parts[0], columns=["word"]).column("word").to_pylist()
        assert words == sorted(words), d
    return files


def test_partitioned_sorted_sink_layout(spark):
    """The reference's output-<initial> layout (slave.cc:174,219-226):
    one directory per initial holding one file, rows sorted by word."""
    docs = load_table(spark, SF_SMOKE, "documents")
    counts = wc.word_count(docs)
    path = os.path.join(SCRATCH, "wc_layout")
    wc.write_partitioned_sorted(counts, path)
    assert len(_layout_files(path)) > 1
    back = spark.read.parquet(path)
    assert back.where(F.substring("word", 1, 1) != F.col("initial")).count() == 0
    # global counts survive the layout
    total = back.agg(F.sum("cnt")).collect()[0][0]
    assert total == wc.tokenize(docs).count()


def test_partitioned_layout_plan_and_width(spark):
    """The layout is one hash exchange on ``initial`` at the session's
    shuffle width (no range exchange, so no sampling job), and the write
    keeps one sorted file per initial when that width is 1 (one task
    writes every initial) and when it exceeds the number of initials
    (most tasks are empty)."""
    import re

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.explain import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    counts = wc.word_count(docs)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    plan = formatted_plan(wc.partitioned_sorted_counts(counts))
    assert re.search(rf"hashpartitioning\(initial#\d+, {width}\)", plan), plan
    assert "rangepartitioning" not in plan

    n_initials = counts.select(F.substring("word", 1, 1)).distinct().count()
    try:
        for w in (1, n_initials + 5):
            spark.conf.set("spark.sql.shuffle.partitions", str(w))
            path = os.path.join(SCRATCH, f"wc_layout_w{w}")
            wc.write_partitioned_sorted(counts, path)
            assert len(_layout_files(path)) == n_initials, w
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)


def test_text_source_roundtrip(spark):
    """Raw text source (the reference's input shape): write words as text
    lines, read back via read_text_corpus, counts must match."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.registry import read_text_corpus

    docs = load_table(spark, SF_SMOKE, "documents")
    path = os.path.join(SCRATCH, "text_corpus")
    docs.select("text").write.mode("overwrite").text(path)
    corpus = read_text_corpus(spark, path)
    direct = wc.word_count(docs).orderBy("word").collect()
    via_text = wc.word_count(corpus, text_col="value").orderBy("word").collect()
    assert [(r.word, r.cnt) for r in direct] == [(r.word, r.cnt) for r in via_text]


def _split_edge_corpus(split: int, n_edges: int) -> bytes:
    """Deterministic text whose byte offsets ``k * split`` fall inside a
    multi-byte UTF-8 character for odd ``k`` and on a newline for even
    ``k`` — the cuts the reference's byte-range chunking mishandles
    (slave.cc:76-134)."""
    import random

    rng = random.Random(7)
    narrow = ["the", "of", "word", "split", "Zed"]
    wide = ["日本語", "Ωmega", "ïn", "😀ok", "жук"]
    out = bytearray()
    for k in range(1, n_edges + 1):
        edge = k * split
        while edge - len(out) > 2:  # a token cut short never reaches the edge
            token = rng.choice(narrow).encode()[: edge - len(out) - 2]
            out += token + (b"\n" if rng.random() < 0.2 else b" ")
        if edge - len(out) == 2:
            out += b"b"
        if k % 2:  # first character of a wide token starts one byte before the edge
            out += rng.choice(wide).encode() + b" "
        else:  # the line ends right at the edge
            out += b"\n"
    return bytes(out + b"tail " + "ünï\n".encode())


def test_text_split_boundaries_exact(spark, tmp_path):
    """Split-boundary exactness on a real multi-split text scan: with
    splits of a few hundred bytes cut inside multi-byte characters and at
    line ends, ``read_text_corpus`` + ``word_count`` equal a Counter over
    the file's lines."""
    from collections import Counter

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.registry import read_text_corpus

    split, edges = 256, 16
    data = _split_edge_corpus(split, edges)
    assert all(data[k * split] & 0xC0 == 0x80 for k in range(1, edges + 1, 2))  # mid-character cuts
    path = tmp_path / "corpus.txt"
    path.write_bytes(data)
    expected = Counter(t for line in data.decode().split("\n") for t in line.split(" ") if t)

    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, str(split))
        corpus = read_text_corpus(spark, str(path))
        assert corpus.rdd.getNumPartitions() > 1
        got = {r.word: r.cnt for r in wc.word_count(corpus, text_col="value").collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == dict(expected)


def test_hadoop_fs_scheme_roundtrip(spark):
    """The Hadoop FileSystem API path — the reference's only connector is
    HDFS (hdfsConnect at master.cc:190, slave.cc:49). Spark reaches any
    Hadoop-compatible filesystem through the scheme in the path URI; the
    locally-verifiable scheme is file://, exercised explicitly (same
    resolution code path an hdfs:// / s3a:// URI takes), both through
    the DataFrame reader and the raw Hadoop FS client."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    path = os.path.join(SCRATCH, "fs_scheme")
    docs.write.mode("overwrite").parquet(f"file://{path}")
    back = spark.read.parquet(f"file://{path}")
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in docs.collect())
    # the FileSystem client itself (what the reference calls libhdfs for)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI(f"file://{path}"), hconf)
    statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(f"file://{path}"))
    assert any(s.getPath().getName().endswith(".parquet") for s in statuses)


def test_salted_word_count_equals_plain(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    words = wc.tokenize(docs)
    plain = {(r.word, r.cnt) for r in wc.word_count(docs).collect()}
    salted = {(r.word, r.cnt) for r in salted_word_count(words).collect()}
    assert salted == plain


@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_salted_join_equals_plain_join(spark, how):
    """salted_join must be multiset-identical to the plain equi-join for
    every supported join type, on a fixture with all the hard cases:
    null keys on both sides, keys unmatched on either side, duplicate
    keys on both sides (fan-out), and a hot key concentrated in ONE
    input partition (the scenario the per-row salt exists for)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_join

    big_rows = (
        [(7, f"hot{i}") for i in range(500)]  # hot key, single partition
        + [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "n1"), (None, "n2"), (9, "only_big")]
    )
    big = spark.createDataFrame(big_rows, "k int, bv string").repartitionByRange(4, "k")
    small = spark.createDataFrame(
        [(7, "s7"), (1, "s1a"), (1, "s1b"), (2, "s2"), (None, "sn"), (42, "only_small")],
        "k int, sv string",
    )
    plain = big.join(small, ["k"], how).select("k", "bv", "sv")
    salted = salted_join(big, small, "k", num_salts=8, how=how).select("k", "bv", "sv")
    nullsafe = lambda rows: sorted(
        (tuple((v is None, v) for v in r) for r in rows), key=str
    )
    assert nullsafe(plain.collect()) == nullsafe(salted.collect())


# Outside the l_orderkey domain (orderkeys are >= 1), so no genuine key
# silently merges into the hot one — orderkey 1 used to (1 % 3 != 0 maps
# its rows to jk=1), slightly distorting the hot share and dim
# cardinality (ADVICE r9).
HOT_KEY = -1


def _skewed_frames(spark, sf_dir: str):
    """lineitem with every orderkey ≡ 0 (mod 3) remapped to HOT_KEY (~1/3
    of all rows), and a dim of the skewed frame's distinct keys plus a
    payload."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    skewed = li.withColumn(
        "jk", F.when(F.col("l_orderkey") % 3 == 0, F.lit(HOT_KEY)).otherwise(F.col("l_orderkey"))
    )
    dim = (
        skewed.select("jk").distinct()
        # payload wide (64B) AND incompressible: the first attempt's 16B
        # payload let the static planner broadcast the dim (skew never
        # touched the wire), and a repeat('p',64) retry compressed ~100:1
        # in the exchange so AQE converted the SMJ to broadcast at
        # runtime — whose driver-side collect then blew maxResultSize on
        # the 16x-replicated salted side. Hash-derived bytes keep the
        # ~10M-row dim over the broadcast threshold in BOTH planners, so
        # every strategy pays a genuine fact-fact shuffle join.
        .withColumn(
            "dim_payload",
            F.concat(F.md5(F.col("jk").cast("string")),
                     F.md5((F.col("jk") + 1).cast("string"))),
        )
    )
    return skewed, dim


def test_skewed_fact_join_strategies_agree(spark):
    """VERDICT r8 item 5: the deliberately skewed fact-fact join shape
    (every orderkey ≡ 0 mod 3 remapped to ONE hot key, so the hot key
    carries ~1/3 of all rows — the exact fixture tools/skew_join_ab.py at
    e49ef4e timed at sf10) must produce identical results under all three
    documented strategies: plain join with AQE skew-join ON, plain join
    with it OFF, and the salted_join fallback."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_join

    skewed, dim = _skewed_frames(spark, SF_SMOKE)
    hot_rows = skewed.where(F.col("jk") == HOT_KEY).count()
    assert hot_rows >= skewed.count() // 4  # the fixture is genuinely skewed

    def result(df):
        return sorted(
            map(tuple, df.groupBy("jk").agg(F.count(F.lit(1)).alias("n"),
                                            F.min("dim_payload").alias("p")).collect())
        )

    plain = result(skewed.join(dim, "jk"))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        no_skew_aqe = result(skewed.join(dim, "jk"))
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    salted = result(salted_join(skewed, dim, "jk", num_salts=8))
    assert plain == no_skew_aqe == salted and plain


def test_auto_skew_join_decision_and_equality(spark, caplog):
    """auto_skew_join (lesson 35 operationalized): the pure decision is
    pinned at both measured ends (1/3-hot stays plain, 2/3-hot salts,
    boundary exclusive, empty frame plain), the selection is logged via
    the shared plans/cost seam, BOTH branches produce the plain join's
    exact multiset, the pre-pass is ONE Spark action (round-10: max and
    sum ride the same rollup — the r9 shape paid a collect + a count),
    and precomputed ``stats=`` skips it entirely."""
    import logging as _logging

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import (
        SALT_HOT_SHARE_THRESHOLD,
        _decide_salting,
        auto_skew_join,
        measure_key_skew,
    )

    assert _decide_salting(20, 60, SALT_HOT_SHARE_THRESHOLD) == (False, 20 / 60)
    assert _decide_salting(40, 60, SALT_HOT_SHARE_THRESHOLD)[0] is True
    assert _decide_salting(30, 60, SALT_HOT_SHARE_THRESHOLD)[0] is False  # exclusive
    assert _decide_salting(0, 0, SALT_HOT_SHARE_THRESHOLD) == (False, 0.0)

    small = spark.createDataFrame([(1, "hot"), (2, "s2"), (5, "s5")], "k int, sv string")
    logger = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew"

    # Count driver-side ACTIONS fired by the decision path (the returned
    # join is lazy, so everything counted here is pre-pass). AQE splits
    # one query into several Spark jobs, so job counts can't pin this;
    # action counts can: the r9 shape fired collect+count = 2, the
    # single-rollup shape fires exactly 1 (first -> one inner collect).
    from unittest import mock

    try:  # pyspark>=4: the live class is classic.DataFrame, which
        # OVERRIDES collect/count — patching the abstract base is a no-op
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pragma: no cover — pyspark 3.x
        from pyspark.sql import DataFrame as _DF

    actions = {"n": 0}
    real_collect, real_count = _DF.collect, _DF.count

    def counting_collect(self_df):
        actions["n"] += 1
        return real_collect(self_df)

    def counting_count(self_df):
        actions["n"] += 1
        return real_count(self_df)

    for hot_rows, expect in ((3, "plain"), (30, "salted")):
        rows = [(1, f"h{i}") for i in range(hot_rows)] + [(2, "b2"), (3, "b3"), (4, "b4")]
        big = spark.createDataFrame(rows, "k int, bv string")
        plain = sorted(map(tuple, big.join(small, ["k"]).select("k", "bv", "sv").collect()))
        with caplog.at_level(_logging.INFO, logger=logger):
            caplog.clear()
            actions["n"] = 0
            with mock.patch.object(_DF, "collect", counting_collect), \
                    mock.patch.object(_DF, "count", counting_count):
                joined = auto_skew_join(big, small, "k", num_salts=4)
                assert actions["n"] == 1, f"pre-pass fired {actions['n']} actions"
            got = sorted(map(tuple, joined.select("k", "bv", "sv").collect()))
        msgs = [r.getMessage() for r in caplog.records if "hot-key row share" in r.getMessage()]
        assert msgs and f"'{expect}'" in msgs[0], (hot_rows, msgs)
        assert got == plain and got
        # precomputed stats: same result, ZERO pre-pass actions
        stats = measure_key_skew(big, "k")
        actions["n"] = 0
        with mock.patch.object(_DF, "collect", counting_collect), \
                mock.patch.object(_DF, "count", counting_count):
            joined2 = auto_skew_join(big, small, "k", num_salts=4, stats=stats)
            assert actions["n"] == 0
        assert sorted(map(tuple, joined2.select("k", "bv", "sv").collect())) == plain


def test_salted_join_tpch_inner(spark):
    """Same equality on real tables (lineitem ⋈ orders aggregate)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_join
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = li.join(o, "l_orderkey").groupBy("l_orderkey").count()
    salted = salted_join(li, o, "l_orderkey").groupBy("l_orderkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_parquet_schema_evolution_merge(spark):
    """Schema evolution on read: a corpus whose later shards add columns
    must read as the merged schema with NULLs for early shards
    (mergeSchema) — and default reads still project the requested
    columns without error."""
    import os
    import uuid

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"evolve_{uuid.uuid4().hex[:8]}",
    )
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(
        os.path.join(root, "shard=0")
    )
    spark.createDataFrame(
        [(2, "b", "en")], "doc_id long, text string, lang string"
    ).write.parquet(os.path.join(root, "shard=1"))

    merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert set(merged.columns) == {"doc_id", "text", "lang", "shard"}
    rows = {r.doc_id: r.lang for r in merged.collect()}
    assert rows == {1: None, 2: "en"}

    projected = spark.read.option("mergeSchema", "true").parquet(root).select("doc_id", "text")
    assert projected.count() == 2


def test_zipf_bench_workload_salted_equals_plain(spark):
    """The bench's Zipf stress pair must be the SAME workload two ways:
    identical per-word counts from the plain and salted aggregations."""
    import bench

    from .conftest import SF_SMOKE

    plain = {r["word"]: r["cnt"] for r in bench._bench_zipf_plain(spark, SF_SMOKE).collect()}
    salted = {r["word"]: r["cnt"] for r in bench._bench_zipf_salted(spark, SF_SMOKE).collect()}
    assert plain == salted
    total = sum(plain.values())
    hot = plain["__zipf_hot__"]
    assert 0.03 <= hot / total <= 0.07, f"hot mass {hot}/{total} out of the ~5% design band"


def test_salted_outer_join_second_big_pass_is_key_pruned(spark):
    """The right/full rebuild's key-membership probe must NOT re-read the
    big table at full width: its scan is column-pruned to the join key
    alone (plans/skew.py cost note — one column of one table, not a
    second full-table pass). Pin both scan shapes in the executed plan:
    the join pass reads all columns, the anti-join pass reads only k."""
    import re
    import uuid

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_join

    path = os.path.join(SCRATCH, f"salted_big_{uuid.uuid4().hex[:8]}")
    spark.range(0, 10000).selectExpr(
        "id % 97 AS k", "id AS bv", "repeat('x', 50) AS wide"
    ).write.mode("overwrite").parquet(path)
    big = spark.read.parquet(path)
    small = spark.createDataFrame([(1, "s"), (10**9, "u")], "k long, sv string")

    out = salted_join(big, small, "k", num_salts=4, how="full")
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    col_lists = set(
        re.match(r"FileScan parquet \[([^\]]*)\]", line.strip().lstrip(":+- ")).group(1)
        for line in plan.splitlines()
        if "FileScan parquet" in line and os.path.basename(path) in line
    )
    # exactly two scan shapes: the full-width join pass and the key-only probe
    assert len(col_lists) == 2, plan
    widths = sorted(len(cols.split(",")) for cols in col_lists)
    assert widths[0] == 1, f"membership probe not pruned to the key: {col_lists}"
    assert widths[1] == 3, f"join pass should read all big columns: {col_lists}"
