"""Write-path format coverage, partitioned sorted sink layout, load_table
schemas, and the salted aggregation helper."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.skew import salted_word_count
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

from .conftest import SF_SMOKE, formatted_plan

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sink-tests")


def test_format_roundtrips(spark, tmp_path_factory):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    expected = sorted(tuple(r) for r in docs.collect())
    for fmt in ["parquet", "orc", "json", "csv"]:
        path = os.path.join(SCRATCH, f"roundtrip_{fmt}")
        writer, reader = docs.write.mode("overwrite").format(fmt), spark.read.format(fmt)
        if fmt == "csv":
            writer = writer.option("header", "true")
            reader = reader.option("header", "true").option("inferSchema", "true")
        writer.save(path)
        back = reader.load(path)
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
    e49ef4e timed at sf10) must produce identical results with AQE's
    skew-join splitting ON and OFF."""
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
    assert plain == no_skew_aqe and plain


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


#: load_table's schema for every driver table (sf0.01), pinned so a
#: session-wide read conf cannot silently retype a column.
TABLE_SCHEMAS = {
    "region": "struct<r_regionkey:int,r_name:string>",
    "nation": "struct<n_nationkey:int,n_name:string,n_regionkey:int>",
    "customer": "struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string>",
    "supplier": "struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>",
    "part": "struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double>",
    "orders": "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,"
    "o_orderdate:timestamp_ntz,o_orderpriority:string>",
    "lineitem": "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,"
    "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,"
    "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>",
    "events": "struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string,value:double,props:string>",
    "documents": "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>",
    "embeddings": "struct<vec_id:bigint,embedding:array<float>,label:int>",
}


def test_load_table_schemas_pinned(spark, tmp_path):
    """load_table's schema for every driver table is pinned, and an
    events table written with TIMESTAMP(NANOS) reads, batch and
    streaming, as microsecond timestamps truncated the way DuckDB
    truncates them."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.registry import TABLES
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.streaming.windows import events_stream

    from .conftest import SF_CORRECT

    assert set(TABLES) == set(TABLE_SCHEMAS)
    got = {t: load_table(spark, SF_CORRECT, t).schema.simpleString() for t in TABLES}
    assert got == TABLE_SCHEMAS

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["click", "view"],
            "value": [1.5, 2.5],
            "props": ["{}", "{}"],
        }),
        tmp_path / "events.parquet",
        version="2.6",
    )
    events = load_table(spark, str(tmp_path), "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    micros = sorted(
        round((r.ts.replace(tzinfo=dt.timezone.utc) - epoch) / dt.timedelta(microseconds=1))
        for r in events.select(F.col("ts").cast("timestamp_ntz").alias("ts")).collect()
    )
    assert micros == [n // 1000 for n in nanos]
    assert dict(events_stream(spark, str(tmp_path)).dtypes)["ts"] == "timestamp"


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

