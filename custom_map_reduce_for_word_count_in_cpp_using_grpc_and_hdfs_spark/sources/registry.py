"""Table registry over the driver's parquet star schema.

The reference reads exactly one hardcoded HDFS text file
(master.cc:195-196); our source surface is the TESTDATA.md star schema
(one parquet per table) plus text/CSV/JSON readers for raw corpora. At
scale the same call pattern works against partitioned parquet datasets on
any Hadoop-compatible filesystem — predicate pushdown and partition
pruning come from expressing reads through ``spark.read.parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Every table the driver generates (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``sf_dir``.

    Plain ``spark.read.parquet`` so scans keep vectorized reading, filter
    pushdown, and column pruning (verify with ``.explain``: PushedFilters /
    ReadSchema reflect downstream select/filter).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """The events table may be written with TIMESTAMP(NANOS) parquet
    type, which the engine conf reads as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong``, session.ENGINE_CONF);
    truncate those to microseconds — the same truncation DuckDB applies,
    so oracle comparisons stay exact."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL front end."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw text source: the reference's input shape (one untyped line stream,
    SURVEY.md §1.1) as a DataFrame[value: string].

    Hadoop TextInputFormat handles split sizing and record alignment — the
    byte-range chunking and boundary repair the reference hand-rolls
    (slave.cc:41-134) are subsumed.
    """
    return spark.read.text(path)


def read_binary_dir(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Raw-file multimodal ingest: a directory (or object-store prefix) of
    opaque files as DataFrame[path, modificationTime, length, content:
    binary] via Spark's built-in ``binaryFile`` source — the shape
    multimodal corpora actually arrive in at scale (millions of image/
    audio files under a prefix), feeding the same mapInPandas decode
    plumbing as parquet binary columns (operators/multimodal.py).

    Scale posture: the source parallelizes by file (one row per file,
    files assigned to tasks by size bins), prunes on ``pathGlobFilter``
    BEFORE reading bytes, and never splits a file — correct for codec
    payloads, which are not record-splittable. For corpora of many small
    files the production move is still compaction into parquet binary
    columns (one task per row group instead of per file, and column
    pruning skips payload bytes when a query reads only metadata); this
    source is the ingest edge that builds those tables."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
