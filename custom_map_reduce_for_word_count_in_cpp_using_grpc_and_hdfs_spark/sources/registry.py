"""Table registry over the driver's parquet star schema.

The reference reads exactly one hardcoded HDFS text file
(master.cc:195-196); our source surface is the TESTDATA.md star schema
(one parquet per table) plus text/CSV/JSON readers for raw corpora. At
scale the same call pattern works against partitioned parquet datasets on
any Hadoop-compatible filesystem — predicate pushdown and partition
pruning come from expressing reads through ``spark.read.parquet``.

Every parquet table read goes through :func:`read_parquet`, which infers
a file's schema once per SparkContext: inference runs a one-task Spark
job to read the footer, and a warm short query otherwise paid one such
job per table it loads.
"""

from __future__ import annotations

import os
import stat
import threading
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

    A plain parquet scan (:func:`read_parquet`) so scans keep vectorized
    reading, filter pushdown, and column pruning (verify with
    ``.explain``: PushedFilters / ReadSchema reflect downstream
    select/filter).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return nanos_ts_to_micros(df) if name == "events" else df


#: Session confs that change the schema Spark infers from a parquet
#: footer; their values are part of the memo key, so changing one
#: infers again.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: Inferred schemas of the live SparkContext's parquet files, keyed on
#: (applicationId, absolute path, size, mtime_ns, schema confs). Entries
#: of an earlier SparkContext are dropped when a new one stores its first.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job after
    the first read of the same file in the same SparkContext: the schema
    inferred then is passed to ``spark.read.schema(...)``. Only schemas
    are kept, never data. A directory, a non-local path, a stat error or
    a session without a SparkContext (Spark Connect) always infers."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        schema = df.schema
        with _SCHEMAS_LOCK:
            for stale in [k for k in _SCHEMAS if k[0] != key[0]]:
                del _SCHEMAS[stale]
            _SCHEMAS[key] = schema
    return df


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of a local parquet file, or ``None`` (infer)."""
    sc = getattr(spark, "sparkContext", None)
    if sc is None or urlsplit(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    return (sc.applicationId, os.path.abspath(path), st.st_size, st.st_mtime_ns, confs)


def nanos_ts_to_micros(events: DataFrame) -> DataFrame:
    """The events table may be written with TIMESTAMP(NANOS) parquet
    type, which the engine conf reads as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong``, session.ENGINE_CONF);
    truncate those to microsecond timestamps — the same truncation DuckDB
    applies, so oracle comparisons stay exact. Batch or streaming."""
    from pyspark.sql import functions as F

    if dict(events.dtypes).get("ts") == "bigint":
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return events


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw text source: the reference's input shape (one untyped line stream,
    SURVEY.md §1.1) as a DataFrame[value: string].

    Hadoop TextInputFormat handles split sizing and record alignment — the
    byte-range chunking and boundary repair the reference hand-rolls
    (slave.cc:41-134) are subsumed.
    """
    return spark.read.text(path)


def read_binary_dir(spark: SparkSession, path: str) -> DataFrame:
    """Raw-file multimodal ingest: the ``*.ppm`` files of a directory (or
    object-store prefix) as DataFrame[path, modificationTime, length, content:
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
    return spark.read.format("binaryFile").option("pathGlobFilter", "*.ppm").load(path)
