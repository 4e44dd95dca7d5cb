"""Write-path surface: format coverage (parquet/CSV/JSON/text) and the
reference's partitioned sorted layout as a sink.

The reference's only sinks are newline-text files in HDFS — map spill
files and per-initial-letter sorted reducer outputs (slave.cc:63-73,
212-228). Here every write is a standard DataFrameWriter call, so
cluster-side behaviors (committers, partitioned layout, stats) come
from Spark/Hadoop unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(df: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None) -> None:
    """Format-dispatched write (parquet primary; csv/json/text for
    interchange). Partitioned parquet + a sensible file size is the
    100 TB at-rest layout."""
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.load(path)

