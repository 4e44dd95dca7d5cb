"""Deterministic hash buckets for sampling training-data pipelines.

Random sampling (``df.sample``) is wrong for corpus curation at scale:
it is not reproducible across retries (a re-run of a failed stage picks
different rows), not joinable (two tables sampled "the same 10%" don't
line up), and not auditable. The standard fix is hash sampling — bucket
every row by a deterministic hash of its key and keep a fixed bucket
range. Properties:

- **Retry-stable**: the sample is a pure function of the key, immune to
  partitioning, AQE re-plans, and stage retries.
- **Consistent across tables**: sampling two tables on the same join key
  keeps the join complete ("consistent sampling").
- **Composable**: bucket 0 of 100 ⊂ buckets 0–9 of 100, so a 1% pilot
  grows into the 10% run without recomputing.

The hash is the engine-portable polynomial fold from
``functions/hashing.py``, so :func:`hash_bucket` is exactly reproducible
by the DuckDB oracle through :func:`hash_bucket_sql` (and by any other
engine — the recurrence is ~5 lines in any SQL dialect). The curation
pipeline tags every surviving document with its ``sample_bucket``
(queries/pipeline_q.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import (
    poly_hash_chars,
    poly_hash_chars_sql,
)


#: Buckets :func:`hash_bucket` spreads keys over, read at call time: the
#: curation pipeline tags every surviving document with one of 10.
SAMPLE_BUCKETS = 10


def hash_bucket() -> Column:
    """Deterministic bucket in [0, :data:`SAMPLE_BUCKETS`) from ``doc_id``
    (any type; hashed via its canonical string form)."""
    return F.pmod(poly_hash_chars(F.col("doc_id").cast("string")), F.lit(SAMPLE_BUCKETS))


def hash_bucket_sql(key_expr: str, n_buckets: int = 100) -> str:
    """DuckDB rendering of :func:`hash_bucket` (same fold, same mod)."""
    return f"({poly_hash_chars_sql(f'CAST({key_expr} AS VARCHAR)')} % {n_buckets})"

