"""Scan-parallelism guard for CPU-heavy per-row stages.

A narrow scan of a few small files yields as many partitions as file
splits — possibly ONE. Every downstream token explode / hash / regex
stage then serializes on a single core no matter how many executors the
cluster has, because nothing before the first shuffle re-partitions.
Measured at sf0.1/local[32]: exact-Jaccard pairs 20.3 s → 1.8 s,
doc_profile 7.2 s → 3.2 s just by spreading the 5000-row single-file
scan to 32 partitions first.

:func:`spread` is deliberately conditional: it repartitions ONLY when
the scan's estimated split count is below the session's shuffle
parallelism. At 100 TB the same scan arrives as thousands of file
splits, the guard is a no-op, and no shuffle is added — the cost
appears exactly when it pays (small inputs, where the shuffled bytes
are trivially small).

Two round-5 lessons are baked in (root-cause of the round-4 bench
regression, VERDICT.md §perf):

1. **Key-aligned spreading beats round-robin.** ``repartition(n)``
   (round-robin) adds a NEW exchange — and Spark sorts each partition
   before round-robin distribution for retry determinism
   (``spark.sql.execution.sortBeforeRepartition``), so the "free"
   balance shuffle carries a per-partition sort of the full payload.
   When the downstream pipeline groups or joins on a key the caller
   knows (every dedup/text operator groups by doc id), passing
   ``by=[key]`` emits ``repartition(n, key)`` instead: HashPartitioning
   on a unique id both balances AND satisfies the downstream
   ClusteredDistribution, so Catalyst drops the aggregation's own
   exchange — the spread shuffle *replaces* a shuffle instead of adding
   one. Measured at sf0.1 (single-row-group fixture): simhash 1.83 s
   (round-robin) / 1.49 s (no spread) / 1.32 s (by=doc_id).
2. **No ``df.rdd`` probe.** Converting the plan to an RDD to count
   partitions forces full physical planning per call site and bypasses
   AQE statistics. The split count is instead *estimated* from the
   scan's input files (``df.inputFiles()`` — logical analysis only)
   using Spark's own split-packing formula; non-local files (hdfs://,
   s3://) short-circuit to "assume production layout" — which is the
   correct at-scale answer and costs nothing.
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Sentinel split count for scans we cannot (cheaply) size: remote
#: filesystems, non-file sources, empty plans. Treated as "already
#: parallel" so spread() never adds a shuffle on a real cluster path.
_ASSUME_PARALLEL = 1 << 30


def _as_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '4MB')."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("tb", 1 << 40), ("t", 1 << 40), ("gb", 1 << 30), ("g", 1 << 30),
                      ("mb", 1 << 20), ("m", 1 << 20), ("kb", 1 << 10), ("k", 1 << 10),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s) * mult)


def _local_scan_paths(df: DataFrame) -> list[str] | None:
    """Local paths of the files behind ``df``'s scan, or ``None`` for a
    non-file source, an empty listing or any non-local scheme."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        paths.append(unquote(parsed.path or uri))
    return paths


def scan_file_sizes(df: DataFrame) -> list[int] | None:
    """Byte sizes of the local files behind ``df``'s scan, or ``None``
    when they cannot be cheaply sized (non-local scheme, non-file source,
    empty listing). This is the ACCURATE pre-explode size — unlike
    Catalyst's post-``Generate`` estimate, file bytes never lie."""
    paths = _local_scan_paths(df)
    if paths is None:
        return None
    try:
        return [os.path.getsize(p) for p in paths]
    except OSError:
        return None


#: Analyzed-plan node names (``nodeName()``) that preserve the scan's
#: row count 1:1. Anything else (Filter, Join, Generate, Aggregate,
#: Sample, GlobalLimit, Distinct, ...) disqualifies the frame from
#: footer-based counting — unknown node types fail closed (fall back to
#: a real count job).
_ROW_PRESERVING_NODES = frozenset({"Project", "SubqueryAlias", "View", "LogicalRelation"})


def _row_preserving(plan) -> bool:
    """True iff every node of the analyzed logical ``plan`` (a py4j
    handle) is in :data:`_ROW_PRESERVING_NODES`."""
    if plan.nodeName() not in _ROW_PRESERVING_NODES:
        return False
    children = plan.children()
    return all(_row_preserving(children.apply(i)) for i in range(children.size()))


def _footer_row_count(df: DataFrame) -> int | None:
    """EXACT row count of ``df`` from its parquet footers — zero Spark
    jobs — or ``None`` when it cannot be safely derived (non-local or
    non-parquet files, or a plan that is not provably row-preserving
    above the scan). The same zero-job decision discipline as
    :func:`scan_file_sizes`, but for statistics that need exactness:
    parquet footer ``num_rows`` is authoritative metadata, so a caller
    sizing a geometry from it gets the IDENTICAL value a ``count()``
    job returns (a bound would not do — e.g. LSH band geometry changes
    with ceil(log2(n)), and a changed geometry changes candidate sets).

    The row-preserving guard walks the analyzed logical plan node by
    node and admits only Project/SubqueryAlias/View/LogicalRelation —
    Filter/Join/Generate/Sample/Limit or any UNKNOWN node name returns
    None, so new operators fail toward the correct (job-based) path,
    never toward a wrong count."""
    paths = _local_scan_paths(df)
    if paths is None or not all(p.endswith(".parquet") for p in paths):
        return None
    try:
        if not _row_preserving(df._jdf.queryExecution().analyzed()):
            return None
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    except Exception:
        return None


def row_count(df: DataFrame) -> int:
    """EXACT row count of ``df``: :func:`_footer_row_count` when the plan
    is provably a bare parquet scan (zero jobs), a ``count()`` job
    otherwise. The one sizing count of every cost seam that needs the
    exact ``n`` (LSH and SimHash geometry, the edge route, the IVF
    route), so the hit-or-fallback decision lives in one place."""
    n = _footer_row_count(df)
    return df.count() if n is None else n


def scan_splits(df: DataFrame) -> int:
    """Estimated number of file splits the scan behind ``df`` produces.

    Mirrors Spark's ``FilePartition.maxSplitBytes`` packing: split size =
    min(maxPartitionBytes, max(openCostInBytes, (bytes + files·openCost)
    / defaultParallelism)), then splits ≈ bytes/splitSize with one
    minimum split per file. Local files are sized with ``os.path``;
    any non-local scheme returns a large sentinel (production layouts
    are already split — spread must be a no-op there)."""
    sizes = scan_file_sizes(df)
    if sizes is None:
        return _ASSUME_PARALLEL
    conf = df.sparkSession.conf
    max_pb = _as_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    open_cost = _as_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304"))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sizes)
    bytes_per_core = (total + len(sizes) * open_cost) / max(1, parallelism)
    split_bytes = min(max_pb, max(open_cost, bytes_per_core))
    return sum(max(1, math.ceil(s / split_bytes)) for s in sizes)


def spread(
    df: DataFrame,
    min_parts: int | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Repartition ``df`` up to ``min_parts`` (default: the session's
    ``spark.sql.shuffle.partitions``) iff its scan is estimated to
    under-split that width.

    ``by`` — column names the downstream pipeline clusters on (group-by
    or join keys). When given, the spread is ``repartition(n, *by)``:
    the hash exchange satisfies the downstream distribution requirement,
    so it replaces the pipeline's own shuffle rather than adding one.
    When omitted the spread is round-robin — right only for pipelines
    with no key (cross joins, pure maps).

    Streaming DataFrames pass through untouched — micro-batch sources
    size their own partitions.
    """
    if df.isStreaming:
        return df
    if min_parts is None:
        min_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    if scan_splits(df) >= min_parts:
        return df
    if by:
        return df.repartition(min_parts, *[F.col(c) for c in by])
    return df.repartition(min_parts)
