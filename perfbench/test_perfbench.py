"""Smoke tests of the benchmark's own parts, at a tiny input size.

    python3 -m pytest perfbench -q -p no:cacheprovider

Covers the generators (same seed, same bytes; planted counts are exact),
the percentile rule, the steal adjustment, the oracle comparison, and
the status-store, span and streaming collectors against a small local
Spark session.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
from collect import StatusStore, StreamingCollector, Tracer, cpu_steal, percentile, tree_cpu_s, unstolen_s
from workloads import _same


def _digest(path: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(path))
    }


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


def test_corpus_is_seeded_and_counts_are_exact(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    vocab, counts, n_lines, n_bytes = gen.write_corpus(a, 5, 64 << 10, n_files=2, n_vocab=300)
    gen.write_corpus(b, 5, 64 << 10, n_files=2, n_vocab=300)
    gen.write_corpus(c, 6, 64 << 10, n_files=2, n_vocab=300)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)

    text = b"".join(open(os.path.join(a, f), "rb").read() for f in sorted(os.listdir(a))).decode()
    assert len(text.encode()) == n_bytes
    assert text.count("\n") == n_lines
    assert "  " not in text and "\n\n" not in text
    seen = Counter(text.split())
    assert seen == {w: int(n) for w, n in zip(vocab, counts.tolist()) if n}


def test_tables_are_seeded(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    rows = gen.write_tables(a, 3, 0.001)
    gen.write_tables(b, 3, 0.001)
    assert _digest(a) == _digest(b)
    for table, n in rows.items():
        assert pq.read_metadata(os.path.join(a, f"{table}.parquet")).num_rows == n


def test_curation_is_seeded_with_planted_near_dups(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sizes = gen.write_curation(a, 9, base_docs=40, replicas=2, base_vectors=40)
    gen.write_curation(b, 9, base_docs=40, replicas=2, base_vectors=40)
    assert _digest(a) == _digest(b)
    assert sizes["documents"] == 80 and sizes["embeddings"] == 80

    texts = pq.read_table(os.path.join(a, "documents.parquet"))["text"].to_pylist()
    base, replica = texts[:40], texts[40:]
    sets = [set(t.split()) for t in base]
    near = sum(any(len(sets[d] & sets[e]) / len(sets[d] | sets[e]) > 0.6 for e in range(d)) for d in range(40))
    assert near >= int(0.25 * 40)  # the planted near-duplicates
    assert all("rep1" in t for t in replica) and not any("rep1" in t for t in base)
    v = np.stack(pq.read_table(os.path.join(a, "embeddings.parquet"))["embedding"].to_numpy(zero_copy_only=False))
    cos = np.triu(v @ v.T, 1)
    assert (cos > 0.9).sum() >= 2 * int(0.25 * 40)  # planted in both replicas


def test_top_k_oracle_orders_ties_by_word():
    counts = np.array([3, 5, 3, 0, 5])
    assert gen.top_k_oracle(["d", "b", "c", "z", "a"], counts, 4) == [("a", 5), ("b", 5), ("c", 3), ("d", 3)]


# --------------------------------------------------------------------------
# percentile rule and oracle comparison
# --------------------------------------------------------------------------


def test_percentile_is_nearest_rank():
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile(list(range(1, 101)), 50) == 50
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.0
    assert percentile([4.0, 1.0, 3.0, 2.0], 90) == 4.0
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_same_ignores_row_and_column_order():
    got = (["b", "a"], [(2, "x"), (1, None)])
    assert _same(got, (["a", "b"], [(None, 1), ("x", 2)]))[0]
    assert not _same(got, (["a", "b"], [(None, 1), ("x", 3)]))[0]
    assert not _same(got, (["a", "c"], [(None, 1), ("x", 2)]))[0]


# --------------------------------------------------------------------------
# collectors
# --------------------------------------------------------------------------


def test_tree_cpu_counts_child_processes():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ntime.sleep(3)"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        time.sleep(1.5)  # the child has burnt its CPU and is sleeping, not yet reaped
        running = tree_cpu_s() - before
    finally:
        child.wait()
    assert 0.4 <= running < 1.5
    assert tree_cpu_s() - before >= 0.4  # once reaped, through this process's cutime


def test_unstolen_takes_out_the_stolen_share():
    busy, stolen = cpu_steal()
    assert busy >= stolen >= 0
    assert unstolen_s(2.0, (100, 10), (300, 60)) == pytest.approx(1.5)  # a quarter of busy time stolen
    assert unstolen_s(2.0, (100, 10), (100, 10)) == 2.0  # idle vCPUs: nothing to take out


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.streaming.checkpointLocation", str(tmp_path_factory.mktemp("ckpt")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_store_reads_stage_metrics(spark):
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    stages = StatusStore(spark).stages()
    assert stages
    assert any(st["tasks"] > 0 and st["shuffle_write_bytes"] > 0 for st in stages.values())


def test_tracer_attributes_jobs_to_nested_spans(spark, tmp_path):
    tracer = Tracer(spark, "t")
    with tracer.span("outer") as outer:
        spark.range(10).count()
        with tracer.span("inner") as inner:
            spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    tracer.attribute()
    assert inner["parent"] == outer["id"]
    assert inner["spark"]["jobs"] >= 1 and inner["spark"]["tasks"] >= 1
    assert outer["spark"]["jobs"] > inner["spark"]["jobs"]
    assert outer["end"] - outer["start"] >= inner["end"] - inner["start"]
    path = str(tmp_path / "spans.json")
    tracer.write(path)
    assert os.path.getsize(path) > 0


def test_streaming_collector_counts_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(50).selectExpr("id", "id % 5 AS k").write.parquet(src)
    streams = StreamingCollector(spark)
    try:
        q = (
            spark.readStream.schema("id LONG, k LONG").parquet(src)
            .groupBy("k").count()
            .writeStream.format("memory").queryName("perfbench_counts").outputMode("complete")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        per_run = streams.per_run()
    finally:
        streams.close()
    assert per_run["batches"] >= 1
    assert per_run["input_rows"] == 50
    assert per_run["state_rows"] >= 5
    assert per_run["drain_s"] > 0
