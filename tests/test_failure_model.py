"""The reference's failure model, end to end: a worker that fails its
task is replaced and the task re-run (the master reassigns it), and the
output stays exact. On Spark that is task retry, so the paper's query —
word count, top-K and the sorted per-initial layout — runs over a corpus
whose reader fails its first attempt on a seeded subset of partitions.

Each run starts a session of its own in a subprocess, because retries
are fixed when a context starts (``local[N,maxFailures]``) and the
suite's shared ``local[N]`` session allows none.
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Seeds the corpus and the half of the scan partitions whose first
#: attempt fails.
FAIL_SEED = 11
N_FILES = 4
TOP_K = 100

#: The job: argv = master, corpus dir, output dir, seed.
_JOB = r"""
import json, random, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.wordcount import (
    top_k, word_count, write_partitioned_sorted,
)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.session import apply_engine_conf

master, corpus, out, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = apply_engine_conf(
    SparkSession.builder.master(master).config("spark.driver.memory", "1g")
    .config("spark.ui.enabled", "false").getOrCreate()
)
text = spark.read.text(corpus)
parts = text.rdd.getNumPartitions()
failing = set(random.Random(seed).sample(range(parts), max(1, parts // 2)))


def flaky(batches):
    ctx = TaskContext.get()
    if ctx.attemptNumber() == 0 and ctx.partitionId() in failing:
        raise RuntimeError(f"injected failure in partition {ctx.partitionId()}")
    yield from batches


sc = spark.sparkContext
sc.setJobGroup("failure-model", "word count under injected task failures")
counts = word_count(text.mapInPandas(flaky, "value string"), "value")
top = [(r.word, r.cnt) for r in top_k(counts, %d).collect()]
write_partitioned_sorted(counts, out)
tracker = sc.statusTracker()
failed = sum(
    tracker.getStageInfo(s).numFailedTasks
    for j in tracker.getJobIdsForGroup("failure-model")
    for s in tracker.getJobInfo(j).stageIds
    if tracker.getStageInfo(s) is not None
)
print(json.dumps({"top": top, "failing": sorted(failing), "failed_tasks": failed}))
spark.stop()
""" % TOP_K


def _corpus(root) -> Counter:
    """Write N_FILES seeded Zipf-ish text files under ``root``; return the
    pure-Python count of their space/newline-delimited words."""
    rng = random.Random(FAIL_SEED)
    vocab = sorted({"".join(rng.choices("abcdefghij", k=rng.randint(1, 6))) for _ in range(400)})
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    os.makedirs(root)
    counts: Counter = Counter()
    for f in range(N_FILES):
        lines = [" ".join(rng.choices(vocab, weights, k=rng.randint(1, 15))) for _ in range(600)]
        text = "\n".join(lines) + "\n"
        with open(os.path.join(root, f"part-{f}.txt"), "w") as fh:
            fh.write(text)
        counts.update(w for w in re.split("[ \n]", text) if w)
    return counts


def _run(master: str, corpus: str, out: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=ROOT)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return subprocess.run(
        [sys.executable, "-c", _JOB, master, corpus, out, str(FAIL_SEED)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )


def test_task_failures_are_retried_to_exact_output(tmp_path):
    """With two attempts per task (``local[2,2]``) the injected failures
    are retried: top-100 and the per-initial sorted layout equal a
    pure-Python count, and the status tracker saw failed tasks. With one
    attempt (``local[2,1]``) the same job fails."""
    import pyarrow.parquet as pq

    expected = _corpus(str(tmp_path / "corpus"))

    out = str(tmp_path / "layout")
    run = _run("local[2,2]", str(tmp_path / "corpus"), out)
    assert run.returncode == 0, run.stderr[-4000:]
    result = json.loads(run.stdout.strip().splitlines()[-1])
    assert result["failing"] and result["failed_tasks"] >= len(result["failing"])
    want_top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    assert [tuple(r) for r in result["top"]] == want_top

    by_initial: dict[str, dict[str, int]] = {}
    for word, cnt in expected.items():
        by_initial.setdefault(word[0], {})[word] = cnt
    dirs = sorted(d for d in os.listdir(out) if d.startswith("initial="))
    assert [d.split("=", 1)[1] for d in dirs] == sorted(by_initial)
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        rows = pq.read_table(os.path.join(out, d, files[0])).to_pylist()
        words = [r["word"] for r in rows]
        assert words == sorted(words), d
        assert {r["word"]: r["cnt"] for r in rows} == by_initial[d.split("=", 1)[1]]

    no_retry = _run("local[2,1]", str(tmp_path / "corpus"), str(tmp_path / "layout1"))
    assert no_retry.returncode != 0
    assert "injected failure" in no_retry.stderr
