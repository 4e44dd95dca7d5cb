"""Regression coverage for the sampled-slice oracle harness that gave the
sf10 decade its correctness signal (SCALE.md lesson 28; the runner was
tools/sf10_sampled_checks.py at e49ef4e). Its two slice builders live
here; these tests pin their load-bearing properties at smoke SF:

1. `make_sampled_dir` produces a parquet dir where ONLY `documents` is
   sliced (deterministically, by id) and every other table still resolves
   to the full-scale data through the registry loader and the DuckDB view
   harness alike.
2. A registry query + its unchanged oracle stay hash-exact when both run
   against the sampled dir — the core claim that "shrink the data, never
   the plan" preserves comparability.
"""

from __future__ import annotations

import os
import shutil

import pytest

from .conftest import SF_SMOKE
from .oracle_harness import run_parity

K = 3


def make_sampled_dir(sf_dir: str, k: int) -> str:
    """A parquet dir where documents is the doc_id % k == 0 slice and
    every other table is a symlink to the full-scale file, so registry
    loaders and the DuckDB view harness work unchanged."""
    import duckdb

    out = os.path.join(sf_dir, f"_sampled_mod{k}")
    os.makedirs(out, exist_ok=True)
    target = os.path.join(out, "documents.parquet")
    if not os.path.exists(target):
        duckdb.connect().execute(
            f"COPY (SELECT * FROM '{sf_dir}/documents.parquet' WHERE doc_id % {k} = 0) "
            f"TO '{target}' (FORMAT PARQUET)"
        )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        link = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), link)
    return out


def make_planted_cosine_slice(sf_dir: str, vec_k: int) -> tuple[str, int]:
    """Write (and cache) the planted-dup cosine slice: the vec_id % vec_k
    embedding slice plus, for every 10th slice vector v, one near-dup
    v + eps*|v|*n_hat at a seeded eps in [0.10, 0.25] (cosine ~0.995 down
    to ~0.97). Copies get ids above the full corpus range. Returns
    (parquet path, number of planted pairs). Stored as float32 exactly
    as both engines will read it — the plant arithmetic happens once in
    numpy, never per-engine."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".scratch", "cosine_sampled")
    os.makedirs(out_dir, exist_ok=True)
    name = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(out_dir, f"{name}_mod{vec_k}.parquet")
    con = duckdb.connect()
    if not os.path.exists(path):
        tbl = con.execute(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
            f"WHERE vec_id % {vec_k} = 0 ORDER BY vec_id"
        ).fetch_arrow_table()
        max_id = con.execute(
            f"SELECT max(vec_id) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        ids = tbl["vec_id"].to_pylist()
        embs = [np.asarray(e, dtype=np.float32) for e in tbl["embedding"].to_pylist()]
        rng = np.random.default_rng(20260815)
        new_ids, new_embs = list(ids), [e.tolist() for e in embs]
        for j in range(0, len(ids), 10):
            v = embs[j].astype(np.float64)
            noise = rng.standard_normal(v.shape)
            noise -= noise @ v / (v @ v) * v  # orthogonalize: cosine set by eps alone
            eps = 0.10 + 0.15 * rng.random()
            w = v + eps * np.linalg.norm(v) * noise / np.linalg.norm(noise)
            new_ids.append(int(max_id) + 1 + ids[j])
            new_embs.append(np.asarray(w, dtype=np.float32).tolist())
        out = pa.table(
            {"vec_id": pa.array(new_ids, pa.int64()),
             "embedding": pa.array(new_embs, pa.list_(pa.float32()))}
        )
        pq.write_table(out, path)
    n_planted = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0] - con.execute(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet' WHERE vec_id % {vec_k} = 0"
    ).fetchone()[0]
    return path, int(n_planted)


@pytest.fixture(scope="module")
def sampled_dir():
    # copy the smoke dir so the slice builder's outputs never land in the
    # read-only driver fixtures
    work = os.path.join(os.path.dirname(__file__), "..", ".scratch", "sampled_smoke")
    work = os.path.abspath(work)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_SMOKE, f), os.path.join(work, f))
    yield make_sampled_dir(work, K)
    shutil.rmtree(work)


def test_documents_sliced_other_tables_full(spark, sampled_dir):
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    full_docs = load_table(spark, SF_SMOKE, "documents")
    docs = load_table(spark, sampled_dir, "documents")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert ids, "sample must be non-empty"
    assert all(i % K == 0 for i in ids)
    assert docs.count() == full_docs.where(f"doc_id % {K} = 0").count()
    # every other table resolves to the FULL data (symlinked, not sliced)
    for t in ("lineitem", "embeddings", "events"):
        assert load_table(spark, sampled_dir, t).count() == load_table(spark, SF_SMOKE, t).count()


def test_registry_query_and_oracle_agree_on_sampled_dir(spark, sampled_dir):
    """The exact property the sf10 record relies on: the UNCHANGED
    registry query and oracle, pointed at the sampled dir, still compare
    hash-exact (documents-derived, so the slice actually matters)."""
    run_parity(spark, sampled_dir, "dedup_exact_suite")


def test_sampled_dir_is_idempotent(sampled_dir):
    again = make_sampled_dir(os.path.dirname(sampled_dir.rstrip("/")), K)
    assert again == sampled_dir


def test_make_planted_cosine_slice_properties():
    """The planted-dup cosine slice (SCALE.md lesson 29): one plant per
    10 slice vectors, copies get ids above the corpus range, planted
    cosines land in [0.97, 0.996] (comfortably above the 0.9 threshold,
    below exact-duplicate 1.0), and the file is written once (cached)."""
    import numpy as np

    # the builder caches under <repo>/.scratch/cosine_sampled; the finally
    # below removes the smoke-SF artifact so reruns regenerate it
    path, n_planted = make_planted_cosine_slice(SF_SMOKE, 3)
    try:
        import duckdb

        con = duckdb.connect()
        n_slice = con.execute(
            f"SELECT count(*) FROM '{SF_SMOKE}/embeddings.parquet' WHERE vec_id % 3 = 0"
        ).fetchone()[0]
        max_id = con.execute(
            f"SELECT max(vec_id) FROM '{SF_SMOKE}/embeddings.parquet'"
        ).fetchone()[0]
        rows = con.execute(f"SELECT vec_id, embedding FROM '{path}'").fetchall()
        assert len(rows) == n_slice + n_planted
        assert n_planted == (n_slice + 9) // 10
        vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
        plants = [i for i in vecs if i > max_id]
        assert len(plants) == n_planted
        for pid in plants:
            orig = vecs[pid - max_id - 1]
            cos = float(
                orig @ vecs[pid] / (np.linalg.norm(orig) * np.linalg.norm(vecs[pid]))
            )
            assert 0.965 <= cos <= 0.9965, (pid, cos)
        # cached: second call returns the same file unmodified
        mtime = os.path.getmtime(path)
        path2, n2 = make_planted_cosine_slice(SF_SMOKE, 3)
        assert (path2, n2) == (path, n_planted)
        assert os.path.getmtime(path) == mtime
    finally:
        os.remove(path)
