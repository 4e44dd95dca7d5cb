"""Recall/accuracy tests for the approximate operators (the ones the
driver can only rows-check): MinHash LSH vs exact Jaccard, hyperplane
LSH vs brute-force cosine top-k, HLL vs exact distinct."""

from __future__ import annotations

from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import similarity as S
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

from .conftest import SF_CORRECT


def test_minhash_lsh_recall_and_precision(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(docs, threshold=0.3).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_near_dups(docs, threshold=0.3).collect()
    }
    # precision is exact by construction (verification join)
    assert approx <= exact
    # banding (32 perms / 8 bands) must catch the high-similarity mass
    assert exact, "fixture should contain near-dup pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below bound"


def test_simhash_block_join_equals_bruteforce(spark):
    docs = load_table(spark, SF_CORRECT, "documents").limit(200)
    fps = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    brute = set()
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(fps[a] ^ fps[b]).count("1") <= 3:
                brute.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in D.simhash_near_dups(docs, max_distance=3).collect()}
    assert got == brute  # pigeonhole blocks guarantee recall 1.0


def test_simhash_sharded_blocks_identical_result(spark, monkeypatch):
    """The generalized (B > d+1) combination-pigeonhole join — the sf10
    sharding route — must return the EXACT default row set: recall 1.0
    is the pigeonhole theorem, not a tuning outcome (round-6, VERDICT r5
    item 4). B is forced by treating the scan as unsized (so the
    geometry runs) and pinning the geometry's answer."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans import parallelism

    docs = load_table(spark, SF_CORRECT, "documents")
    base = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_near_dups(docs, max_distance=3).collect()
    )
    assert base, "fixture should contain near-dup pairs"
    monkeypatch.setattr(parallelism, "scan_file_sizes", lambda df: None)
    for n_blocks in (5, 7):
        monkeypatch.setattr(D, "simhash_block_geometry", lambda n, d, b=n_blocks: b)
        sharded = sorted(
            (r.doc_a, r.doc_b, r.hamming)
            for r in D.simhash_near_dups(docs, max_distance=3).collect()
        )
        assert sharded == base, f"B={n_blocks} diverged from the d+1 default"


def test_simhash_block_geometry_scales_with_corpus():
    """Geometry targets key_bits ~ log2(N) + the measured clustering
    margin (SCALE.md lesson 26 / BASELINE §K): the sf10 sweep put the
    optimum at B=7 for N=500k, and the combo cap stops the explode at
    the measured B=8 inflection."""
    from math import comb

    assert D.simhash_block_geometry(500_000) == 7  # the measured sf10 optimum
    small = D.simhash_block_geometry(5_000)
    assert 4 <= small <= D.simhash_block_geometry(500_000)  # monotone-ish
    for n in (5_000, 500_000, 100_000_000, 10**10):
        B = D.simhash_block_geometry(n)
        assert comb(B, 3) <= 40  # explode budget: measured B=8 (70 combos) is past optimum
    # tiny corpora never pay the count job at all: the scan-bytes gate in
    # simhash_near_dups short-circuits to B = d+1 before geometry runs


def test_ann_lsh_recall(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    brute = S.brute_force_topk(queries, emb, 10).collect()
    approx = S.lsh_topk(queries, emb, 10).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(brute_sets[q] & approx_sets.get(q, set())) / len(brute_sets[q])
        for q in brute_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 16 planes / 8 bands (2-bit bands) on 64-dim gaussians: neighbors in
    # this fixture are only weakly similar (cos ≈ 0.35), so bands must be
    # generous — the tradeoff is candidates touched, measured below
    assert mean_recall >= 0.7, f"ANN recall {mean_recall:.2f} below bound"


def test_approx_count_distinct_accuracy(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_jaccard_shingle_df_cap_only_prunes_candidates(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    full = {(r.doc_a, r.doc_b) for r in D.jaccard_pairs(docs, 0.3).collect()}
    capped = {(r.doc_a, r.doc_b) for r in D.jaccard_pairs(docs, 0.3, max_shingle_df=400).collect()}
    assert capped <= full


def test_ann_ivf_recall(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    centroids = S.ivf_centroids_np(emb)
    brute = S.brute_force_topk(queries, emb, 10).collect()
    approx = S.ivf_topk(queries, emb, centroids).collect()
    bs, as_ = {}, {}
    for r in brute:
        bs.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        as_.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(bs[q] & as_.get(q, set())) / len(bs[q]) for q in bs]
    mean_recall = sum(recalls) / len(recalls)
    # hash-spread sample + 6 Lloyd iters + nprobe=10 of 16: measured 0.94 on
    # this weakly-clustered fixture (true neighbors sit at cos ≈ 0.35-0.5,
    # so buckets split neighborhoods; production-clustered embeddings
    # reach the same recall at far smaller nprobe/k)
    assert mean_recall >= 0.8, f"IVF recall {mean_recall:.2f} below bound"


def test_banded_cosine_equals_bruteforce_on_planted_dups(spark):
    """High-threshold self-join path: banded hyperplane candidates + exact
    rescore must return EXACTLY the brute-force pair set on a corpus with
    planted near-duplicates (the miss probability at 128 planes/16 bands
    is < 1e-5 per pair)."""
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.standard_normal((40, 64)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:  # plant a near-dup: tiny perturbation → cos ≥ ~0.97
            pert = v + 0.15 * rng.standard_normal(64).astype("float32")
            rows.append((1000 + i, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b) for r in S.cosine_near_dup_pairs(df, threshold=0.9).collect()}
    vecs = dict(rows)
    ids = sorted(vecs)
    brute = set()
    for i, a in enumerate(ids):
        va = np.array(vecs[a], dtype="float64")
        for b in ids[i + 1:]:
            vb = np.array(vecs[b], dtype="float64")
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if cos >= 0.9:
                brute.add((a, b))
    assert brute, "fixture should contain planted near-dup pairs"
    assert got == brute


def test_zero_norm_vectors_do_not_poison_topk(spark):
    """A zero vector has no direction; it must score 0 (not NaN) against
    everything and never displace real neighbors."""
    rows = [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.brute_force_topk(df.where(F.col("vec_id") == 1), df, 2).collect()
    assert [(r.neighbor_id, r.rank) for r in got] == [(2, 1), (0, 2)] or [
        (r.neighbor_id, r.rank) for r in got
    ] == [(2, 1), (3, 2)]
    # no NaN-scored row may ever outrank a positive-similarity one
    assert got[0].neighbor_id == 2


def test_connected_components_matches_union_find(spark, monkeypatch):
    """Property: hash-min label propagation equals a reference union-find
    on random graphs (including isolated vertices and multi-hop chains
    that need several propagation rounds)."""
    import random

    rng = random.Random(1234)
    for trial in range(3):
        n = 60
        vertices = [(i,) for i in range(n)]
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(25 + 10 * trial)
        ]
        # a long chain forces multi-round convergence
        chain_lo = n - 12
        edges += [(i, i + 1) for i in range(chain_lo, n - 1)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {}
        for i in range(n):
            root = find(i)
            expected.setdefault(root, set()).add(i)
        # canonical label = min member id
        want = {i: min(members) for members in expected.values() for i in members}

        vdf = spark.createDataFrame(vertices, "id long")
        edf = spark.createDataFrame(edges, "src long, dst long")
        # both routes of the round-13 cost seam must equal the reference:
        # driver-local under the default edge cap, the loop with no cap
        for route, cap in (("driver", D.CC_DRIVER_LOCAL_MAX_EDGES), ("loop", -1)):
            monkeypatch.setattr(D, "CC_DRIVER_LOCAL_MAX_EDGES", cap)
            got = {r.id: r.comp for r in D.connected_components(vdf, edf).collect()}
            assert got == want, f"trial {trial} route {route}"


def test_ivf_short_corpus_guard(spark, monkeypatch):
    """Fewer vectors than k must shrink k, not crash the sampler."""
    rows = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(S, "IVF_ITERS", 1)
    centroids = S.ivf_centroids_np(df)
    assert 1 <= len(centroids) <= 5
    monkeypatch.setattr(S, "IVF_TOP_K", 2)
    monkeypatch.setattr(S, "IVF_NPROBE", 4)
    out = S.ivf_topk(df.limit(1), df, centroids)
    assert out.count() >= 1


def test_ivf_kernel_breaks_ties_toward_the_smaller_bucket():
    """The one squared-L2 kernel behind IVF training, assignment and
    probing: a vector equidistant from two centroids goes to the smaller
    bucket, and probes visit buckets in (distance, bucket) order — the
    order a sort of (distance, bucket) pairs gives."""
    import numpy as np

    C = np.array([[2.0, 0.0], [1.0, 0.0], [-1.0, 0.0], [0.0, 1.0], [0.0, 0.0]])
    M = np.array([[0.0, 0.0], [0.5, 0.0], [3.0, 0.0]])
    d = S._sq_l2(M, C)
    assert d.tolist() == [[4, 1, 1, 1, 0], [2.25, 0.25, 2.25, 1.25, 0.25], [1, 4, 16, 10, 9]]
    assert S._nearest(M, C).tolist() == [4, 1, 0]
    assert S._probe_order(M, C, 4).tolist() == [[4, 1, 2, 3], [1, 4, 3, 0], [0, 1, 4, 3]]
    want = [[b for _, b in sorted(zip(row, range(len(C))))] for row in d.tolist()]
    assert S._probe_order(M, C, len(C)).tolist() == want
    assert S._probe_order(M, C, 99).shape == (3, len(C))


def test_operator_caches_release_with_result(spark):
    """Cache-lifetime contract: intermediates persisted inside the dedup
    operators (shingle index, MinHash signatures, SimHash fingerprints)
    unpersist once the caller drops the result DataFrame — a long-lived
    session embedding the operators must not leak executor memory."""
    import gc
    import time

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    docs = load_table(spark, SF_CORRECT, "documents").limit(150)
    # settle finalizers from earlier tests so they can't shift the baseline
    gc.collect()
    time.sleep(0.3)
    baseline = persistent_ids()
    for build in (
        lambda: D.jaccard_pairs(docs, threshold=0.3),
        lambda: D.minhash_near_dups(docs, threshold=0.3),
        lambda: D.simhash_near_dups(docs, max_distance=3),
    ):
        result = build()
        result.count()
        assert persistent_ids() - baseline, "operator should persist while live"
        del result
        gc.collect()
        # unpersist(blocking=False) propagates asynchronously
        leaked = persistent_ids() - baseline
        for _ in range(50):
            if not leaked:
                break
            time.sleep(0.1)
            leaked = persistent_ids() - baseline
        assert not leaked, f"cached intermediates leaked: {leaked}"


def test_lsh_candidate_pairs_rejects_wrong_signature_width(spark, monkeypatch):
    """A sigs frame built with a different permutation count must fail
    loudly, not band over truncated slices (silent recall loss)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    docs = load_table(spark, SF_CORRECT, "documents").limit(20)
    monkeypatch.setattr(D, "MINHASH_PERMS", 16)
    sigs = D.minhash_signature(docs)
    monkeypatch.setattr(D, "MINHASH_PERMS", 32)
    with pytest.raises(SparkRuntimeException, match="expected signature width"):
        D.lsh_candidate_pairs(sigs, bands=8).count()


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    """A chain longer than CC_MAX_ITERS' propagation reach must raise, not
    return silently under-merged labels (the distributed loop, forced by
    an edge cap of -1)."""
    import pytest

    monkeypatch.setattr(D, "CC_DRIVER_LOCAL_MAX_EDGES", -1)

    n = 12
    vertices = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    monkeypatch.setattr(D, "CC_MAX_ITERS", 2)
    with pytest.raises(RuntimeError, match="still changing"):
        D.connected_components(vertices, edges)
    monkeypatch.setattr(D, "CC_MAX_ITERS", n + 1)
    full = D.connected_components(vertices, edges)
    assert {r.comp for r in full.collect()} == {0}


def test_connected_components_long_chain_converges_logarithmically(spark, monkeypatch):
    """Path halving must collapse a 200-node path graph well inside
    CC_MAX_ITERS=12 (2^12 >> 200) — plain hash-min would need ~200 rounds.
    The distributed loop is forced by an edge cap of -1."""
    monkeypatch.setattr(D, "CC_DRIVER_LOCAL_MAX_EDGES", -1)
    n = 200
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    monkeypatch.setattr(D, "CC_MAX_ITERS", 12)
    comps = D.connected_components(verts, chain)
    rows = comps.collect()
    assert len(rows) == n
    assert {r.comp for r in rows} == {0}, "one component rooted at min id"


def test_connected_components_route_seam(spark, monkeypatch, caplog):
    """The round-13 driver-local route: auto picks driver-local below the edge cap (audit line included),
    the loop above it; null endpoints and non-integral ids always keep
    the loop."""
    import logging as _logging

    logger = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup"
    verts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "src long, dst long")
    want = {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)}

    def run_and_log(**kw):
        caplog.clear()
        with caplog.at_level(_logging.INFO, logger=logger):
            got = {(r.id, r.comp) for r in D.connected_components(verts, edges, **kw).collect()}
        return got, [r.getMessage() for r in caplog.records]

    got, msgs = run_and_log()
    assert got == want
    assert any("'driver_local'" in m for m in msgs), msgs

    monkeypatch.setattr(D, "CC_DRIVER_LOCAL_MAX_EDGES", 0)
    got, msgs = run_and_log()
    assert got == want
    assert any("'loop'" in m for m in msgs), msgs
    monkeypatch.undo()

    # null endpoints: auto logs the fallback and takes the loop
    nedges = spark.createDataFrame([(0, 1), (2, None)], "src long, dst long")
    caplog.clear()
    with caplog.at_level(_logging.INFO, logger=logger):
        D.connected_components(verts, nedges).collect()
    assert any("null edge endpoints" in r.getMessage() for r in caplog.records)

    # non-integral ids: auto silently loops
    sverts = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    sedges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {(r.id, r.comp) for r in D.connected_components(sverts, sedges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "c")}

    # empty edge list: driver route returns all-singleton labels
    eedges = spark.createDataFrame([], "src long, dst long")
    got = {(r.id, r.comp) for r in D.connected_components(verts, eedges).collect()}
    assert got == {(i, i) for i in range(6)}


def test_connected_components_check_vertices_fails_loudly(spark):
    """check_vertices=True: a filtered vertex set with unfiltered edges
    must raise, not silently emit label rows for non-vertices."""
    import pytest

    verts = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 7)], "src long, dst long")  # 7 not a vertex
    with pytest.raises(ValueError, match="edge endpoints"):
        D.connected_components(verts, edges, check_vertices=True)
    # and the same call with a complete vertex set passes the check
    full = spark.createDataFrame([(1,), (2,), (7,)], "id long")
    out = {(r.id, r.comp) for r in D.connected_components(full, edges, check_vertices=True).collect()}
    assert out == {(1, 1), (2, 1), (7, 1)}


def test_connected_components_debug_mode_checks_by_default(spark, monkeypatch):
    """SPARK_GRAFT_DEBUG=1 turns the vertex-precondition check on with
    NO call-site opt-in, so a filtered-vertices misuse fails at the call
    site in any debug run (round-6, VERDICT r5 item 6)."""
    import pytest

    verts = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 7)], "src long, dst long")
    monkeypatch.setenv("SPARK_GRAFT_DEBUG", "1")
    with pytest.raises(ValueError, match="edge endpoints"):
        D.connected_components(verts, edges)
    # non-debug default stays permissive (callers satisfy the
    # precondition by construction; the check costs a vertices pass)
    monkeypatch.delenv("SPARK_GRAFT_DEBUG")
    rows = D.connected_components(verts, edges).collect()
    assert {(r.id, r.comp) for r in rows} >= {(1, 1), (2, 1)}


def test_lsh_band_geometry_properties():
    """Adaptive band sizing (SCALE.md lesson 18): width grows with
    log2(N) so random-collision mass bands*C(N,2)/2^width stays ~linear
    in N; bands stay within [16, 48]; small corpora resolve to the
    legacy 16x8 geometry so the planted-dup fixtures are unaffected."""
    import math

    # legacy geometry at small N (the planted-dup test fixture size)
    assert S.lsh_band_geometry(50, 0.9) == (16, 8)
    # width tracks log2(N)+2 within clamps
    for n in (2_000, 20_000, 200_000, 2_000_000):
        b, w = S.lsh_band_geometry(n, 0.9)
        assert w == min(24, max(8, math.ceil(math.log2(n)) + 2))
        assert 16 <= b <= 48
        # collision mass per band for random directions is ~ C(N,2)/2^w;
        # the width choice keeps it at most ~N (linear), never quadratic
        assert n * (n - 1) / 2 / 2**w <= n
    # width monotone in N, bands monotone in width (S-curve compensation)
    ws = [S.lsh_band_geometry(n, 0.9)[1] for n in (10**3, 10**4, 10**5, 10**6)]
    assert ws == sorted(ws)
    # degenerate thresholds stay in range rather than exploding
    assert 16 <= S.lsh_band_geometry(10**6, 0.999)[0] <= 48
    assert 16 <= S.lsh_band_geometry(10**6, 0.0)[0] <= 48


def test_eager_stats_join_planning_uses_measured_size(spark):
    """caching.eager_stats (SCALE.md lesson 17): after materialization,
    join planning reads the cache's MEASURED bytes. A genuinely small
    exploded frame must still plan as a broadcast join (the sf0.1 fast
    path) — the pre-fix failure direction (huge frame estimated tiny and
    broadcast) is exercised by the sf10 smoke, not unit-testable at
    fixture scale."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import eager_stats

    docs = load_table(spark, SF_CORRECT, "documents")
    small = eager_stats(D.doc_shingles(docs.limit(50)), 32)
    other = D.doc_shingles(docs.limit(80))
    plan = other.join(small, "shingle")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # planned against the cache, not a rebuild
    small.unpersist()


def test_eager_stats_count_gated_on_source_bytes(spark):
    """Round-5 fix: the materializing count() is an extra job (~1.5 s
    fixed at small SF) that only pays when the cached relation could
    cross the broadcast threshold. Provably-small local scans keep the
    lazy persist; unsizeable sources (in-memory frames, remote schemes)
    stay eager — the production-safe direction."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import _size_proof

    docs = load_table(spark, SF_CORRECT, "documents")
    # 65 KB parquet × 32 expansion bound << 64 MB threshold: no risk.
    assert _size_proof(D.doc_shingles(docs), 32)[0] is False
    # In-memory frame: no file listing, size unprovable → eager.
    mem = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert _size_proof(D.doc_shingles(mem), 32)[0] is True
    # Auto-broadcast disabled: a mis-estimate cannot mis-plan → lazy.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert _size_proof(D.doc_shingles(mem), 32)[0] is False
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_disabled_threshold_is_not_a_smallness_proof(spark):
    """ADVICE r7 (medium): with autoBroadcastJoinThreshold=-1 the frame
    is not RISKY (the planner won't pick any estimate-driven broadcast)
    but must also not be PROVEN small — explicit F.broadcast() hints
    override a disabled threshold, so a smallness verdict taken off a
    config the user set specifically to prevent driver-OOM broadcasts
    would rest on zero size evidence."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import _size_proof

    docs = load_table(spark, SF_CORRECT, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert _size_proof(D.doc_shingles(docs), D.SHINGLE_INDEX_BOUND) == (False, False, None)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # with the threshold ENABLED the same tiny source IS proven small
    risky, proven, sizes = _size_proof(D.doc_shingles(docs), D.SHINGLE_INDEX_BOUND)
    assert (risky, proven) == (False, True) and sizes


def test_eager_stats_lazy_path_logs_audit_line(spark):
    """Round-7 (VERDICT r6 item 8): per-call-site expansion bounds are
    only safe if a wrong bound is diagnosable — the lazy-path decision
    must leave its audit line (source bytes, bound, threshold) in the
    log, so a later mis-broadcast points at the call site instead of
    requiring a driver-OOM autopsy. (Handler attached directly to the
    module logger rather than via caplog: pyspark configures Python
    logging at import and swallows propagation to pytest's root-logger
    capture.)"""
    import logging

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import caching

    records: list[logging.LogRecord] = []

    class _Capture(logging.Handler):
        def emit(self, record: logging.LogRecord) -> None:
            records.append(record)

    handler = _Capture(level=logging.INFO)
    caching.logger.addHandler(handler)
    old_level = caching.logger.level
    caching.logger.setLevel(logging.INFO)
    try:
        docs = load_table(spark, SF_CORRECT, "documents")
        # 65 KB parquet x bound 8 << broadcast threshold -> lazy path
        frame = caching.eager_stats(D.doc_shingles(docs), D.SHINGLE_INDEX_BOUND)
        frame.unpersist()
    finally:
        caching.logger.removeHandler(handler)
        caching.logger.setLevel(old_level)
    lazy_lines = [r for r in records if "lazy persist" in r.getMessage()]
    assert lazy_lines, "lazy-path decision left no audit log line"
    assert "raise expansion_bound" in lazy_lines[0].getMessage()


def test_materialize_prefer_local_skips_reliable_store(spark, tmp_path):
    """ADVICE r6: corpus-sized frames (connected_components' vertex seed)
    must NOT land in the reliable checkpoint store even when a dir is
    configured — prefer_local=True keeps them on executor-local blocks,
    so the measured ~3% reliable-checkpoint tax stays edge-endpoint-sized."""
    import os

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import materialize

    df = spark.createDataFrame([(i,) for i in range(16)], "id long")
    sc = spark.sparkContext
    ckpt = str(tmp_path / "prefer_local_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        local = materialize(df, prefer_local=True)
        assert local.count() == 16
        written = [f for _, _, fs in os.walk(ckpt) for f in fs]
        assert not written, "prefer_local frame leaked into the reliable store"
        reliable = materialize(df)
        assert reliable.count() == 16
        written = [f for _, _, fs in os.walk(ckpt) for f in fs]
        assert written, "default materialize ignored the configured dir"
    finally:
        sc._jsc.sc().setCheckpointDir(None)  # noqa: SLF001


def test_materialize_uses_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    """Fault-tolerance posture seam (caching.materialize): with a
    checkpoint dir configured the iterative operators switch every
    per-round materialization from executor-local blocks (lost with the
    executor, and the lineage to rebuild them already truncated) to
    reliable checkpoints in the shared store — same labels, and the
    store must actually receive data. Local mode stays on
    localCheckpoint when no dir is set (the rest of the suite covers
    that default)."""
    import os

    verts = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(7)], "src long, dst long")
    want = {(i, 0) for i in range(8)}

    sc = spark.sparkContext
    ckpt = str(tmp_path / "reliable_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        got = {(r.id, r.comp) for r in D.connected_components(verts, edges).collect()}
        assert got == want
        written = [
            os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
        ]
        assert written, "no checkpoint data written despite configured dir"
    finally:
        # reset to local-mode semantics for the rest of the session
        sc._jsc.sc().setCheckpointDir(None)  # noqa: SLF001
    assert not sc._jsc.sc().getCheckpointDir().isDefined()  # noqa: SLF001


def test_near_dup_components_minhash_refines_exact(spark):
    """near_dup_components (round 7): the minhash edge route's verified
    edges are a subset of the exact edges, so its partition must REFINE
    the exact partition (provable for any recall — it can under-merge,
    never over-merge). On this fixture LSH recall is 1.0 (deterministic,
    fixed-seed hashing), so the partitions are additionally EQUAL — the
    property the registry's kind='minhash' branch hash-check rests on."""
    from collections import defaultdict

    docs = load_table(spark, SF_CORRECT, "documents")
    ds = D.eager_stats(D.doc_shingles(docs), D.SHINGLE_INDEX_BOUND)
    exact = {
        r.doc_id: r.comp
        for r in D.near_dup_components(docs, 0.3, "jaccard", shingles=ds).collect()
    }
    mh = {
        r.doc_id: r.comp
        for r in D.near_dup_components(docs, 0.3, "minhash", shingles=ds).collect()
    }
    assert set(mh) == set(exact)  # same vertex set either way
    groups = defaultdict(list)
    for doc, comp in mh.items():
        groups[comp].append(doc)
    for members in groups.values():
        assert len({exact[d] for d in members}) == 1, "minhash component spans exact components"
    assert mh == exact  # recall 1.0 on this fixture (measured, deterministic)
    ds.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="edge_method"):
        D.near_dup_components(docs, 0.3, "bogus")


# --------------------------------------------------------------------------
# Winnowing substring fingerprints (round 13)
# --------------------------------------------------------------------------


def test_winnow_guarantee_planted_span(spark):
    """The combinatorial recall guarantee: two documents sharing ANY
    substring of length >= k + w - 1 chars share >= 1 fingerprint —
    checked pairwise on planted spans at random offsets inside random
    junk (not via winnow_shared_docs, which a cross-trial collision
    could satisfy by accident)."""
    import random

    rng = random.Random(13)
    L = D.WINNOW_K + D.WINNOW_W - 1
    rows = []
    for trial in range(10):
        span = "".join(rng.choice("abcdefgh ") for _ in range(L))
        for side in range(2):
            pad = lambda n: "".join(rng.choice("ijklmnopqrstuv") for _ in range(n))
            rows.append((2 * trial + side, pad(rng.randint(0, 60)) + span + pad(rng.randint(0, 60))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    by_doc: dict[int, set] = {}
    for r in D.winnow_fingerprints(df).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    for trial in range(10):
        shared = by_doc[2 * trial] & by_doc[2 * trial + 1]
        assert shared, f"trial {trial}: planted {L}-char span produced no shared fingerprint"


def test_winnow_disjoint_docs_share_nothing(spark):
    """Docs over disjoint alphabets cannot share a k-gram, hence no
    fingerprint (precision side: every shared fp witnesses a real
    shared k-gram, md5 collisions aside)."""
    df = spark.createDataFrame(
        [(0, "abcdefgh" * 10), (1, "ijklmnop" * 10)], "doc_id long, text string"
    )
    by_doc: dict[int, set] = {}
    for r in D.winnow_fingerprints(df).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert not (by_doc[0] & by_doc[1])


def test_winnow_short_docs_excluded(spark):
    """Documents below the guarantee length have no full window and
    must produce zero rows (they cannot contain a detectable span)."""
    L = D.WINNOW_K + D.WINNOW_W - 1
    df = spark.createDataFrame(
        [(0, "x" * (L - 1)), (1, "y" * L)], "doc_id long, text string"
    )
    got = D.winnow_fingerprints(df).groupBy("doc_id").count().collect()
    assert {r.doc_id for r in got} == {1}


def test_winnow_fingerprints_match_duckdb(spark):
    """Cross-engine parity on the real fixture: the Spark per-row-array
    derivation and the oracle's window-function derivation must produce
    the IDENTICAL (doc_id, fp) set — the property the driver's suite
    hash check rests on."""
    import duckdb

    spark_fps = {
        (r.doc_id, r.fp)
        for r in D.winnow_fingerprints(load_table(spark, SF_CORRECT, "documents")).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_CORRECT}/documents.parquet')"
    )
    oracle_fps = {(r[0], r[1]) for r in con.execute(D.winnow_sql()).fetchall()}
    assert spark_fps == oracle_fps



def test_hyperplane_lsh_signs_at_the_vectors_own_width(spark):
    """lsh_topk and cosine_near_dup_pairs draw their hyperplanes as wide
    as the vectors, so a 32-dim corpus runs and finds its planted
    near-duplicate (64-wide planes failed the matmul on it)."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 32))
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    top = {(r.query_id, r.rank): r.neighbor_id for r in S.lsh_topk(emb.where("vec_id < 2"), emb, 3).collect()}
    assert top[(0, 1)] == 1 and top[(1, 1)] == 0
    assert (0, 1) in {(r.id_a, r.id_b) for r in S.cosine_near_dup_pairs(emb, 0.9).collect()}
