"""Vector similarity search over the ``embeddings`` table.

Three paths, one output shape (query_id, neighbor_id, rank):

- **Brute force** — broadcast the query set against the corpus, score
  with the codegen cosine from ``functions.vector``, take per-query
  top-k via a rank window. Exact; correct baseline at any scale where
  |queries| is small (the corpus is never collected or shuffled — it
  streams through one projection + one bounded-heap window).
- **LSH-bucketed (random hyperplanes)** — per-band sign-bit codes from a
  fixed seeded projection matrix; candidates must share a band code
  with the query, then exact cosine rescoring. Trades recall for
  touching ~1/2^width of the corpus per band.
- **IVF (k-means buckets)** — each query probes its ``nprobe`` nearest
  centroid buckets and rescores exactly within them; the corpus is
  bucketed in flight.

Every vector step that is not the exact rescore — hyperplane signing,
k-means training, nearest-centroid assignment and probe selection — is
a numpy matmul over Arrow batches (or over a driver-side sample, for
training), not an interpreted higher-order-function fold: those run
outside whole-stage codegen and cost ~1000x more per row. Rescoring
keeps the ``functions.vector`` folds, whose fold order the DuckDB
oracle reproduces. Recall of both approximate paths is measured against
brute force in tests, not assumed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.vector import cosine, dot, norm2
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import eager_stats, tie_cache_lifetime
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import row_count, spread

#: Fixed seed for the hyperplane projections — part of the operator
#: definition (same planes at write and query time).
LSH_SEED = 20240813

#: Centroid count and Lloyd iterations of :func:`ivf_centroids_np`,
#: read at call time.
IVF_CENTROIDS = 16
IVF_ITERS = 6

#: Measured cached-bytes-per-source-byte ceiling for the exploded banded
#: code frame (round-7 three-decade sweep, .scratch/r7/
#: measure_expansion.py): 6.0x at sf0.1, 30.4x at sf1, 40.1x at sf10 —
#: it GROWS with the log2(N)-sized band count until lsh_band_geometry's
#: 48-band cap, after which the per-row payload is fixed and the ratio
#: plateaus around 40x. This is the one measured shape ABOVE caching.py's
#: 32x default — precisely the mis-broadcast risk the per-call-site
#: bound mechanism exists for. 64 = plateau + ~1.6x headroom.
BANDED_CODES_BOUND = 64


def _topk_by_score(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-``k`` of (query_id, neighbor_id, score) rows as
    (query_id, neighbor_id, rank); score ties break by neighbor id."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, rank) — scores stay internal so
    results are stable under float formatting; ordering ties break by
    neighbor id.
    """
    # Pre-normalize each side once so the per-pair cost is a single dot
    # fold (64 ops) instead of dot + two norms (192 ops). Norms are
    # per-row, computed before the join multiplies cardinality.
    # Zero-norm vectors would make every component 0/0 = NaN (silently
    # perturbing rank order); they carry no direction, so they are
    # mapped to the zero vector → score 0 against everything.
    def normalized(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        n = norm2("embedding")
        return df.select(
            F.col("vec_id").alias(out_id),
            F.when(n == 0, F.transform(F.col("embedding"), lambda x: F.lit(0.0)))
            .otherwise(F.transform(F.col("embedding"), lambda x: x.cast("double") / n))
            .alias(out_vec),
        )

    q = normalized(queries, "query_id", "q_vec")
    # the corpus side carries the per-pair dot folds — spread a
    # few-split scan so scoring parallelizes (no-op on a real corpus)
    c = normalized(spread(corpus, by=["vec_id"]), "neighbor_id", "c_vec")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot("q_vec", "c_vec").alias("score"),
        )
    )
    return _topk_by_score(scored, k)


def hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (same at index and query time)."""
    return np.random.default_rng(LSH_SEED).standard_normal((n_planes, dim))


def _first_agreeing_band(codes_a: str, codes_b: str, bands: int):
    """Canonical-band dedup predicate over a (band, code) equi-join: true
    only on the row of the pair's FIRST agreeing band, so each candidate
    pair survives once without a DISTINCT shuffle over (id, vector) rows
    — element_at compares the per-band code arrays both sides carry."""
    first = F.lit(True)
    for j in range(bands - 1):
        first = first & (
            (F.col("band") <= j) | (F.element_at(codes_a, j + 1) != F.element_at(codes_b, j + 1))
        )
    return first


def banded_self_join(banded: DataFrame, bands: int, a: str, b: str) -> DataFrame:
    """Candidate pairs (``a`` < ``b``) of a banded (id, codes, band, code)
    frame: an equi-join on (band, code) that keeps each pair at its first
    agreeing band only (:func:`_first_agreeing_band`), so a pair agreeing
    on several bands surfaces once with no DISTINCT shuffle. The filter
    half of every banded-LSH near-dup join; callers verify the pairs."""
    left = banded.select(F.col("id").alias(a), F.col("codes").alias("codes_a"), "band", "code")
    right = banded.select(F.col("id").alias(b), F.col("codes").alias("codes_b"), "band", "code")
    return (
        left.join(right, ["band", "code"])
        .where((F.col(a) < F.col(b)) & _first_agreeing_band("codes_a", "codes_b", bands))
        .select(a, b)
    )


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 10) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of 8 two-bit signature
    bands (16 hyperplanes) with the query, then exact cosine rescoring.
    Same output schema as :func:`brute_force_topk` (query_id,
    neighbor_id, rank)."""
    bands = 8
    codes_udf = band_codes_vectorized(16, bands)

    def banded(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(f"{role}_id"),
            F.col("embedding").alias(f"{role}_vec"),
            codes_udf(F.col("embedding")).alias(f"{role}_codes"),
        ).select("*", F.posexplode(f"{role}_codes").alias("band", "code"))

    q = banded(queries, "query")
    c = banded(spread(corpus, by=["vec_id"]), "neighbor")
    scored = (
        F.broadcast(q)
        .join(c, ["band", "code"])
        .where(
            (F.col("query_id") != F.col("neighbor_id"))
            & _first_agreeing_band("query_codes", "neighbor_codes", bands)
        )
        .select("query_id", "neighbor_id", cosine("query_vec", "neighbor_vec").alias("score"))
    )
    return _topk_by_score(scored, k)


def cosine_batch_near_dups(batch: DataFrame, corpus: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine near-dups of a *bounded batch* against the corpus —
    the incremental-dedup shape (new shard vs existing data).

    The batch broadcasts; the corpus streams through one scan with an
    O(dim) fold per (batch, corpus) pair — linear in corpus size, no
    shuffle. This is the exact path that stays viable at low thresholds,
    where candidate pruning is information-theoretically impossible (a
    threshold inside the bulk of the cosine distribution touches almost
    every pair; see cosine_near_dup_pairs for the prunable high-threshold
    self-join). Scores use the same un-normalized cosine fold as the SQL
    oracle rendering, so results are bit-exact."""
    a = batch.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    b = spread(corpus, by=["vec_id"]).select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    return (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cosine("vec_a", "vec_b").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def band_codes_vectorized(n_planes: int, bands: int):
    """Per-band sign-bit codes as an array<int> column: band b's code
    packs the sign bits of its ``n_planes//bands`` hyperplanes (bit j
    = plane ``b·width + j`` of :func:`hyperplanes` at the vectors' own
    width, set iff the dot product is ≥ 0), computed
    Arrow-vectorized — one BLAS matmul per batch, (batch, dim) @ (dim,
    n_planes) — instead of n_planes interpreted ``aggregate`` lambda
    folds per row.

    This is the deliberate exception to the engine's no-Python-UDF rule:
    higher-order-function expressions run INTERPRETED (outside
    whole-stage codegen), so 128 plane dots cost ~2 ms/row as
    expressions vs ~2 µs/row as a numpy matmul — the measured 0.88 s →
    0.06 s on the corpus-cosine headliner's code stage at sf0.1. A dot
    product within float-summation-order noise of exactly 0 could sign
    either way (probability ~0 for continuous data); candidates are
    exact-rescored afterwards, so a flipped borderline bit can only
    perturb the approximate candidate set, never emit a wrong pair."""
    width = n_planes // bands
    weights = (1 << np.arange(width)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        M = _matrix(v)  # (n, dim)
        bits = (M @ hyperplanes(M.shape[1], n_planes).T >= 0).astype(np.int64)  # (n, n_planes)
        B = bits.reshape(len(M), bands, width) @ weights  # (n, bands)
        return pd.Series(list(B.astype(np.int32)))

    return codes


def lsh_band_geometry(n_vectors: int, threshold: float) -> tuple[int, int]:
    """Size (bands, band_width) for a hyperplane-LSH self-join so the
    candidate-pair mass stays ~linear in corpus size.

    The failure mode this prevents (measured, sf10 smoke): a FIXED band
    width keeps per-band code space constant while C(N,2) grows, so
    random collisions — bands·C(N,2)/2^width — go quadratic. At
    N=200k, width 8 produced 1.5e9 candidate pairs; width 20, 1.8e6.
    Hence width ≈ log2(N)+2 (per-band collision mass ≈ N/4 for random
    directions), clamped to [8, 24].

    Bands then come from the LSH S-curve: a pair at cosine=threshold
    agrees on one sign bit w.p. p = 1 − acos(threshold)/π, on a band
    w.p. p^width, and is missed by every band w.p. (1−p^width)^bands —
    solved for miss ≤ 5% and clamped to [16, 48].
    At the cap the miss probability for exactly-at-threshold pairs
    degrades (documented honestly: at N=200k, threshold 0.9, the capped
    48 bands give ~11% miss at cos=0.90 but <0.3% at cos≥0.95); pairs
    well above threshold — the ones dedup is after — stay safe because
    per-bit agreement rises steeply with cosine."""
    import math

    w = int(max(8, min(24, math.ceil(math.log2(max(n_vectors, 2))) + 2)))
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    pw = p**w
    b = 16 if pw <= 0.0 or pw >= 1.0 else math.ceil(math.log(0.05) / math.log(1.0 - pw))
    return int(max(16, min(48, b))), w


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Self-join near-dup pairs (a < b, cosine ≥ threshold) via banded
    hyperplane LSH candidates + exact rescoring — the prunable shape for
    true near-dup thresholds (≥ ~0.85).

    Candidates come from an equi-join on (band, code) — never all-pairs
    — and exact rescoring keeps precision at 1. Recall-vs-brute-force
    parity on planted dups is asserted in tests/test_dedup_similarity.py.

    Band geometry is :func:`lsh_band_geometry` sized from the exact
    corpus count (:func:`row_count`: zero jobs on a bare scan). Two
    100 TB design rules are baked into the plan shape:

    - the heavy vector column NEVER rides the band explode: candidate
      generation shuffles compact (vid, codes, band, code) rows, and the
      vectors join back only for the surviving candidate pairs (two
      equi-joins on id) — at 200k×64f the exploded shuffle drops from
      ~2.6 GB to ~0.1 GB while rescore joins move ~100 MB;
    - band width grows with log2(N), keeping collision mass ~linear
      (see lsh_band_geometry; the sf10 smoke measured the fixed-width
      variant at 1.5e9 candidates vs 1.8e6 adaptive)."""
    # exact (geometry flips on ceil(log2 n), and a changed geometry
    # changes candidate sets)
    bands, width = lsh_band_geometry(row_count(df), threshold)
    codes_udf = band_codes_vectorized(bands * width, bands)
    # eager_stats: the banded frame self-joins below and its explode-
    # derived size estimate is structurally low (caching.py::eager_stats)
    # — materializing also runs the codes UDF once instead of twice
    banded = eager_stats(
        spread(df, by=["vec_id"])
        .select(
            F.col("vec_id").alias("id"),
            codes_udf(F.col("embedding")).alias("codes"),
        )
        .select("id", "codes", F.posexplode("codes").alias("band", "code")),
        BANDED_CODES_BOUND,
    )
    cands = banded_self_join(banded, bands, "id_a", "id_b")
    vecs = df.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    result = (
        cands.join(vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a")), "id_a")
        .join(vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
        .select("id_a", "id_b", cosine("vec_a", "vec_b").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
    return tie_cache_lifetime(result, banded)


# --------------------------------------------------------------------------
# IVF (inverted-file) index — the k-means-bucketed scale path
# --------------------------------------------------------------------------

IVF_SEED = 7_2024


def _sq_l2(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances from the rows of ``M`` to the
    centroids ``C``, as |M|² − 2·M·Cᵀ + |C|² — one BLAS matmul. The one
    distance kernel of training, assignment and probing."""
    return (M * M).sum(1)[:, None] - 2.0 * (M @ C.T) + (C * C).sum(1)[None, :]


def _nearest(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest centroid per row of ``M``; a tie goes to the smallest
    bucket (``argmin`` returns the first minimum)."""
    return _sq_l2(M, C).argmin(1)


def _probe_order(M: np.ndarray, C: np.ndarray, nprobe: int) -> np.ndarray:
    """The ``nprobe`` nearest buckets per row of ``M``, in (distance,
    bucket) order — the stable sort keeps tied buckets ascending."""
    return _sq_l2(M, C).argsort(1, kind="stable")[:, :nprobe]


def _matrix(vectors: pd.Series) -> np.ndarray:
    """An Arrow batch's array column as an (n, dim) float64 matrix."""
    return np.stack(vectors.to_numpy()).astype("float64")


def _ddl(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def ivf_centroids_np(corpus: DataFrame) -> np.ndarray:
    """Sampled driver-side k-means: a hash-ordered sample of ``32 × k``
    vectors (k = :data:`IVF_CENTROIDS`) collected once, seeded-RNG
    initial centroids, then :data:`IVF_ITERS` Lloyd iterations as
    numpy matmuls on the driver. Deterministic run to run; fewer sampled
    vectors than ``k`` shrink k rather than fail.

    The hash order spreads the sample across the corpus no matter how
    ids correlate with storage layout (a prefix-of-ids sample seeds every
    centroid inside whatever clusters come first, measured ~15 recall
    points worse on the sf0.01 fixture). k-means quality needs a
    REPRESENTATIVE sample, not the full corpus (FAISS trains on bounded
    samples for the same reason), so training costs O(sample · k · dim)
    on the driver, independent of corpus size: 0.16-0.25 s at k=16 on
    the sf0.01 and sf0.1 embeddings (4 vCPU), where an in-plan Lloyd
    loop paid 4.4-5.7 s in per-iteration jobs.
    Assignment of the full corpus runs on executors
    (:func:`assign_buckets_np`)."""
    k = IVF_CENTROIDS
    sample = (
        corpus.select("embedding")
        .orderBy(F.xxhash64(F.col("vec_id")).asc(), F.col("vec_id").asc())
        .limit(32 * k)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype="float64")
    if len(X) == 0:
        raise ValueError("ivf_centroids_np: corpus is empty — nothing to index")
    k = min(k, len(X))
    rng = np.random.default_rng(IVF_SEED)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(IVF_ITERS):
        a = _nearest(X, C)
        for b in range(k):
            m = a == b
            if m.any():
                C[b] = X[m].mean(0)  # empty bucket keeps its centroid
    return C


def assign_buckets_np(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """``df`` plus each row's nearest-centroid bucket (int ``bucket``
    column) for its ``c_vec`` vector: an Arrow mapInPandas argmin over
    the centroid matrix, which ships in the task closure (k×dim doubles)
    — so the plan stays O(1) in k and per-row cost is a BLAS matmul row."""
    C = np.ascontiguousarray(centroids, dtype="float64")

    def assign(batches):
        for pdf in batches:
            yield pdf.assign(bucket=_nearest(_matrix(pdf["c_vec"]), C).astype("int32"))

    return df.mapInPandas(assign, f"{_ddl(df)}, bucket int")


def _probe_buckets(queries: DataFrame, centroids: np.ndarray, nprobe: int) -> DataFrame:
    """(query_id, q_vec, bucket): each query once for each of its
    ``nprobe`` nearest centroid buckets (one mapInPandas over the
    queries, :func:`_probe_order`)."""
    C = np.ascontiguousarray(centroids, dtype="float64")
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))

    def probe(batches):
        for pdf in batches:
            order = _probe_order(_matrix(pdf["q_vec"]), C, nprobe)
            rows = pdf.loc[pdf.index.repeat(order.shape[1])].reset_index(drop=True)
            rows["bucket"] = order.ravel().astype("int32")
            yield rows

    return q.mapInPandas(probe, f"{_ddl(q)}, bucket int")


#: Top-k width of the IVF searches and probe count of the live route
#: (10 of its 16 centroids), read at call time.
IVF_TOP_K = 10
IVF_NPROBE = 10


def ivf_topk(queries: DataFrame, corpus: DataFrame, centroids: np.ndarray) -> DataFrame:
    """IVF top-:data:`IVF_TOP_K` search: corpus rows get their
    nearest-centroid bucket in flight (:func:`assign_buckets_np`); each
    query probes its :data:`IVF_NPROBE` nearest centroid buckets and
    rescores exactly within them."""
    c_assigned = assign_buckets_np(
        spread(corpus, by=["vec_id"]).select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")),
        centroids,
    )
    probed = _probe_buckets(queries, centroids, IVF_NPROBE)
    scored = (
        F.broadcast(probed)
        .join(c_assigned, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine("q_vec", "c_vec").alias("score"))
    )
    return _topk_by_score(scored, IVF_TOP_K)
