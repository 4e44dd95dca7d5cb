"""Vector similarity search over the ``embeddings`` table.

Two paths, one semantics:

- **Brute force** — broadcast the query set against the corpus, score
  with the codegen cosine from ``functions.vector``, take per-query
  top-k via a rank window. Exact; correct baseline at any scale where
  |queries| is small (the corpus is never collected or shuffled — it
  streams through one projection + one bounded-heap window).
- **LSH-bucketed (random hyperplanes)** — sign-bit signatures from a
  fixed seeded projection matrix; candidates must share a signature
  prefix band with the query, then exact cosine rescoring within the
  bucket. Trades recall for touching ~1/2^b of the corpus per band.
  Recall is measured against brute force in tests, not assumed.

At 100 TB the brute-force path is a full scan per query batch (fine for
offline eval); the bucketed path is the online/ANN shape: bucket id is
computable at write time, so the corpus can be stored partitioned by
bucket and partition pruning turns a query into a few-bucket read.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.vector import cosine, dot, norm2
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import eager_stats, materialize, tie_cache_lifetime
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

#: Fixed seed for the hyperplane projections — part of the operator
#: definition (same planes at write and query time).
LSH_SEED = 20240813

#: Measured cached-bytes-per-source-byte ceiling for the exploded banded
#: code frame (round-7 three-decade sweep, .scratch/r7/
#: measure_expansion.py): 6.0x at sf0.1, 30.4x at sf1, 40.1x at sf10 —
#: it GROWS with the log2(N)-sized band count until lsh_band_geometry's
#: 48-band cap, after which the per-row payload is fixed and the ratio
#: plateaus around 40x. This is the one measured shape ABOVE caching.py's
#: 32x default — precisely the mis-broadcast risk the per-call-site
#: bound mechanism exists for. 64 = plateau + ~1.6x headroom.
BANDED_CODES_BOUND = 64


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
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
        n = norm2(vec_col)
        return df.select(
            F.col(id_col).alias(out_id),
            F.when(n == 0, F.transform(F.col(vec_col), lambda x: F.lit(0.0)))
            .otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double") / n))
            .alias(out_vec),
        )

    q = normalized(queries, "query_id", "q_vec")
    # the corpus side carries the per-pair dot folds — spread a
    # few-split scan so scoring parallelizes (no-op on a real corpus)
    c = normalized(spread(corpus, by=[id_col]), "neighbor_id", "c_vec")
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
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = LSH_SEED) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (same at index and query time)."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def signature_col(vec_col, planes: np.ndarray):
    """Sign-bit signature as a long column: bit_i = 1 iff <v, p_i> >= 0.

    Pure expression (one fused dot per plane) — computable at write time
    for bucket-partitioned storage.
    """
    bits = []
    for i, p in enumerate(planes):
        dot_i = F.aggregate(
            F.zip_with(
                vec_col if not isinstance(vec_col, str) else F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in p]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(dot_i >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    bands: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of ``bands`` signature bands
    with the query, then exact cosine rescoring. Same output schema as
    :func:`brute_force_topk` (query_id, neighbor_id, rank)."""
    planes = hyperplanes(dim, n_planes)
    width = n_planes // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, role: str) -> DataFrame:
        sig = signature_col(vec_col, planes)
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_vec"),
            sig.alias(f"{role}_sig"),
        ).select(
            f"{role}_id",
            f"{role}_vec",
            f"{role}_sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col(f"{role}_sig"), b * width).bitwiseAND(F.lit(mask)).alias("band_val"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(f"{role}_id", f"{role}_vec", f"{role}_sig", "bb.band", "bb.band_val")

    q = banded(queries, "query")
    c = banded(spread(corpus, by=[id_col]), "neighbor")
    # Canonical-band dedup: keep a candidate pair only at its FIRST
    # agreeing band, so the exact same candidate set survives without a
    # DISTINCT over (id, vector-array) rows — the predicate is bit math
    # on the signature longs both sides already carry.
    first_agreeing = F.lit(True)
    for j in range(bands - 1):
        first_agreeing = first_agreeing & (
            (F.col("band") <= j)
            | (
                F.shiftright(F.col("query_sig"), j * width).bitwiseAND(F.lit(mask))
                != F.shiftright(F.col("neighbor_sig"), j * width).bitwiseAND(F.lit(mask))
            )
        )
    cands = (
        F.broadcast(q)
        .join(c, ["band", "band_val"])
        .where((F.col("query_id") != F.col("neighbor_id")) & first_agreeing)
        .select("query_id", "query_vec", "neighbor_id", "neighbor_vec")
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine("query_vec", "neighbor_vec").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def cosine_batch_near_dups(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
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
    a = batch.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = spread(corpus, by=[id_col]).select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cosine("vec_a", "vec_b").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def band_codes_vectorized(planes: np.ndarray, bands: int):
    """Per-band sign-bit codes as an array<int> column: band b's code
    packs the sign bits of its ``len(planes)//bands`` hyperplanes,
    computed Arrow-vectorized — one BLAS matmul per batch, (batch, dim)
    @ (dim, n_planes) — instead of n_planes interpreted ``aggregate``
    lambda folds per row.

    This is the deliberate exception to the engine's no-Python-UDF rule:
    higher-order-function expressions run INTERPRETED (outside
    whole-stage codegen), so 128 plane dots cost ~2 ms/row as
    expressions vs ~2 µs/row as a numpy matmul — the measured 0.88 s →
    0.06 s on the corpus-cosine headliner's code stage at sf0.1. Sign
    bits of the two paths agree unless a dot product lands within
    float-summation-order noise of exactly 0 (probability ~0 for
    continuous data) — and candidates are exact-rescored afterwards
    either way, so a flipped borderline bit can only perturb the
    approximate candidate set, never emit a wrong pair."""
    width = len(planes) // bands
    P = planes.astype(np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(width)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (M @ P >= 0).astype(np.int64)  # (n, n_planes)
        B = bits.reshape(len(M), bands, width) @ weights  # (n, bands)
        return pd.Series(list(B.astype(np.int32)))

    return codes


def lsh_band_geometry(
    n_vectors: int,
    threshold: float,
    target_miss: float = 0.05,
    min_width: int = 8,
    max_width: int = 24,
    min_bands: int = 16,
    max_bands: int = 48,
) -> tuple[int, int]:
    """Size (bands, band_width) for a hyperplane-LSH self-join so the
    candidate-pair mass stays ~linear in corpus size.

    The failure mode this prevents (measured, sf10 smoke): a FIXED band
    width keeps per-band code space constant while C(N,2) grows, so
    random collisions — bands·C(N,2)/2^width — go quadratic. At
    N=200k, width 8 produced 1.5e9 candidate pairs; width 20, 1.8e6.
    Hence width ≈ log2(N)+2 (per-band collision mass ≈ N/4 for random
    directions), clamped to [min_width, max_width].

    Bands then come from the LSH S-curve: a pair at cosine=threshold
    agrees on one sign bit w.p. p = 1 − acos(threshold)/π, on a band
    w.p. p^width, and is missed by every band w.p. (1−p^width)^bands —
    solved for miss ≤ target_miss and clamped to [min_bands, max_bands].
    At the cap the miss probability for exactly-at-threshold pairs
    degrades (documented honestly: at N=200k, threshold 0.9, the capped
    48 bands give ~11% miss at cos=0.90 but <0.3% at cos≥0.95); pairs
    well above threshold — the ones dedup is after — stay safe because
    per-bit agreement rises steeply with cosine."""
    import math

    w = int(max(min_width, min(max_width, math.ceil(math.log2(max(n_vectors, 2))) + 2)))
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    pw = p**w
    if pw <= 0.0 or pw >= 1.0:
        b = min_bands
    else:
        b = math.ceil(math.log(target_miss) / math.log(1.0 - pw))
    return int(max(min_bands, min(max_bands, b))), w


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    corpus_size: int | None = None,
) -> DataFrame:
    """Self-join near-dup pairs (a < b, cosine ≥ threshold) via banded
    hyperplane LSH candidates + exact rescoring — the prunable shape for
    true near-dup thresholds (≥ ~0.85).

    Candidates come from an equi-join on (band, code) — never all-pairs
    — and exact rescoring keeps precision at 1. Recall-vs-brute-force
    parity on planted dups is asserted in tests/test_dedup_similarity.py.

    Band geometry defaults to :func:`lsh_band_geometry` sized from the
    corpus count (pass ``corpus_size`` when it is already known to skip
    the count job; pass explicit ``n_planes``/``bands`` to pin a stored
    layout's geometry). Two 100 TB design rules are baked into the plan
    shape:

    - the heavy vector column NEVER rides the band explode: candidate
      generation shuffles compact (vid, codes, band, code) rows, and the
      vectors join back only for the surviving candidate pairs (two
      equi-joins on id) — at 200k×64f the exploded shuffle drops from
      ~2.6 GB to ~0.1 GB while rescore joins move ~100 MB;
    - band width grows with log2(N), keeping collision mass ~linear
      (see lsh_band_geometry; the sf10 smoke measured the fixed-width
      variant at 1.5e9 candidates vs 1.8e6 adaptive)."""
    if bands is None or n_planes is None:
        n = corpus_size
        if n is None:
            # zero-job EXACT count from parquet footers when the frame is
            # provably a bare row-preserving scan (round 14 — the same
            # metadata-decision discipline as the pipeline bytes gate,
            # but exact, because geometry flips on ceil(log2 n) and a
            # changed geometry changes candidate sets); filtered/derived
            # frames fall back to the count job, semantics identical
            from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import scan_row_count

            n = scan_row_count(df)
        if n is None:
            n = df.count()
        bands, width = lsh_band_geometry(n, threshold)
        n_planes = bands * width
    planes = hyperplanes(dim, n_planes)
    codes_udf = band_codes_vectorized(planes, bands)
    # eager_stats: the banded frame self-joins below and its explode-
    # derived size estimate is structurally low (caching.py::eager_stats)
    # — materializing also runs the codes UDF once instead of twice
    banded = eager_stats(
        spread(df, by=[id_col])
        .select(
            F.col(id_col).alias("vid"),
            codes_udf(F.col(vec_col)).alias("codes"),
        )
        .select("vid", "codes", F.posexplode("codes").alias("band", "code")),
        BANDED_CODES_BOUND,
    )
    a = banded.select(F.col("vid").alias("id_a"), F.col("codes").alias("codes_a"), "band", "code")
    b = banded.select(F.col("vid").alias("id_b"), F.col("codes").alias("codes_b"), "band", "code")
    # canonical-band dedup (see simhash_near_dups): emit a pair only at
    # its first agreeing band — same candidate set, no DISTINCT shuffle
    first_agreeing = F.lit(True)
    for j in range(bands - 1):
        first_agreeing = first_agreeing & (
            (F.col("band") <= j)
            | (F.element_at("codes_a", j + 1) != F.element_at("codes_b", j + 1))
        )
    cands = (
        a.join(b, ["band", "code"])
        .where((F.col("id_a") < F.col("id_b")) & first_agreeing)
        .select("id_a", "id_b")
    )
    vecs = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
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


def ivf_k_for(n_vectors: int) -> int:
    """Centroid count for a corpus of ``n_vectors``: √N rounded to the
    nearest power of two, clamped to [16, 4096].

    A FIXED k is the quiet scale bug the round-11 decade run measured:
    at 16 centroids, nprobe=10 probes 62% of the corpus, so query cost
    tracks the corpus linearly (sf10→sf100 IVF ratio 10.8× on 10×
    vectors). √N keeps the per-bucket size AND the probe fan-out both
    growing as √N — the classic IVF balance point: probed fraction
    nprobe/k falls as the corpus grows while each probed bucket stays
    √N-sized. 4096 caps the (broadcast) centroid payload and the
    write-time assignment cost; past that, a real deployment shards the
    index (IVF-PQ / multi-level), which is beyond this engine's seam."""
    import math

    if n_vectors <= 0:
        raise ValueError("n_vectors must be positive")
    k = 2 ** round(math.log2(max(math.sqrt(n_vectors), 1)))
    return max(16, min(4096, int(k)))


def ivf_centroids_np(
    corpus: DataFrame,
    k: int,
    iters: int = 6,
    sample_per_centroid: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Sampled driver-side k-means for LARGE k (the √N regime of
    :func:`ivf_k_for`): hash-ordered deterministic sample of
    ``sample_per_centroid × k`` vectors collected once (k-bounded, the
    same contract as :func:`ivf_centroids`'s seed sample), Lloyd
    iterations as numpy matmuls on the driver.

    Why not the in-plan Lloyd loop of :func:`ivf_centroids` at large k:
    its per-row assignment folds over the k-element centroid array —
    O(k·dim) interpreted work per corpus row per iteration, measured
    187.7 s at (k=16, 2M vectors); at k=1448 that is ~90× more. k-means
    quality needs a REPRESENTATIVE sample, not the full corpus (FAISS
    trains on bounded samples for the same reason), so training cost
    becomes O(sample · k · dim) driver-side matmul — independent of
    corpus size. Assignment of the full corpus happens once, at write
    time (:func:`write_ivf_index`, whose matmul route takes large k)."""
    spark = corpus.sparkSession
    n_sample = sample_per_centroid * k
    sample = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(n_sample)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype="float64")
    if len(X) == 0:
        raise ValueError("ivf_centroids_np: corpus is empty — nothing to index")
    k = min(k, len(X))
    rng = np.random.default_rng(IVF_SEED)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        # squared L2 via the expansion; argmin ties break at the
        # smallest bucket (np.argmin picks the first minimum)
        d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
        a = d2.argmin(1)
        for b in range(k):
            m = a == b
            if m.any():
                C[b] = X[m].mean(0)  # empty bucket keeps its centroid
    return C


def assign_buckets_np(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding", out: str = "bucket"
) -> DataFrame:
    """Vectorized nearest-centroid assignment for LARGE k: an Arrow
    mapInPandas matmul argmin over the centroid matrix (shipped in the
    task closure — k×dim doubles, ≤2 MB at the k cap). Same semantics
    as :func:`with_bucket` (squared L2, smallest-bucket tie-break), but
    per-row cost is a BLAS matmul row instead of an interpreted
    O(k·dim) SQL fold — the difference between write-time assignment
    being feasible and not at √N-scaled k."""
    import pandas as pd

    C = np.ascontiguousarray(centroids, dtype="float64")
    c_sq = (C * C).sum(1)
    cols = df.columns
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def assign(batches):
        for pdf in batches:
            M = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            d2 = (M * M).sum(1)[:, None] - 2.0 * (M @ C.T) + c_sq[None, :]
            yield pd.DataFrame({**{c: pdf[c] for c in cols}, out: d2.argmin(1).astype("int32")})

    return df.mapInPandas(assign, f"{fields}, {out} int")


def centroid_relation(spark, centroids: np.ndarray) -> DataFrame:
    """Centroids as DATA, not plan literals: a ONE-ROW relation holding
    ``_centroids: array<struct<bucket:int, cvec:array<double>>>`` (sorted
    by bucket, so downstream argmin tie-breaks are deterministic).

    Why this shape and not k×dim literal expressions (the round-3
    design): a literal centroid table bakes k×dim constants into the
    Catalyst plan, so analysis time, codegen method size (64 KB JVM
    limit) and plan serialization all grow with k — a 100 TB IVF index
    wants k in the thousands, where the *plan itself* becomes the
    bottleneck. And not a (bucket, cvec) row-per-centroid relation
    joined + min_by-aggregated either: the argmin groupBy would shuffle
    the full corpus once per assignment. Broadcasting ONE row and
    folding over the array column keeps the plan O(1) in k, ships the
    centroid payload through the broadcast (data plane, not plan), and
    assigns buckets with zero shuffle."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    flat = spark.createDataFrame(rows, "bucket int, cvec array<double>")
    return flat.agg(F.array_sort(F.collect_list(F.struct("bucket", "cvec"))).alias("_centroids"))


def _centroid_dists(vec, centroids_col):
    """array<struct<d:double, bucket:int>> of squared L2 distances from
    ``vec`` to every centroid in the (broadcast) centroid array column —
    struct order (d, bucket) makes array_min/array_sort argmin with
    deterministic smallest-bucket tie-breaks."""
    return F.transform(
        centroids_col,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    vec, c["cvec"], lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            c["bucket"].alias("bucket"),
        ),
    )


def with_bucket(
    df: DataFrame, crel: DataFrame, vec_col: str = "embedding", out: str = "bucket"
) -> DataFrame:
    """Attach each row's nearest-centroid bucket via the broadcast one-row
    centroid relation — no shuffle, plan size independent of k. This is
    the write-time assignment used by :func:`write_ivf_index`."""
    return (
        df.crossJoin(F.broadcast(crel))
        .withColumn(out, F.array_min(_centroid_dists(F.col(vec_col), F.col("_centroids")))["bucket"])
        .drop("_centroids")
    )


def ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic-ish k-means centroids: seeded sample init + a few
    Lloyd iterations. (Float means are aggregation-order-sensitive, so
    borderline assignments may flip between runs; IVF is an approximate
    index, its quality is measured by recall, not by bit-stable
    centroids.)

    Driver traffic (round-6, VERDICT r5 item 9): training state never
    crosses the driver mid-loop. The earlier shape collected the k×dim
    means EVERY iteration (k=4096, dim=1024, 10 rounds = ~320 MB
    serialized through the driver plus Python-side reassembly); now each
    iteration derives the next (bucket, cvec) relation from the previous
    one entirely in-plan — assignment via the broadcast one-row centroid
    relation, per-dimension means, collect_list re-assembly, and an
    empty-bucket coalesce against the previous centroids — and
    caching.materialize() keeps the iterative lineage flat (the k-row
    frame lands on executors, or in the reliable checkpoint store when
    the session configures one). Exactly two driver materializations
    total, both k-bounded: the seed sample (4k rows) and the final
    centroid fetch at convergence."""
    spark = corpus.sparkSession
    # hash-ordered sample: deterministic AND spread across the corpus no
    # matter how ids correlate with storage/cluster layout (a prefix-of-ids
    # sample seeds every centroid inside whatever clusters come first,
    # measured ~15 recall points worse on the sf0.01 fixture)
    sample = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(4 * k)
        .collect()
    )
    rng = np.random.default_rng(IVF_SEED)
    pool = np.array([r[0] for r in sample], dtype="float64")
    if len(pool) == 0:
        raise ValueError("ivf_centroids: corpus is empty — nothing to index")
    # short corpus: fewer centroids than requested beats a sampling crash
    k = min(k, len(pool))
    seed = pool[rng.choice(len(pool), size=k, replace=False)]
    vecs = spread(corpus).select(F.col(vec_col).alias("v"))
    flat = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(seed)],
        "bucket int, cvec array<double>",
    )
    for _ in range(iters):
        crel = flat.agg(
            F.array_sort(F.collect_list(F.struct("bucket", "cvec"))).alias("_centroids")
        )
        assigned = with_bucket(vecs, crel, "v", "c")
        new_flat = (
            assigned.select("c", F.posexplode("v").alias("i", "x"))
            .groupBy("c", "i")
            .agg(F.avg("x").alias("m"))
            .groupBy("c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
                ).alias("cvec")
            )
            .select(F.col("c").alias("bucket"), "cvec")
        )
        # a bucket that captured no points keeps its previous centroid
        # (the old driver-side loop had the same rule, implicitly)
        flat = materialize(
            flat.alias("p")
            .join(new_flat.alias("n"), F.col("p.bucket") == F.col("n.bucket"), "left")
            .select(
                F.col("p.bucket").alias("bucket"),
                F.coalesce(F.col("n.cvec"), F.col("p.cvec")).alias("cvec"),
            )
        )
    final = flat.orderBy("bucket").collect()
    return np.array([r.cvec for r in final], dtype="float64")


def _probe_buckets(queries: DataFrame, crel: DataFrame, nprobe: int, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, q_vec, bucket) — each query exploded to its ``nprobe``
    nearest centroid buckets, distances computed against the broadcast
    centroid array."""
    return (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .crossJoin(F.broadcast(crel))
        .select(
            "query_id",
            "q_vec",
            F.explode(
                F.slice(F.array_sort(_centroid_dists(F.col("q_vec"), F.col("_centroids"))), 1, nprobe)
            ).alias("p"),
        )
        .select("query_id", "q_vec", F.col("p.bucket").alias("bucket"))
    )


def _topk_by_score(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: corpus rows carry their nearest-centroid bucket
    (assigned via the broadcast centroid relation — at scale the
    assignment happens at write time instead, see :func:`write_ivf_index`
    / :func:`ivf_topk_stored`); each query probes its nprobe nearest
    centroid buckets and rescores exactly within them."""
    crel = centroid_relation(corpus.sparkSession, centroids)
    c_assigned = with_bucket(
        spread(corpus, by=[id_col]).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        crel,
        "c_vec",
        "bucket",
    )
    probed = _probe_buckets(queries, crel, nprobe, id_col, vec_col)
    scored = (
        F.broadcast(probed)
        .join(c_assigned, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine("q_vec", "c_vec").alias("score"))
    )
    return _topk_by_score(scored, k)


#: with_bucket's interpreted SQL fold costs O(k·dim) per row; past this
#: centroid count the Arrow matmul path (assign_buckets_np) wins — a
#: structural per-row-cost rule, not a measured data statistic, so it
#: does not ride plans/cost.py.
IVF_NUMPY_ASSIGN_MIN_K = 64


def write_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: assign each corpus row's bucket ONCE at
    write time and store the corpus hive-partitioned by bucket. At 100 TB
    this is the whole point of IVF — the per-row assignment cost is paid
    once at ingest, and a probe becomes a partition-pruned read of
    ``nprobe`` directories instead of a full scan + assignment.

    Above IVF_NUMPY_ASSIGN_MIN_K centroids (read at call time, so tests
    force either side by patching it) the assignment is
    :func:`assign_buckets_np` — Arrow matmul, the √N-scaled-k route;
    at or below it, the broadcast one-row-relation fold of
    :func:`with_bucket` — plan O(1) in k, fine at small k. Both assign
    identical buckets."""
    if len(centroids) > IVF_NUMPY_ASSIGN_MIN_K:
        assigned = assign_buckets_np(corpus, centroids, vec_col, "bucket")
    else:
        crel = centroid_relation(corpus.sparkSession, centroids)
        assigned = with_bucket(corpus, crel, vec_col, "bucket")
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)


#: Minimum expected vectors a stored-route probe should sweep. The
#: round-12 crossover record (SCALE_R12_ANN_CROSSOVER.json) measured the
#: quarter-of-centroids operating point UNDER the registry's 0.65 recall
#: floor at 2k vectors (0.645: 10 of 32 buckets ≈ 625 vectors probed) and
#: thin at 20k (0.710); from 200k up it clears comfortably (0.829+). At
#: √N-sized buckets, sweeping ≥1500 vectors forces the probe fraction up
#: exactly where recall binds (75% of buckets at 2k) and is a no-op from
#: ~25k vectors on, where the quarter already sweeps more.
IVF_MIN_PROBED_VECTORS = 1500


def ivf_nprobe_for(n_centroids: int, n_vectors: int | None = None) -> int:
    """Floor-aware stored-route probe count: the quarter-of-centroids
    operating point (tools/ann_scale.py at e49ef4e), raised at small N so the probe
    sweeps at least :data:`IVF_MIN_PROBED_VECTORS` expected vectors —
    the regime where the round-12 crossover measured recall under the
    0.65 floor (see SCALE_R12_ANN_CROSSOVER.json / SCALE_R13_ANN_FLOOR).
    ``n_vectors`` defaults to ``n_centroids²`` (the :func:`ivf_k_for`
    √N inverse) when the caller doesn't know the corpus size."""
    import math

    if n_vectors is None:
        n_vectors = n_centroids * n_centroids
    avg_bucket = max(1.0, n_vectors / max(1, n_centroids))
    floor = math.ceil(IVF_MIN_PROBED_VECTORS / avg_bucket)
    return max(10, n_centroids // 4, min(n_centroids, floor))


def ivf_topk_stored(
    spark,
    queries: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search against a :func:`write_ivf_index` layout. The probe
    side broadcasts (bounded: |Q|·nprobe rows) and the equi-join on the
    ``bucket`` partition column triggers DYNAMIC PARTITION PRUNING: the
    scan's PartitionFilters carry ``dynamicpruningexpression(bucket IN
    <broadcast result>)``, so only the probed bucket directories are
    read and NO bucket assignment runs at query time — the plan is
    scan(pruned) → broadcast-join → rescore (pinned in
    tests/test_scale_layout.py). Round-5 change: the probe bucket list
    never round-trips through the driver (the previous
    ``.collect()``-into-``isin`` was bounded but serialized the bucket
    ids through Python; DPP keeps the whole path on executors and
    composes with reused broadcast exchanges).

    ``nprobe=None`` (the default) resolves through
    :func:`ivf_nprobe_for`, so direct callers cannot silently land
    under the recall floor at small N; an explicit ``nprobe`` is an
    audited override (bench probes, fraction sweeps)."""
    if nprobe is None:
        nprobe = ivf_nprobe_for(len(centroids))
    crel = centroid_relation(spark, centroids)
    probed = _probe_buckets(queries, crel, nprobe, id_col, vec_col)
    index = spark.read.parquet(index_path)
    scored = (
        F.broadcast(probed)
        .join(
            index.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "bucket"),
            "bucket",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine("q_vec", "c_vec").alias("score"))
    )
    return _topk_by_score(scored, k)


#: Live-vs-stored IVF crossover, in corpus vectors — pinned from the
#: round-12 cold A/B (SCALE_R12_ANN_CROSSOVER.json) plus the decade
#: record (SCALE_R11_ANN.json). Two measured curves, and it's RECALL,
#: not speed, that binds at small N:
#:
#: - speed (cold train+[write]+probe): stored wins at EVERY measured
#:   size — 5.1 vs 9.2 s at 2k, 12.2 vs 13.6 s at 20k, 45.2 vs 72.8 s
#:   at 200k, 268 vs 1067 s at 2M — because the live route's 6 in-plan
#:   Lloyd iterations pay fixed per-job overhead that never amortizes.
#: - recall at the stored operating point (nprobe = k/4, the
#:   uniform-fixture fraction): 0.645 at 2k (UNDER the registry's 0.65
#:   floor), 0.710 at 20k (thin), 0.829 at 200k, 0.896 at 2M — the
#:   sqrt-N geometry needs enough vectors per bucket for the probed
#:   quarter to carry the neighbors; the live route's 62% probe
#:   fraction holds ~0.89 at every size.
#:
#: So the crossover sits where the stored route's recall margin is
#: established (between the thin 20k point and the comfortable 200k
#: point — geometric middle 60k), keeping small corpora on the
#: high-recall live route and large ones on the 8.5x/decade index.
IVF_AUTO_CROSSOVER_VECTORS = 60_000


def corpus_fingerprint(
    corpus: DataFrame, n_vectors: int, id_col: str, vec_col: str
) -> int:
    """Cheap, deterministic content fingerprint for index-reuse checks:
    hash-sample ~64 rows (a fixed ``hash(id) % (N/64)`` predicate — no
    randomness, no ordering assumptions), CRC-32 each sampled
    ``(id, vector)`` pair, and sum (order-independent). One
    column-pruned pass over the corpus — far cheaper than the k-means
    train + full index rewrite it guards — and any in-place content
    change at the same row count flips it with probability ~1 unless
    the change dodges every sampled row AND every CRC."""
    p = max(1, n_vectors // 64)
    # cast before abs: abs(hash()) overflows int at Integer.MIN_VALUE,
    # which ANSI mode (Spark 4 default) turns into a runtime error
    sampled = corpus.where(F.pmod(F.abs(F.hash(F.col(id_col)).cast("long")), F.lit(p)) == 0)
    row = sampled.select(
        F.sum(
            F.crc32(
                F.concat_ws(
                    "|", F.col(id_col).cast("string"), F.col(vec_col).cast("string")
                )
            )
        ).alias("fp")
    ).collect()[0]
    return int(row.fp or 0)


def ensure_ivf_index(
    corpus: DataFrame,
    path: str,
    n_vectors: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Write-once IVF index with its centroids stored alongside: if
    ``path`` already holds an index built for exactly ``n_vectors``
    vectors, load and return the STORED centroids — probes must use the
    same centroids the rows were assigned with, so centroids are part
    of the index, not recomputed per query. Otherwise train √N
    centroids (:func:`ivf_k_for` + :func:`ivf_centroids_np`), write the
    hive-partitioned index (:func:`write_ivf_index`), and persist the
    centroid relation as a ``_centroids`` parquet INSIDE the index dir
    (leading underscore = hidden from the index read's partition
    discovery, the _SUCCESS convention). Everything goes through Spark
    writers/readers, so the layout works on any Hadoop filesystem.

    Reuse contract: the check keys on the exact vector count AND a
    sampled content fingerprint (:func:`corpus_fingerprint`, stored in
    the sidecar) — a corpus regenerated in place at the same sf_dir
    with the same count but different content no longer silently reuses
    stale centroids/buckets; the mismatch triggers a rebuild. Sidecars
    written before the fingerprint existed (no ``fingerprint`` column)
    are treated as stale and rebuilt once."""
    from pyspark.errors import AnalysisException

    spark = corpus.sparkSession
    cpath = path + "/_centroids"
    fp = corpus_fingerprint(corpus, n_vectors, id_col, vec_col)
    try:
        rows = spark.read.parquet(cpath).orderBy("bucket").collect()
        if (
            rows
            and rows[0].n_vectors == n_vectors
            and rows[0].asDict().get("fingerprint") == fp
        ):
            return np.array([r.cvec for r in rows], dtype="float64")
    except AnalysisException:
        pass  # no index yet — build below
    k = ivf_k_for(n_vectors)
    centroids = ivf_centroids_np(corpus, k=k, id_col=id_col, vec_col=vec_col)
    write_ivf_index(corpus, centroids, path, id_col=id_col, vec_col=vec_col)
    crows = [
        (int(i), [float(x) for x in c], int(n_vectors), int(fp))
        for i, c in enumerate(centroids)
    ]
    (
        spark.createDataFrame(
            crows, "bucket int, cvec array<double>, n_vectors long, fingerprint long"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(cpath)
    )
    return centroids


def auto_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    index_root: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Cost-aware IVF top-k — a measured-crossover default on the
    shared ``plans/cost.py`` seam, like the near-dup edge route.
    Measures the corpus size (one metadata-cheap count) and compares it
    with IVF_AUTO_CROSSOVER_VECTORS, read at call time (tests force the
    stored route by lowering it):

    - ``live`` (≤ crossover): in-plan Lloyd training at k=16 + in-plan
      bucket assignment (:func:`ivf_centroids` + :func:`ivf_topk`) —
      no storage touched; right for one-shot small-corpus queries where
      the stored route's parquet write+read roundtrip dominates.
    - ``stored`` (> crossover): √N centroids via sampled driver-side
      k-means, write-once hive-partitioned index, partition-pruned
      probes (:func:`ensure_ivf_index` + :func:`ivf_topk_stored`) at
      nprobe = k/4 — the uniform-fixture floor-clearing operating point
      (tools/ann_scale.py at e49ef4e); measured 8.5×/decade vs the live route's
      18.5× (SCALE_R11_ANN.json), and already ahead COLD at 200k
      vectors (45.2 s vs 72.8 s).

    Returns ``(topk_df, CostDecision)`` so callers and tests can audit
    the route, same as the other cost-aware seams."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.cost import decide_crossover

    n = corpus.count()
    decision = decide_crossover(
        float(n),
        float(IVF_AUTO_CROSSOVER_VECTORS),
        "stored",
        "live",
        "ivf corpus vectors",
        detail=f"stored route: sqrt-N={ivf_k_for(n)} centroids at {index_root}",
    )
    if decision.choice == "live":
        centroids = ivf_centroids(corpus, id_col=id_col, vec_col=vec_col)
        return (
            ivf_topk(queries, corpus, centroids, k, nprobe=10, id_col=id_col, vec_col=vec_col),
            decision,
        )
    centroids = ensure_ivf_index(corpus, index_root, n, id_col=id_col, vec_col=vec_col)
    nprobe = ivf_nprobe_for(len(centroids), n)
    return (
        ivf_topk_stored(
            corpus.sparkSession, queries, index_root, centroids, k,
            nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        ),
        decision,
    )
