"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup.

Scale design (the 100 TB story, per operator):

- **Exact**: hash-groupBy on the dedup key — one shuffle on a
  high-cardinality key; survivor = min(doc_id) keeps it deterministic.
- **N-gram Jaccard**: never all-pairs. Candidate generation is a
  shingle-inverted-index self-join (docs sharing ≥1 shingle), with a
  document-frequency cap dropping stopword-shingles that would otherwise
  create quadratic hot keys (classic skew: one shingle shared by 1M docs
  = 10^12 candidate pairs). Verification is exact set arithmetic on
  shingle counts.
- **MinHash LSH**: signatures are k independent xxhash64 permutations
  min-folded per doc (one pass, no shuffle), banded so that docs agree
  on ≥1 band-hash iff they are likely near-dups; the candidate join is
  on (band, band_hash) — equi-join, broadcast-free, skew-bounded by
  band width. Verified against exact Jaccard afterwards.
- **SimHash**: 56-bit fingerprints; near-dup = hamming ≤ d. Candidates
  via the block-pigeonhole trick: split 56 bits into d+1 blocks; any
  pair within distance d agrees exactly on ≥1 block, so the candidate
  join is an equi-join on (block_idx, block_value) with guaranteed
  recall 1.0 — which also makes the operator exactly equal to the
  brute-force oracle.
- **Embedding cosine**: see operators/similarity.py for the bucketed
  path; the all-pairs form here is the small-SF oracle shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.functions.hashing import (
    SIMHASH_BITS,
    minhash_value,
    poly_hash_token,
    poly_hash_token_sql,
    simhash_fold,
    simhash_votes,
)
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.caching import eager_stats, materialize, tie_cache_lifetime
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.similarity import banded_self_join
from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.text import tokens_col, tokens_sql

#: Measured cached-bytes-per-source-byte ceilings for the frames this
#: module materializes through eager_stats, from the round-7 three-decade
#: sweep (sf0.1/sf1/sf10, .scratch/r7/measure_expansion.py), each with
#: ~2x headroom over the worst measured decade. Shapes that stay flat
#: across decades get tight bounds so small sources keep the lazy persist
#: (and its fast broadcast plans) instead of paying the materializing
#: count; caching.py logs every lazy decision for the audit trail.
SHINGLE_INDEX_BOUND = 8   # hashed (doc_id, n_sh, xxhash64) rows: 3.5-3.7x flat
# (re-measured round 8 after n_sh joined the cached rows — sf0.1/sf1/sf10
# gave 3.7/3.7/3.48x, same as the round-7 two-column shape: the per-doc
# count is constant within a doc, so the columnar cache run-length
# compresses it to ~nothing and the ~2x headroom under the bound stands)
MINHASH_SIG_BOUND = 5     # (doc_id, 32 longs): 2.3x flat
SIMHASH_FP_BOUND = 1      # (doc_id, long): 0.08-0.10x


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One row per distinct key: deterministic survivor + duplicate count."""
    return df.groupBy(*key_cols).agg(
        F.min("doc_id").alias("survivor_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# Shingling + exact n-gram Jaccard
# --------------------------------------------------------------------------


def shingles_col(text, n: int = 3):
    """Word n-gram shingles as an array column (space-joined).

    Texts with fewer than ``n`` tokens produce an EMPTY list via an
    explicit guard: Spark's ``sequence(1, 0)`` counts DOWN to [1, 0]
    (and slice(…, 0, n) then errors), unlike DuckDB's empty
    ``generate_series(1, 0)`` — found by the cross-engine fuzz
    (tests/test_engine_parity_fuzz.py)."""
    toks = tokens_col(text)
    count = F.size(toks) - (n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def shingles_sql(text_expr: str, n: int = 3) -> str:
    toks = tokens_sql(text_expr)
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


def doc_shingles(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, n_sh, shingle) rows over word 3-gram shingles —
    the inverted-index input of every near-dup route, with the per-doc
    DISTINCT shingle count carried on every row.

    The shingle is its xxhash64, not the string: the distinct +
    self-join then shuffle 8-byte keys instead of ~25-byte strings
    (shuffling hashes, not text). Set arithmetic is exact unless two
    distinct shingles collide in 64 bits: P ≈ n²/2⁶⁵ ≈ 2·10⁻⁹ at 260k
    shingles.

    Why ``n_sh`` rides along (round 8): Jaccard verification needs
    |A| and |B| per candidate pair. Joining a per-doc sizes aggregate
    onto the pair frame — the round-7 shape — planned that aggregate
    subtree once per side (static duplicates under AQE) and re-shuffled
    the potentially huge pair frame twice. Folding the distinct into a
    ``groupBy(id).collect_set`` makes the count a free byproduct of the
    ONE shuffle the distinct already paid (same key volume, keyed by id
    instead of (id, shingle)), and verification becomes a ``min()`` in
    the pair aggregation — zero size-joins, zero extra exchanges. Cost:
    +8 bytes/row on the index self-join shuffle; the sizes aggregate,
    two pair-frame joins, and their broadcast hints all disappear.
    collect_set memory is per-doc (a group is one document's shingle
    set), so it scales with document size, not corpus size.
    """
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    shingle = F.explode(shingles_col("text", 3)).alias("shingle")
    out = spread(df, by=["doc_id"]).select(F.col("doc_id"), shingle)
    out = out.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    per_doc = out.groupBy("doc_id").agg(F.collect_set("shingle").alias("_sh"))
    return per_doc.select(
        F.col("doc_id"),
        F.size("_sh").alias("n_sh"),
        F.explode("_sh").alias("shingle"),
    )


def shingle_index(df: DataFrame) -> DataFrame:
    """:func:`doc_shingles` of ``df``, persisted through
    :func:`eager_stats` at :data:`SHINGLE_INDEX_BOUND`: the inverted
    index joins against itself, and its Generate-derived size ESTIMATE is
    ~50x under reality, so only a materialized cache makes the
    broadcast-vs-shuffle decision track the data. The materializing
    count() is itself gated on the source scan's file bytes (see
    operators/caching.py::eager_stats for the bound and its audit log).
    Callers that run several near-dup routes share one index."""
    return eager_stats(doc_shingles(df), SHINGLE_INDEX_BOUND)


def _jaccard_at_least(shared: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ threshold) from one (doc_a, doc_b, n_a,
    n_b) row per shingle the pair shares: |A ∩ B| is the row count, and
    |A|, |B| ride on the index rows (:func:`doc_shingles` carries n_sh),
    so verification is a min() in the pair aggregation — no per-doc
    sizes aggregate, no size joins onto the pair frame (round 8). The
    verify half of every shingle near-dup route."""
    return (
        shared.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    max_shingle_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word 3-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard ≥ t).

    Candidates = docs sharing ≥1 (non-capped) shingle; intersection size
    falls out of the join group count; union from per-doc distinct
    shingle counts. ``max_shingle_df`` drops shingles occurring in more
    than that many docs from *candidate generation only* — at 100 TB hot
    shingles are pure skew with no discriminative value. NOTE: capping
    can only lose candidate pairs whose every shared shingle is hot, so
    leave it None when exact semantics are required.

    ``shingles`` lets a caller that already materialized
    :func:`doc_shingles` share it (the sf10 smoke caught the cost of NOT
    sharing: the registered minhash query stacked two independent ~3 GB
    shingle caches in one local JVM and starved broadcast builds). A
    caller-owned frame is neither cached nor unpersisted here.
    """
    owned = shingles is None
    ds = shingle_index(df) if owned else shingles
    index = ds
    if max_shingle_df is not None:
        freq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        index = ds.join(freq.where(F.col("df") <= max_shingle_df), "shingle")

    # n_sh is computed BEFORE any DF capping, so capped pairs still
    # divide by the full union
    a = index.select(F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a"))
    b = index.select(F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("n_b"))
    result = _jaccard_at_least(a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b")), threshold)
    return tie_cache_lifetime(result, ds) if owned else result


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


#: MinHash permutations: the signature width :func:`minhash_signature`
#: produces and :func:`lsh_candidate_pairs` bands, read at call time.
MINHASH_PERMS = 32


def minhash_signature(df: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, sig: array<long>) — per-permutation min over the doc's
    shingle hashes.

    Formulated as :data:`MINHASH_PERMS` plain MIN aggregates over the exploded
    (doc_id, shingle_hash) stream: each permutation is one xxhash64
    remix + min — all flat codegen expressions with map-side partial
    aggregation, so the shuffle carries one row per doc per partition.
    (The previous array formulation — array_min over transform lambdas —
    kept everything row-local but paid seconds of codegen/eval overhead:
    higher-order functions are exempt from subexpression elimination and
    compile to interpreted closures. Measured 6.1 s → 0.6 s at sf0.1.)

    ``shingles`` lets callers that already materialized
    :func:`doc_shingles` (e.g. for Jaccard verification) reuse it.
    """
    num_perm = MINHASH_PERMS
    ds = shingles if shingles is not None else doc_shingles(df)
    mins = [
        F.min(minhash_value(F.col("shingle"), p)).alias(f"_m{p}") for p in range(num_perm)
    ]
    wide = ds.groupBy("doc_id").agg(*mins)
    return wide.select(
        F.col("doc_id"), F.array(*[F.col(f"_m{p}") for p in range(num_perm)]).alias("sig")
    )


def band_hashes_col(bands: int, num_perm: int):
    """array<long> of per-band hashes over the minhash signature ``sig`` —
    band b = xxhash64 of its ``num_perm // bands`` signature slots. Pure
    expression, so it could be computed once at write time."""
    sig = F.col("sig")
    rows_per_band = num_perm // bands
    return F.array(
        *[
            F.xxhash64(
                *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int) -> DataFrame:
    """Band the signature (one xxhash64 code per band) and self-join it on
    (band, code) through :func:`similarity.banded_self_join`.

    The signature width is :data:`MINHASH_PERMS`, the producer's (deriving
    it with a collect() would fire a driver round-trip action before the
    candidate join, and crash on an empty frame).

    ``sigs`` is persisted first: the banding projection references the
    signature array 4×rows_per_band times per band, and Catalyst's
    CollapseProject would inline the full lambda-built signature
    expression into every reference (higher-order functions are exempt
    from subexpression elimination) — recomputing MinHash hundreds of
    times per row. Materializing once is also the production shape: at
    scale, signatures are written/persisted and reused across dedup runs.
    The persist lives as long as the returned DataFrame object
    (tie_cache_lifetime), and is MATERIALIZED eagerly so the banded
    self-join below plans against the cache's measured size (an
    aggregate-derived signature frame is size-under-estimated the same
    way the shingle index is — see caching.py::eager_stats).
    """
    num_perm = MINHASH_PERMS
    sigs = eager_stats(sigs, MINHASH_SIG_BOUND)
    # Guard against a sigs frame built with a DIFFERENT width: slicing
    # past the array end would silently band over null hashes, degrading
    # recall with no error. assert_true fails the job instead.
    width_ok = F.assert_true(
        F.size("sig") == num_perm,
        F.concat(
            F.lit(f"lsh_candidate_pairs: expected signature width {num_perm}, got "),
            F.size("sig").cast("string"),
        ),
    )
    banded = sigs.select(
        F.col("doc_id").alias("id"),
        F.when(width_ok.isNull(), band_hashes_col(bands, num_perm)).alias("codes"),
    ).select("id", "codes", F.posexplode("codes").alias("band", "code"))
    return tie_cache_lifetime(banded_self_join(banded, bands, "doc_a", "doc_b"), sigs)


def minhash_near_dups(df: DataFrame, threshold: float = 0.7, shingles: DataFrame | None = None) -> DataFrame:
    """LSH candidates (32 permutations in 8 bands of 4) verified with
    exact Jaccard — returns (doc_a, doc_b, jaccard ≥ threshold).
    Approximate only in *recall* (a true pair whose every band disagrees
    is missed); precision is exact thanks to the verification join.

    ``shingles`` — share an already-persisted :func:`doc_shingles` frame
    (see :func:`jaccard_pairs`); caller-owned frames are not re-cached or
    released here."""
    # three consumers (signatures, both verification sides) —
    # materialize the shingle inverted index once
    owned = shingles is None
    ds = shingle_index(df) if owned else shingles
    cands = lsh_candidate_pairs(minhash_signature(df, shingles=ds), 8)
    a = ds.select(F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a"))
    b = ds.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("shingle_b"),
        F.col("n_sh").alias("n_b"),
    )
    shared = cands.join(a, "doc_a").join(b, "doc_b").where(F.col("shingle") == F.col("shingle_b"))
    result = _jaccard_at_least(shared, threshold)
    # cands (itself cache-tied to the signature persist) is strongly held
    # by the finalizer until the result dies, chaining the releases
    return tie_cache_lifetime(result, ds, cands) if owned else tie_cache_lifetime(result, cands)


# --------------------------------------------------------------------------
# Dedup clusters (connected components over near-dup pairs)
# --------------------------------------------------------------------------

#: Cost crossover for the driver-local components route (round 13):
#: edge lists at or below this count are collected (Arrow path) and
#: labeled with a vectorized numpy pointer-jumping union-find on the
#: driver; larger ones take the
#: distributed hash-min loop. Rationale: the loop's cost floor is its
#: SEQUENTIAL job structure — seed + 3 materializing jobs + (2
#: localCheckpoints + 1 count) per round — which is latency-bound until
#: edge partitions carry real data, while the driver route is one
#: collect + O(E log V) numpy + one parallelize. Measured at sf0.1
#: (tools/r13_cc_ab.py at e49ef4e, 5 interleaved reps, labeling stage only, edge
#: frames pre-persisted, routes row-identical at both sizes): 256
#: exact-Jaccard edges — loop 0.881 s vs driver 0.390 s (2.26x); 2.09M
#: simhash edges (at the cap) — loop 6.77 s vs driver 2.866 s (2.36x —
#: the loop's per-round shuffles dwarf the ~32 MB Arrow collect).
#: Memory bound at the cap: 2M edges = 2 long columns x 16 B = 32 MB
#: collected, ~130 MB peak with the numpy working set — negligible
#: against the 8 GiB driver default; the cap, not the measurement, is
#: what limits the route (driver was still winning at the largest size
#: measured). At 100 TB edge counts past the cap take the loop
#: unchanged — same degrade-to-distributed shape as every other seam.
CC_DRIVER_LOCAL_MAX_EDGES = 2_000_000

#: Round budget of the distributed components loop, read at call time.
#: Path halving converges in O(log diameter) rounds, so 20 covers a
#: 1M-node chain.
CC_MAX_ITERS = 20

import logging as _logging

_CC_LOG = _logging.getLogger(__name__)


def _driver_local_labels(pairs: DataFrame, id_dtype: str) -> DataFrame:
    """(vid, comp) relation for every edge endpoint, computed on the
    driver: Arrow-collect the (bounded) pair list, run the numpy
    union-find, parallelize the label relation back at the endpoints'
    original integral type. The Arrow path moves columns, not Row
    objects; a collect failure at the 2M-edge cap (Arrow/driver-memory
    error) propagates."""
    import numpy as np

    spark = pairs.sparkSession
    tbl = pairs.toArrow()
    a = np.asarray(tbl.column("a").to_numpy(zero_copy_only=False), dtype=np.int64)
    b = np.asarray(tbl.column("b").to_numpy(zero_copy_only=False), dtype=np.int64)
    ids, comp = _numpy_cc_min_labels(a, b)
    schema = f"vid {id_dtype}, comp {id_dtype}"
    if ids.size == 0:
        return spark.createDataFrame([], schema=schema)
    import pandas as pd

    out = spark.createDataFrame(pd.DataFrame({"vid": ids, "comp": comp}))
    if id_dtype != "bigint":
        out = out.select(F.col("vid").cast(id_dtype).alias("vid"), F.col("comp").cast(id_dtype).alias("comp"))
    return out


def _numpy_cc_min_labels(a, b):
    """(ids, comp) arrays: min-vertex-id connected-component label per
    distinct endpoint, via vectorized min-label propagation with pointer
    jumping over an index parent array. np.unique sorts ids ascending,
    so index order == value order and index minima ARE value minima.
    Converges in O(log V) outer rounds (pointer jumping contracts
    chains geometrically — same argument as the distributed loop's
    path-halving); raises if 64 rounds (graphs beyond 2^64 vertices)
    ever fail to converge rather than returning partial labels."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: a.size], inv[a.size :]
    parent = np.arange(ids.size)
    for _ in range(64):
        before = parent
        parent = parent.copy()
        lo = np.minimum(parent[ai], parent[bi])
        np.minimum.at(parent, ai, lo)
        np.minimum.at(parent, bi, lo)
        for _ in range(64):
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if np.array_equal(before, parent):
            return ids, ids[parent]
    raise RuntimeError("driver-local components failed to converge")  # pragma: no cover


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    check_vertices: bool | None = None,
) -> DataFrame:
    """(id, component) — connected components; component = min vertex id
    in the component.

    Two routes (round 13): the DRIVER-LOCAL path — Arrow-collect the
    materialized edge list, label it with a vectorized numpy union-find,
    parallelize the label
    relation back — whenever the edge count is at most
    CC_DRIVER_LOCAL_MAX_EDGES (read at call time, so tests force the
    loop by lowering it), the endpoint types are integral, and no
    endpoint is null; the distributed hash-min loop otherwise. The two
    routes are row-identical (pinned by tests); only edge endpoint PAIRS
    ever reach the driver, bounded at 32 MB of longs by the cap, while
    the corpus-sized vertex frame stays distributed.

    The dedup use case: pairwise near-dup edges are not transitive
    (A≈B, B≈C but A≉C), so keeping one doc per *pair* over-deletes;
    the correct unit is the connected component (cluster), keeping one
    survivor per cluster.

    Iterative DataFrame algorithm: each round every vertex (1) adopts
    the minimum label among itself and its neighbors (one equi-join +
    one min-aggregate), then (2) path-halves — adopts its LABEL's label
    (one more join; pointer jumping). Hash-min alone converges in
    O(component diameter) rounds; the halving step contracts chains
    geometrically, so convergence is O(log diameter) — a 1M-node path
    graph needs ~20 rounds, not 1M (the chain-shaped near-dup cluster
    is exactly the transitive case this operator exists for). Per round
    the frame is materialized (caching.materialize — reliable
    ``checkpoint()`` when the session has a checkpoint dir, so a
    1000-executor run survives executor loss mid-loop; executor-local
    ``localCheckpoint()`` otherwise): iterative self-referential plans
    otherwise grow lineage exponentially, and the convergence check
    (count of changed labels) is the natural materialization point.
    At 100 TB this is the standard hash-min + pointer-jumping pattern
    (GraphX/GraphFrames use the same shape); for power-law graphs swap
    in large-star/small-star rounds — near-dup clusters don't need it.

    Only vertices touched by an edge enter the loop: a vertex with no
    edges is its own component by definition and can never receive a
    message, so iterating it just replays dead join work every round.
    At corpus scale the split is decisive — near-dup edges cover a
    small fraction of documents, so the per-round frames shrink from
    |corpus| to |edge endpoints| while singletons ride along lazily as
    a one-pass anti-join unioned onto the result. The active seed is
    round 0 fused into an aggregate: initial labels are the vertex ids
    themselves, so the first propagate's message to v is simply
    min(neighbors(v)) — one groupBy over the edge list, no join, and
    the grouping keys ARE the active vertex set (star-shaped clusters,
    the common near-dup case, converge at the seed and pay exactly one
    verification round). Precondition: every edge endpoint appears in
    ``vertices`` (true by construction for dedup edges derived from the
    same corpus) — an endpoint outside ``vertices`` would add a label
    row of its own rather than being ignored. ``check_vertices=True``
    enforces it with one anti-join over the (small) edge-endpoint seed
    set, failing loudly at the CALL SITE instead of emitting rows for
    non-vertices. The default (``None``) resolves to the engine debug
    mode — ``SPARK_GRAFT_DEBUG=1`` turns the check on everywhere, so a
    filtered-vertices caller is caught in any debug run without every
    call site opting in — and to off otherwise, because the engine's
    own callers satisfy the precondition by construction and the check
    costs an extra pass over ``vertices``.
    """
    if check_vertices is None:
        import os

        check_vertices = os.environ.get("SPARK_GRAFT_DEBUG", "") not in ("", "0")
    # materialize the DIRECTED pair list BEFORE the direction flip (round
    # 9): unioning first and materializing after ran the edge frame — an
    # expensive similarity join in the dedup pipelines — once per union
    # branch inside a single job, with concurrent branch tasks racing to
    # populate any lazy upstream caches (measured: the sf10 curation
    # pipeline spent 522 s with the union-first shape vs 183 s staged;
    # .scratch/r9). Flipping over the checkpointed pairs is a projection,
    # and the loop's per-round re-reads scan the same materialized bytes.
    pairs = materialize(edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")))

    # Round-13 driver-local route: the loop's floor is ~6+ SEQUENTIAL
    # jobs (seed + per-round checkpoints + convergence counts) — pure
    # latency for edge lists that fit one Arrow collect. Decide on the
    # materialized pair count (one cheap job over the checkpointed
    # blocks); label on the driver with the vectorized numpy
    # union-find, parallelize
    # the (small) label relation back, and keep the vertex frame fully
    # distributed — only edge ENDPOINT PAIRS ever reach the driver,
    # bounded by CC_DRIVER_LOCAL_MAX_EDGES (32 MB of longs at the cap).
    # Integral id types only: numpy ordering == Spark ordering is
    # guaranteed there; anything else takes the loop.
    dtypes = dict(pairs.dtypes)
    labels = None
    integral = dtypes["a"] == dtypes["b"] and dtypes["a"] in ("bigint", "int", "smallint", "tinyint")
    if integral:
        # one job for both decision statistics over the checkpointed
        # blocks: edge count, and whether any endpoint is null (null
        # endpoints keep the loop's join semantics — never the numpy
        # route, whose int64 columns cannot represent them)
        stats = pairs.selectExpr(
            "count(*) AS n",
            "sum(CASE WHEN a IS NULL OR b IS NULL THEN 1 ELSE 0 END) AS nulls",
        ).first()
        n_edges, n_nulls = stats[0], stats[1] or 0
        if n_nulls:
            _CC_LOG.info(
                "connected_components: %d null edge endpoints — keeping the "
                "distributed loop (null keys are outside the numpy route's "
                "int64 domain)",
                n_nulls,
            )
        else:
            route = "loop" if n_edges > CC_DRIVER_LOCAL_MAX_EDGES else "driver_local"
            _CC_LOG.info(
                "connected_components: materialized edge count %d vs driver-local cap %d -> %r",
                n_edges, CC_DRIVER_LOCAL_MAX_EDGES, route,
            )
            if route == "driver_local":
                labels = _driver_local_labels(pairs, dtypes["a"])

    all_labels = vertices.select(F.col(id_col).alias("vid"), F.col(id_col).alias("comp"))
    if labels is None:
        # materialize the vertex frame once — the singleton anti-join
        # re-reads it, and vertices often come from an expensive upstream
        # (the pipeline passes the exact-dedup survivor set). prefer_local:
        # this is the one CORPUS-sized frame in the loop — a reliable write
        # here would dwarf the edge-endpoint-sized per-round checkpoints,
        # and executor loss only costs recomputing a single select
        all_labels = materialize(all_labels, prefer_local=True)
        labels = _hash_min_labels(pairs)
    if check_vertices:
        stray = labels.join(all_labels.select("vid"), "vid", "left_anti").count()
        if stray:
            raise ValueError(
                f"connected_components: {stray} edge endpoints do not appear "
                f"in vertices — pass the full vertex set (filtered vertices "
                "with unfiltered edges would contaminate the output)"
            )
    singletons = all_labels.join(labels.select("vid"), "vid", "left_anti")
    return labels.unionAll(singletons).select(F.col("vid").alias(id_col), "comp")


def _hash_min_labels(pairs: DataFrame) -> DataFrame:
    """(vid, comp) for every endpoint of the materialized (a, b) pair
    list: the distributed hash-min + path-halving loop of
    :func:`connected_components`, at most :data:`CC_MAX_ITERS` rounds."""
    sym = pairs.unionAll(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # sym holds both directions, so grouping on "a" covers every endpoint
    labels = materialize(
        sym.groupBy("a")
        .agg(F.min("b").alias("nb"))
        .select(F.col("a").alias("vid"), F.least("a", "nb").alias("comp"))
    )
    changed = 0
    for _ in range(CC_MAX_ITERS):
        msgs = (
            sym.join(labels, sym.a == labels.vid)
            .select(F.col("b").alias("vid"), F.col("comp").alias("msg"))
            .groupBy("vid")
            .agg(F.min("msg").alias("msg"))
        )
        propagated = materialize(
            labels.join(msgs, "vid", "left")
            .select(
                "vid",
                F.col("comp").alias("old_comp"),
                F.least(F.col("comp"), F.coalesce(F.col("msg"), F.col("comp"))).alias("comp"),
            )
        )
        # path halving: every vertex adopts its label's label, contracting
        # chains geometrically (labels are always vertex ids, so the
        # lookup join is total; left + coalesce guards the root)
        lookup = propagated.select(
            F.col("vid").alias("l_vid"), F.col("comp").alias("l_comp")
        )
        proposed = materialize(
            propagated.join(lookup, propagated.comp == lookup.l_vid, "left")
            .select(
                "vid",
                "old_comp",
                F.least(F.col("comp"), F.coalesce(F.col("l_comp"), F.col("comp"))).alias("comp"),
            )
        )
        changed = proposed.where(F.col("comp") != F.col("old_comp")).count()
        labels = proposed.select("vid", "comp")
        if changed == 0:
            break
    if changed != 0:
        # chain-shaped clusters with diameter > CC_MAX_ITERS are exactly the
        # transitive case this operator exists for — partial labels would
        # silently under-merge, so fail loudly instead
        raise RuntimeError(
            f"connected_components: {changed} labels still changing after "
            f"CC_MAX_ITERS={CC_MAX_ITERS} rounds — component diameter exceeds the "
            "iteration budget; raise CC_MAX_ITERS"
        )
    return labels


def near_dup_components(
    df: DataFrame,
    threshold: float,
    edge_method: str = "jaccard",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, comp) dedup clusters with a SELECTABLE edge source — the
    composition VERDICT r6 item 2 asked for (previously a user had to
    wire :func:`jaccard_pairs` into :func:`connected_components` by
    hand, and the cheaper edge generator wasn't reachable at all):

    - ``edge_method='jaccard'`` — exact shingle-inverted-index edges.
      The semantically-exact route, and the measured cheaper one through
      sf1 (fresh-session r9 A/B after the union-first fix below — the
      r7 numbers that read "minhash 0.55x at sf10" were inflated by the
      edge join being evaluated once per union branch).
    - ``edge_method='minhash'`` — MinHash-LSH candidates verified with
      exact Jaccard (:func:`minhash_near_dups`): every emitted edge is a
      TRUE >=threshold pair (precision exactly 1), so the resulting
      partition always REFINES the exact one — it can only under-merge,
      never over-merge, by losing a true pair whose every band disagrees
      (measured recall 1.0 at sf0.01/sf0.1/sf1 on the fixture corpus,
      0.9999+ at sf10/sf100, >=0.8 asserted in tests). The at-scale
      route: edge-stage A/B at sf10 40.8 s vs exact 50.8 s (a wash
      within host noise), at sf100 231.6 s vs 704.3 s — 0.33x, the
      decisive third-decade win (.scratch/r9).

    Both routes accept a caller-shared ``shingles`` frame (see
    :func:`jaccard_pairs`).
    """
    if edge_method == "jaccard":
        edges = jaccard_pairs(df, threshold, shingles=shingles)
    elif edge_method == "minhash":
        edges = minhash_near_dups(df, threshold, shingles=shingles)
    else:
        raise ValueError(f"edge_method must be 'jaccard' or 'minhash', got {edge_method!r}")
    return connected_components(
        df.select("doc_id"),
        edges.select("doc_a", "doc_b"),
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    )


def simhash(df: DataFrame) -> DataFrame:
    """(doc_id, simhash: long) — 56-bit SimHash over reference tokens.

    bit_b(doc) = 1 iff Σ_tokens (2·bit_b(hash(token)) − 1) > 0, i.e. the
    majority vote of token-hash bits, duplicates counted. Token hashes
    are engine-portable polynomial hashes, so the whole operator is
    oracle-checkable bit for bit."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    toks = spread(df, by=["doc_id"]).select(F.col("doc_id"), F.explode(tokens_col("text")).alias("tok"))
    hashed = toks.select("doc_id", poly_hash_token().alias("h"))
    # one flat SUM per bit (simhash_votes). Both alternatives lose:
    # collect_list shuffles every token hash and folds through
    # interpreted lambdas; explode-per-bit shuffles |tokens|×56 rows.
    per_doc = hashed.groupBy("doc_id").agg(*simhash_votes(F.col("h")))
    return per_doc.select(F.col("doc_id"), simhash_fold().alias("simhash"))


def simhash_sql() -> str:
    """DuckDB rendering of :func:`simhash` (same hash, same majority rule)."""
    return f"""
    SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash FROM (
        SELECT doc_id, CASE WHEN SUM(vote) > 0
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bitval
        FROM (
            SELECT doc_id, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b,
                   2 * ((h >> b) & 1) - 1 AS vote
            FROM (
                SELECT doc_id, {poly_hash_token_sql()} AS h
                FROM (
                    SELECT doc_id, unnest({tokens_sql('text')}) AS tok
                    FROM documents
                )
            )
        ) GROUP BY doc_id, b
    ) GROUP BY doc_id
    """


def simhash_block_geometry(n_docs: int, max_distance: int = 3) -> int:
    """Number of pigeonhole blocks B for :func:`simhash_near_dups`,
    sized so the block join's key space outruns the corpus (the
    round-5 sf10 lesson: fixed B = d+1 measured 13.7x wall per 10x
    data).

    A distance-<=d pair agrees on >= B-d of B blocks, so candidates
    come from equi-joins on every (B-d)-block combination; key width
    grows with B (B=4: one 14-bit block; B=5: 22 bits; B=6: 27;
    B=7: 32). B is the smallest value with key_bits >= log2(N) + 13,
    capped at C(B,d) <= 40.

    The margin is MEASURED, not modeled: a uniform-fingerprint
    collision model (mass = C(B,d)*C(N,2)/2^key_bits) says ~2 extra
    bits suffice, but real fingerprints CLUSTER — similar docs share
    block values far above uniform rates — and the round-6 sf10 sweep
    (N=500k, B=4/5/6/7/8 -> 221/100/64/54/75 s) put the optimum at
    key_bits ~ log2(N)+13, where the uniform model had already gone
    flat. Past that point the C(B,d)-row explode and the per-true-pair
    emission multiplier (a near-identical pair surfaces once per
    agreeing combo) take over — hence the combo cap, which also stops
    at the measured B=8 inflection. Recall is exactly 1.0 for every B
    by the pigeonhole argument, pinned by the sharded-vs-default
    equality test (tests/test_dedup_similarity)."""
    from math import comb, log2

    d = max_distance
    target = log2(max(n_docs, 2)) + 13
    best = d + 1
    for n_blocks in range(d + 1, SIMHASH_BITS // 4 + 1):
        if comb(n_blocks, d) > 40:
            break
        base, extra = divmod(SIMHASH_BITS, n_blocks)
        widths = sorted(base + (1 if i < extra else 0) for i in range(n_blocks))
        key_bits = sum(widths[: n_blocks - d])  # conservative: smallest blocks
        best = n_blocks
        if key_bits >= target:
            break
    return best


def simhash_near_dups(df: DataFrame, max_distance: int = 3) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ d via the generalized
    pigeonhole block join: 56 bits split into B ≥ d+1 blocks; a
    distance-≤d pair's differing bits touch ≤ d blocks, so it agrees
    EXACTLY on some (B-d)-subset of blocks — candidates come from an
    equi-join per (B-d)-block combination, recall exactly 1.0, no
    all-pairs stage. The result set is therefore *identical* to brute
    force (which the oracle runs) for every B.

    B = d+1 (one-block keys, C(d+1,d) = d+1 combinations) is the classic
    small-corpus shape. At scale its FIXED 14-bit key space makes random
    collisions quadratic (round-5 sf10: 13.7x wall per 10x data); larger
    B widens the join key with bits from the other blocks — the
    "prefix-bit sharding" route BASELINE.md §G documented, generalized
    so the extra bits keep exact recall instead of probabilistic.
    Geometry comes from :func:`simhash_block_geometry` sized by the
    exact corpus count, taken only if the scan's file bytes say the
    default shape could go quadratic (>16 MB — the same provable-risk
    gating as caching.eager_stats, so small-SF benches never pay the
    count job)."""
    from itertools import combinations

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import row_count, scan_file_sizes

    d = max_distance
    sizes = scan_file_sizes(df)
    if sizes is not None and sum(sizes) <= 16 * 1024 * 1024:
        n_blocks = d + 1  # provably-safe small corpus: skip the count
    else:
        n_blocks = simhash_block_geometry(row_count(df), d)
    # persisted: both join sides and all combination projections read the
    # fingerprints; without the barrier each reference recomputes them.
    # Eagerly materialized so the block self-join below plans against the
    # cache's measured size (caching.py::eager_stats).
    fps = eager_stats(simhash(df), SIMHASH_FP_BOUND)

    base, extra = divmod(SIMHASH_BITS, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    combos = list(combinations(range(n_blocks), n_blocks - d))

    def combo_key(c: Column, combo: tuple[int, ...]) -> Column:
        """Blocks of ``combo`` packed into one long (≤ 56 bits total)."""
        key, shift = F.lit(0).cast("long"), 0
        for i in combo:
            blk = F.shiftright(c, offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
            key = key + F.shiftleft(blk.cast("long"), shift)
            shift += widths[i]
        return key

    #: per-combo simhash mask: a pair agrees fully on combo j iff
    #: (sh_a XOR sh_b) & combo_mask[j] == 0 — one AND per earlier combo
    #: in the canonical-combo predicate below.
    combo_masks = [
        sum(((1 << widths[i]) - 1) << offsets[i] for i in combo) for combo in combos
    ]

    keyed = fps.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(*[combo_key(F.col("simhash"), combo) for combo in combos])
        ).alias("cmb", "key"),
    )
    a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "cmb", "key")
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "cmb", "key")

    # Canonical-combo dedup: a pair agreeing on k combinations would
    # surface k times; keep it ONLY at its first agreeing combination
    # (every earlier combination has ≥1 differing block). The predicate
    # is pure codegen'd bit math on columns the row already carries, so
    # the post-join DISTINCT — a full shuffle of every candidate row
    # (27.5M at sf0.1) — disappears from the plan.
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    first_agreeing = F.lit(True)
    for j in range(len(combos) - 1):
        first_agreeing = first_agreeing & (
            (F.col("cmb") <= j) | (xor.bitwiseAND(F.lit(combo_masks[j])) != 0)
        )
    result = (
        a.join(b, ["cmb", "key"])
        .where((F.col("doc_a") < F.col("doc_b")) & first_agreeing)
        .withColumn("hamming", F.bit_count(xor))
        .where(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
    )
    return tie_cache_lifetime(result, fps)


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Winnowing fingerprints — exact-substring near-dup detection
# --------------------------------------------------------------------------

#: Character k-gram width and winnow window (hashes per window). The
#: detection guarantee is for shared substrings of length >=
#: WINNOW_K + WINNOW_W - 1 characters (23 with the defaults — sized so
#: the fixture corpus' ~300-char docs carry ~35 windows each; production
#: substring dedup uses ~50-token spans, i.e. larger k against larger
#: documents, same machinery).
WINNOW_K = 16
WINNOW_W = 8
#: Rolling-hash base: odd, hence invertible mod 2^64 — the modulus IS
#: uint64 wraparound, which numpy computes natively and DuckDB
#: reproduces with HUGEINT-widened UBIGINT arithmetic. (First prime
#: above 10^6; any odd multiplier works, both engines just fold the
#: same one.)
WINNOW_BASE = 1_000_003
_M64 = 1 << 64


def _winnow_fps_batch(texts, k: int, w: int):
    """Arrow-batch kernel: distinct winnow fingerprints per text, as
    int64 (uint64 hash bits reinterpreted). All O(n) per document via
    the prefix-sum form of the polynomial hash: with S[i] =
    Σ_{j<=i} c_j·B^-j (mod 2^64; B odd ⇒ B^-1 exists), the k-gram hash
    at i is H(i) = (S[i+k-1] − S[i−1])·B^{i+k-1} — five vectorized
    uint64 ops per position instead of a k-wide inner fold, with numpy's
    native wraparound as the modulus (the round-12 'vectorize the
    recurrence' lesson applied to Horner chains). Window minima via a
    stride-tricks view (no copy), distinct via np.unique. Python-level
    work is ~10 numpy calls per document (~60 µs); the arrays never
    leave the worker."""
    import numpy as np
    import pandas as pd

    B = np.uint64(WINNOW_BASE)
    Binv = np.uint64(pow(WINNOW_BASE, -1, _M64))
    out = []
    for t in texts:
        if t is None:
            out.append([])
            continue
        cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        n = cps.size
        m = n - k + 1
        if m < w:
            out.append([])
            continue
        base = np.full(n, B, np.uint64)
        base[0] = 1
        pw = np.multiply.accumulate(base)          # B^i
        ibase = np.full(n, Binv, np.uint64)
        ibase[0] = 1
        ipw = np.multiply.accumulate(ibase)        # B^-i
        S = np.add.accumulate(cps * ipw)
        Sm1 = np.concatenate((np.zeros(1, np.uint64), S[:-1]))
        H = (S[k - 1:] - Sm1[:m]) * pw[k - 1:k - 1 + m]
        wins = np.lib.stride_tricks.sliding_window_view(H, w).min(axis=1)
        out.append(np.unique(wins).astype(np.int64).tolist())
    return pd.Series(out)


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Distinct winnowing fingerprints per document — the
    exact-substring dedup route (Schleimer et al. 2003 winnowing; the
    detection rule behind exact-substring training-data dedup a la Lee
    et al. 2022): polynomial-hash every character k-gram, keep the
    minimum hash of each sliding window of ``w`` consecutive k-gram
    hashes (k = :data:`WINNOW_K`, w = :data:`WINNOW_W`, read at call
    time), distinct the picks per document. Returns (doc_id, fp long)
    rows.

    GUARANTEE (combinatorial, not probabilistic): two documents sharing
    any substring of length >= k + w - 1 share, at some alignment, a
    full window of identical k-gram hashes — whose minimum is picked on
    both sides — so they share >= 1 fingerprint. Recall is 1.0 for
    spans at or above the guarantee length; expected fingerprint
    density is ~2/(w+1) of positions (Schleimer's bound).

    Scale shape: one Arrow-vectorized pandas_udf projection — no
    (doc, position) explode, no window-function sort shuffle; the only
    rows leaving the scan are the ~2·len/(w+1) distinct fingerprints
    per document, already as 8-byte longs. The Python route is
    deliberate here, the measured exception to 'stay JVM-side': the
    JVM-expression formulation (md5 per position, or an interpreted
    higher-order-function Horner fold — both built and measured at
    round 13) pays per-position digest/lambda overhead and ran ~35×
    slower than this O(n) prefix-sum numpy kernel
    (:func:`_winnow_fps_batch`); cf. poly_hash_chars' docstring for the
    same HOF-interpretation cost note. The hash is engine-portable:
    DuckDB folds the identical uint64 value with HUGEINT-widened
    arithmetic (:func:`winnow_sql`), keeping the oracle exact. Window
    minima compare in the UNSIGNED domain on both engines; the bits
    reinterpret to int64 only at the output boundary. A 64-bit
    collision only ever adds a candidate pair, never loses one
    (corpus-wide odds ~1e-3 at 10^8+ fingerprints).

    Documents shorter than the guarantee length have no full window and
    are excluded: by definition they cannot contain a detectable span.
    """
    k, w = WINNOW_K, WINNOW_W
    udf = F.pandas_udf(lambda texts: _winnow_fps_batch(texts, k, w), "array<long>")
    return (
        df.where(F.length("text") >= k + w - 1)
        .select(F.col("doc_id"), F.explode(udf(F.col("text"))).alias("fp"))
    )


def winnow_sql() -> str:
    """DuckDB derivation of the SAME fingerprint set, deliberately
    different shape — explode positions, per-position Horner fold in
    HUGEINT-widened UBIGINT arithmetic (list_reduce's first-element
    seed equals Horner's zero init), window-function min in the
    unsigned domain, full-window filter, int64 reinterpretation at the
    output — an independently-structured implementation of the
    winnowing definition (the dedup_components recursive-CTE
    discipline)."""
    k, w = WINNOW_K, WINNOW_W
    return f"""
        SELECT DISTINCT doc_id,
               CASE WHEN hmin >= 9223372036854775808::UBIGINT
                    THEN (hmin::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                    ELSE hmin::BIGINT END AS fp
        FROM (
            SELECT doc_id, pos, m,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS hmin
            FROM (
                SELECT doc_id, i AS pos, length(text) - {k - 1} AS m,
                       list_reduce(
                           list_transform(string_split(substr(text, i, {k}), ''),
                                          c -> ascii(c)::UBIGINT),
                           (acc, x) -> ((acc::HUGEINT * {WINNOW_BASE} + x)
                                        % 18446744073709551616::HUGEINT)::UBIGINT
                       ) AS h
                FROM (SELECT doc_id, text,
                             unnest(generate_series(1, length(text) - {k - 1})) AS i
                      FROM documents WHERE length(text) >= {k + w - 1})
            )
        ) WHERE pos <= m - {w - 1}
    """


def winnow_shared_docs(fps: DataFrame) -> DataFrame:
    """Per-document shared-span summary over a winnow fingerprint frame:
    one row per document carrying >= 1 fingerprint that also appears in
    another document — (doc_id, survivor_id, n_copies) where
    survivor_id = the smallest doc id over every sharing group the doc
    belongs to (the deterministic earliest witness; equals the doc's own
    id when it IS the earliest) and n_copies = how many of the doc's
    fingerprints are shared (the duplicated-span mass, the quantity a
    curation pipeline thresholds on).

    Per-fp count/min run as whole-partition window functions over ONE
    sort-shuffle of the fingerprint frame, then the per-doc aggregate:
    single-consumer, so the expensive fingerprint kernel feeds straight
    through without caching. A groupBy(fp) + join-back formulation
    measured 1.5-2x slower at sf1/sf10 (round 13). Window partitions
    cannot be split, so a fingerprint carried by 10^7+ documents (a
    license header at full-corpus scale) sorts in one task. There is no
    DF cap here (cf. the shingle index, where the cap is part of the
    contract): the oracle sees the exact row set.
    """
    from pyspark.sql import Window

    wfp = Window.partitionBy("fp")
    shared = (
        fps.withColumn("_n_docs", F.count(F.lit(1)).over(wfp))
        .withColumn("_first_doc", F.min("doc_id").over(wfp))
        .where(F.col("_n_docs") >= 2)
    )
    return shared.groupBy("doc_id").agg(
        F.min("_first_doc").alias("survivor_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def contaminated_docs(df: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Training-corpus decontamination: ids of documents sharing at least
    one word 3-gram with an evaluation set (the overlap rule used to
    scrub benchmark text out of pretraining data).

    Scale shape: the eval side is tiny by construction (benchmarks are
    KBs-MBs), so its distinct shingle set BROADCASTS; the corpus side
    explodes to (doc, shingle) rows and a left-semi join + distinct
    flags contaminated ids — one scan of the corpus, no shuffle of
    document text, same inverted-index discipline as `jaccard_pairs`.
    Production decontamination uses n-grams of 8-13 words; the synthetic
    fixture's 31-word vocabulary makes 3 the discriminative setting (see
    queries/dedup_q.py).
    """
    ev = eval_df.select(F.explode(shingles_col("text", 3)).alias("shingle")).distinct()
    sh = df.select(F.col("doc_id"), F.explode(shingles_col("text", 3)).alias("shingle"))
    return (
        sh.join(F.broadcast(ev), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
